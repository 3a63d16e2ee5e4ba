package graft.ops

import graft.{QueryDef, Tables}
import graft.Qf._
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (SURVEY.md §2.10).
  *
  * Embeddings are 64-d float, L2-normalized at generation, so dot product ≡
  * cosine. The dot is a higher-order-function fold — stays inside codegen, no
  * UDF, no MLlib Vector conversion. Both engines fold the 64 elements
  * left-to-right in index order over doubles, so the result is bit-identical
  * and round(4) is safely coarse.
  *
  * Scale shapes:
  *  - `sim_topk_cosine`: 100 probes broadcast against an arbitrarily large
  *    corpus — the corpus never shuffles, each task scores its partition and
  *    the per-probe top-k collapses in the final window. This is the exact
  *    brute-force baseline an ANN index (LshAnn, scalatest) is judged against.
  *  - `sim_threshold_pairs`: label-blocked self-join — candidate pairs are
  *    bounded by the largest block, not corpus².
  */
object Vectors {

  /** dot(a, b) as a fold over zipped arrays, in double — the pure-built-in
    * formulation (works on any session, no registration needed).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v,
    )

  /** Same fold as a native codegen expression (graft.functions.DotProduct):
    * bit-identical values, ~no per-element lambda/array overhead. Requires
    * GraftFunctions.register on the session — declared query builders do it.
    */
  def nativeDot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** For the 100 probe vectors (vec_id < 100): top-10 nearest corpus
    * neighbors by cosine (self excluded), rank on (rounded sim desc, cand_id).
    */
  private def simTopkCosine(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    val probes = e
      .filter(col("vec_id") < 100)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
    val corpus = e.select(col("vec_id").as("cand_id"), col("embedding").as("cvec"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("cand_id"))
    corpus
      .crossJoin(broadcast(probes)) // corpus stays partitioned; probes ship
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("sim", round(nativeDot(col("pvec"), col("cvec")), 4))
      .withColumn("rn", asLong(row_number().over(w)))
      .filter(col("rn") <= 10)
      .select("probe_id", "cand_id", "sim", "rn")
      .orderBy("probe_id", "rn")
  }

  /** All pairs with cosine >= 0.3 inside the same `label` block (a < b).
    *
    * The threshold gates on the RAW dot, not the rounded one: the fold is
    * bit-identical across engines (see object scaladoc), so `dot >= t`
    * can never diverge — whereas `round(dot, 4) >= t` would additionally
    * depend on both engines' decimal-rounding implementations agreeing at
    * the boundary ulp. The rounded `sim` column is display precision only.
    */
  private def simThresholdPairs(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    val a = e.select(col("vec_id").as("id_a"), col("label"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("label").as("label_b"), col("embedding").as("vb"))
    a.join(b, col("label") === col("label_b") && col("id_a") < col("id_b"))
      .withColumn("__dot", nativeDot(col("va"), col("vb")))
      .filter(col("__dot") >= 0.3)
      .withColumn("sim", round(col("__dot"), 4))
      .select("label", "id_a", "id_b", "sim")
      .orderBy("label", "id_a", "id_b")
  }

  /** Embedding-cosine near-duplicate removal — the vector-space member of the
    * dedup family (exact / MinHash / SimHash / embedding). A vector is a
    * duplicate when some SMALLER-id vector in the same `label` block has
    * cosine >= the threshold; survivors are everything else. Blocking on
    * `label` bounds candidates by the largest block (at 100 TB swap the block
    * key for an LSH bucket — LshAnn.candidates has the exact same join shape,
    * so the plan scales unchanged). The dup-id set is distinct vec_ids only
    * (8 bytes a row), then a single left join marks survivors — embeddings
    * are scored once and never shuffled as join payload afterwards.
    *
    * Like sim_threshold_pairs, the kept/dropped decision gates on the RAW
    * dot — bit-identical across engines — so no rounding boundary can flip
    * row content between Spark and the oracle.
    */
  private def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    val a = e.select(col("vec_id").as("id_a"), col("label"), col("embedding").as("va"))
    val b =
      e.select(col("vec_id").as("id_b"), col("label").as("label_b"), col("embedding").as("vb"))
    val dupIds = a
      .join(b, col("label") === col("label_b") && col("id_a") < col("id_b"))
      .filter(nativeDot(col("va"), col("vb")) >= 0.4)
      .select(col("id_b").as("vec_id"))
      .distinct()
      .withColumn("dup", lit(true))
    e.select(col("vec_id"), col("label"))
      .join(dupIds, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("dup").isNull.as("kept"))
      .orderBy("vec_id")
  }

  /** k-nearest-neighbor majority-vote classification: each probe takes the
    * label most common among its k nearest corpus vectors (rounded-cosine
    * rank, cand_id tiebreak — the sim_topk_cosine determinism pattern; vote
    * ties break to the smaller label). Public so KnnSpec can prove efficacy
    * on a discriminative synthetic fixture — the driver fixture's labels
    * are near-random in embedding space (kNN ≈ chance there; measured
    * 0.09-0.14 over k ∈ {5..51} vs 0.10 chance), so like text_langid the
    * declared query proves the exact vote mechanics, and the spec proves
    * the classifier actually classifies when structure exists.
    *
    * Scale shape: probes broadcast, the corpus is scored in place and never
    * shuffles; only k rows per probe reach the vote shuffle, and the two
    * windows partition by probe_id — bounded by the probe set, not the
    * corpus.
    */
  def knnClassify(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val rankW = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("cand_id"))
    val voteW =
      Window.partitionBy(col("probe_id")).orderBy(col("votes").desc, col("pred_label"))
    corpus
      .crossJoin(broadcast(probes))
      .withColumn("sim", round(nativeDot(col("pvec"), col("cvec")), 4))
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") <= k)
      .groupBy("probe_id", "true_label", "cand_label")
      .agg(nrows.as("votes"))
      .withColumnRenamed("cand_label", "pred_label")
      .withColumn("vr", row_number().over(voteW))
      .filter(col("vr") === 1)
      .select(
        col("probe_id"),
        asLong(col("true_label")).as("true_label"),
        asLong(col("pred_label")).as("pred_label"),
        col("votes"),
        (col("true_label") === col("pred_label")).as("correct"),
      )
      .orderBy("probe_id")
  }

  private[ops] def knnClassifyQuery(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    // task-floor spread (r17): the |probes|·n vote-scoring dots are
    // compute-dense map work off a one-split scan
    val e = Tables.spreadSmallScan(s, dir, "embeddings", Tables.embeddings(s, dir), col("vec_id"))
    val probes = e
      .filter(col("vec_id") < 100)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"), col("label").as("true_label"))
    val corpus = e
      .filter(col("vec_id") >= 100)
      .select(col("vec_id").as("cand_id"), col("embedding").as("cvec"), col("label").as("cand_label"))
    knnClassify(probes, corpus, k = 5)
  }

  private[ops] val knnClassifySql =
    "WITH p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv, label AS tl " +
      "FROM embeddings WHERE vec_id < 100), " +
      "c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv, label AS cl " +
      "FROM embeddings WHERE vec_id >= 100), " +
      "top AS (SELECT * FROM (SELECT probe_id, tl, cl, " +
      "row_number() OVER (PARTITION BY probe_id ORDER BY round(list_dot_product(pv, cv), 4) DESC, cand_id) AS rn " +
      "FROM p CROSS JOIN c) WHERE rn <= 5), " +
      "votes AS (SELECT probe_id, tl, cl, count(*) AS votes FROM top GROUP BY 1, 2, 3) " +
      "SELECT probe_id, CAST(tl AS BIGINT) AS true_label, CAST(cl AS BIGINT) AS pred_label, votes, " +
      "(tl = cl) AS correct " +
      "FROM (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY votes DESC, cl) AS vr FROM votes) " +
      "WHERE vr = 1 ORDER BY probe_id"

  /** documents ⟕ embeddings on doc_id = vec_id: the joined text+vector frame
    * every downstream embedding pipeline starts from. Left join because the
    * corpora diverge at sf0.1 (5000 docs vs 2000 vectors).
    */
  private def embedJoinDocs(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .join(Tables.embeddings(s, dir), col("doc_id") === col("vec_id"), "left")
      .select(
        col("doc_id"),
        col("lang"),
        col("n_chars"),
        col("label"),
        col("vec_id").isNotNull.as("has_vec"),
      )
      .orderBy("doc_id")

  // ------------------------------------------------------------- catalog

  /** k-NN GRAPH over the embedding corpus: every vector's top-5 neighbours
    * (not just a bounded probe set — the all-nodes sibling of
    * sim_topk_cosine), the foundation structure for graph-based semantic
    * dedup/clustering (SemDeDup-style: cluster, then prune by in-cluster
    * neighbours). Candidates are label-blocked like sim_threshold_pairs —
    * at 100 TB the block key swaps for an IVF/LSH bucket (one line, see
    * dedup_embedding) — and the rank<=5 filter compiles to
    * WindowGroupLimit, which prunes to k per node MAP-SIDE before the
    * window's exchange (the knn_classify plan law). Rank on (round(4) sim
    * desc, nbr_id): the rounded-cosine grid plus id tiebreak is the
    * established cross-engine-total order for float similarity.
    */
  private[ops] def embedKnnGraph(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    val a = e.select(col("vec_id"), col("label"), col("embedding").as("va"))
    val b =
      e.select(col("vec_id").as("nbr_id"), col("label").as("label_b"), col("embedding").as("vb"))
    val w = Window.partitionBy("vec_id").orderBy(col("sim").desc, col("nbr_id"))
    a.join(b, col("label") === col("label_b") && col("vec_id") =!= col("nbr_id"))
      .withColumn("sim", round(nativeDot(col("va"), col("vb")), 4))
      .withColumn("rn", asLong(row_number().over(w)))
      .filter(col("rn") <= 5)
      .select(col("vec_id"), col("rn"), col("nbr_id"), col("sim"), col("label"))
      .orderBy("vec_id", "rn")
  }

  private[ops] val embedKnnGraphSql =
    "WITH scored AS (SELECT a.vec_id, a.label, b.vec_id AS nbr_id, " +
      "round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS sim " +
      "FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id) " +
      "SELECT vec_id, rn, nbr_id, sim, label FROM (" +
      "SELECT vec_id, label, nbr_id, sim, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nbr_id) AS rn FROM scored) " +
      "WHERE rn <= 5 ORDER BY vec_id, rn"

  // ---------------------------------------------------------------------
  // Hard-negative mining (r11) — contrastive-training pairs via IVF cells
  // ---------------------------------------------------------------------

  private val HnBandLo = 0.15 // above ~p90 of random-pair sim: harder than random
  private val HnBandHi = 0.40 // the semantic-dup threshold: a near-dup is NOT a negative
  private val HnPerAnchor = 4

  /** Hard-negative mining for contrastive training (the DPR/SimCSE data
    * recipe, public): for EVERY corpus vector, the [[HnPerAnchor]] most
    * similar neighbors inside the band [[HnBandLo]] ≤ sim < [[HnBandHi]] —
    * similar enough to be informative negatives (above ~p90 of the random-
    * pair sim distribution), strictly below the semantic-dup threshold so
    * no positive ever leaks into the negative set. Unlike
    * `sample_negative_pairs` (hash-ring RANDOM negatives), candidates come
    * from the corpus's own geometry: the dynamic-K k-means cells
    * (IvfAnn.gridCellsOf, multi-probe p = 2), so candidate pairs are
    * ≈ n·(2·cell-target) — LINEAR in n at fixed occupancy, never all-pairs
    * — and band survivors are ranked per anchor on (sim desc, neg_id).
    * Exact native-dot scoring on the routed candidates only; fully
    * hash-oracled on the shared dynamic-K cells CTE.
    */
  private def mineHardNegatives(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    // task-floor spread (r16): hash(vec_id) partitioning survives the
    // routing window, the member join, and the self-join's AQE local
    // shuffle reads, so the pair-dot stage runs machine-wide instead of in
    // the scan's single split (measured at sf0.1: 1.7 s CPU in ONE task
    // while 31 cores idled)
    val e = Tables.spreadSmallScan(
      s, dir, "embeddings",
      Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")), col("vec_id"))
    // shares the session-cached corpus centroids with the semantic-dedup
    // family (r13 — IvfAnn.gridCellsOf scaladoc): same target, same corpus
    val cells = IvfAnn.gridCellsOf(e, probes = 2, cacheKey = Some("emb:" + dir))
    // ship each member's embedding to its cells ONCE (n·probes rows), then
    // self-join on cid so pair enumeration, the dot, and the band filter
    // all fuse into the join stage — candidate pairs never cross an
    // exchange. The first cut distinct'ed the ~n·2·occupancy pair-id frame
    // BEFORE scoring and re-joined embeddings per pair: at sf1 that was
    // +20 s of 21M-row distinct and +18 s of per-pair joins; band-first
    // cuts the distinct to the ~4% survivors, whose sims are identical
    // across duplicate (both-cells-shared) pairs, so post-band distinct is
    // equivalent. No broadcast hint on the self-join: the member frame
    // grows with n, so whether it broadcasts is AQE's size-based call
    // (the routeToCells doctrine).
    val em = cells.join(e, "vec_id")
    val w = Window.partitionBy("anchor_id").orderBy(col("sim").desc, col("neg_id"))
    // below the gate: hint the neg side broadcast so the INITIAL plan is a
    // BHJ and the anchor side keeps its 32-way partitioning end to end (an
    // AQE-converted BHJ leaves the probe's SMJ exchange behind and
    // byte-coalesces it to one task, measured here). Above the gate the
    // member frame grows with n and the strategy stays AQE's size-based
    // call, exactly as before.
    val negSide = em.select(col("cid"), col("vec_id").as("neg_id"), col("embedding").as("nv"))
    em.select(col("cid"), col("vec_id").as("anchor_id"), col("embedding").as("av"))
      .join(if (Tables.belowTaskFloor(s, dir, "embeddings")) broadcast(negSide) else negSide, "cid")
      .filter(col("anchor_id") =!= col("neg_id"))
      .withColumn("sim", round(nativeDot(col("av"), col("nv")), 4))
      .filter(col("sim") >= HnBandLo && col("sim") < HnBandHi)
      .select("anchor_id", "neg_id", "sim")
      .distinct()
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= HnPerAnchor)
      .select("anchor_id", "neg_id", "sim", "rn")
      .orderBy("anchor_id", "rn")
  }

  private val mineHardNegativesSql =
    "WITH " + IvfAnn.gridCellsCteSql(probes = 2) + ", " +
      "cand AS (SELECT DISTINCT a.vec_id AS anchor_id, b.vec_id AS neg_id " +
      "FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id <> b.vec_id), " +
      "ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "sc AS (SELECT anchor_id, neg_id, round(list_dot_product(ea.v, eb.v), 4) AS sim " +
      "FROM cand JOIN ev ea ON ea.vec_id = cand.anchor_id JOIN ev eb ON eb.vec_id = cand.neg_id), " +
      s"bd AS (SELECT * FROM sc WHERE sim >= $HnBandLo AND sim < $HnBandHi), " +
      "rk AS (SELECT anchor_id, neg_id, sim, CAST(row_number() OVER " +
      "(PARTITION BY anchor_id ORDER BY sim DESC, neg_id) AS BIGINT) AS rn FROM bd) " +
      s"SELECT anchor_id, neg_id, sim, rn FROM rk WHERE rn <= $HnPerAnchor ORDER BY anchor_id, rn"

  val entries: Seq[QueryDef] = Seq(
    QueryDef("mine_hard_negatives", mineHardNegatives, Some(mineHardNegativesSql)),
    QueryDef(
      "sim_topk_cosine",
      simTopkCosine,
      Some(
        "WITH p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv " +
          "FROM embeddings WHERE vec_id < 100), " +
          "c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings), " +
          "scored AS (SELECT probe_id, cand_id, round(list_dot_product(pv, cv), 4) AS sim " +
          "FROM p CROSS JOIN c WHERE probe_id <> cand_id) " +
          "SELECT probe_id, cand_id, sim, rn FROM (" +
          "SELECT probe_id, cand_id, sim, " +
          "row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rn " +
          "FROM scored) WHERE rn <= 10 ORDER BY probe_id, rn"
      ),
    ),
    QueryDef(
      "sim_threshold_pairs",
      simThresholdPairs,
      Some(
        "SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b, " +
          "round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS sim " +
          "FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id " +
          "WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.3 " +
          "ORDER BY label, id_a, id_b"
      ),
    ),
    QueryDef(
      "dedup_embedding",
      dedupEmbedding,
      Some(
        "WITH pairs AS (SELECT b.vec_id AS dup_id " +
          "FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id " +
          "WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4) " +
          "SELECT vec_id, label, vec_id NOT IN (SELECT dup_id FROM pairs) AS kept " +
          "FROM embeddings ORDER BY vec_id"
      ),
    ),
    QueryDef("knn_classify", knnClassifyQuery, Some(knnClassifySql)),
    QueryDef("embed_knn_graph", embedKnnGraph, Some(embedKnnGraphSql)),
    QueryDef(
      "embed_join_docs",
      embedJoinDocs,
      Some(
        "SELECT doc_id, lang, n_chars, label, vec_id IS NOT NULL AS has_vec " +
          "FROM documents LEFT JOIN embeddings ON doc_id = vec_id ORDER BY doc_id"
      ),
    ),
  )
}
