package graft.ops

import graft.{QueryDef, Tables}
import graft.Qf._
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Retrieval scoring verbs: BM25 lexical ranking and reciprocal-rank
  * fusion of a lexical and a vector retriever — the two halves of the
  * standard hybrid-search stack that curates RAG / training-mix corpora.
  *
  * Scale doctrine, per op:
  *   - text_bm25_topk: one explode → partial-agg tf, a |query-terms| df
  *     table and a 1-row (N, avgdl) stats frame — both BROADCAST — and a
  *     TakeOrderedAndProject top-k, so each task prunes to k before the
  *     single exchange. At 100 TB the (N, avgdl) pair comes from index
  *     metadata instead of the second corpus scan used here; the scoring
  *     pass itself is map-only either way.
  *   - retrieval_rrf: fuses the top-K lists (K = 100) of each retriever,
  *     NOT corpus-wide ranks — each leg ends in its own map-side top-K
  *     prune, and the fusion frame is ≤ 2K rows regardless of corpus
  *     size, so the unpartitioned rank windows are K-bounded by
  *     construction (never corpus-sized).
  *
  * Cross-engine determinism: every per-(doc, term) BM25 contribution and
  * every 1/(60+rank) fusion term is an identically-shaped double
  * expression on identical operands rounded to a 1e-7 grid, and the only
  * re-associable reduction (the sum over terms / over lists) runs in
  * exact DECIMAL(18,7) — the unigram-surprisal determinism class. All
  * rankings break score ties by doc id on an exact (decimal) score, so
  * every LIMIT is a total-order prefix.
  */
object Retrieval {

  /** Query terms for the lexical leg — mid-frequency corpus vocabulary so
    * tf/df actually vary across docs ([DATA]: the synthetic corpus draws
    * from a ~30-word vocabulary; any 4 content words hit ~80% of docs).
    */
  private[graft] val QueryTerms = Seq("vector", "scan", "merge", "window")

  /** (doc_id, score) for every doc matching ≥1 query term — the shared
    * scoring core of both declared ops. Okapi BM25:
    * idf = ln(1 + (N−df+0.5)/(df+0.5)), tf-norm with k1 = 1.2, b = 0.75.
    */
  private[ops] def bm25Scores(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables
      .documents(s, dir)
      .withColumn("w", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("dl"),
        explode(col("w")).as("t"),
      )
      .filter(col("t").isin(QueryTerms: _*))
    val tf = tok
      .groupBy("doc_id", "t")
      // dl is constant per doc — ride it through the aggregate (max) so no
      // join back to the corpus is needed
      .agg(nrows.as("tf"), max("dl").as("dl"))
    val dfq = tf.groupBy("t").agg(nrows.as("df"))
    val stats = Tables
      .documents(s, dir)
      .select(size(split(col("text"), " ")).cast("long").as("dl0"))
      .agg(nrows.as("n_docs"), sum("dl0").as("sum_dl"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val idf = log(
      lit(1.0) + ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))
    )
    val tfn = col("tf").cast("double") * lit(2.2) /
      (col("tf").cast("double") + lit(1.2) *
        (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
    tf.join(broadcast(dfq), "t")
      .crossJoin(broadcast(stats)) // 1 row: (N, avgdl)
      .withColumn("term", round(idf * tfn, 7).cast(DecimalType(18, 7)))
      .groupBy("doc_id")
      .agg(sum("term").cast(DoubleType).as("score"))
  }

  private[ops] def bm25ScoresCte: String =
    "tok AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl, " +
      "unnest(string_split(text, ' ')) AS t FROM documents), " +
      "tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf, " +
      "CAST(max(dl) AS BIGINT) AS dl FROM tok " +
      s"WHERE t IN (${QueryTerms.map(t => s"'$t'").mkString(", ")}) GROUP BY doc_id, t), " +
      "dfq AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t), " +
      "st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_dl FROM documents), " +
      "term AS (SELECT doc_id, CAST(round(" +
      "ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * " +
      "(CAST(tf AS DOUBLE) * 2.2 / (CAST(tf AS DOUBLE) + 1.2 * " +
      "(0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))" +
      ", 7) AS DECIMAL(18,7)) AS term FROM tf JOIN dfq USING (t) CROSS JOIN st), " +
      "sc AS (SELECT doc_id, CAST(sum(term) AS DOUBLE) AS score FROM term GROUP BY doc_id)"

  /** Top-20 documents by BM25 over the fixed query-term set. */
  private def textBm25Topk(s: SparkSession, dir: String): DataFrame = {
    val top = bm25Scores(s, dir).orderBy(col("score").desc, col("doc_id")).limit(20)
    // rank window runs on the already-pruned 20-row frame — k-bounded
    top
      .withColumn(
        "rnk",
        asLong(row_number().over(Window.orderBy(col("score").desc, col("doc_id")))),
      )
      .select("doc_id", "score", "rnk")
      .orderBy("rnk")
  }

  private val textBm25TopkSql =
    s"WITH $bm25ScoresCte, " +
      "top AS (SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 20) " +
      "SELECT doc_id, score, " +
      "CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk " +
      "FROM top ORDER BY rnk"

  /** Hybrid retrieval via reciprocal-rank fusion (k = 60): top-100 BM25
    * list fused with the top-100 cosine list around the vec_id-0 probe
    * (query-by-example, self excluded). A doc missing from one list
    * contributes 0 from it (rank reported as 0).
    */
  private def retrievalRrf(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val kTop = 100
    val wBm = Window.orderBy(col("score").desc, col("doc_id"))
    val la = bm25Scores(s, dir)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(kTop)
      .withColumn("bm25_rank", asLong(row_number().over(wBm))) // 100-row frame
      .select("doc_id", "bm25_rank")
    val e = Tables.embeddings(s, dir)
    val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("pv"))
    val wCos = Window.orderBy(col("sim").desc, col("doc_id"))
    val lb = e
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id").as("doc_id"), col("embedding"))
      .crossJoin(broadcast(probe))
      .withColumn("sim", round(Vectors.nativeDot(col("pv"), col("embedding")), 4))
      .orderBy(col("sim").desc, col("doc_id"))
      .limit(kTop)
      .withColumn("cos_rank", asLong(row_number().over(wCos))) // 100-row frame
      .select("doc_id", "cos_rank")
    def contrib(rank: Column): Column =
      when(rank > 0, round(lit(1.0) / (lit(60.0) + rank.cast("double")), 7))
        .otherwise(lit(0.0))
        .cast(DecimalType(18, 7))
    la.join(lb, Seq("doc_id"), "full_outer")
      .select(
        col("doc_id"),
        coalesce(col("bm25_rank"), lit(0L)).as("bm25_rank"),
        coalesce(col("cos_rank"), lit(0L)).as("cos_rank"),
      )
      .withColumn("rrf", (contrib(col("bm25_rank")) + contrib(col("cos_rank"))).cast(DoubleType))
      .withColumn(
        "rnk",
        asLong(row_number().over(Window.orderBy(col("rrf").desc, col("doc_id")))), // ≤2K rows
      )
      .filter(col("rnk") <= 50)
      .select("doc_id", "bm25_rank", "cos_rank", "rrf", "rnk")
      .orderBy("rnk")
  }

  private val retrievalRrfSql =
    s"WITH $bm25ScoresCte, " +
      "la AS (SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 100), " +
      "ra AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS bm25_rank FROM la), " +
      "pb AS (SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings WHERE vec_id = 0), " +
      "cs AS (SELECT vec_id AS doc_id, " +
      "round(list_dot_product(pv, CAST(embedding AS DOUBLE[])), 4) AS sim " +
      "FROM embeddings, pb WHERE vec_id <> 0), " +
      "lb AS (SELECT doc_id, sim FROM cs ORDER BY sim DESC, doc_id LIMIT 100), " +
      "rb AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY sim DESC, doc_id) AS BIGINT) AS cos_rank FROM lb), " +
      "f AS (SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id, " +
      "coalesce(bm25_rank, 0) AS bm25_rank, coalesce(cos_rank, 0) AS cos_rank " +
      "FROM ra FULL JOIN rb ON ra.doc_id = rb.doc_id), " +
      "g AS (SELECT doc_id, bm25_rank, cos_rank, CAST(" +
      "CAST(CASE WHEN bm25_rank > 0 THEN round(1.0 / (60.0 + CAST(bm25_rank AS DOUBLE)), 7) ELSE 0.0 END AS DECIMAL(18,7)) + " +
      "CAST(CASE WHEN cos_rank > 0 THEN round(1.0 / (60.0 + CAST(cos_rank AS DOUBLE)), 7) ELSE 0.0 END AS DECIMAL(18,7)) " +
      "AS DOUBLE) AS rrf FROM f), " +
      "r AS (SELECT doc_id, bm25_rank, cos_rank, rrf, " +
      "CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk FROM g) " +
      "SELECT doc_id, bm25_rank, cos_rank, rrf, rnk FROM r WHERE rnk <= 50 ORDER BY rnk"

  // ------------------------------------------------------------------
  // retrieval_mmr — maximal-marginal-relevance diversification (r12)
  // ------------------------------------------------------------------

  private[graft] val MmrK = 5 // selected per probe
  private[graft] val MmrN = 20 // candidate pool per probe
  // λ = 0.7 as the exact integer pair (7, 3): score10 = 7·sim6 − 3·maxSelSim6

  /** MMR re-ranking (Carbonell & Goldstein 1998): from each probe's
    * cosine top-[[MmrN]] pool, greedily select [[MmrK]] items maximizing
    * λ·sim(probe, c) − (1−λ)·max over selected s of sim(c, s) — the
    * relevance-vs-redundancy re-ranker RAG stacks and few-shot example
    * pickers run on every top-k list. The greedy argmax runs on EXACT
    * integers: sims land on the 1e-6 grid once (the grid6 idiom), then
    * every round's score is 7·sim6 − 3·mx — no FP re-association anywhere,
    * so the selection order is a cross-engine contract, not a tie-break
    * hope. Round 1 has no selected set: score = 7·sim6, the pure-relevance
    * argmax, expressed as the same formula with an empty max.
    *
    * Scale shape: the only corpus-sized work is the candidate scoring pass
    * (the sim_topk_cosine map-side scan, WindowGroupLimit-pruned to N per
    * probe before its one exchange); everything after — the N²-per-probe
    * pairwise sims and the K unrolled greedy rounds — is |probes|·N²
    * bounded, INDEPENDENT of corpus size. At 100 TB the pool would come
    * from the ANN index (sim_ann_ivf_probe) instead of brute force; the
    * MMR tail is identical.
    *
    * Plan shape (r17, replacing the r13 unrolled greedy loop): `cands` is
    * lineage-truncated once (three references), and the K greedy rounds —
    * |probes|·N²-bounded state BY CONTRACT — run LOCALLY per probe in one
    * selection pass over the collected (pool, pairwise-sim) arrays. The
    * r13 shape unrolled the argmax as K join+window rounds with a
    * checkpoint per round: measured at sf0.1 that was 40 driver jobs
    * (~30 of them the greedy tail's AQE stages) for 92 KB of data — pure
    * scheduling, ~1.2 s of the key's 1.9-2.4 s. The local pass is the
    * [[MinHashDedup.localMinRoots]] escape-hatch class: per-probe heap is
    * N + N² longs (N = 20 ⇒ ~3 KB), partition-bounded at any corpus size,
    * and the selection is the same exact-integer argmax
    * ((7·sim6 − 3·mx) desc, cand_id asc) the relational rounds computed —
    * sim6/psim6 stay Spark-expression-computed (identical rounding); only
    * the bounded greedy LOOP moved in-task, independent of collect order.
    * The selection emits (mmr_rank, cand_id, score10) TUPLES — a top-level
    * encoder class; a case class nested in this object trips janino's
    * outer-reference handling in generated code (measured: codegen falls
    * back to interpreted with a compile ERROR per execution).
    */
  private def retrievalMmr(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    // task-floor spread (r17): the pool-scoring pass's |probes|·n dots are
    // compute-dense map work off a one-split scan
    val e = Tables.spreadSmallScan(s, dir, "embeddings", Tables.embeddings(s, dir), col("vec_id"))
    val probes = e.filter(col("vec_id") < 100).select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
    val corpus = e.select(col("vec_id").as("cand_id"), col("embedding").as("cvec"))
    def sim6(a: Column, b: Column): Column =
      round(Vectors.nativeDot(a, b) * lit(1e6), 0).cast("long")
    val wTop = Window.partitionBy("probe_id").orderBy(col("sim6").desc, col("cand_id"))
    val cands = probes
      .crossJoin(corpus)
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("sim6", sim6(col("pvec"), col("cvec")))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= MmrN)
      .select("probe_id", "cand_id", "sim6")
      .transform(Checkpoints.stable(_, eager = false))
    val cv = cands.join(corpus, "cand_id").select(col("probe_id"), col("cand_id"), col("sim6"), col("cvec"))
    val pairSims = cv
      .select(col("probe_id"), col("cand_id"), col("cvec"))
      .join(
        cv.select(col("probe_id"), col("cand_id").as("other_id"), col("cvec").as("ovec")),
        "probe_id")
      .filter(col("cand_id") =!= col("other_id"))
      .withColumn("psim6", sim6(col("cvec"), col("ovec")))
      .select("probe_id", "cand_id", "other_id", "psim6")
    val candArr = cands
      .groupBy("probe_id")
      .agg(collect_list(struct(col("cand_id"), col("sim6"))).as("cs"))
    val pairArr = pairSims
      .groupBy("probe_id")
      .agg(collect_list(struct(col("cand_id"), col("other_id"), col("psim6"))).as("ps"))
    candArr
      .join(pairArr, Seq("probe_id"), "left")
      .select(col("probe_id"), explode(mmrSelectUdf(col("cs"), col("ps"))).as("r"))
      .select(
        col("probe_id"),
        col("r._1").as("mmr_rank"),
        col("r._2").as("cand_id"),
        (col("r._3") / lit(1e7)).as("score"), // exact: |score10| < 2^53
      )
      .orderBy("probe_id", "mmr_rank")
  }

  /** One probe's greedy MMR selection over its bounded pool — the exact
    * relational semantics of the former unrolled rounds: round 1 picks
    * argmax of 7·sim6 (ties → smaller cand_id); round r > 1 scores every
    * unselected candidate as 7·sim6 − 3·max(psim6 over selected) and picks
    * the same argmax. Pure exact-integer arithmetic on the collected
    * arrays; sorting the pool by cand_id first makes the result independent
    * of collect_list order. Emits (mmr_rank, cand_id, score10).
    */
  private val mmrSelectUdf = udf {
    (cs: Seq[org.apache.spark.sql.Row], ps: Seq[org.apache.spark.sql.Row]) =>
      val pool = cs.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1) // (cand_id, sim6)
      val psim = new scala.collection.mutable.HashMap[(Long, Long), Long]
      if (ps != null) ps.foreach(r => psim.update((r.getLong(0), r.getLong(1)), r.getLong(2)))
      val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var rank = 1L
      while (rank <= MmrK && selected.size < pool.size) {
        var bestId = -1L
        var bestScore = Long.MinValue
        var found = false
        pool.foreach { case (cid, sim6) =>
          if (!selected.contains(cid)) {
            // round 1 has no selected set: score = 7·sim6 (the empty max);
            // later rounds require a psim row per (cand, selected) pair —
            // present for every pool pair by construction
            val score =
              if (selected.isEmpty) 7L * sim6
              else 7L * sim6 - 3L * selected.map(s => psim((cid, s))).max
            // argmax on (score desc, cand_id asc); pool is cand_id-ascending
            if (!found || score > bestScore) { bestId = cid; bestScore = score; found = true }
          }
        }
        if (found) {
          selected += bestId
          out += ((rank, bestId, bestScore))
        }
        rank += 1
      }
      out.toSeq
  }

  private val retrievalMmrSql: String = {
    def selUnion(upTo: Int): String =
      (1 to upTo).map(i => s"SELECT probe_id, cand_id FROM s$i").mkString(" UNION ALL ")
    def roundCte(r: Int): String = {
      val su = selUnion(r - 1)
      s"m$r AS (SELECT c.probe_id, c.cand_id, c.sim6, max(ps.psim6) AS mx FROM cands c " +
        "JOIN ps ON ps.probe_id = c.probe_id AND ps.cand_id = c.cand_id " +
        s"JOIN ($su) sel ON sel.probe_id = ps.probe_id AND sel.cand_id = ps.other_id " +
        s"WHERE NOT EXISTS (SELECT 1 FROM ($su) x " +
        "WHERE x.probe_id = c.probe_id AND x.cand_id = c.cand_id) " +
        "GROUP BY 1, 2, 3), " +
        s"s$r AS (SELECT probe_id, cand_id, CAST($r AS BIGINT) AS mmr_rank, " +
        s"7 * sim6 - 3 * mx AS score10 FROM (SELECT *, row_number() OVER " +
        s"(PARTITION BY probe_id ORDER BY 7 * sim6 - 3 * mx DESC, cand_id) AS rn FROM m$r) WHERE rn = 1)"
    }
    "WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "sims AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id, " +
      "CAST(round(list_dot_product(p.v, c.v) * 1e6, 0) AS BIGINT) AS sim6 " +
      "FROM ev p JOIN ev c ON c.vec_id <> p.vec_id WHERE p.vec_id < 100), " +
      "cands AS (SELECT probe_id, cand_id, sim6 FROM (SELECT *, row_number() OVER " +
      s"(PARTITION BY probe_id ORDER BY sim6 DESC, cand_id) AS rn FROM sims) WHERE rn <= $MmrN), " +
      "ps AS (SELECT a.probe_id, a.cand_id, b.cand_id AS other_id, " +
      "CAST(round(list_dot_product(ca.v, cb.v) * 1e6, 0) AS BIGINT) AS psim6 " +
      "FROM cands a JOIN cands b ON a.probe_id = b.probe_id AND a.cand_id <> b.cand_id " +
      "JOIN ev ca ON ca.vec_id = a.cand_id JOIN ev cb ON cb.vec_id = b.cand_id), " +
      "s1 AS (SELECT probe_id, cand_id, CAST(1 AS BIGINT) AS mmr_rank, 7 * sim6 AS score10 " +
      "FROM (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY sim6 DESC, cand_id) AS rn " +
      "FROM cands) WHERE rn = 1), " +
      (2 to MmrK).map(roundCte).mkString(", ") + " " +
      s"SELECT probe_id, mmr_rank, cand_id, score10 / 1e7 AS score FROM " +
      s"(${(1 to MmrK).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")}) " +
      "ORDER BY probe_id, mmr_rank"
  }

  val entries: Seq[QueryDef] = Seq(
    QueryDef("text_bm25_topk", textBm25Topk, Some(textBm25TopkSql)),
    QueryDef("retrieval_rrf", retrievalRrf, Some(retrievalRrfSql)),
    QueryDef("retrieval_mmr", retrievalMmr, Some(retrievalMmrSql)),
  )
}
