package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + banded-LSH near-duplicate candidate generation — the 100 TB
  * dedup path (SURVEY.md §2.10 `dedup_minhash_lsh`).
  *
  * Why this exists when `dedup_near_jaccard` is already exact: the exact
  * plan's shingle self-join pairs every pair of docs sharing ANY shingle.
  * On natural corpora that's near-linear, but adversarial/boilerplate-heavy
  * corpora (the 100 TB case) make it quadratic. Banded MinHash bounds the
  * work: signatures are fixed-width (nHashes longs per doc regardless of
  * doc size), and the only join key is the (band, band-signature) pair —
  * docs collide only when a whole band agrees, with probability
  * 1 − (1 − j^rows)^bands for true Jaccard j. With 128 hashes in 32 bands
  * of 4 rows, j = 0.8 is caught with p ≈ 1 − (1−0.41)^32 ≈ 1-1e-7, while
  * j = 0.2 pairs almost never collide — the candidate set stays tiny.
  *
  * Everything is plain DataFrame ops (no MLlib, no UDF): the per-permutation
  * MinHash is `min(xxhash64(i, shingle))`, which keeps the whole signature
  * build inside whole-stage codegen and one shuffle (the groupBy(doc_id)).
  * False positives are removed by exact-Jaccard verification on candidates
  * only; false-negative rate is the LSH recall measured in MinHashLshSpec.
  */
object MinHashDedup {

  /** Distinct (doc_id, shingle-hash) pairs — delegates to Text.shingleHashes
    * so the LSH path and the exact `dedup_near_jaccard` share ONE shingle
    * definition (normalized text, 3-word, 64-bit hashed).
    */
  def shingleSet(docs: DataFrame, textCol: String = "text"): DataFrame =
    Text.shingleHashes(docs, textCol)

  /** nHashes-wide MinHash signature per doc: element i is the minimum of the
    * i-th hash family over the doc's shingle set. One shuffle (doc_id).
    *
    * NOTE: the family must not use raw long multiply/add — Spark 4 runs
    * ANSI mode by default and wrapping arithmetic throws on overflow.
    * xxhash64(seed, sh) is overflow-free and proven.
    *
    * This is the pure-built-in fallback; the pipeline default is
    * `signaturesNative` below, which needs no exchange at all.
    */
  def signatures(shingles: DataFrame, nHashes: Int = 128): DataFrame = {
    val mins: Seq[Column] = (0 until nHashes).map(i => min(xxhash64(lit(i), col("sh"))))
    shingles.groupBy(col("doc_id")).agg(array(mins: _*).as("sig"))
  }

  /** Map-side signatures via the native codegen kernel
    * (graft.functions.MinHashSig): the whole signature comes from the doc's
    * own shingle array in one projection — no Generate, no
    * groupBy(doc_id) Exchange, no 128 janino-compiled min aggregates. Same
    * (doc_id, sig) contract as `signatures`; the hash family differs only
    * in seed constants, which LSH recall is invariant to (floor pinned in
    * MinHashLshSpec).
    */
  def signaturesNative(docs: DataFrame, nHashes: Int = 128): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    Text
      .shingleHashArrays(docs)
      .select(col("doc_id"), call_function("graft_minhash_sig", col("shs"), lit(nHashes)).as("sig"))
  }

  /** Candidate pairs (id_a < id_b) whose signatures agree on at least one
    * full band. The grouping key is a 64-bit hash of (band index, band
    * slice) — fixed-width, shuffle-friendly; hash collisions only ever ADD
    * candidates, which exact verification then rejects.
    *
    * Shape: ONE groupBy(bucket) + in-row pair expansion, NOT a bucket
    * self-join. A self-join references the banded frame twice, and with the
    * map-side native signatures there is no Exchange under it for Spark's
    * ReuseExchange to dedupe — the whole signature pipeline would run twice
    * (it did: that cost more than the native kernel saved). The groupBy
    * computes the upstream exactly once and emits each bucket's pairs from
    * its collected id set. Hotspot parity: a degenerate mega-bucket
    * concentrates its |b|² pairs in one task either way (the self-join's
    * shuffle lands one bucket's rows in one reduce partition too) — LSH
    * banding is what keeps buckets small, not the join strategy.
    */
  /** (doc_id, bucket) banded-bucket manifest of a signature frame — the
    * bucket = xxhash64(band, the band's `rows` signature slots) hashed as
    * raw longs (no slice allocation, no per-band string building). This IS
    * the LSH state an incremental pipeline persists between crawl shards:
    * 32 longs per doc, joinable by bucket.
    */
  def bandBuckets(sigs: DataFrame, bands: Int = 32, rows: Int = 4): DataFrame =
    sigs.select(
      col("doc_id"),
      explode(
        expr(
          s"transform(sequence(0, ${bands - 1}), b -> xxhash64(b" +
            (1 to rows).map(r => s", element_at(sig, b * $rows + $r)").mkString +
            "))"
        )
      ).as("bucket"),
    )

  def candidatePairs(sigs: DataFrame, bands: Int = 32, rows: Int = 4): DataFrame =
    bandBuckets(sigs, bands, rows)
      .groupBy("bucket")
      .agg(collect_set(col("doc_id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(
        explode(
          expr(
            "flatten(transform(ids, a -> transform(filter(ids, b -> b > a), " +
              "b -> named_struct('id_a', a, 'id_b', b))))"
          )
        ).as("p")
      )
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()

  /** Exact Jaccard for given pairs only (the verification step): joins each
    * pair back to its shingle sets; cost is |candidates|, not |corpus|².
    */
  def verifyPairs(pairs: DataFrame, shingles: DataFrame): DataFrame = {
    val sizes = shingles.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = pairs
      .join(shingles.select(col("doc_id").as("id_a"), col("sh")), "id_a")
      .join(shingles.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .filter(col("sh") === col("sh_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn(
        "jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")),
      )
  }

  /** End-to-end: near-dup pairs at threshold via LSH candidates + exact
    * verify. Same output contract as the exact `dedup_near_jaccard` —
    * identical columns and filter — differing only by LSH recall, which at
    * 32 bands × 4 rows is 1 − (1 − j⁴)^32 ≈ 1 − 5e-8 per true pair at
    * j = 0.8 (and higher above). That is why the DECLARED query below can
    * share the exact plan's DuckDB oracle: a miss is about as likely as the
    * 64-bit hash collisions already accepted everywhere else.
    */
  def nearDupPairs(
      docs: DataFrame,
      threshold: Double = 0.8,
      nHashes: Int = 128,
      bands: Int = 32,
      rows: Int = 4,
  ): DataFrame = {
    val sh = shingleSet(docs)
    val cands = candidatePairs(signaturesNative(docs, nHashes), bands, rows)
    verifyPairs(cands, sh)
      .withColumn("jaccard", round(col("jaccard"), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_inter", "jaccard")
  }

  private def dedupMinhashLsh(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    // task-floor spread (r17): the signature + verify-shingle map passes
    // parallelize, and the repartition exchange is the materialization
    // point AQE reuses between them (measured at sf0.1: the two passes ran
    // 1.06 + 0.63 s, each in 1 task)
    nearDupPairs(
      graft.Tables.spreadSmallScan(s, dir, "documents", graft.Tables.documents(s, dir), col("doc_id"))
    ).orderBy("id_a", "id_b")

  /** Connected components over the near-dup pair graph: every doc labeled
    * with the smallest doc_id reachable through near-dup edges — the dup
    * CLUSTER a curation pipeline actually consumes (pairs alone can't say
    * "keep one of {a,b,c}" when a~b and b~c but a!~c).
    *
    * Algorithm (r16): iterated LOCAL CONTRACTION — each round runs an
    * in-task union-find over every partition's edges (one narrow
    * mapPartitions, NO exchange), takes each node's min local root across
    * partitions (one 8-byte-pair aggregate), rewrites the surviving edges
    * through those labels, and repeats until no cross-component edge
    * remains. A round contracts every chain that is co-resident in a
    * partition to a single star, so the surviving edge set shrinks by
    * roughly the partition count per round: measured at sf0.1 the r10-r15
    * pointer-jumping loop (per-round equi-join + groupBy + two label
    * self-joins) needed 10 driver rounds ≈ 95 AQE stage-jobs ≈ 3 s of pure
    * scheduling on data this small; contraction converges in 2-3 rounds.
    * At 100 TB the same shape holds: per-round cost is linear shuffles of
    * the LIVE edge set (which shrinks geometrically), per-task memory is
    * O(nodes per partition) for the union-find map — the same
    * partition-bounded buffer class as SemDedup.blockForestPairs, and the
    * standard MapReduce-CC trade (Rastogi et al. 2013's local-contraction
    * family) of driver rounds for per-round joins.
    *
    * The in-task union-find is a deliberate (d)-tier typed escape from
    * codegen (the SemDedup.forestEdgesOf precedent): the relational
    * equivalent (min-label propagation with pointer jumping) re-learns
    * in O(log diameter) exchanges what one linear pass over a partition
    * learns in-place. Union is BY MIN ID, so a component's local root is
    * its smallest local member — labels are monotone non-increasing toward
    * the global min-reachable fixpoint, exactly the declared semantics.
    *
    * Termination: edges empty ⇒ labels final. (A label chain can be stale
    * by one hop mid-loop — m(b)=y while m(y)=z — but that very pair
    * guarantees the rewritten edge (y,z) survives into the next round, so
    * an empty edge set proves every chain resolved.) If maxRounds is ever
    * hit, the current labels are returned with a warning: they are monotone
    * toward the fixpoint, so the partial result is a valid
    * over-segmentation (some clusters split, none merged wrongly).
    * [[Checkpoints.stable]] (non-eager) truncates every per-round frame so
    * round k never replays rounds 1..k-1; the per-round driver action is
    * the edge-set emptiness probe. Caveat on the NON-EAGER marks: Spark
    * finalizes only the topmost marked RDD per action (ancestors need
    * `spark.checkpoint.checkpointAllMarkedAncestors`), so under memory
    * pressure the terminal labels action can recompute an earlier round's
    * `m` frame from lineage — the OUTPUT is still deterministic (union-by-
    * min is order-free), only the cost cliff is silent. The per-round
    * `edges.isEmpty` action runs before the next round builds on `m`,
    * which in practice finalizes each round's frames in order; if bench
    * evidence ever shows re-computation, flip `m` to eager.
    */
  def clusters(docs: DataFrame, pairs: DataFrame, maxRounds: Int = 20): DataFrame = {
    require(maxRounds >= 1, s"clusters() needs at least one round, got $maxRounds")
    val session = docs.sparkSession
    import session.implicits._
    var edges = pairs
      // id contract: pair ids are (or safely widen to) LONG — the in-task
      // union-find below is typed Dataset[(Long, Long)]. The explicit cast
      // makes the constraint visible at plan time for narrower integral
      // callers instead of failing analysis on e.g. INT pair frames.
      .select(
        least(col("id_a"), col("id_b")).cast("long").as("a"),
        greatest(col("id_a"), col("id_b")).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .transform(Checkpoints.stable(_, eager = false))
    var labels: DataFrame = null
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      // min local root per node across partitions; referenced 3× below
      // (label composition + both edge-rewrite sides), so checkpointed
      val m = Checkpoints.stable(
        edges
          .as[(Long, Long)]
          .mapPartitions(localMinRoots)
          .toDF("node", "root")
          .groupBy("node")
          .agg(min(col("root")).as("lbl")),
        eager = false)
      labels =
        if (labels == null) m.select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
        else labels
          .join(m.select(col("node").as("cluster_id"), col("lbl")), Seq("cluster_id"), "left")
          .select(col("doc_id"), coalesce(col("lbl"), col("cluster_id")).as("cluster_id"))
      labels = Checkpoints.stable(labels, eager = false)
      edges = Checkpoints.stable(
        edges
          .join(m.select(col("node").as("a"), col("lbl").as("la")), "a")
          .join(m.select(col("node").as("b"), col("lbl").as("lb")), "b")
          .filter(col("la") =!= col("lb"))
          .select(least(col("la"), col("lb")).as("a"), greatest(col("la"), col("lb")).as("b"))
          .distinct(),
        eager = false)
      done = edges.isEmpty
      round += 1
    }
    if (!done)
      Console.err.println(
        s"graft: dedup cluster labels still moving after $maxRounds rounds " +
          "— returning best-effort (over-segmented) labels"
      )
    if (sys.env.contains("GRAFT_CC_DEBUG"))
      Console.err.println(s"[cc] converged after $round contraction rounds")
    docs
      .select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** One partition's union-find (union by min id, path-compressed): emits
    * (node, root) where root is the smallest node id in the node's LOCAL
    * component. Deterministic in the partition's row SET (order-free:
    * union-by-min makes the final root the component minimum regardless of
    * arrival order). Heap is O(distinct nodes in the partition).
    */
  private def localMinRoots(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    it.foreach { case (a, b) =>
      if (!parent.contains(a)) parent.update(a, a)
      if (!parent.contains(b)) parent.update(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent.update(rb, ra)
      else if (rb < ra) parent.update(ra, rb)
    }
    val nodes = parent.keys.toArray
    nodes.iterator.map(n => (n, find(n)))
  }

  private def dedupClusters(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.spreadSmallScan(
      s, dir, "documents", graft.Tables.documents(s, dir), col("doc_id"))
    clusters(docs, nearDupPairs(docs)).orderBy("doc_id")
  }

  /** Cluster oracle: the exact-Jaccard pair set (same recall argument as
    * dedup_minhash_lsh) fed through a recursive CTE computing the min
    * reachable id per node.
    */
  /** Shared CTE prefix ending in `lab(doc_id, cluster_id)` — reused by the
    * keep-best oracle so the cluster definition cannot drift between the
    * two declared queries.
    */
  private val clustersCteSql: String =
    "WITH RECURSIVE " +
      "ws AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ') AS w FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(w) - 1), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM ws WHERE len(w) >= 3), " +
      "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1), " +
      "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter " +
      "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "pairs AS (SELECT id_a, id_b FROM inter " +
      "JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
      "WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.8), " +
      "edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION ALL SELECT id_b, id_a FROM pairs), " +
      "reach(node, r) AS (SELECT a, a FROM edges UNION " +
      "SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node), " +
      "m AS (SELECT node, min(r) AS cid FROM reach GROUP BY node), " +
      "lab AS (SELECT d.doc_id, coalesce(m.cid, d.doc_id) AS cluster_id " +
      "FROM documents d LEFT JOIN m ON d.doc_id = m.node)"

  private val clustersOracleSql: String =
    clustersCteSql + " SELECT doc_id, cluster_id FROM lab ORDER BY doc_id"

  /** Declared with the SAME oracle SQL as dedup_near_jaccard (see
    * nearDupPairs scaladoc for why recall permits it): the driver's hash
    * gate then checks the full LSH pipeline — signatures, banding,
    * candidate join, exact verification — end to end.
    */
  /** Canonical-document selection — the step a real dedup pipeline runs
    * AFTER clustering: each near-dup cluster keeps its best-QUALITY member
    * (argmax of TextQuality's heuristic score, doc_id tiebreak), not the
    * arbitrary min-id — "keep the cleanest copy" is the published practice
    * for training corpora, since near-dups often differ exactly in
    * boilerplate contamination. One row per cluster = the deduped corpus
    * manifest (cluster_id, keep_id, n_members, best_quality). Scale shape:
    * quality is a map-side projection, the argmax is a per-cluster window
    * (clusters are near-dup components — bounded by duplication factor,
    * never corpus-sized), and the aggregate rides the same partitioning.
    */
  private def dedupKeepBest(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.spreadSmallScan(
      s, dir, "documents", graft.Tables.documents(s, dir), col("doc_id"))
    val lab = clusters(docs, nearDupPairs(docs))
    val q = docs.select(col("doc_id"), TextQuality.qualityCol.as("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col("quality").desc, col("doc_id"))
    lab
      .join(q, "doc_id")
      .withColumn("rn", row_number().over(w))
      .groupBy("cluster_id")
      .agg(
        graft.Qf.nrows.as("n_members"),
        min(when(col("rn") === 1, col("doc_id"))).as("keep_id"),
        max("quality").as("best_quality"),
      )
      .orderBy("cluster_id")
  }

  private val keepBestOracleSql: String =
    clustersCteSql +
      ", qd AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents), " +
      "qb AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, " +
      s"${TextQuality.alphaRatioSql} AS alpha_ratio, " +
      s"${TextQuality.stopRatioSql} AS stop_ratio FROM qd), " +
      s"qq AS (SELECT doc_id, ${TextQuality.qualityFromPartsSql} AS quality FROM qb), " +
      "t AS (SELECT lab.cluster_id, lab.doc_id, qq.quality, " +
      "row_number() OVER (PARTITION BY lab.cluster_id ORDER BY qq.quality DESC, lab.doc_id) AS rn " +
      "FROM lab JOIN qq ON lab.doc_id = qq.doc_id) " +
      "SELECT cluster_id, count(*) AS n_members, " +
      "min(CASE WHEN rn = 1 THEN doc_id END) AS keep_id, " +
      "max(quality) AS best_quality " +
      "FROM t GROUP BY cluster_id ORDER BY cluster_id"

  /** Incremental NEAR-dup dedup — `dedup_incremental`'s continuous-ingest
    * shape lifted from exact content hashes to MinHash near-duplicates: a
    * new crawl shard is checked against the persisted LSH bucket manifest
    * ([[bandBuckets]]) of everything already ingested, then first-wins
    * near-dup'd within itself. Batch synthesis mirrors dedup_incremental
    * (new docs ∪ replays of seen docs ∪ within-batch replays) so every
    * status branch is exercised with jaccard-1 pairs on top of the
    * corpus's natural near-dups.
    *
    * Scale shape — the reason this key exists: per-shard cost is
    * |batch| signatures (map-side native kernel) + ONE bucket equi-join
    * against the manifest (only buckets the batch touches flow; the seen
    * corpus is never re-scanned, its state is 32 longs/doc) + exact
    * verify on candidates + an LSH pass within the batch itself. Statuses:
    * dup_of_seen ≻ dup_in_batch (an earlier near-dup neighbor in the same
    * batch — pair-grain first-wins; cluster-grain keeping is
    * dedup_keep_best's job) ≻ unique.
    *
    * Oracle: the exact cross/within Jaccard formulation — the
    * dedup_minhash_lsh recall argument (a banding miss at j ≥ 0.8 is
    * ~5e-8, far below the accepted 64-bit hash-collision floor).
    */
  private def dedupIncrementalMinhash(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    // task-floor spread (r17) BEFORE the seen/batch split so both shards'
    // signature passes parallelize
    val docs = graft.Tables
      .spreadSmallScan(s, dir, "documents", graft.Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), col("text"))
    val seen = docs.filter(col("doc_id") < 250)
    val batch = docs
      .filter(col("doc_id") >= 250)
      .select(CorpusPrep.guardedDocId(col("doc_id")).as("batch_id"), col("text"))
      .unionByName(
        docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + CorpusPrep.ReplaySeenOffset).as("batch_id"), col("text"))
      )
      .unionByName(
        docs
          .filter(col("doc_id") >= 250 && col("doc_id") < 260)
          .select((col("doc_id") + CorpusPrep.ReplayBatchOffset).as("batch_id"), col("text"))
      )
    val batchDocs = batch.select(col("batch_id").as("doc_id"), col("text"))
    val batchSigs = signaturesNative(batchDocs)
    // cross candidates: batch buckets ⋈ the seen manifest — cost ∝ batch
    val seenManifest = bandBuckets(signaturesNative(seen))
      .select(col("doc_id").as("seen_id"), col("bucket"))
    val crossCand = bandBuckets(batchSigs)
      .join(seenManifest, "bucket")
      .select(col("doc_id").as("id_a"), col("seen_id").as("id_b"))
      .distinct()
    // id spaces are disjoint (seen < 250; batch ≥ 250), so one shingle
    // frame serves both verify passes
    val shBatch = shingleSet(batchDocs)
    val shAll = shBatch.unionByName(shingleSet(seen))
    val dupSeen = verifyPairs(crossCand, shAll)
      .filter(round(col("jaccard"), 4) >= 0.8)
      .select(col("id_a").as("batch_id"))
      .distinct()
      .withColumn("seen_dup", lit(true))
    val laterDup = verifyPairs(candidatePairs(batchSigs), shBatch)
      .filter(round(col("jaccard"), 4) >= 0.8)
      .select(col("id_b").as("batch_id")) // candidatePairs emits id_a < id_b
      .distinct()
      .withColumn("later_dup", lit(true))
    batch
      .select("batch_id")
      .join(dupSeen, Seq("batch_id"), "left")
      .join(laterDup, Seq("batch_id"), "left")
      .select(
        col("batch_id"),
        when(col("seen_dup"), lit("dup_of_seen"))
          .when(col("later_dup"), lit("dup_in_batch"))
          .otherwise(lit("unique"))
          .as("status"),
      )
      .orderBy("batch_id")
  }

  private val dedupIncrementalMinhashSql =
    "WITH seen AS (SELECT doc_id, text FROM documents WHERE doc_id < 250), " +
      "batch AS (SELECT doc_id AS batch_id, text FROM documents WHERE doc_id >= 250 " +
      "UNION ALL SELECT doc_id + 10000000, text FROM documents WHERE doc_id < 50 " +
      "UNION ALL SELECT doc_id + 20000000, text FROM documents WHERE doc_id >= 250 AND doc_id < 260), " +
      "allx AS (SELECT batch_id AS doc_id, text FROM batch UNION ALL SELECT doc_id, text FROM seen), " +
      "ws AS (SELECT doc_id, " +
      "string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ') AS w FROM allx), " +
      "sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(w) - 1), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM ws WHERE len(w) >= 3), " +
      "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1), " +
      "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter " +
      "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "jac AS (SELECT id_a, id_b FROM inter JOIN sizes sa ON sa.doc_id = id_a " +
      "JOIN sizes sb ON sb.doc_id = id_b " +
      "WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.8), " +
      "ds AS (SELECT DISTINCT id_b AS batch_id FROM jac WHERE id_a < 250 AND id_b >= 250), " +
      "di AS (SELECT DISTINCT id_b AS batch_id FROM jac WHERE id_a >= 250) " +
      "SELECT b.batch_id, CASE WHEN ds.batch_id IS NOT NULL THEN 'dup_of_seen' " +
      "WHEN di.batch_id IS NOT NULL THEN 'dup_in_batch' ELSE 'unique' END AS status " +
      "FROM batch b LEFT JOIN ds USING (batch_id) LEFT JOIN di USING (batch_id) ORDER BY batch_id"

  val entries: Seq[graft.QueryDef] = Seq(
    graft.QueryDef("dedup_minhash_lsh", dedupMinhashLsh, Some(Text.nearJaccardOracleSql)),
    graft.QueryDef("dedup_clusters", dedupClusters, Some(clustersOracleSql)),
    graft.QueryDef("dedup_keep_best", dedupKeepBest, Some(keepBestOracleSql)),
    graft.QueryDef(
      "dedup_incremental_minhash",
      dedupIncrementalMinhash,
      Some(dedupIncrementalMinhashSql),
    ),
  )
}
