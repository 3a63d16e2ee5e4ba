package graft.ops

import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** IVF (inverted-file) approximate nearest neighbors — the data-DEPENDENT
  * scale path, complementing the data-independent sign-bit LSH in LshAnn:
  * a coarse quantizer (k centroids) partitions the corpus into k inverted
  * lists; a probe scores only the `nprobe` lists whose centroids it is
  * closest to. Candidate work is ~(nprobe/k)·|corpus| per probe instead of
  * |corpus|; recall depends on list balance and nprobe and is measured in
  * IvfSpec and EvaluationSpec.
  *
  * One k-means and one router serve every consumer. [[trainGrid]] runs
  * exact Lloyd iterations on the 1e-6 integer grid ([[grid6]]): the seeds
  * are the k smallest vec_ids, and each step routes every vector to its
  * nearest centroid and moves each centroid to the integer mean (sum div
  * count) of its list. Every step is integer arithmetic with pinned
  * tie-breaks, so the trained index is bit-identical to the DuckDB
  * oracle's CTE chain. [[routeToCells]] is the one place a vector meets
  * the centroids: a cross join against the centroid arrays, the exact
  * int64 squared-L2 of the `graft_l2sq` kernel, and the nearest cell(s),
  * ties to the lower cid. k is either fixed ([[GridK]], the index of the
  * sim_ann_ivf family and its consumers) or grows with the corpus
  * ([[CellTarget]], the semantic-dedup cells). Returned scores are always
  * exact re-ranks.
  */
object IvfAnn {

  /** Persisted centroid frames, one per (session, data dir) — see the
    * entries scaladoc. WEAKLY keyed on the SparkSession instance itself:
    * identity hash codes are reusable after GC (a new session could alias a
    * dead one's key and receive a DataFrame bound to a stopped
    * SparkContext), and a strong key would retain every session's persisted
    * plan for the JVM lifetime. The VALUE side holds the DataFrame only
    * through a SoftReference — a strong value would reach the session back
    * through Dataset.sparkSession and pin its own key forever (the classic
    * WeakHashMap self-reference trap), while soft reachability avoids the
    * pin AND survives routine GC (it is only cleared under memory
    * pressure). r10 lesson: the original WeakReference value was collected
    * by ordinary minor GCs between bench passes, so corpus_cluster_mix
    * rebuilt its "build-once" centroids in 2 of 3 passes — a cache that a
    * no-pressure GC empties isn't a cache. If the wrapper Dataset IS
    * collected the entry rebuilds and re-persists: CacheManager compares
    * CANONICALIZED plans, so the rebuilt (structurally identical) plan
    * reuses the live cache entry instead of registering a second one. The
    * whole lookup-or-build runs under one lock — build here is lazy plan
    * construction plus persist() registration (no Spark job), so the
    * coarse lock is cheap and stops a race from double-registering.
    *
    * REGENERATE-IN-PLACE HAZARD (r13 ADVICE): keys are caller-declared
    * strings over the data DIRECTORY ("grid6:"+dir, "emb:"+dir,
    * "deconCent:"+dir, …) with no content fingerprint — if the parquet
    * under `dir` is rewritten mid-session (a GenData re-run into the same
    * path), cached centroids silently keep serving the OLD corpus. That is
    * the intended production semantic (an index is built once per corpus
    * version; a real deployment versions its data paths), but in a dev
    * session that regenerates in place, call [[invalidateSessionCaches]]
    * after the rewrite.
    */
  private val centroidCache =
    new java.util.WeakHashMap[
      SparkSession,
      scala.collection.mutable.HashMap[String, java.lang.ref.SoftReference[DataFrame]],
    ]()

  /** Dev hook for the regenerate-in-place hazard above: drop every cached
    * centroid frame of this session (unpersisting each), so the next
    * consumer retrains against the data now on disk.
    */
  private[graft] def invalidateSessionCaches(s: SparkSession): Unit =
    centroidCache.synchronized {
      Option(centroidCache.remove(s)).foreach(_.valuesIterator
        .flatMap(r => Option(r.get))
        .foreach(df => df.unpersist()))
    }

  private[graft] def cachedCentroids(s: SparkSession, dir: String)(build: => DataFrame): DataFrame =
    centroidCache.synchronized {
      val perDir = Option(centroidCache.get(s)).getOrElse {
        val m =
          scala.collection.mutable.HashMap.empty[String, java.lang.ref.SoftReference[DataFrame]]
        centroidCache.put(s, m)
        m
      }
      perDir.get(dir).flatMap(r => Option(r.get)) match {
        case Some(df) => df
        case None =>
          val df = build
          perDir.put(dir, new java.lang.ref.SoftReference(df))
          df
      }
    }

  // ---------------------------------------------------------------------
  // Integer-grid k-means: one Lloyd loop, one router
  // ---------------------------------------------------------------------

  private[graft] val GridK = 16
  private val GridIters = 2
  // r14 (verdict #2): the catalog default now IS the published operating
  // point — sim_ann_ivf_recall_curve proves recall@10 = 0.93–0.96 at
  // nprobe = 12 vs 0.59–0.63 at the old 4, so a deployment copying the
  // declared keys serves ≥0.9 recall. The curve key still publishes the
  // full {2,4,8,12} tradeoff for anyone choosing a cheaper point.
  private[graft] val GridNprobe = 12
  private val GridTopK = 10

  /** Long-form grid view of the embeddings: (vec_id, dim, x6) with
    * x6 = round(x·1e6) — the embed_dim_stats idiom, identical int64 in both
    * engines. All k-means arithmetic then runs on this grid: squared-L2
    * distances are exact int64 sums (|x6| ≤ ~1e6, 64 dims ⇒ ≤ 2.6e14), and
    * the Lloyd mean is an integer `div` — so TRAINING ITSELF is
    * bit-identical cross-engine, which is what lets the whole IVF path be
    * hash-gated.
    */
  private[ops] def grid6(e: DataFrame): DataFrame =
    e.select(
      col("vec_id"),
      posexplode(expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT))"))
        .as(Seq("dim", "x6")),
    ).select(col("vec_id"), col("dim").cast("long").as("dim"), col("x6"))

  /** Array-form grid view (vec_id, x6a): the same integers as [[grid6]],
    * one array per vector — the graft_l2sq kernel's input shape.
    */
  private def toX6a(e: DataFrame): DataFrame =
    e.select(
      col("vec_id"),
      expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT))").as("x6a"),
    )

  /** Centroid ARRAYS (cid, c6a) of a long-form (cid, dim, c6) frame —
    * dim-sorted, the graft_l2sq kernel's input shape. K-row aggregate.
    */
  private[ops] def centArraysOf(cent: DataFrame): DataFrame =
    cent
      .groupBy("cid")
      .agg(expr("transform(array_sort(collect_list(struct(dim, c6))), s -> s.c6)").as("c6a"))

  /** The router: each (vec_id, embedding) vector to its `probes` nearest
    * cells of a (cid, c6a) centroid-array frame by exact int64 grid
    * distance, ties to the lower cid. Training, inverted lists, probe
    * routing and incremental batches all route here, so tie-breaks cannot
    * diverge between them. probes = 1 gives (vec_id, cid) through min_by
    * (partial aggregation map-side); probes > 1 gives (vec_id, cid, rn),
    * rn the route rank from the K-bounded per-vector window — the recall
    * curve and the IVF-PQ probe stage read it, other callers project it
    * away.
    *
    * Distances run through the codegen'd [[graft.functions.L2Dist2]]
    * kernel over ARRAY-form grids — an n·K-row join with d fused ops per
    * row. A long-form per-dim join (n·K·d ROWS per assignment) computes the
    * same integers in the same order, and the r10 sf1 study measured it
    * slower than the quadratic LSH path the dynamic-K cells replace (92 s
    * vs 60 s at sf1). The long-form grid survives only at the Lloyd-mean
    * grain (per-(cid, dim) integer averages in [[trainGrid]]).
    *
    * The build side of the cross join is the caller's call. The fixed-K
    * index hints its centroid side broadcast ([[gridAssign]]: GridK rows by
    * construction). The dynamic-K cells pass theirs unhinted: K grows with
    * the corpus, so whether K arrays still broadcast is AQE's size-based
    * call, not a hardcoded promise. Training is unhinted for both.
    */
  private[graft] def routeToCells(vecs: DataFrame, centA: DataFrame, probes: Int): DataFrame = {
    GraftFunctions.register(vecs.sparkSession)
    val scored = toX6a(vecs)
      .crossJoin(centA)
      .select(
        col("vec_id"),
        col("cid"),
        call_function("graft_l2sq", col("x6a"), col("c6a")).as("dist2"),
      )
    if (probes == 1)
      scored
        .groupBy("vec_id")
        .agg(min_by(col("cid"), struct(col("dist2"), col("cid"))).as("cid"))
    else {
      val w = Window.partitionBy("vec_id").orderBy(col("dist2"), col("cid"))
      scored
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= probes)
        .select("vec_id", "cid", "rn")
    }
  }

  /** Exact grid k-means over (vec_id, embedding) vectors: seed centroids =
    * the k smallest vec_ids (cid in vec_id order), [[GridIters]] integer
    * Lloyd steps — route to the nearest centroid, then sum div count per
    * (cid, dim); a centroid whose list went empty keeps its previous
    * position. Returns the long-form (cid, dim, c6) frame, checkpointed so
    * downstream consumers never replay training lineage. Pure plan builder
    * — callers decide whether to cache it.
    */
  private[graft] def trainGrid(e: DataFrame, k: Int): DataFrame = {
    val g = grid6(e) // long-form: per-dim grain for the Lloyd means only
    val seedW = Window.orderBy("vec_id") // bounded: runs on the k-row limit frame
    val seedIds = e
      .orderBy("vec_id")
      .limit(k)
      .select(col("vec_id"), (row_number().over(seedW) - 1).cast("long").as("cid"))
    val c0 = seedIds.join(g, "vec_id").select(col("cid"), col("dim"), col("x6").as("c6"))
    def step(cent: DataFrame): DataFrame = {
      val upd = routeToCells(e, centArraysOf(cent), probes = 1)
        .join(g, "vec_id")
        .groupBy("cid", "dim")
        .agg(expr("sum(x6) div count(1)").as("c6n"))
      cent
        .join(upd, Seq("cid", "dim"), "left")
        .select(col("cid"), col("dim"), coalesce(col("c6n"), col("c6")).as("c6"))
    }
    (1 to GridIters)
      .foldLeft(c0)((c, _) => step(c))
      .transform(Checkpoints.stable(_))
  }

  // ---------------- dynamic-K cells (the SemDeDup bucketing, r10) ----------------

  /** Target cell occupancy for [[gridCellsOf]]: K = max(4, n / 250). The
    * r10 sf1 growth study measured the sign-LSH candidate path of
    * dedup_semantic growing ∝ n²/2^bits (16 fixed buckets/table ⇒ 2452 MB
    * shuffle at sf1 from 1.2 MB at sf0.1); cells whose COUNT grows with
    * the corpus keep same-cell candidate pairs ≈ n·target/2 — linear in n
    * at fixed occupancy. This is the bucketing real semantic-dedup
    * pipelines use (k-means cells, within-cell pairwise).
    */
  private[graft] val CellTarget = 250L

  /** Train the dynamic-K grid k-means on `e` and return the centroid
    * ARRAYS (cid, c6a) — the persisted-index half of [[gridCellsOf]],
    * exposed (r11) for incremental consumers. K = max(4, n/target): n
    * enters as ONE driver scalar (count of row-group metadata, the same
    * O(1) metadata class as the cluster loop's fixpoint sum).
    */
  private[graft] def gridCentroidArraysOf(e: DataFrame, target: Long = CellTarget): DataFrame = {
    val k = math.max(4L, e.count() / target)
    centArraysOf(trainGrid(e, k.toInt))
  }

  /** Dynamic-K cell assignment of an arbitrary (vec_id, embedding) frame:
    * [[gridCentroidArraysOf]] then [[routeToCells]], as (vec_id, cid).
    *
    * `probes` (r11, the multi-probe refinement): the FINAL assignment
    * routes each vector to its `probes` nearest cells (ties → lower cid),
    * one output row per (vector, cell). Training always single-assigns —
    * multi-probe is a candidate-generation refinement, not a different
    * quantizer — so probes > 1 changes recall (boundary pairs whose
    * members share a 2nd-nearest cell become candidates) without touching
    * the trained centroids. Candidate volume scales ×probes² worst case,
    * still linear in n at fixed occupancy.
    *
    * Optionally SESSION-CACHED training (r13): a caller that knows its
    * input frame's stable identity (the declared keys: full embeddings of a
    * data dir) passes `cacheKey = Some(id)` and the trained centroid arrays
    * are served from the session index cache — shared by every dynamic-K
    * consumer of the same corpus (dedup_semantic, dedup_semantic_ivf,
    * mine_hard_negatives train IDENTICAL centroids: training is
    * probe-independent). Identity stays the CALLER's problem on purpose —
    * keying on the DataFrame's plan would silently alias distinct synthetic
    * frames in specs. Values are unchanged cold or warm (training is a pure
    * function of the rows; every Verify session's first execution still
    * exercises it against the oracle hash).
    */
  private[graft] def gridCellsOf(
      e: DataFrame,
      target: Long = CellTarget,
      probes: Int = 1,
      cacheKey: Option[String] = None,
  ): DataFrame = {
    val centA = cacheKey match {
      case Some(id) =>
        cachedCentroids(e.sparkSession, s"cellsA:$target:$id")(gridCentroidArraysOf(e, target))
      case None => gridCentroidArraysOf(e, target)
    }
    routeToCells(e, centA, probes).select("vec_id", "cid")
  }

  /** DuckDB mirror of [[gridCellsOf]] on the `embeddings` table — a CTE
    * chain ending in `cells(vec_id, cid)`. K is the same
    * greatest(4, n // target) scalar; seeds select by row_number ≤ K
    * (WHERE, not LIMIT, so the dynamic K needs no parameterized LIMIT);
    * distances are the kernel's formulation verbatim:
    * list_sum over (a_i − b_i)² in index order, exact integers.
    */
  private[ops] def gridCellsCteSql(
      target: Long = CellTarget,
      probes: Int = 1,
      src: String = "embeddings",
      pfx: String = "",
  ): String = {
    // pfx (r11): prefixes EVERY CTE name so two independent cell chains
    // (e.g. seen-trained and batch-trained in dedup_incremental_semantic)
    // can coexist in one WITH clause without collisions.
    def n(name: String): String = pfx + name
    val dist2 = "CAST(list_sum(list_transform(range(1, len(e.x6a) + 1), " +
      "i -> (e.x6a[i] - c.c6a[i]) * (e.x6a[i] - c.c6a[i]))) AS BIGINT)"
    def step(cIn: String, out: String): String =
      s"${n(s"ca_$cIn")} AS (SELECT cid, list(c6 ORDER BY dim) AS c6a FROM ${n(cIn)} GROUP BY cid), " +
        s"${n(s"d_$out")} AS (SELECT e.vec_id, c.cid, $dist2 AS dist2 FROM ${n("e6")} e, ${n(s"ca_$cIn")} c), " +
        s"${n(s"a_$out")} AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, " +
        s"row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM ${n(s"d_$out")}) WHERE rn = 1), " +
        s"${n(s"u_$out")} AS (SELECT a.cid, g.dim, sum(g.x6) // count(*) AS c6n " +
        s"FROM ${n(s"a_$out")} a JOIN ${n("g")} g ON g.vec_id = a.vec_id GROUP BY 1, 2), " +
        s"${n(out)} AS (SELECT c.cid, c.dim, coalesce(u.c6n, c.c6) AS c6 " +
        s"FROM ${n(cIn)} c LEFT JOIN ${n(s"u_$out")} u ON u.cid = c.cid AND u.dim = c.dim)"
    s"${n("e6")} AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), " +
      s"x -> CAST(round(x * 1e6, 0) AS BIGINT)) AS x6a FROM $src), " +
      s"${n("g")} AS (SELECT vec_id, u.dim, u.x6 FROM (SELECT vec_id, " +
      "unnest(list_transform(CAST(embedding AS DOUBLE[]), (x, i) -> " +
      s"{'dim': CAST(i - 1 AS BIGINT), 'x6': CAST(round(x * 1e6, 0) AS BIGINT)})) AS u FROM $src)), " +
      s"${n("nk")} AS (SELECT greatest(4, count(*) // $target) AS k FROM $src), " +
      s"${n("seed")} AS (SELECT vec_id, CAST(rn AS BIGINT) - 1 AS cid FROM " +
      s"(SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn FROM $src) " +
      s"WHERE rn <= (SELECT k FROM ${n("nk")})), " +
      s"${n("c0")} AS (SELECT s.cid, g.dim, g.x6 AS c6 FROM ${n("seed")} s JOIN ${n("g")} g ON g.vec_id = s.vec_id), " +
      step("c0", "c1") + ", " +
      step("c1", "c2") + ", " +
      s"${n("ca_c2")} AS (SELECT cid, list(c6 ORDER BY dim) AS c6a FROM ${n("c2")} GROUP BY cid), " +
      s"${n("d_fin")} AS (SELECT e.vec_id, c.cid, $dist2 AS dist2 FROM ${n("e6")} e, ${n("ca_c2")} c), " +
      s"${n("cells")} AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, " +
      s"row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM ${n("d_fin")}) WHERE rn <= $probes)"
  }

  // ---------------- fixed-K index (the sim_ann_ivf family) ----------------

  /** The embeddings of `dir`, task-floor spread (r17): grid6 fans each
    * vector into 64 dim rows, and training, inverted-list assignment and
    * the exact re-rank dots are compute-dense map work whose partial
    * halves run on the scan's split count — one split at dev scale.
    */
  private def gridEmbeddings(s: SparkSession, dir: String): DataFrame =
    graft.Tables.spreadSmallScan(s, dir, "embeddings", graft.Tables.embeddings(s, dir), col("vec_id"))

  /** Build-once centroids: the trained [[GridK]] grid index of `dir`,
    * cached per (session, dir) in the weak index cache — the FIRST
    * consumer in a session trains and checkpoints, every later
    * `sim_ann_ivf_probe` execution reuses the materialized 1024-row frame
    * without touching the corpus. This is the deployment shape of a real
    * vector-search index (build once, probe many); the fused `sim_ann_ivf`
    * key deliberately bypasses this cache to stay self-contained.
    */
  def gridCentroids(s: SparkSession, dir: String): DataFrame =
    cachedCentroids(s, "grid6:" + dir)(trainGrid(gridEmbeddings(s, dir), GridK))

  /** Fixed-K routing: each vector of `e` to its `probes` nearest cells of
    * the long-form [[GridK]] index `cent`, through [[routeToCells]]. The
    * centroid side is broadcast explicitly: it is GridK rows by
    * construction, and left to AQE the cross join broadcast the vector
    * side in some runs and the centroid side in others.
    */
  private[graft] def gridAssign(e: DataFrame, cent: DataFrame, probes: Int = 1): DataFrame =
    routeToCells(e, broadcast(centArraysOf(cent)), probes)

  /** Probe routing with the route rank kept: each probe's (vec_id < 100)
    * `maxNprobe` nearest cells as (probe_id, cid, rnp), maxNprobe > 1. ONE
    * implementation serves the declared fused/probe keys (rnp ≤
    * [[GridNprobe]]), the IVF-PQ probe stage and the recall curve (rnp
    * kept, up to the curve's max) — r13 ADVICE: the curve previously
    * re-implemented this stage, so it could drift from the index whose
    * operating point it publishes.
    */
  private[graft] def gridRoutes(e: DataFrame, cent: DataFrame, maxNprobe: Int): DataFrame =
    gridAssign(e.filter(col("vec_id") < 100), cent, maxNprobe)
      .select(col("vec_id").as("probe_id"), col("cid"), col("rn").cast("long").as("rnp"))

  /** Probe stage shared by the fused and split keys: corpus assignment =
    * the inverted lists, probes routed to their `GridNprobe` nearest lists,
    * exact native-dot re-rank within them.
    */
  private def gridProbeStage(s: SparkSession, dir: String, cent: DataFrame): DataFrame = {
    GraftFunctions.register(s)
    val e = gridEmbeddings(s, dir)
    val lists = gridAssign(e, cent).select(col("vec_id").as("cand_id"), col("cid"))
    val routes = gridRoutes(e, cent, GridNprobe).select("probe_id", "cid")
    val pv = e.filter(col("vec_id") < 100).select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
    val cv = e.select(col("vec_id").as("cand_id"), col("embedding").as("cvec"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("cand_id"))
    routes
      .join(lists, "cid")
      .filter(col("probe_id") =!= col("cand_id"))
      .select("probe_id", "cand_id")
      .distinct() // a candidate can sit in several routed lists
      .join(pv, "probe_id")
      .join(cv, "cand_id")
      .withColumn("sim", round(Vectors.nativeDot(col("pvec"), col("cvec")), 4))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= GridTopK)
      .select("probe_id", "cand_id", "sim", "rn")
      .orderBy("probe_id", "rn")
  }

  /** The declared fused IVF query, exact end to end — retrains inside every
    * execution so the whole path (training included) hash-checks against
    * the DuckDB oracle with zero session state. The deployment shape is the
    * split pair below.
    *
    * NOTE (r12 advice): the sibling fused `sim_ann_ivfpq` key DOES serve
    * training from the session cache (its training is ~5× heavier), so the
    * two fused keys deliberately follow opposite conventions: this key
    * keeps per-run hash coverage of training; the PQ key's bench number is
    * a warm-cache figure. The asymmetry is recorded in PERF.md so bench
    * readers don't compare the two as like-for-like.
    */
  private[ops] def simAnnIvfGrid(s: SparkSession, dir: String): DataFrame =
    gridProbeStage(s, dir, trainGrid(gridEmbeddings(s, dir), GridK))

  /** Index-build key: the trained centroid grid joined with its
    * inverted-list occupancy — (cid, dim, c6, list_n), 16×64 rows. This IS
    * the persisted index a deployment writes once; `list_n` is the balance
    * stat that decides whether the quantizer needs retraining. Trains (or
    * reuses) the session-cached centroids.
    */
  private def simAnnIvfBuild(s: SparkSession, dir: String): DataFrame = {
    val cent = gridCentroids(s, dir)
    val e = gridEmbeddings(s, dir)
    val ln = gridAssign(e, cent).groupBy("cid").agg(count(lit(1)).as("list_n"))
    cent
      .join(ln, Seq("cid"), "left")
      .select(col("cid"), col("dim"), col("c6"), coalesce(col("list_n"), lit(0L)).as("list_n"))
      .orderBy("cid", "dim")
  }

  /** Probe key: consumes the session-cached index from [[gridCentroids]] —
    * after the first execution (or a prior `sim_ann_ivf_build`) has
    * materialized the checkpointed centroids, every probe run skips
    * training entirely and pays only routing + re-rank. Row-identical to
    * the fused key by construction (IvfSpec pins the law), so it shares its
    * oracle.
    */
  private def simAnnIvfProbe(s: SparkSession, dir: String): DataFrame =
    gridProbeStage(s, dir, gridCentroids(s, dir))

  /** Embedding-cluster topic balance — the SemDeDup-adjacent curation
    * report: assign every vector to its grid cluster (the cached IVF
    * index), join the document metadata, and report each cluster's
    * language mix against the corpus mix. `skew_ppm` is the per-cell
    * imbalance signal a curation pipeline acts on (a cluster whose lang
    * share is far from the corpus share is a topic the mix over/under-
    * samples). Scale: cluster assignment is the broadcast-centroid pass
    * (corpus never shuffles for it), the mix is a (k × |langs|)-bounded
    * aggregate with map-side combine, and corpus totals are |langs|-row
    * broadcasts. The per-cell totals `ct` (one row per cell) are broadcast
    * explicitly too, so the build side of `m ⋈ ct` does not depend on
    * which AQE stage finishes first. All integer-ppm arithmetic — fully
    * hash-oracled on the shared training CTE.
    */
  private def corpusClusterMix(s: SparkSession, dir: String): DataFrame = {
    val cent = gridCentroids(s, dir)
    val e = gridEmbeddings(s, dir)
    val dd = gridAssign(e, cent)
      .join(
        graft.Tables.documents(s, dir).select(col("doc_id").as("vec_id"), col("lang")),
        "vec_id",
      )
      .select("cid", "lang")
    val m = dd.groupBy("cid", "lang").agg(count(lit(1)).as("n_docs"))
    val ct = m.groupBy("cid").agg(sum("n_docs").as("cid_docs"))
    val cl = dd.groupBy("lang").agg(count(lit(1)).as("lang_docs"))
    val nn = dd.agg(count(lit(1)).as("n"))
    m.join(broadcast(ct), "cid")
      .join(broadcast(cl), "lang")
      .crossJoin(broadcast(nn))
      .select(
        col("cid"),
        col("lang"),
        col("n_docs"),
        col("cid_docs"),
        expr("n_docs * 1000000 div cid_docs").as("share_ppm"),
        expr("lang_docs * 1000000 div n").as("corpus_ppm"),
        expr("n_docs * 1000000 div cid_docs - lang_docs * 1000000 div n").as("skew_ppm"),
      )
      .orderBy("cid", "lang")
  }

  /** Embedding-distribution DRIFT against the built index — the
    * staleness monitor every deployed quantizer needs: assign the corpus
    * to the cached grid cells, split it into the first/second vec_id
    * halves (ingest order — old data vs new), and report each cell's
    * occupancy share per half with its PSI contribution
    * ((p_a − p_b)·ln(p_a/p_b), add-1 smoothed so empty cells stay
    * finite). Σ psi6 over cells is the population-stability index; the
    * 0.1/0.25 PSI rules of thumb are the retrain triggers. The
    * embedding-space sibling of dq_drift_psi (value-column drift) and the
    * temporal sibling of corpus_cluster_mix (language balance).
    *
    * Scale: cluster assignment is the broadcast-centroid pass (corpus
    * never shuffles for it); everything after is k-row aggregates with
    * map-side combine; the half split needs only a broadcast 1-row max.
    * Determinism: shares are quotients of identical integers → identical
    * doubles; ln is the only engine-dependent step and the 1e-6 round
    * absorbs ULP drift (the surprisal idiom); PSI terms are ≥ 0 by
    * construction (both factors share sign), so no signed-zero hazard.
    */
  private def embedClusterDrift(s: SparkSession, dir: String): DataFrame = {
    val cent = gridCentroids(s, dir)
    val e = gridEmbeddings(s, dir)
    val lists = gridAssign(e, cent)
    val mx = e.agg(max("vec_id").as("mxid"))
    val c = lists
      .crossJoin(broadcast(mx))
      .select(
        col("cid"),
        when(col("vec_id") * 2 <= col("mxid"), lit("a")).otherwise(lit("b")).as("slice"),
      )
      .groupBy("cid", "slice")
      .agg(count(lit(1)).as("n"))
    // complete the (cid × slice) domain: an EMPTIED cell is exactly the
    // drift signal, so it must appear (with its smoothed share), not vanish
    val dom = cent
      .select("cid")
      .distinct()
      .crossJoin(e.sparkSession.range(1).select(explode(array(lit("a"), lit("b"))).as("slice")))
    val p = dom
      .join(c, Seq("cid", "slice"), "left")
      .select(col("cid"), col("slice"), coalesce(col("n"), lit(0L)).as("n"))
      .groupBy("cid")
      .agg(
        sum(when(col("slice") === "a", col("n")).otherwise(0L)).as("n_a"),
        sum(when(col("slice") === "b", col("n")).otherwise(0L)).as("n_b"),
      )
    val tt = p.agg(sum("n_a").as("ta"), sum("n_b").as("tb"))
    val pa = (col("n_a") + 1).cast("double") / (col("ta") + GridK).cast("double")
    val pb = (col("n_b") + 1).cast("double") / (col("tb") + GridK).cast("double")
    p.crossJoin(broadcast(tt))
      .select(
        col("cid"),
        col("n_a"),
        col("n_b"),
        expr(s"(n_a + 1) * 1000000 div (ta + $GridK)").as("share_a_ppm"),
        expr(s"(n_b + 1) * 1000000 div (tb + $GridK)").as("share_b_ppm"),
        round((pa - pb) * log(pa / pb), 6).as("psi6"),
      )
      .orderBy("cid")
  }

  private lazy val embedClusterDriftSql =
    gridTrainCte + ", " +
      "mx AS (SELECT max(vec_id) AS mxid FROM embeddings), " +
      "sl AS (SELECT cid, CASE WHEN cand_id * 2 <= mx.mxid THEN 'a' ELSE 'b' END AS slice FROM lists, mx), " +
      "cc AS (SELECT cid, slice, CAST(count(*) AS BIGINT) AS n FROM sl GROUP BY 1, 2), " +
      "dom AS (SELECT DISTINCT c2.cid, s.slice FROM c2, (SELECT 'a' AS slice UNION ALL SELECT 'b') s), " +
      "f AS (SELECT dom.cid, dom.slice, coalesce(cc.n, 0) AS n FROM dom " +
      "LEFT JOIN cc ON cc.cid = dom.cid AND cc.slice = dom.slice), " +
      "p AS (SELECT cid, CAST(sum(CASE WHEN slice = 'a' THEN n ELSE 0 END) AS BIGINT) AS n_a, " +
      "CAST(sum(CASE WHEN slice = 'b' THEN n ELSE 0 END) AS BIGINT) AS n_b FROM f GROUP BY 1), " +
      "tt AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb FROM p) " +
      s"SELECT cid, n_a, n_b, " +
      s"CAST((n_a + 1) * 1000000 // (ta + $GridK) AS BIGINT) AS share_a_ppm, " +
      s"CAST((n_b + 1) * 1000000 // (tb + $GridK) AS BIGINT) AS share_b_ppm, " +
      s"round((CAST(n_a + 1 AS DOUBLE) / CAST(ta + $GridK AS DOUBLE) - " +
      s"CAST(n_b + 1 AS DOUBLE) / CAST(tb + $GridK AS DOUBLE)) * " +
      s"ln((CAST(n_a + 1 AS DOUBLE) / CAST(ta + $GridK AS DOUBLE)) / " +
      s"(CAST(n_b + 1 AS DOUBLE) / CAST(tb + $GridK AS DOUBLE))), 6) AS psi6 " +
      "FROM p, tt ORDER BY cid"

  // lazy: gridTrainCte is defined further down the file; a strict val here
  // would capture null at object init (entries initializes last, so the
  // lazy resolves after gridTrainCte exists)
  private lazy val corpusClusterMixSql =
    gridTrainCte + ", " +
      "dd AS (SELECT l.cid, d.lang FROM lists l JOIN documents d ON d.doc_id = l.cand_id), " +
      "m AS (SELECT cid, lang, CAST(count(*) AS BIGINT) AS n_docs FROM dd GROUP BY 1, 2), " +
      "ct AS (SELECT cid, CAST(sum(n_docs) AS BIGINT) AS cid_docs FROM m GROUP BY 1), " +
      "cl AS (SELECT lang, CAST(count(*) AS BIGINT) AS lang_docs FROM dd GROUP BY 1), " +
      "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dd) " +
      "SELECT m.cid, m.lang, m.n_docs, ct.cid_docs, " +
      "CAST(m.n_docs * 1000000 // ct.cid_docs AS BIGINT) AS share_ppm, " +
      "CAST(cl.lang_docs * 1000000 // nn.n AS BIGINT) AS corpus_ppm, " +
      "CAST(m.n_docs * 1000000 // ct.cid_docs - cl.lang_docs * 1000000 // nn.n AS BIGINT) AS skew_ppm " +
      "FROM m JOIN ct USING (cid) JOIN cl USING (lang), nn ORDER BY cid, lang"

  /** Full oracle: DuckDB re-runs the SAME integer k-means (grid explode,
    * exact int64 distances, integer-div Lloyd means, pinned tie-breaks) and
    * the same route/re-rank — training, lists, routing, and scores all
    * hash-check. The grid CTE mirrors [[grid6]]; `list_dot_product` is the
    * established bit-identical mirror of the native re-rank kernel.
    */
  /** Shared training CTE chain (g → seed → c0 → c1 → c2 → dl → lists):
    * everything up to the trained centroids and their inverted lists, used
    * verbatim by the fused, build, and probe oracles.
    */
  private[ops] val gridTrainCte = {
    def step(gIn: String, cIn: String, out: String): String =
      s"d_$out AS (SELECT g.vec_id, c.cid, sum((g.x6 - c.c6) * (g.x6 - c.c6)) AS dist2 " +
        s"FROM $gIn g JOIN $cIn c ON g.dim = c.dim GROUP BY 1, 2), " +
        s"a_$out AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, " +
        s"row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM d_$out) WHERE rn = 1), " +
        s"u_$out AS (SELECT a.cid, g.dim, sum(g.x6) // count(*) AS c6n " +
        s"FROM a_$out a JOIN g ON g.vec_id = a.vec_id GROUP BY 1, 2), " +
        s"$out AS (SELECT c.cid, c.dim, coalesce(u.c6n, c.c6) AS c6 " +
        s"FROM $cIn c LEFT JOIN u_$out u ON u.cid = c.cid AND u.dim = c.dim)"
    "WITH g AS (SELECT vec_id, u.dim, u.x6 FROM (SELECT vec_id, " +
      "unnest(list_transform(CAST(embedding AS DOUBLE[]), (x, i) -> " +
      "{'dim': CAST(i - 1 AS BIGINT), 'x6': CAST(round(x * 1e6, 0) AS BIGINT)})) AS u FROM embeddings)), " +
      s"seed AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS cid " +
      s"FROM embeddings ORDER BY vec_id LIMIT $GridK), " +
      "c0 AS (SELECT seed.cid, g.dim, g.x6 AS c6 FROM seed JOIN g ON g.vec_id = seed.vec_id), " +
      step("g", "c0", "c1") + ", " +
      step("g", "c1", "c2") + ", " +
      "dl AS (SELECT g.vec_id, c.cid, sum((g.x6 - c.c6) * (g.x6 - c.c6)) AS dist2 " +
      "FROM g JOIN c2 c ON g.dim = c.dim GROUP BY 1, 2), " +
      "lists AS (SELECT vec_id AS cand_id, cid FROM (SELECT vec_id, cid, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM dl) WHERE rn = 1)"
  }

  /** CTE chain of the fused-IVF oracle up to `rk` (the per-probe exact
    * re-rank) — shared with ml_eval_ann_recall's oracle, which consumes
    * the same ranking the declared key emits.
    */
  private[ops] val simAnnIvfRkCte =
    gridTrainCte + ", " +
      "routes AS (SELECT vec_id AS probe_id, cid FROM (SELECT vec_id, cid, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM dl WHERE vec_id < 100) " +
      s"WHERE rn <= $GridNprobe), " +
      "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "cand AS (SELECT DISTINCT probe_id, cand_id FROM routes JOIN lists USING (cid) " +
      "WHERE probe_id <> cand_id), " +
      "r AS (SELECT probe_id, cand_id, round(list_dot_product(pe.v, ce.v), 4) AS sim " +
      "FROM cand JOIN e pe ON pe.vec_id = cand.probe_id JOIN e ce ON ce.vec_id = cand.cand_id), " +
      "rk AS (SELECT probe_id, cand_id, sim, " +
      "CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rn FROM r)"

  private[ops] val GridTopKShared = GridTopK

  private val simAnnIvfGridSql =
    simAnnIvfRkCte + " " +
      s"SELECT probe_id, cand_id, sim, rn FROM rk WHERE rn <= $GridTopK ORDER BY probe_id, rn"

  /** Build oracle: the trained centroid grid + per-list occupancy. */
  private val simAnnIvfBuildSql =
    gridTrainCte + ", " +
      "ln AS (SELECT cid, CAST(count(*) AS BIGINT) AS list_n FROM lists GROUP BY 1) " +
      "SELECT c.cid, c.dim, CAST(c.c6 AS BIGINT) AS c6, coalesce(ln.list_n, 0) AS list_n " +
      "FROM c2 c LEFT JOIN ln USING (cid) ORDER BY cid, dim"

  val entries: Seq[graft.QueryDef] = Seq(
    graft.QueryDef("sim_ann_ivf", simAnnIvfGrid, Some(simAnnIvfGridSql)),
    graft.QueryDef("sim_ann_ivf_build", simAnnIvfBuild, Some(simAnnIvfBuildSql)),
    // the probe key's result is row-identical to the fused key (IvfSpec
    // law), so it shares the fused oracle verbatim
    graft.QueryDef("sim_ann_ivf_probe", simAnnIvfProbe, Some(simAnnIvfGridSql)),
    graft.QueryDef("corpus_cluster_mix", corpusClusterMix, Some(corpusClusterMixSql)),
    graft.QueryDef("embed_cluster_drift", embedClusterDrift, Some(embedClusterDriftSql)),
  )
}
