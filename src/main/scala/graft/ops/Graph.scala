package graft.ops

import graft.{QueryDef, Tables}
import graft.Qf._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 graph verbs (SURVEY.md §2.16): damped PageRank over the
  * customer–supplier transaction graph — the canonical ITERATIVE
  * join-aggregate workload, complementing `dedup_clusters` (the other
  * fixpoint op in the catalog) with weighted-importance semantics.
  *
  * Scale doctrine: each iteration is one join of the edge list with the
  * |V|-row rank frame on `src` plus one aggregate on `dst` — contributions
  * partial-sum map-side, so the exchange carries at most |V| rows of
  * (node, decimal) per iteration no matter how many edges a node has. The
  * edge list is partitioned by `src` once and every iteration reuses that
  * partitioning. The declared query unrolls THREE iterations into one
  * static plan (lineage stays bounded); an open-ended fixpoint would add
  * `localCheckpoint` truncation per round exactly like
  * MinHashDedup.clusters.
  *
  * The unrolled plan references the edge subplan ~10×, but AQE's runtime
  * stage reuse collapses every duplicate: measured at sf0.01, the whole
  * 3-iteration query runs 9 stages and reads exactly |lineitem| + |orders|
  * input records — one scan each (pinned in GraphSpec).
  */
object Graph {

  /** Supplier node ids are offset into their own range so the two key
    * spaces cannot collide. 1e12: custkeys grow ~1.5e5 per SF unit, so a
    * collision would need SF ≈ 6.6M — safely past any conceivable corpus —
    * while supplier ids stay far inside BIGINT.
    */
  private val SuppOffset = 1000000000000L

  /** Cross-engine determinism: ranks live on an exact integer PICORANK grid
    * (1 pico = 1e-12 of total mass; initial mass = 1e12). The entire
    * iteration is integer arithmetic — contributions are `rank div deg`,
    * the damping factor 0.85 is `×17 div 20`, the teleport term is
    * `0.15e12 div n` — so there is NO floating point anywhere until the
    * display column, and no rounding tie for the engines to break
    * differently (the first formulation rounded doubles to a 12-decimal
    * grid and 0.85×grid lands exactly on half-grid ties ~1/20th of the
    * time). Floors shed ≤ deg units per node per round: bounded mass leak,
    * asserted in GraphSpec. 17·1e12 < 2^63, so the BIGINT path never
    * overflows.
    */
  private def pagerank(s: SparkSession, dir: String): DataFrame = {
    // scale path (r15): sized raw-row distinct (byte-gated); the lineitem
    // row count is a 1:1 upper bound on this post-join stream
    val e0 = Modeling.sizedDistinct(
      s, dir,
      Tables
        .lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), (col("l_suppkey") + SuppOffset).as("sp")))
    val edges = e0
      .select(col("c").as("src"), col("sp").as("dst"))
      .unionByName(e0.select(col("sp").as("src"), col("c").as("dst")))
    val deg = edges.groupBy("src").agg(nrows.as("deg"))
    val nodes = edges.select(col("src").as("node")).distinct()
    val nn = nodes.agg(nrows.as("n"))
    var ranks = nodes
      .crossJoin(broadcast(nn))
      .select(col("node"), expr("1000000000000 div n").as("pico"), col("n"))
    // below the byte gate the round's rank side is broadcast-HINTED (r17,
    // the graph_label_propagation finding): round k's ranks flow from the
    // left join straight into round k+1's contrib join with no exchange
    // boundary, so AQE never sees materialized stats and the initial
    // planner made every round's rank join SortMergeJoin — re-sorting the
    // |E| edge side each round (the reused edge exchange is NOT re-read,
    // but its 1.17 M rows were re-SORTED per round). |ranks| = |V| rows,
    // bounded by the gated input bytes; above the gate the hint is off.
    val bcRanks = Tables.belowTaskFloor(s, dir, "lineitem")
    for (_ <- 1 to 3) {
      val rk = ranks.select(col("node").as("src"), col("pico"))
      val contrib = edges
        .join(deg, "src")
        .join(if (bcRanks) broadcast(rk) else rk, "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("pico div deg")).as("m"))
      ranks = ranks
        .select("node", "n")
        .join(contrib, Seq("node"), "left")
        .select(
          col("node"),
          (expr("150000000000 div n") + expr("(17 * coalesce(m, 0)) div 20")).as("pico"),
          col("n"),
        )
    }
    ranks
      .select(
        col("node"),
        when(col("node") >= SuppOffset, "supplier").otherwise("customer").as("node_type"),
        col("pico").as("rank_pico"),
        (col("pico") / lit(1e12)).as("rank"),
      )
      .orderBy("node")
  }

  private val pagerankSql = {
    def iter(prev: String, out: String): String =
      s"c$out AS (SELECT e.dst AS node, sum(r.pico // d.deg) AS m " +
        s"FROM edges e JOIN $prev r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY 1), " +
        s"$out AS (SELECT p.node, " +
        s"(150000000000 // p.n) + ((17 * coalesce(c$out.m, 0)) // 20) AS pico, p.n " +
        s"FROM $prev p LEFT JOIN c$out ON p.node = c$out.node)"
    "WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000000000 AS sp " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), " +
      "edges AS (SELECT c AS src, sp AS dst FROM e0 UNION ALL SELECT sp, c FROM e0), " +
      "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1), " +
      "nodes AS (SELECT DISTINCT src AS node FROM edges), " +
      "nn AS (SELECT count(*) AS n FROM nodes), " +
      "r0 AS (SELECT node, 1000000000000 // n AS pico, n FROM nodes, nn), " +
      iter("r0", "r1") + ", " + iter("r1", "r2") + ", " + iter("r2", "r3") + " " +
      "SELECT node, CASE WHEN node >= 1000000000000 THEN 'supplier' ELSE 'customer' END AS node_type, " +
      "CAST(pico AS BIGINT) AS rank_pico, CAST(pico AS DOUBLE) / 1e12 AS rank " +
      "FROM r3 ORDER BY node"
  }

  /** Per-node triangle count + local clustering coefficient over the part
    * CO-PURCHASE graph: parts are adjacent when >= 2 distinct orders contain
    * both (the support threshold is load-bearing — the support-1 projection
    * of uniform synthetic baskets is near-complete and its triangle count
    * explodes; support >= 2 is also the standard "frequently bought
    * together" definition). Triangles are enumerated with the classic
    * DEGREE-ORDERED wedge join: direct every edge from its lower-(deg,node)
    * endpoint, build wedges only from each node's out-edges, and probe the
    * directed edge list for the closing edge. Ordering by degree bounds
    * out-degree by O(sqrt(m)), so wedge count — the only superlinear
    * term — is O(m^1.5) worst-case instead of Σ deg², and on this graph the
    * whole pipeline is equi-joins: per-order pair fan-out is C(items, 2)
    * with TPC-H's bounded basket size (<= 7), the support filter is one
    * hash aggregate, and nothing is ever corpus². Clustering =
    * 2·tri/(deg·(deg−1)) is a round(4) ratio of exact ints.
    */
  private def triangleCount(s: SparkSession, dir: String): DataFrame = {
    // scale path (r15): sized raw-row distinct (byte-gated — see
    // Modeling.sizedDistinct); dev plans untouched, incl. the AQE-reuse
    // materialization point discussed below
    val os = Modeling.sizedDistinct(
      s, dir,
      Tables.lineitem(s, dir).select(col("l_orderkey").as("ok"), col("l_partkey").as("p")),
      spreadKeys = Seq("ok")) // the pair-join key (r17 task-floor branch)
    // Support-1 pairs dominate the pair-count exchange (sf0.1: only 3,573
    // of 1,196,000 distinct pairs reach support 2) and partial aggregation
    // cannot collapse distinct keys, so a two-bloom dup-sketch prune (one
    // sketch pass, then a map-side probe) was MEASURED here: shuffle fell only
    // 18.3→16.8 MB — the os.distinct() exchange below, not the pair
    // count, is this plan's real shuffle mass — while runtime doubled
    // (1.96→3.98 s) on the sketch pass + second pair fan-out. Not shipped;
    // at 100 TB the trade flips only if basket width (pair fan-out per
    // distinct-row) grows, which TPC-H's <= 7-item orders cap. The
    // distinct() exchange is also load-bearing: it is the materialization
    // point AQE reuses across the self-join's two references.
    val pairs = os
      .select(col("ok"), col("p").as("s1"))
      .join(os.select(col("ok"), col("p").as("s2")), "ok")
      .filter(col("s1") < col("s2"))
      .groupBy("s1", "s2")
      .agg(nrows.as("sup"))
      .filter(col("sup") >= 2)
      .select("s1", "s2")
    val deg = pairs
      .select(col("s1").as("node"))
      .unionByName(pairs.select(col("s2").as("node")))
      .groupBy("node")
      .agg(nrows.as("deg"))
    val lt = col("d1") < col("d2") || (col("d1") === col("d2") && col("s1") < col("s2"))
    val eDir = pairs
      .join(deg.select(col("node").as("s1"), col("deg").as("d1")), "s1")
      .join(deg.select(col("node").as("s2"), col("deg").as("d2")), "s2")
      .select(
        when(lt, col("s1")).otherwise(col("s2")).as("src"),
        when(lt, col("s2")).otherwise(col("s1")).as("dst"),
        when(lt, col("d2")).otherwise(col("d1")).as("dd"),
      )
    val wedges = eDir
      .select(col("src"), col("dst").as("x"), col("dd").as("dx"))
      .join(eDir.select(col("src"), col("dst").as("y"), col("dd").as("dy")), "src")
      .filter(col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y")))
    // the closing edge x—y, if present, is directed x→y (rank(x) < rank(y)
    // by the wedge filter and eDir directs low→high), so one equi-join probes it
    val tri = wedges
      .join(eDir.select(col("src").as("x"), col("dst").as("y")), Seq("x", "y"))
      .select(col("src").as("n1"), col("x").as("n2"), col("y").as("n3"))
    val tn = tri
      .select(explode(array(col("n1"), col("n2"), col("n3"))).as("node"))
      .groupBy("node")
      .agg(nrows.as("n_tri"))
    deg
      .join(tn, Seq("node"), "left")
      .select(
        col("node").as("partkey"),
        col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(
          when(
            col("deg") >= 2,
            (coalesce(col("n_tri"), lit(0L)) * 2).cast("double") / (col("deg") * (col("deg") - 1)),
          ).otherwise(0.0),
          4,
        ).as("clustering"),
      )
      .orderBy("partkey")
  }

  private val triangleCountSql =
    "WITH os AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem), " +
      "pairs AS (SELECT a.p AS s1, b.p AS s2 FROM os a JOIN os b ON a.ok = b.ok AND a.p < b.p " +
      "GROUP BY 1, 2 HAVING count(*) >= 2), " +
      "deg AS (SELECT node, count(*) AS deg FROM " +
      "(SELECT s1 AS node FROM pairs UNION ALL SELECT s2 FROM pairs) GROUP BY 1), " +
      "ed AS (SELECT CASE WHEN (d1.deg < d2.deg OR (d1.deg = d2.deg AND s1 < s2)) THEN s1 ELSE s2 END AS src, " +
      "CASE WHEN (d1.deg < d2.deg OR (d1.deg = d2.deg AND s1 < s2)) THEN s2 ELSE s1 END AS dst " +
      "FROM pairs JOIN deg d1 ON d1.node = s1 JOIN deg d2 ON d2.node = s2), " +
      "edd AS (SELECT src, dst, deg AS dd FROM ed JOIN deg ON node = dst), " +
      "w AS (SELECT a.dst AS x, b.dst AS y, a.src AS z FROM edd a JOIN edd b " +
      "ON a.src = b.src AND (a.dd < b.dd OR (a.dd = b.dd AND a.dst < b.dst))), " +
      "tri AS (SELECT x, y, z FROM w JOIN edd e ON e.src = w.x AND e.dst = w.y), " +
      "tn AS (SELECT node, count(*) AS n_tri FROM (SELECT x AS node FROM tri " +
      "UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri) GROUP BY 1) " +
      "SELECT deg.node AS partkey, deg.deg, CAST(coalesce(tn.n_tri, 0) AS BIGINT) AS n_tri, " +
      "round(CASE WHEN deg.deg >= 2 THEN CAST(2 * coalesce(tn.n_tri, 0) AS DOUBLE) / (deg.deg * (deg.deg - 1)) " +
      "ELSE 0.0 END, 4) AS clustering " +
      "FROM deg LEFT JOIN tn ON tn.node = deg.node ORDER BY partkey"

  // ------------------------------------------------------------------
  // graph_kcore — bounded-round k-core peeling of the co-purchase graph
  // ------------------------------------------------------------------

  /** k-core decomposition (k = 3) by R = 3 unrolled peeling rounds over the
    * support-2 co-purchase graph: each round drops nodes of degree < k and
    * every edge touching them. The R-round result is a DEFINED artifact —
    * both engines unroll exactly the same rounds, converged or not — which
    * is what makes an inherently iterative graph op hash-comparable
    * cross-engine (the bounded-iteration discipline of graph_pagerank).
    * Entirely integer arithmetic: no FP anywhere.
    *
    * Scale shape: each round is one degree aggregate (|V| rows) plus two
    * semi-joins of the edge list against the |V|-bounded keep-set — cost
    * R·(|E| + |V|), never quadratic. The full peel (rounds until fixpoint)
    * would add dedup_clusters' scalar-count convergence check per round;
    * the unrolled form keeps the plan static for the oracle.
    */
  private val KCoreK = 3
  private val KCoreRounds = 3

  private def graphKcore(s: SparkSession, dir: String): DataFrame = {
    // scale path (r15): sized raw-row distinct (byte-gated)
    val os = Modeling.sizedDistinct(
      s, dir,
      Tables.lineitem(s, dir).select(col("l_orderkey").as("ok"), col("l_partkey").as("p")),
      spreadKeys = Seq("ok")) // the pair-join key (r17 task-floor branch)
    val pairs = os
      .select(col("ok"), col("p").as("pa"))
      .join(os.select(col("ok"), col("p").as("pb")), "ok")
      .filter(col("pa") < col("pb"))
      .groupBy("pa", "pb")
      .agg(nrows.as("sup"))
      .filter(col("sup") >= 2)
    // localCheckpoint per round (the dedup_clusters discipline): each round
    // references its edge frame THREE times (degree agg + two semi-joins),
    // so without a materialization point the expensive basket-pair subtree
    // re-evaluates 3^R times — measured 8.3 s at sf0.1 vs ~1 s checkpointed.
    // The checkpoint also truncates lineage so the final plan stays flat.
    val e0 = pairs
      .select(col("pa").as("u"), col("pb").as("v"))
      .unionByName(pairs.select(col("pb").as("u"), col("pa").as("v")))
      .transform(Checkpoints.stable(_, eager = false))
    val eFinal = (1 to KCoreRounds).foldLeft(e0) { (e, round) =>
      val keep = e.groupBy("u").agg(nrows.as("deg")).filter(col("deg") >= KCoreK).select("u")
      e.join(keep, Seq("u"), "left_semi")
        .join(keep.select(col("u").as("v")), Seq("v"), "left_semi")
      // r17: no per-round checkpoint (the graph_shortest_hops rationale —
      // with e0 materialized, the re-referenced round subtrees are cheap
      // joins over the edge blocks whose identical exchanges AQE stage
      // reuse dedups; each localCheckpoint cost a serial materialization
      // job per round and preserved no partitioning anyway)
    }
    eFinal
      .groupBy("u")
      .agg(nrows.as("deg"))
      .select(col("u").as("node"), col("deg"))
      .orderBy("node")
  }

  private val graphKcoreSql =
    "WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
      "pairs AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb " +
      "FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
      "GROUP BY 1, 2 HAVING count(*) >= 2), " +
      "e0 AS (SELECT pa AS u, pb AS v FROM pairs UNION ALL SELECT pb, pa FROM pairs), " +
      s"k1 AS (SELECT u FROM e0 GROUP BY u HAVING count(*) >= $KCoreK), " +
      "e1 AS (SELECT u, v FROM e0 WHERE u IN (SELECT u FROM k1) AND v IN (SELECT u FROM k1)), " +
      s"k2 AS (SELECT u FROM e1 GROUP BY u HAVING count(*) >= $KCoreK), " +
      "e2 AS (SELECT u, v FROM e1 WHERE u IN (SELECT u FROM k2) AND v IN (SELECT u FROM k2)), " +
      s"k3 AS (SELECT u FROM e2 GROUP BY u HAVING count(*) >= $KCoreK), " +
      "e3 AS (SELECT u, v FROM e2 WHERE u IN (SELECT u FROM k3) AND v IN (SELECT u FROM k3)) " +
      "SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM e3 GROUP BY u ORDER BY node"

  // ------------------------------------------------------------------
  // graph_label_propagation — community detection, 3 sync rounds (r12)
  // ------------------------------------------------------------------

  /** Synchronous label propagation (Raghavan–Albert–Kumara 2007) over the
    * customer–supplier transaction graph: init label(v) = v, then each
    * round every node adopts the most frequent label among its neighbors
    * (tie → smallest label). Three rounds are unrolled into one static
    * plan like pagerank/kcore — on a bipartite graph SYNC updates can
    * two-color oscillate, so a fixed round count with a deterministic
    * tie-break IS the contract (the declared output is "labels after 3
    * sync rounds", not an unstable fixpoint). Pure integer counts and a
    * min-label tie-break: no floating point anywhere, nothing for the
    * engines to round differently.
    *
    * Scale: each round is one |E| join carrying only (node, label) — 16
    * bytes a row — into a map-side-combined groupBy at the (node, label)
    * grain (≤ Σdeg rows, partial-aggregated before the exchange), and the
    * rank-1 filter compiles to WindowGroupLimit, pruning to one row per
    * node map-side. The edge list is reused across rounds (AQE stage
    * reuse, the pagerank measurement); an open-ended fixpoint would add
    * per-round checkpoint truncation exactly like MinHashDedup.clusters.
    */
  private def labelPropagation(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // scale path (r15): sized raw-row distinct (byte-gated)
    val e0 = Modeling.sizedDistinct(
      s, dir,
      Tables
        .lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), (col("l_suppkey") + SuppOffset).as("sp")))
    // checkpoint the edge list ONCE (r16 — the graph_kcore discipline,
    // non-eager): unlike pagerank's pure join+agg rounds, the window/rank
    // chain here pushes round-specific projections into each copy of the
    // distinct subtree, so exchange reuse never fires and the
    // scan→join→distinct map side ran 3× per execution (measured: three
    // identical 0.64 s stages at sf0.1 — plans/r16). The checkpointed edge
    // blocks are read by every round instead. NOT pre-partitioned: a
    // localCheckpoint's Scan ExistingRDD reports no partitioning under AQE
    // (measured r17 — consumers re-exchange regardless), so only LIVE
    // exchanges can co-partition; the per-round repartition below is one.
    val below = Tables.belowTaskFloor(s, dir, "lineitem")
    val edges = e0
      .select(col("c").as("src"), col("sp").as("dst"))
      .unionByName(e0.select(col("sp").as("src"), col("c").as("dst")))
      .transform(Checkpoints.stable(_, eager = false))
    var labels = edges.select(col("src").as("node")).distinct().withColumn("lbl", col("node"))
    for (_ <- 1 to 3) {
      // per-round shape (r17): the neighbor-label counts collapse to the
      // per-node argmax with a two-level AGGREGATE — min_by over
      // (−count, label) ≡ the old row_number over (count desc, label asc)
      // filter rn = 1 — so the old window's extra hash(node) exchange
      // becomes a second aggregate level. Below the byte gate the round's
      // single explicit hash(src) exchange feeds BOTH aggregate levels
      // (src ⊂ {src, lbl} satisfies the first's clustering; the alias to
      // node carries it into the second) — one exchange per round where
      // the r16 shape planned three. Above the gate the planner keeps its
      // ENSURE_REQUIREMENTS exchanges WITH map-side partial aggregation
      // (guide §2.3) — the explicit repartition would ship the raw join
      // output.
      //
      // Below the gate the label side is additionally broadcast-HINTED
      // (r17, second pass): round k's labels flow from the min_by
      // aggregate STRAIGHT into round k+1's join — no exchange boundary —
      // so AQE never gets materialized stats to convert the join, and the
      // initial planner (which only sees an unknown-size aggregate)
      // planned rounds 2-3 as SortMergeJoin, re-exchanging AND sorting the
      // |E| edge frame every round (measured: the two 19 MB-read round
      // stages at ~9 CPU-s each; plans/r17 before this change). The hint
      // makes every round BHJ: edges stream from their checkpoint blocks
      // unshuffled and unsorted. |labels| = |V| rows — broadcast is only
      // safe below the gate, where |V| is bounded by the gated input
      // bytes; above the gate the planner's SMJ is the right call.
      val lblIn = labels.select(col("node").as("dst"), col("lbl"))
      val votes = edges
        .join(if (below) broadcast(lblIn) else lblIn, "dst")
        .select(col("src"), col("lbl"))
      labels = (if (below) votes.repartition(s.sparkContext.defaultParallelism, col("src")) else votes)
        .groupBy(col("src").as("node"), col("lbl"))
        .agg(nrows.as("c"))
        .groupBy("node")
        .agg(min_by(col("lbl"), struct((-col("c")).as("negc"), col("lbl"))).as("lbl"))
    }
    val sz = labels.groupBy("lbl").agg(nrows.as("community_n"))
    labels
      .join(sz, "lbl")
      .select(col("node"), col("lbl").as("label"), col("community_n"))
      .orderBy("node")
  }

  private val labelPropagationSql = {
    def iter(prev: String, out: String): String =
      s"n$out AS (SELECT e.src AS node, l.lbl, count(*) AS c " +
        s"FROM edges e JOIN $prev l ON l.node = e.dst GROUP BY 1, 2), " +
        s"$out AS (SELECT node, lbl FROM (SELECT node, lbl, " +
        s"row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn FROM n$out) WHERE rn = 1)"
    "WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000000000 AS sp " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), " +
      "edges AS (SELECT c AS src, sp AS dst FROM e0 UNION ALL SELECT sp, c FROM e0), " +
      "l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges), " +
      iter("l0", "l1") + ", " + iter("l1", "l2") + ", " + iter("l2", "l3") + ", " +
      "sz AS (SELECT lbl, CAST(count(*) AS BIGINT) AS community_n FROM l3 GROUP BY 1) " +
      "SELECT l3.node, l3.lbl AS label, sz.community_n " +
      "FROM l3 JOIN sz ON l3.lbl = sz.lbl ORDER BY node"
  }

  val entries: Seq[QueryDef] = Seq(
    QueryDef("graph_triangle_count", triangleCount, Some(triangleCountSql)),
    QueryDef("graph_pagerank", pagerank, Some(pagerankSql)),
    QueryDef("graph_kcore", graphKcore, Some(graphKcoreSql)),
    QueryDef("graph_label_propagation", labelPropagation, Some(labelPropagationSql)),
  )
}
