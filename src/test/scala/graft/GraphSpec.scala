package graft

import org.apache.spark.sql.functions._

/** Laws for the §2.16 graph verb: the distributed 3-iteration PageRank must
  * equal a straight-line in-memory reimplementation EXACTLY (the integer
  * picorank design admits bit-equality, not tolerance), conserve mass up to
  * the documented floor leak, and concentrate rank on high-degree nodes.
  */
class GraphSpec extends SparkSpec {

  private def run() = SparkEntry.queries("graph_pagerank")(spark, sfDir)

  test("graph_pagerank: exact match vs in-memory reference, mass conservation, degree monotonicity") {
    val e0 = Tables
      .lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), (col("l_suppkey") + 1000000000000L).as("sp"))
      .distinct()
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))

    val edges = e0.map { case (c, s) => (c, s) } ++ e0.map { case (c, s) => (s, c) }
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val nodes = edges.map(_._1).distinct.sorted
    val n = nodes.length.toLong

    // reference: same integer arithmetic, scalar loop
    var rank = nodes.map(_ -> 1000000000000L / n).toMap
    for (_ <- 1 to 3) {
      val m = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      edges.foreach { case (src, dst) => m(dst) += rank(src) / deg(src) }
      rank = nodes.map(v => v -> (150000000000L / n + (17L * m(v)) / 20L)).toMap
    }

    val got = run().collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("rank_pico")).toMap
    assert(got.size == n)
    nodes.foreach { v =>
      assert(got(v) == rank(v), s"node $v: spark ${got(v)} != reference ${rank(v)}")
    }

    // mass conservation: floors shed at most (1 + 20 + deg) units per node
    // per round — total stays within a narrow band under the initial 1e12
    val total = got.values.sum
    val leakBound = 3L * (21L * n + edges.length.toLong)
    assert(total <= 1000000000000L, s"mass grew: $total")
    assert(total >= 1000000000000L - leakBound, s"mass leak beyond bound: $total")

    // degree monotonicity: suppliers aggregate orders from many customers,
    // so mean supplier rank must exceed mean customer rank
    val (supp, cust) = got.partition(_._1 >= 1000000000000L)
    val meanSupp = supp.values.sum.toDouble / supp.size
    val meanCust = cust.values.sum.toDouble / cust.size
    assert(meanSupp > meanCust, s"supplier mean $meanSupp <= customer mean $meanCust")
  }

  test("graph_label_propagation: exact match vs in-memory 3-round sync LPA; sizes conserve") {
    val e0 = Tables
      .lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), (col("l_suppkey") + 1000000000000L).as("sp"))
      .distinct()
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = e0 ++ e0.map { case (c, s) => (s, c) }
    val nbrs = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val nodes = edges.map(_._1).distinct.sorted

    // reference: synchronous rounds, most-frequent neighbor label, min tie
    var lbl = nodes.map(v => v -> v).toMap
    for (_ <- 1 to 3) {
      lbl = nodes.map { v =>
        val counts = nbrs(v).map(lbl).groupBy(identity).map { case (l, xs) => (l, xs.length) }
        val best = counts.toSeq.minBy { case (l, c) => (-c, l) }._1
        v -> best
      }.toMap
    }

    val got = SparkEntry
      .queries("graph_label_propagation")(spark, sfDir)
      .collect()
      .map(r => r.getAs[Long]("node") -> (r.getAs[Long]("label"), r.getAs[Long]("community_n")))
      .toMap
    assert(got.size == nodes.length)
    nodes.foreach(v => assert(got(v)._1 == lbl(v), s"node $v: spark ${got(v)._1} != reference ${lbl(v)}"))

    // community sizes: each node's reported size equals its label's true
    // cohort size, and the sizes partition |V| exactly
    val cohort = lbl.values.groupBy(identity).map { case (l, xs) => l -> xs.size.toLong }
    nodes.foreach(v => assert(got(v)._2 == cohort(lbl(v)), s"size mismatch at $v"))
    assert(cohort.values.sum == nodes.length.toLong)
    // the propagation must actually coarsen: strictly fewer communities than nodes
    assert(cohort.size < nodes.length, s"LPA did not coarsen: ${cohort.size} communities")
    info(s"graph_label_propagation: ${nodes.length} nodes → ${cohort.size} communities after 3 rounds")
  }

  test("graph_pagerank reads each base table exactly once despite 3 unrolled iterations") {
    // the edge subplan is referenced ~10x across iterations; the plan string
    // shows dozens of scans, but AQE's runtime stage reuse must collapse
    // them to ONE lineitem + ONE orders read — the property that makes the
    // unrolled-iteration formulation viable at 100 TB. Pinned on measured
    // input records, not on plan text.
    val expected =
      Tables.lineitem(spark, sfDir).count() + Tables.orders(spark, sfDir).count()
    val read = QueryMetrics.measure(spark)(run().count())._2.inputRecords
    assert(read == expected, s"read $read records, expected $expected (scan re-execution)")
  }

  test("graph_triangle_count: exact match vs in-memory recompute, handshake and clustering laws") {
    val out = SparkEntry.queries("graph_triangle_count")(spark, sfDir).collect()
    // independent recompute: support>=2 co-purchase edges, then per-node
    // triangle counts by neighbourhood intersection
    val li = Tables
      .lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .distinct
    val pairOcc = li.groupBy(_._1).values.toSeq.flatMap { rows =>
      val ps = rows.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }
    // NB: .collect { ... => e } on a Map would rebuild a Map from the
    // (s1, s2) tuples — collapsing all pairs that share s1 — so filter/keySet
    val edges = pairOcc.groupBy(identity).filter(_._2.size >= 2).keySet
    val adj = edges.toSeq
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    // each triangle at n is seen twice when iterating ordered neighbour pairs
    val triPerNode = adj.map { case (n, nb) =>
      n -> nb.toSeq.map(m => (nb & adj(m)).size).sum / 2
    }
    assert(out.length == adj.size, "one row per node with at least one edge")
    out.foreach { r =>
      val (node, deg, tri) =
        (r.getAs[Long]("partkey"), r.getAs[Long]("deg"), r.getAs[Long]("n_tri"))
      assert(deg == adj(node).size.toLong, s"deg mismatch at $node")
      assert(tri == triPerNode(node).toLong, s"n_tri mismatch at $node")
      val want =
        if (deg >= 2)
          BigDecimal(2.0 * tri / (deg * (deg - 1)))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP)
            .toDouble
        else 0.0
      assert(r.getAs[Double]("clustering") == want, s"clustering mismatch at $node")
    }
    // handshake law: Σ per-node counts = 3 × (number of triangles)
    val total = out.map(_.getAs[Long]("n_tri")).sum
    assert(total % 3 == 0, "per-node triangle counts must sum to a multiple of 3")
    assert(total > 0, "fixture graph must contain triangles")
  }
}
