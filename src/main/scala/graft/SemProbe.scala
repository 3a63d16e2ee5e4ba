package graft

import org.apache.spark.sql.functions._

/** Dev instrument (not part of the driver contract): decompose the
  * dedup_semantic / dedup_semantic_ivf candidate pipelines at a given sf —
  * bucket/cell occupancy distributions and per-family candidate + edge
  * counts — to attribute shuffle mass to a stage before tuning caps or
  * probes. Usage: runMain graft.SemProbe <sfDir>
  */
object SemProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = Sessions.build(Sessions.hostCpus)
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val n = e.count()
    val bits = ops.LshAnn.dynamicBits(n)
    println(s"[semprobe] n=$n bits=$bits")

    // LSH bucket occupancy
    val bk = ops.LshAnn.bucketize(
      e.select(col("vec_id"), col("embedding").as("v")), "vec_id", "v",
      ops.LshAnn.dynamicPlanes(n))
    val occ = bk.groupBy("table", "bucket").agg(count(lit(1)).as("occ"))
    occ
      .agg(
        count(lit(1)).as("cells"),
        max("occ").as("max_occ"),
        expr("percentile_approx(occ, 0.5)").as("p50"),
        expr("percentile_approx(occ, 0.99)").as("p99"),
        sum(expr("occ * (occ - 1) / 2")).as("pairs_uncapped"),
        sum(expr("CASE WHEN occ <= 512 THEN occ * (occ - 1) / 2 ELSE 0 END")).as("pairs_cap512"),
      )
      .collect()
      .foreach(r => println(s"[semprobe] lsh buckets: $r"))

    // cell occupancy (single and multi-probe)
    for (p <- Seq(1, 2)) {
      val cells = ops.IvfAnn.gridCellsOf(e, probes = p)
      val co = cells.groupBy("cid").agg(count(lit(1)).as("occ"))
      co.agg(
        count(lit(1)).as("cells"),
        max("occ").as("max_occ"),
        expr("percentile_approx(occ, 0.5)").as("p50"),
        sum(expr("occ * (occ - 1) / 2")).as("pairs"),
      ).collect()
        .foreach(r => println(s"[semprobe] ivf cells probes=$p: $r"))
    }

    // verified edge counts per family
    val lshPairs = ops.SemDedup.semanticPairsOf(e).count()
    val cellPairs1 = ops.SemDedup.ivfSemanticPairsOf(e, probes = 1).count()
    val cellPairs2 = ops.SemDedup.ivfSemanticPairsOf(e, probes = 2).count()
    println(s"[semprobe] verified edges: lsh=$lshPairs cells_p1=$cellPairs1 cells_p2=$cellPairs2")

    // recall vs brute-force truth (arg2 = "recall"): ALL pairs >= threshold
    // by blocked exact dot — 200M dots at sf1, a one-off measurement run,
    // never a declared plan shape
    if (args.length > 1 && args(1) == "recall") {
      val truth = e
        .select(col("vec_id").as("id_a"), col("embedding").as("va"))
        .join(e.select(col("vec_id").as("id_b"), col("embedding").as("vb")))
        .filter(col("id_a") < col("id_b"))
        .filter(ops.Vectors.nativeDot(col("va"), col("vb")) >= ops.SemDedup.SemThreshold)
        .select("id_a", "id_b")
        .persist()
      val nTruth = truth.count()
      def recallOf(name: String, pairs: org.apache.spark.sql.DataFrame): Unit = {
        val hit = truth.join(pairs, Seq("id_a", "id_b"), "left_semi").count()
        println(f"[semprobe] recall $name%-12s $hit/$nTruth = ${hit.toDouble / nTruth}%.3f")
      }
      recallOf("hybrid", ops.SemDedup.hybridSemanticPairsOf(e))
      recallOf("lsh", ops.SemDedup.semanticPairsOf(e))
      recallOf("cells_p1", ops.SemDedup.ivfSemanticPairsOf(e, probes = 1))
      recallOf("cells_p2", ops.SemDedup.ivfSemanticPairsOf(e, probes = 2))

      // the DEDUP metric: component recovery. Pair recall undercounts on
      // dense dup clusters (m(m-1)/2 true pairs, only m-1 edges needed);
      // what a dedup manifest must get right is WHICH vectors are dups of
      // which keeper. Ground truth components by label relaxation over the
      // full truth edge set, compared to the declared manifest exactly.
      val tEdges = truth
        .select(col("id_a").as("a"), col("id_b").as("b"))
        .unionByName(truth.select(col("id_b").as("a"), col("id_a").as("b")))
        .persist()
      var labels = e.select(col("vec_id").as("node"), col("vec_id").as("lab"))
      var moved = 1L
      while (moved > 0) {
        val nm = tEdges
          .join(labels.select(col("node").as("b"), col("lab").as("nl")), "b")
          .groupBy(col("a").as("node"))
          .agg(min("nl").as("nbl"))
        val next = labels
          .join(nm, Seq("node"), "left")
          .select(col("node"), least(col("lab"), coalesce(col("nbl"), col("lab"))).as("lab"))
          .transform(ops.Checkpoints.stable(_))
        moved = next
          .join(labels.select(col("node"), col("lab").as("old")), "node")
          .filter(col("lab") =!= col("old"))
          .count()
        labels = next
      }
      val truthMan = labels.select(
        col("node").as("vec_id"),
        col("lab").as("cluster_id"),
        (col("node") === col("lab")).as("kept"),
      )
      val nTruthDups = truthMan.filter(!col("kept")).count()
      for (key <- Seq("dedup_semantic", "dedup_semantic_ivf")) {
        val declared = SparkEntry.queries(key)(spark, sfDir)
        val nDeclDups = declared.filter(!col("kept")).count()
        val agree =
          declared.join(truthMan, Seq("vec_id", "cluster_id", "kept"), "left_semi").count()
        println(
          s"[semprobe] components $key: truth_dups=$nTruthDups declared_dups=$nDeclDups " +
            f"manifest_agree=$agree/$n = ${agree.toDouble / n}%.4f")
      }
      tEdges.unpersist()
      truth.unpersist()
    }
    spark.stop()
  }
}
