package graft

import graft.ops.{IvfAnn, Vectors}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** IVF coarse-quantizer ANN on the integer grid: trained lists, bounded
  * candidate work, measurable recall vs brute force, exact returned scores.
  */
class IvfSpec extends SparkSpec {

  private def corpus = Tables
    .embeddings(spark, sfDir)
    .select(col("vec_id").as("cand_id"), col("embedding").as("cvec"))

  private def vecs = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))

  test("grid training at GridK and dynamic K: k non-empty lists, none with half the corpus") {
    val e = vecs
    val n = e.count()
    for (k <- Seq(IvfAnn.GridK, math.max(4L, n / IvfAnn.CellTarget).toInt)) {
      val cent = IvfAnn.trainGrid(e, k)
      assert(cent.select("cid").distinct().count() == k)
      val sizes = IvfAnn.gridAssign(e, cent).groupBy("cid").count().collect().map(_.getLong(1)).sorted
      info(s"K = $k over n = $n: list sizes ${sizes.mkString(",")}")
      assert(sizes.length == k && sizes.min > 0, s"empty list: ${sizes.mkString(",")}")
      assert(sizes.sum == n)
      assert(sizes.max < n / 2, s"degenerate clustering: ${sizes.mkString(",")}")
    }
  }

  test("grid routing to 4 of 16 lists bounds candidate work below half of probes x corpus") {
    val e = vecs
    val cent = IvfAnn.trainGrid(e, IvfAnn.GridK)
    val routes = IvfAnn.gridRoutes(e, cent, 4)
    val nProbes = e.filter(col("vec_id") < 100).count()
    assert(routes.count() == 4 * nProbes, "each probe routes to exactly 4 lists")
    // candidate work is the routes ⋈ lists row count: near (4/16)·probes·corpus
    // for balanced lists, far below the brute-force probes × corpus
    val lists = IvfAnn.gridAssign(e, cent)
    val candRows = routes.join(lists, "cid").count()
    val bruteForce = nProbes * e.count()
    assert(candRows < bruteForce / 2, s"routing scanned $candRows of $bruteForce pairs")
  }

  test("declared grid IVF (the oracled variant): recall floor and exact returned scores") {
    // the integer-grid k-means (IvfAnn.simAnnIvfGrid — bit-identical
    // cross-engine, hence oracled) must remain a WORKING index, not just a
    // reproducible one: recall vs brute force beats the blind nprobe/k scan
    val ann = SparkEntry.queries("sim_ann_ivf")(spark, sfDir)
    val annPairs = ann.select("probe_id", "cand_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p100 = Tables
      .embeddings(spark, sfDir)
      .filter(col("vec_id") < 100)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("cand_id"))
    val truth = corpus
      .crossJoin(p100)
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("sim", round(Vectors.dot(col("pvec"), col("cvec")), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .select("probe_id", "cand_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = truth.count(annPairs.contains).toDouble / truth.size
    assert(recall >= 0.3, s"grid-IVF recall $recall below the blind-scan bar")
    // exact-score law on the declared output
    val bad = ann
      .join(p100, "probe_id")
      .join(corpus, "cand_id")
      .withColumn("exact", round(Vectors.dot(col("pvec"), col("cvec")), 4))
      .filter(col("sim") =!= col("exact"))
      .count()
    assert(bad == 0)
  }

  test("build+probe split: probe ≡ fused key, build exposes the full index, centroids cached") {
    // the deployment-shape law: sim_ann_ivf_probe (cached build-once index)
    // returns exactly the rows of the self-contained fused sim_ann_ivf
    val fused = SparkEntry.queries("sim_ann_ivf")(spark, sfDir).collect().toSeq
    val probe = SparkEntry.queries("sim_ann_ivf_probe")(spark, sfDir).collect().toSeq
    assert(probe == fused)

    // the build key is the persisted index itself: k×dims centroid rows,
    // each carrying its inverted-list occupancy, lists partition the corpus
    val build = SparkEntry.queries("sim_ann_ivf_build")(spark, sfDir).collect()
    val dims = Tables.embeddings(spark, sfDir).select(size(col("embedding"))).head.getInt(0)
    assert(build.length == 16 * dims)
    val listTotals = build.groupBy(_.getAs[Long]("cid")).view.mapValues(_.map(_.getAs[Long]("list_n")).distinct).toMap
    assert(listTotals.values.forall(_.size == 1), "list_n must be constant within a cid")
    assert(listTotals.values.map(_.head).sum == Tables.embeddings(spark, sfDir).count())

    // build-once: the second request for the index returns the SAME cached
    // frame (no retraining) — reference equality through the weak cache
    val c1 = IvfAnn.gridCentroids(spark, sfDir)
    val c2 = IvfAnn.gridCentroids(spark, sfDir)
    assert(c1 eq c2)
  }

  test("corpus_cluster_mix: shares partition each cluster and reconcile with corpus totals") {
    val out = SparkEntry.queries("corpus_cluster_mix")(spark, sfDir).collect()
    assert(out.nonEmpty)
    val nVecDocs = Tables
      .documents(spark, sfDir)
      .join(Tables.embeddings(spark, sfDir), col("doc_id") === col("vec_id"))
      .count()
    // clusters partition the vector-bearing docs
    val byCid = out.groupBy(_.getAs[Long]("cid"))
    assert(byCid.values.map(_.head.getAs[Long]("cid_docs")).sum == nVecDocs)
    byCid.foreach { case (cid, rows) =>
      val cidDocs = rows.head.getAs[Long]("cid_docs")
      assert(rows.map(_.getAs[Long]("n_docs")).sum == cidDocs, s"cid $cid cells don't sum")
      // truncated integer shares: sum within |langs| ppm of 1e6
      val shareSum = rows.map(_.getAs[Long]("share_ppm")).sum
      assert(shareSum > 1000000L - rows.length && shareSum <= 1000000L, s"cid $cid share sum $shareSum")
      rows.foreach { r =>
        assert(
          r.getAs[Long]("skew_ppm") == r.getAs[Long]("share_ppm") - r.getAs[Long]("corpus_ppm"))
      }
    }
    // corpus_ppm is constant per lang and reconciles with the global mix
    val langPpm = out.groupBy(_.getAs[String]("lang")).map { case (l, rs) =>
      val ppms = rs.map(_.getAs[Long]("corpus_ppm")).distinct
      assert(ppms.length == 1, s"lang $l corpus_ppm not constant")
      l -> ppms.head
    }
    val corpusSum = langPpm.values.sum
    assert(corpusSum > 1000000L - langPpm.size && corpusSum <= 1000000L)
  }

  test("embed_cluster_drift: domain complete, counts conserve, split correct, PSI terms >= 0") {
    val rows = SparkEntry.queries("embed_cluster_drift")(spark, sfDir).collect()
    assert(rows.length == 16, "one row per grid cell, empty cells included")
    val e = Tables.embeddings(spark, sfDir).select(col("vec_id")).collect().map(_.getLong(0))
    val mx = e.max
    // conservation: per-slice totals are exactly the corpus halves
    assert(rows.map(_.getLong(1)).sum == e.count(_ * 2 <= mx).toLong, "slice-a total")
    assert(rows.map(_.getLong(2)).sum == e.count(_ * 2 > mx).toLong, "slice-b total")
    rows.foreach { r =>
      // PSI contributions are non-negative by construction ((p_a − p_b)
      // and ln(p_a/p_b) always share sign); smoothing keeps them finite
      assert(r.getDouble(5) >= 0.0, s"negative PSI term at cid ${r.getLong(0)}")
      // smoothed shares stay strictly inside (0, 1e6) ppm
      assert(r.getLong(3) > 0 && r.getLong(3) < 1000000L)
      assert(r.getLong(4) > 0 && r.getLong(4) < 1000000L)
    }
    val totalPsi = rows.map(_.getDouble(5)).sum
    info(f"total PSI = $totalPsi%.4f over 16 cells (0.1/0.25 = drift rules of thumb)")
  }
}
