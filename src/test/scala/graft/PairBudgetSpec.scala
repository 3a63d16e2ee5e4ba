package graft

import graft.ops.{Modeling, PairBudget, Text}
import org.apache.spark.sql.functions._

/** The pair-volume budget machinery (r14 verdict #1/#2 + ADVICE #1/#2):
  * the Σ df·(df−1)/2 estimate, the work-proportional partition sizing, the
  * memoization, the byte gate's zero-cost small-scale behavior, and the
  * exact-pair operators' fail-fast refusal past the budget.
  */
class PairBudgetSpec extends SparkSpec {

  private def withConf(kvs: (String, String)*)(body: => Unit): Unit = {
    // restore PRIOR values, not unset: unsetting a conf the session builder
    // set (e.g. shuffle.partitions=4) would fall back to the GLOBAL default
    // (200), not the builder's value
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally {
      prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      PairBudget.invalidateSessionEstimates(spark)
    }
  }

  /** Stage names of each job launched while `body` runs. */
  private def jobsDuring(body: => Unit): Seq[String] =
    QueryMetrics.measure(spark)(body)._2.jobs.map(_.stages.mkString("|"))

  test("sumPairs equals the exact a<b pair-join row count on the closed-vocab fixture") {
    // GenData's default documents corpus IS the adversarial closed-vocab
    // fixture (31-word vocabulary — the regime whose sf10 pair stream
    // measured 11.76 B rows). Pin the estimator against ground truth: the
    // actual row count of the a<b self-join it prices.
    val docs = GenData.documents(spark, 300)
    val sh = Text.shingleHashes(docs) // distinct (doc_id, sh)
    val estimated = PairBudget.sumPairs(sh.select("sh"), "sh")
    val actual = sh
      .select(col("doc_id").as("a"), col("sh"))
      .join(sh.select(col("doc_id").as("b"), col("sh")), "sh")
      .filter(col("a") < col("b"))
      .count()
    assert(estimated == actual.toDouble, s"estimate $estimated != exact pair count $actual")
    assert(actual > 0, "fixture produced no shared shingles — vacuous pin")
  }

  test("partitionsFor: work-proportional above the session baseline, None within it, capped") {
    // test session: local[4], shuffle.partitions = 4 → baseline 4
    assert(PairBudget.partitionsFor(spark, 3.0 * PairBudget.RowsPerTask).isEmpty)
    assert(
      PairBudget.partitionsFor(spark, 10.0 * PairBudget.RowsPerTask).contains(10),
      "10-task estimate above the 4-wide baseline must size to 10")
    assert(
      PairBudget.partitionsFor(spark, 1e9 * PairBudget.RowsPerTask)
        .contains(PairBudget.MaxPartitions),
      "runaway estimates must cap")
    // r15: the linear budget (distinct-feeding streams) sizes at its own
    // smaller per-task row count through the same baseline/cap rules
    assert(
      PairBudget
        .partitionsFor(spark, 10.0 * PairBudget.RowsPerLinearTask, PairBudget.RowsPerLinearTask)
        .contains(10))
    assert(
      PairBudget
        .partitionsFor(spark, 3.0 * PairBudget.RowsPerLinearTask, PairBudget.RowsPerLinearTask)
        .isEmpty)
  }

  test("partitionsFor never repartitions DOWN below a host session tuned above core count") {
    // r14 ADVICE #1: baseline = max(defaultParallelism, shuffle.partitions)
    withConf("spark.sql.shuffle.partitions" -> "64") {
      assert(
        PairBudget.partitionsFor(spark, 20.0 * PairBudget.RowsPerTask).isEmpty,
        "a 20-task estimate fits a 64-partition host setting — no override")
      assert(PairBudget.partitionsFor(spark, 100.0 * PairBudget.RowsPerTask).contains(100))
    }
    // conf restored → the 10-task case sizes again
    assert(PairBudget.partitionsFor(spark, 10.0 * PairBudget.RowsPerTask).contains(10))
  }

  test("estimates are memoized per (session, key) — one computation, invalidation hook works") {
    var computed = 0
    def est(): Double = PairBudget.cachedEstimate(spark, "spec:memo") { computed += 1; 42.0 }
    PairBudget.invalidateSessionEstimates(spark)
    assert(est() == 42.0 && est() == 42.0 && est() == 42.0)
    assert(computed == 1, s"estimate recomputed $computed times — memoization broken (r14 ADVICE #2)")
    PairBudget.invalidateSessionEstimates(spark)
    est()
    assert(computed == 2, "invalidation must force a recompute")
  }

  test("below the byte gate: plan construction runs ZERO estimate jobs (plans untouched)") {
    // sf0.001 is far under the 256 MB gate with default confs — the
    // pre-flight must return None without building the estimate subtree,
    // so dev/gate-scale plan shapes and bench rows cannot move. The only
    // jobs allowed are the parquet LISTING jobs every read-path plan
    // construction launches (Tables loaders) — never a collect from
    // PairBudget's estimate aggregate.
    val jobs = jobsDuring {
      SparkEntry.queries("dedup_near_jaccard")(spark, sfDir)
      SparkEntry.queries("dedup_containment")(spark, sfDir)
      SparkEntry.queries("market_basket_lift")(spark, sfDir)
      SparkEntry.queries("graph_pagerank")(spark, sfDir)
      Modeling.pairAggPartitions(spark, sfDir)
      Modeling.basketPairAggPartitions(spark, sfDir)
    }
    val estimateJobs = jobs.filterNot(_.contains("parquet at Tables.scala"))
    assert(
      estimateJobs.isEmpty,
      s"${estimateJobs.size} non-listing jobs ran during below-gate plan construction: ${estimateJobs.mkString("; ")}")
  }

  test("gated path is semantics-preserving: forced-on pre-flight leaves every pair key's rows identical") {
    def rows(name: String): Array[String] =
      SparkEntry
        .queries(name)(spark, sfDir)
        .collect()
        .map(_.toString)
        .sorted
    val keys = Seq("dedup_near_jaccard", "dedup_containment", "market_basket_lift",
      "recs_item_neighbors", "graph_adamic_adar", "graph_jaccard_neighbors",
      // r15: the sized linear distinct feeding the pair joins
      "graph_pagerank", "graph_kcore", "graph_triangle_count", "graph_label_propagation")
    val expected = keys.map(k => k -> rows(k)).toMap
    withConf(PairBudget.ByteGateConf -> "0", PairBudget.ExactPairByteGateConf -> "0") {
      keys.foreach { k =>
        assert(rows(k).sameElements(expected(k)), s"$k rows changed under the forced-on scale path")
      }
    }
  }

  test("distinctWith: the sized branch keeps distinct semantics, n tasks, one materialization") {
    // r15 linear-exchange sizing: the repartition-on-all-columns exchange
    // satisfies the distinct aggregate's clustering requirement (so the
    // distinct runs at exactly n tasks) and the result is CHECKPOINTED —
    // REPARTITION_BY_NUM exchanges defeat AQE stage reuse, so without the
    // checkpoint every consumer re-materializes the subtree (measured 1.8×
    // slower at sf10). Consumers must therefore see a lineage-truncated
    // scan, not the live aggregate.
    val df = spark.range(1000).selectExpr("id % 97 AS a", "id % 13 AS b")
    val plain = Modeling.distinctWith(None, df)
    val sized = Modeling.distinctWith(Some(7), df)
    assert(sized.rdd.getNumPartitions == 7, "distinct must run at the sized partition count")
    assert(plain.exceptAll(sized).isEmpty && sized.exceptAll(plain).isEmpty,
      "sized distinct changed the result multiset")
    val p = sized.queryExecution.executedPlan.toString()
    assert(!p.contains("Exchange"),
      s"sized distinct must be checkpointed — consumers re-materialize a live repartition: $p")
  }

  test("distinctWith: the spread branch keeps distinct semantics and join-key clustering") {
    // r17 below-gate task-floor branch: hash-repartition on the pair-JOIN
    // key (a strict subset of the distinct columns) must (a) preserve the
    // distinct multiset, (b) run the distinct at the spread partition count
    // with NO second exchange (the key satisfies the aggregate's clustering
    // requirement), and (c) stay a LIVE plan (no checkpoint — under AQE a
    // localCheckpoint materializes at plan construction, breaking the
    // zero-construction-jobs contract pinned above; the explicit exchange
    // itself is the AQE-reuse materialization point).
    val df = spark.range(1000).selectExpr("id % 97 AS a", "id % 13 AS b")
    val plain = Modeling.distinctWith(None, df)
    val spread = Modeling.distinctWith(None, df, Some(7), Seq("a"))
    assert(spread.rdd.getNumPartitions == 7, "distinct must run at the spread partition count")
    assert(plain.exceptAll(spread).isEmpty && spread.exceptAll(plain).isEmpty,
      "spread distinct changed the result multiset")
    val p = spread.queryExecution.executedPlan.toString()
    assert("Exchange".r.findAllIn(p).size == 1,
      s"exactly the one explicit hash(key) exchange expected: $p")
    assert(p.contains("REPARTITION_BY_NUM"), s"the spread exchange must be coalescing-exempt: $p")
  }

  test("past the budget: exact-pair keys refuse at plan construction, naming dedup_minhash_lsh") {
    withConf(PairBudget.ExactPairByteGateConf -> "0", PairBudget.MaxPairsConf -> "1") {
      Seq("dedup_near_jaccard", "dedup_containment").foreach { k =>
        val ex = intercept[PairBudget.PairBudgetExceeded] {
          SparkEntry.queries(k)(spark, sfDir) // construction, no action
        }
        assert(ex.getMessage.contains("dedup_minhash_lsh"), s"$k refusal must name the scale path")
        assert(ex.getMessage.contains(PairBudget.MaxPairsConf), "refusal must name the override conf")
      }
    }
  }

  test("the budget default derives from disk and admits the measured-feasible regimes") {
    // no conf set → free-disk-derived ceiling. On any sane CI disk this
    // sits between the measured-feasible graph volume (0.9 B pairs, r14
    // post-fix zero-spill) and the measured-infeasible closed-vocab sf10
    // volume (11.76 B pairs vs 77 GB disk — killed in spill).
    val ceiling = PairBudget.maxPairs(spark)
    assert(ceiling > 1e8, f"disk-derived ceiling $ceiling%.3g refuses runs measured to complete")
    withConf(PairBudget.MaxPairsConf -> "123456") {
      assert(PairBudget.maxPairs(spark) == 123456.0, "explicit override must win")
    }
  }

  test("GenData.writeTable disarms the session caches (regenerate-in-place hazard, r14 verdict #7)") {
    val dir = tmpDir("pairbudget-gen")
    var built = 0
    def centroids() = graft.ops.IvfAnn.cachedCentroids(spark, s"spec:gen:$dir") {
      built += 1
      spark.range(3).toDF("cid")
    }
    var estimated = 0
    def estimate() = PairBudget.cachedEstimate(spark, s"spec:gen:$dir") { estimated += 1; 7.0 }
    centroids(); centroids(); estimate(); estimate()
    assert(built == 1 && estimated == 1)
    GenData.writeTable(dir, "documents", GenData.documents(spark, 5))
    centroids(); estimate()
    assert(built == 2, "centroid cache must be invalidated by a GenData write")
    assert(estimated == 2, "pair-estimate cache must be invalidated by a GenData write")
  }
}
