package graft

import org.apache.spark.sql.functions._

/** Self-consistency over the whole declared catalog (SURVEY.md §5.2): the
  * invariants that catch nondeterminism BEFORE the driver's hash gate does.
  */
class CatalogSpec extends SparkSpec {

  test("keys invariant: oracles cover all declared queries except the known rows-only set") {
    // oracle-less queries get only the driver's weaker rows-only check —
    // adding one must be a deliberate decision, recorded here.
    // r7: every declared key now carries an oracle. The approx-sketch keys
    // check error-band booleans, sim_ann_lsh regenerates its Rademacher
    // planes in SQL, multimodal_binary mirrors its generator, and
    // sim_ann_ivf's k-means runs on the exact 1e-6 integer grid so even
    // TRAINING is bit-identical cross-engine (IvfAnn.simAnnIvfGrid).
    val rowsOnly = Set.empty[String]
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet == rowsOnly)
    assert(SparkEntry.queries.nonEmpty)
    // a module re-declaring an existing name would silently last-win in the
    // ListMap and shadow the original (nearly happened with pack_sequences)
    val dups = SparkEntry.catalog.groupBy(_.name).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate catalog keys: ${dups.mkString(", ")}")
  }

  /** Repo root located by walking up from the test JVM's cwd (r13 ADVICE:
    * a forked runner with a nested working directory must still lint
    * instead of failing with a bare file-not-found).
    */
  private def repoPath(name: String): java.nio.file.Path = {
    val root = Iterator
      .iterate(java.nio.file.Paths.get(sys.props("user.dir")).toAbsolutePath)(p =>
        Option(p.getParent).getOrElse(p))
      .take(6)
      .find(p => java.nio.file.Files.exists(p.resolve(name)))
    assert(root.isDefined,
      s"$name not found from ${sys.props("user.dir")} upward — run tests from within the repo")
    root.get.resolve(name)
  }

  private def repoFile(name: String): String =
    new String(java.nio.file.Files.readAllBytes(repoPath(name)), java.nio.charset.StandardCharsets.UTF_8)

  test("one session builder: no session is built outside Sessions.scala") {
    // every main and TestSession must go through Sessions.build; inline
    // copies of the session config drifted (core count, codegen cache,
    // nanosAsLong) each time one was written
    import scala.jdk.CollectionConverters._
    val builderCall = """SparkSession\s*\.\s*[Bb]uilder""".r
    val offenders = Seq("src/main", "src/test").flatMap { d =>
      val files = java.nio.file.Files.walk(repoPath(d))
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filterNot(_.getFileName.toString == "Sessions.scala").filter { f =>
      builderCall.findFirstIn(java.nio.file.Files.readString(f)).isDefined
    }
    assert(offenders.isEmpty, s"session built outside Sessions.build in: ${offenders.mkString(", ")}")
  }

  test("SURVEY §2 lists every declared key (doc-drift lint)") {
    // The r11 and r12 verdicts both found declared keys missing from
    // SURVEY §2, which §0 promises is the full declared surface; the r15
    // verdict found a WEAKER drift class the substring grep let through —
    // keys present only as prose bullets, with no table row carrying the
    // operator/scale columns. Enforce the promise mechanically: every
    // SparkEntry.queries key must appear backticked in the FIRST CELL of a
    // `|`-table row inside §2 (shared rows like "| `a` / `b` |" and the
    // original planning rows "| — `a` |" both qualify; prose does not).
    val src = repoFile("SURVEY.md")
    val start = src.indexOf("## §2.")
    val end = src.indexOf("## §3.")
    assert(start >= 0 && end > start, "SURVEY.md §2/§3 headings not found")
    val section2 = src.substring(start, end)
    val firstCells: Seq[String] = section2.linesIterator.collect {
      case l if l.startsWith("|") =>
        val body = l.drop(1)
        val cut = body.indexOf('|')
        if (cut >= 0) body.substring(0, cut) else body
    }.toSeq
    val missing = SparkEntry.queries.keySet
      .filterNot(k => firstCells.exists(_.contains(s"`$k`")))
    assert(
      missing.isEmpty,
      s"declared keys without a §2 table row in SURVEY.md: ${missing.toSeq.sorted.mkString(", ")}",
    )
  }

  test("README operating-points table covers every family with a published point") {
    // r14 verdict #6: the accuracy/cost points a deployment copies (IVF
    // nprobe, minhash recall law, SimHash completeness radius, the
    // exact-pair budget rule, sketch error bands) must live in ONE
    // user-facing table, and this lint keeps each family's row — anchored
    // by the load-bearing published value — from silently drifting out.
    val readme = repoFile("README.md")
    val start = readme.indexOf("## Published operating points")
    assert(start >= 0, "README.md is missing the '## Published operating points' section")
    val end = readme.indexOf("\n## ", start + 10)
    val section = if (end > start) readme.substring(start, end) else readme.substring(start)
    val required: Map[String, Seq[String]] = Map(
      "ANN/IVF"          -> Seq("nprobe = 12", "0.93", "sim_ann_ivf_recall_curve"),
      "MinHash LSH"      -> Seq("recall ≥ 0.95", "dedup_minhash_lsh"),
      "SimHash"          -> Seq("Hamming ≤ 3", "dedup_simhash"),
      "exact pair"       -> Seq("spark.graft.exactPair.maxPairs", "dedup_near_jaccard"),
      "semantic dedup"   -> Seq("cosine threshold 0.4", "dedup_semantic"),
      "approx sketches"  -> Seq("rsd = 5%", "count-min", "agg_approx_percentile"),
    )
    val gaps = required.toSeq.sortBy(_._1).flatMap { case (family, anchors) =>
      anchors.filterNot(section.contains).map(a => s"$family: '$a'")
    }
    assert(
      gaps.isEmpty,
      s"operating-points table missing anchors: ${gaps.mkString("; ")}",
    )
  }

  test("entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all declared queries run at sf0.001 and are idempotent (plan-level determinism)") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val a = fn(spark, sfDir).collect()
      val b = fn(spark, sfDir).collect()
      assert(a.sameElements(b), s"$name: two runs differ — nondeterministic query")
    }
  }

  test("plan lint: no DECIMAL/complex outputs, no nondeterministic expressions in declared queries") {
    // DECIMAL in a declared schema fails the driver's hasher even for
    // byte-identical values (round-1 lesson); array/struct/map columns CRASH
    // the driver's pandas comparator outright (round-2 lesson — unhashable
    // numpy.ndarray in sort_values); nondeterministic expressions fail it
    // eventually. Guard all three statically for every declared query:
    // complex results must be flattened (concat_ws) before declaration.
    import org.apache.spark.sql.types.{ArrayType, DecimalType, MapType, StructType}
    val banned = Set(
      "Rand", "Randn", "Uuid", "Shuffle", "CurrentTimestamp", "Now",
      "CurrentDate", "MonotonicallyIncreasingID", "SparkPartitionID", "InputFileName",
    )
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      df.schema.foreach { f =>
        assert(
          !f.dataType.isInstanceOf[DecimalType],
          s"$name declares DECIMAL output column ${f.name}",
        )
        assert(
          !(f.dataType.isInstanceOf[ArrayType] || f.dataType.isInstanceOf[StructType] ||
            f.dataType.isInstanceOf[MapType]),
          s"$name declares complex-typed output column ${f.name} (${f.dataType.simpleString}) — " +
            "the driver checker cannot hash it; flatten with concat_ws (§2.0 rule 7)",
        )
      }
      df.queryExecution.analyzed.foreach { node =>
        node.expressions.foreach(_.foreach { e =>
          assert(
            !banned.contains(e.getClass.getSimpleName),
            s"$name contains nondeterministic expression ${e.getClass.getSimpleName}",
          )
        })
      }
    }
  }

  test("group-sum reconciliation: pricing summary totals vs global aggregate") {
    val global = SparkEntry.queries("agg_global")(spark, sfDir).collect()(0)
    val pricing = SparkEntry
      .queries("agg_groupby_pricing")(spark, sfDir)
      .agg(sum(col("sum_qty")), sum(col("count_order")))
      .collect()(0)
    // pricing filters l_shipdate <= cutoff, so totals must be <= global
    assert(pricing.getDouble(0) <= global.getAs[Double]("sum_qty"))
    assert(pricing.getLong(1) <= global.getAs[Long]("n_rows"))
  }

  test("union-all count additivity") {
    val n = SparkEntry.queries("set_union_all")(spark, sfDir).count()
    val c = Tables.customer(spark, sfDir).count()
    val s = Tables.supplier(spark, sfDir).count()
    assert(n == c + s)
  }

  test("semi + anti partition customers") {
    val semi = SparkEntry.queries("join_semi")(spark, sfDir).count()
    val anti = SparkEntry.queries("join_anti")(spark, sfDir).count()
    assert(semi + anti == Tables.customer(spark, sfDir).count())
  }

  test("topk_global is the true global top-100") {
    val topk = SparkEntry.queries("topk_global")(spark, sfDir).collect()
    assert(topk.length == 100)
    val minTop = topk.map(_.getAs[Double]("l_extendedprice")).min
    val above = Tables
      .lineitem(spark, sfDir)
      .filter(col("l_extendedprice") > minTop)
      .count()
    assert(above <= 100)
  }

  test("curation_pipeline reconciles with text_quality and text_langid") {
    // the composed pipeline must equal the conjunction of its stages
    val kept = SparkEntry.queries("curation_pipeline")(spark, sfDir).select("doc_id", "quality")
    val q = SparkEntry.queries("text_quality")(spark, sfDir).select(col("doc_id"), col("quality").as("q2"))
    val l = SparkEntry.queries("text_langid")(spark, sfDir).filter(col("label_match"))
    val expected = q
      .filter(col("q2") >= ops.TextQuality.CurationMinQuality)
      .join(l, "doc_id")
      .select("doc_id") // no dups in the fixture corpus, so dedup drops nothing
    assert(kept.count() == expected.count())
    assert(kept.join(expected, Seq("doc_id"), "left_anti").count() == 0)
    // and stage quality values agree bit-for-bit across the two plans
    assert(kept.join(q, "doc_id").filter(col("quality") =!= col("q2")).count() == 0)
  }

  test("text_repetition fractions are consistent with text_token_count") {
    val rep = SparkEntry.queries("text_repetition")(spark, sfDir)
    val tok = SparkEntry
      .queries("text_token_count")(spark, sfDir)
      .select(col("doc_id"), col("ws_tokens"), col("uniq_tokens"))
    val joined = rep.join(tok, "doc_id")
    assert(joined.filter(col("n_tokens") =!= col("ws_tokens")).count() == 0)
    // dup_token_frac must be the rounded (n - uniq) / n from the OTHER query
    val mismatch = joined
      .filter(
        col("dup_token_frac") =!=
          round((col("ws_tokens") - col("uniq_tokens")).cast("double") / col("ws_tokens"), 4)
      )
      .count()
    assert(mismatch == 0)
    // fractions live in (0, 1]; top_token_frac >= 1/n up to round-4 error
    // (declared values are round(x, 4), so allow 5e-5 per unit of n)
    assert(
      rep
        .filter(col("top_token_frac") * col("n_tokens") < lit(1.0) - col("n_tokens") * 5e-5)
        .count() == 0
    )
    assert(rep.filter(col("top_bigram_frac") <= 0 || col("top_bigram_frac") > 1).count() == 0)
  }

  test("dedup_embedding reconciles with sim_threshold_pairs at its threshold") {
    // a vec is dropped iff some same-label smaller-id partner scores >= 0.4,
    // and sim_threshold_pairs (>= 0.3) is a superset of those pairs
    val kept = SparkEntry.queries("dedup_embedding")(spark, sfDir)
    val dropped = kept.filter(!col("kept")).select(col("vec_id"))
    val expected = SparkEntry
      .queries("sim_threshold_pairs")(spark, sfDir)
      .filter(col("sim") >= 0.4)
      .select(col("id_b").as("vec_id"))
      .distinct()
    assert(dropped.count() == expected.count())
    assert(dropped.join(expected, Seq("vec_id"), "left_anti").count() == 0)
  }

  test("merge_scd2 invariants: one current row per key, version monotone, balance conserved") {
    val m = SparkEntry.queries("merge_scd2")(spark, sfDir)
    val perKey = m.groupBy("c_custkey").agg(
      sum(when(col("is_current"), 1L).otherwise(0L)).as("n_cur"),
      count(lit(1)).as("n_rows"),
      max("version").as("v_max"),
    )
    assert(perKey.filter(col("n_cur") =!= 1L).count() == 0, "exactly one current row per key")
    assert(perKey.filter(col("n_rows") =!= col("v_max")).count() == 0, "versions are 1..n dense")
    // v2 bal - v1 bal == the customer's total order spend
    val deltas = m
      .groupBy("c_custkey")
      .agg((max(when(col("version") === 2L, col("bal"))) -
        max(when(col("version") === 1L, col("bal")))).as("delta"))
      .filter(col("delta").isNotNull)
    val spend = Tables
      .orders(spark, sfDir)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(Qf.dsum(col("o_totalprice"), 2).as("spend"))
    assert(
      deltas.join(spend, "c_custkey").filter(abs(col("delta") - col("spend")) > 1e-6).count() == 0
    )
  }

  test("sample_hash_split is deterministic, complete, and near the 90/10 target") {
    val s1 = SparkEntry.queries("sample_hash_split")(spark, sfDir)
    val total = s1.count()
    val train = s1.filter(col("split") === "train").count()
    assert(s1.select("doc_id").distinct().count() == total, "every doc exactly once")
    val frac = train.toDouble / total
    assert(frac > 0.8 && frac < 0.97, s"train fraction $frac out of tolerance vs 0.9 target")
    // same hash → same split on re-run (no seed/partitioning dependence)
    val s2 = SparkEntry.queries("sample_hash_split")(spark, sfDir)
    assert(s1.join(s2.withColumnRenamed("split", "s2"), "doc_id")
      .filter(col("split") =!= col("s2")).count() == 0)
  }

  test("sample_hash_split buckets are stable across corpus growth (sf0.001 ⊂ sf0.01)") {
    // the docs claim a doc keeps its split as the corpus grows — assert it:
    // same doc_id ⇒ same bucket at both scale factors
    val small = SparkEntry.queries("sample_hash_split")(spark, sfDir).select("doc_id", "bucket")
    val large = SparkEntry
      .queries("sample_hash_split")(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), col("bucket").as("b2"))
    val joined = small.join(large, "doc_id")
    assert(joined.count() == small.count(), "sf0.001 doc_ids must exist at sf0.01")
    assert(joined.filter(col("bucket") =!= col("b2")).count() == 0)
  }

  test("typed_doc_stats equals the untyped Column formulation") {
    val typed = SparkEntry.queries("typed_doc_stats")(spark, sfDir)
    val untyped = Tables
      .documents(spark, sfDir)
      .filter(length(col("text")) > 0)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("sum_tokens"),
      )
      .withColumn("avg_tokens", col("sum_tokens").cast("double") / col("n_docs"))
      .orderBy("lang")
    assert(typed.collect().toSeq == untyped.collect().toSeq)
  }

  test("dedup_clusters: labels are canonical minima and pairs land in one cluster") {
    val cl = SparkEntry.queries("dedup_clusters")(spark, sfDir)
    assert(cl.filter(col("cluster_id") > col("doc_id")).count() == 0, "label must be a min")
    // every cluster representative is its own representative (canonical)
    val reps = cl.select(col("cluster_id").as("doc_id")).distinct()
    val repSelf = reps
      .join(cl, "doc_id")
      .filter(col("cluster_id") =!= col("doc_id"))
    assert(repSelf.count() == 0, "a cluster id must map to itself")
    // both endpoints of every near-dup edge share a cluster (transitivity base)
    val pairs = SparkEntry.queries("dedup_minhash_lsh")(spark, sfDir)
    val byA = cl.select(col("doc_id").as("id_a"), col("cluster_id").as("ca"))
    val byB = cl.select(col("doc_id").as("id_b"), col("cluster_id").as("cb"))
    assert(pairs.join(byA, "id_a").join(byB, "id_b").filter(col("ca") =!= col("cb")).count() == 0)
  }

  test("dedup_keep_best: keepers partition the corpus and really are the cluster argmax") {
    val kb = SparkEntry.queries("dedup_keep_best")(spark, sfDir)
    val cl = SparkEntry.queries("dedup_clusters")(spark, sfDir)
    val nDocs = Tables.documents(spark, sfDir).count()
    // one row per cluster; members partition the corpus
    assert(kb.count() == cl.select("cluster_id").distinct().count())
    assert(kb.agg(sum("n_members")).head.getLong(0) == nDocs)
    // the keeper belongs to its own cluster
    val keeperCluster = kb
      .select(col("keep_id").as("doc_id"), col("cluster_id").as("kc"))
      .join(cl, "doc_id")
    assert(keeperCluster.filter(col("kc") =!= col("cluster_id")).count() == 0)
    // argmax law, recomputed through an independent plan: the keeper's
    // quality equals its cluster's max, and no member beats it
    val q = Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), graft.ops.TextQuality.qualityCol.as("quality"))
    val best = cl
      .join(q, "doc_id")
      .groupBy("cluster_id")
      .agg(max("quality").as("want_best"))
    assert(
      kb.join(best, "cluster_id").filter(col("best_quality") =!= col("want_best")).count() == 0)
    // multi-member clusters exist in the fixture (the op has real work)
    assert(kb.filter(col("n_members") > 1).count() > 0)
  }

  test("dedup_incremental_minhash: replay branches land in the right statuses") {
    val out = SparkEntry.queries("dedup_incremental_minhash")(spark, sfDir).collect()
    val byId = out.map(r => r.getAs[Long]("batch_id") -> r.getAs[String]("status")).toMap
    val nDocs = Tables.documents(spark, sfDir).count()
    // batch = new docs (>= 250) + 50 seen replays + 10 within-batch replays
    assert(out.length.toLong == (nDocs - 250) + 50 + 10)
    // every seen replay (jaccard 1 against the manifest) is dup_of_seen
    (10000000L until 10000050L).foreach { id =>
      assert(byId(id) == "dup_of_seen", s"replay $id: ${byId(id)}")
    }
    // every within-batch replay has an earlier identical twin; it can only
    // be dup_in_batch — or dup_of_seen if the shared text also near-dups a
    // seen doc (precedence)
    (20000250L until 20000260L).foreach { id =>
      assert(byId(id) != "unique", s"within-batch replay $id escaped as unique")
      // and its twin's status decides: if the twin is dup_of_seen the
      // replay must be too (same text, same cross pairs)
      if (byId(id - 20000000L) == "dup_of_seen") assert(byId(id) == "dup_of_seen")
    }
    // fresh new docs dominate: uniques exist
    assert(out.count(_.getAs[String]("status") == "unique") > 0)
    val statuses = out.map(_.getAs[String]("status")).toSet
    assert(statuses.subsetOf(Set("unique", "dup_of_seen", "dup_in_batch")))
  }

  test("multimodal_chunk_stats: chunk arithmetic and digests reconcile") {
    val c = SparkEntry.queries("multimodal_chunk_stats")(spark, sfDir)
    assert(c.filter(col("n_chunks") =!= expr("(n_bytes + 63) div 64")).count() == 0)
    assert(c.filter(col("n_sampled") =!= expr("(n_chunks + 3) div 4")).count() == 0)
    // first chunk digest equals the string-side md5 (ASCII corpus ⇒ byte==char)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(expr("substring(text, 1, 64)")).as("s_md5"))
    assert(c.join(docs, "doc_id").filter(col("first_md5") =!= col("s_md5")).count() == 0)
    // and the corpus really is pure ASCII — the assumption the oracle rests on
    assert(
      Tables.documents(spark, sfDir)
        .filter(length(encode(col("text"), "UTF-8")) =!= length(col("text"))).count() == 0
    )
  }

  test("dedup_semantic: min-id representatives, edges inside clusters, kept = one per cluster") {
    val ds = SparkEntry.queries("dedup_semantic")(spark, sfDir)
    assert(ds.filter(col("cluster_id") > col("vec_id")).count() == 0, "label must be a min")
    assert(
      ds.filter(col("kept") =!= (col("vec_id") === col("cluster_id"))).count() == 0,
      "kept must mark exactly the representative",
    )
    assert(
      ds.filter(col("kept")).count() == ds.select("cluster_id").distinct().count(),
      "one keeper per cluster",
    )
    // both endpoints of every verified semantic edge land in one cluster
    val pairs = ops.SemDedup.hybridSemanticPairs(spark, sfDir)
    assert(pairs.count() > 0, "fixture must contain semantic near-dups for the op to have work")
    val byA = ds.select(col("vec_id").as("id_a"), col("cluster_id").as("ca"))
    val byB = ds.select(col("vec_id").as("id_b"), col("cluster_id").as("cb"))
    assert(pairs.join(byA, "id_a").join(byB, "id_b").filter(col("ca") =!= col("cb")).count() == 0)
  }

  test("rollup grand-total row equals table count") {
    val total = SparkEntry
      .queries("agg_rollup")(spark, sfDir)
      .filter(col("g_flag") === 1 && col("g_status") === 1)
      .collect()
    assert(total.length == 1)
    assert(total(0).getAs[Long]("n_rows") == Tables.lineitem(spark, sfDir).count())
  }
}
