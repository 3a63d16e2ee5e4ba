package graft.ops

import graft.{QueryDef, Tables}
import graft.Qf._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-6 batch 3 — model-evaluation, privacy-audit & enrichment verbs:
  * the classifier confusion matrix with per-class P/R/F1 (closing the ML
  * loop knn_classify opens), kNN-distance outlier scoring over embeddings,
  * a k-anonymity privacy audit, readability scoring, and a nearest-event
  * (both-directions as-of) join.
  *
  * Shared-subplan doctrine: ml_eval_confusion and embed_outlier_knn_dist
  * WRAP the existing knn_classify / embed_knn_graph subplans (Spark body
  * and oracle CTE alike), so the evaluation can never drift from the
  * operator it evaluates — the dedup_keep_best/dedup_clusters pattern.
  *
  * Scale doctrine, per op:
  *   - ml_eval_confusion: the prediction frame is |probes| rows; every
  *     aggregate after it is |labels|-bounded.
  *   - embed_outlier_knn_dist: inherits the knn graph's label-blocked
  *     bound; the isolation rank window runs per label over |block| rows.
  *   - privacy_k_anonymity: one grouping to |QI-groups| rows, then a
  *     |distinct-k|-bounded histogram. The QI table never re-shuffles.
  *   - text_readability: explode → one doc-grain aggregate; zero joins.
  *   - join_asof_nearest: per-user candidate generation (the join_asof /
  *     attribution_last_touch shape) — candidates bounded by per-user
  *     activity, never |purchases|×|errors|.
  */
object Evaluation {

  // ------------------------------------------------------------------
  // ml_eval_confusion — per-class precision/recall/F1 over knn_classify
  // ------------------------------------------------------------------

  /** Classifier evaluation of the declared knn_classify predictions:
    * per-label true positives, false positives, false negatives and the
    * integer-ppm precision/recall/F1. All counts are exact BIGINTs from
    * one |probes|-row prediction frame; ratios are integer div onto the
    * ppm grid (nullif guards the empty-class division on both engines).
    */
  private def mlEvalConfusion(s: SparkSession, dir: String): DataFrame = {
    val pred = Vectors.knnClassifyQuery(s, dir)
    val m = pred.groupBy("true_label", "pred_label").agg(nrows.as("n"))
    val act = m.groupBy(col("true_label").as("label")).agg(sum("n").as("n_actual"))
    val prd = m.groupBy(col("pred_label").as("label")).agg(sum("n").as("n_pred"))
    val tp = m
      .filter(col("true_label") === col("pred_label"))
      .select(col("true_label").as("label"), col("n").as("tp"))
    act
      .join(prd, Seq("label"), "full_outer")
      .join(tp, Seq("label"), "left")
      .select(
        col("label"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"),
      )
      .withColumn("precision_ppm", expr("tp * 1000000 div nullif(n_pred, 0)"))
      .withColumn("recall_ppm", expr("tp * 1000000 div nullif(n_actual, 0)"))
      .withColumn("f1_ppm", expr("2 * tp * 1000000 div nullif(n_actual + n_pred, 0)"))
      .orderBy("label")
  }

  private val mlEvalConfusionSql =
    s"WITH pred AS (${Vectors.knnClassifySql}), " +
      "m AS (SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n FROM pred GROUP BY 1, 2), " +
      "act AS (SELECT true_label AS label, CAST(sum(n) AS BIGINT) AS n_actual FROM m GROUP BY 1), " +
      "prd AS (SELECT pred_label AS label, CAST(sum(n) AS BIGINT) AS n_pred FROM m GROUP BY 1), " +
      "tp AS (SELECT true_label AS label, n AS tp FROM m WHERE true_label = pred_label), " +
      "j AS (SELECT COALESCE(act.label, prd.label) AS label, " +
      "COALESCE(n_actual, 0) AS n_actual, COALESCE(n_pred, 0) AS n_pred " +
      "FROM act FULL OUTER JOIN prd ON act.label = prd.label) " +
      "SELECT j.label, n_actual, n_pred, COALESCE(tp, 0) AS tp, " +
      "CAST(COALESCE(tp, 0) * 1000000 // nullif(n_pred, 0) AS BIGINT) AS precision_ppm, " +
      "CAST(COALESCE(tp, 0) * 1000000 // nullif(n_actual, 0) AS BIGINT) AS recall_ppm, " +
      "CAST(2 * COALESCE(tp, 0) * 1000000 // nullif(n_actual + n_pred, 0) AS BIGINT) AS f1_ppm " +
      "FROM j LEFT JOIN tp ON j.label = tp.label ORDER BY j.label"

  // ------------------------------------------------------------------
  // embed_outlier_knn_dist — isolation scoring over the kNN graph
  // ------------------------------------------------------------------

  /** kNN-distance outlier scoring (the classic kNN anomaly detector):
    * each vector's mean similarity to its ≤5 nearest same-label neighbors
    * (from the declared embed_knn_graph frame — shared subplan), and the
    * 10 most ISOLATED vectors per label. The mean is an exact
    * DECIMAL(28,4) sum of the graph's round-4 sims divided once; the
    * isolation rank window runs per label.
    */
  private def embedOutlierKnnDist(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("label").orderBy(col("mean_sim"), col("vec_id"))
    Vectors
      .embedKnnGraph(s, dir)
      .groupBy("vec_id", "label")
      .agg(
        nrows.as("n_nbrs"),
        round(sum(col("sim").cast(DecimalType(28, 4))).cast("double") / count(lit(1)), 6)
          .as("mean_sim"),
      )
      .withColumn("iso_rank", asLong(row_number().over(w)))
      .filter(col("iso_rank") <= 10)
      .orderBy("label", "iso_rank")
  }

  private val embedOutlierKnnDistSql =
    s"WITH g AS (${Vectors.embedKnnGraphSql.replace(" ORDER BY vec_id, rn", "")}), " +
      "ms AS (SELECT vec_id, label, CAST(count(*) AS BIGINT) AS n_nbrs, " +
      "round(CAST(sum(CAST(sim AS DECIMAL(28,4))) AS DOUBLE) / count(*), 6) AS mean_sim " +
      "FROM g GROUP BY 1, 2) " +
      "SELECT vec_id, label, n_nbrs, mean_sim, " +
      "CAST(row_number() OVER (PARTITION BY label ORDER BY mean_sim, vec_id) AS BIGINT) AS iso_rank " +
      "FROM ms QUALIFY iso_rank <= 10 ORDER BY label, iso_rank"

  // ------------------------------------------------------------------
  // privacy_k_anonymity — quasi-identifier re-identification audit
  // ------------------------------------------------------------------

  /** k-anonymity audit of the customer table under the quasi-identifier
    * (nation, market segment, account-balance band): the k-distribution —
    * how many QI groups and rows sit at each anonymity level k — plus the
    * re-identification flag for k < 5 (the GDPR-era release bar). The
    * balance band uses floor() on the 2-decimal double (identical in both
    * engines; integer `div` would diverge from `//` on negative balances).
    * One grouping to |QI-groups| rows, then a |distinct-k| histogram.
    */
  private def privacyKAnonymity(s: SparkSession, dir: String): DataFrame =
    Tables
      .customer(s, dir)
      .groupBy(
        col("c_nationkey"),
        col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"),
      )
      .agg(nrows.as("k"))
      .groupBy("k")
      .agg(nrows.as("n_groups"), sum("k").as("n_rows"))
      .withColumn("risky", col("k") < 5)
      .orderBy("k")

  private val privacyKAnonymitySql =
    "WITH qi AS (SELECT c_nationkey, c_mktsegment, CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band, " +
      "CAST(count(*) AS BIGINT) AS k FROM customer GROUP BY 1, 2, 3) " +
      "SELECT k, CAST(count(*) AS BIGINT) AS n_groups, CAST(sum(k) AS BIGINT) AS n_rows, " +
      "k < 5 AS risky FROM qi GROUP BY k ORDER BY k"

  // ------------------------------------------------------------------
  // text_readability — syllable-based readability scoring
  // ------------------------------------------------------------------

  /** Flesch / Gunning-Fog readability per document from vowel-group
    * syllable estimation (regexp_count('[aeiouy]+') — the standard
    * dictionary-free approximation). The corpus has no sentence
    * punctuation, so sentence count is DEFINED as ceil(words/15) — on
    * punctuated text the same plan would split on [.!?] instead (noted
    * here; the formula shape is identical). Both scores are fixed-constant
    * double arithmetic over exact per-doc BIGINT counts, spelled
    * token-for-token the same in both engines, then round(·, 4).
    */
  private def textReadability(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(col("doc_id"), explode(split(Text.normText(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .select(
        col("doc_id"),
        expr("regexp_count(w, '[aeiouy]+')").cast("long").as("syll"),
      )
      .groupBy("doc_id")
      .agg(
        nrows.as("n_words"),
        sum("syll").as("n_syll"),
        sum(when(col("syll") >= 3, 1L).otherwise(0L)).as("n_complex"),
      )
      .withColumn("n_sents", expr("(n_words + 14) div 15"))
      .select(
        col("doc_id"),
        col("n_words"),
        col("n_syll"),
        col("n_complex"),
        col("n_sents"),
        round(
          lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") / col("n_sents").cast("double"))
            - lit(84.6) * (col("n_syll").cast("double") / col("n_words").cast("double")),
          4,
        ).as("flesch"),
        round(
          lit(0.4) * (col("n_words").cast("double") / col("n_sents").cast("double")
            + lit(100.0) * (col("n_complex").cast("double") / col("n_words").cast("double"))),
          4,
        ).as("fog"),
      )
      .orderBy("doc_id")

  private val textReadabilitySql =
    "WITH wx AS (SELECT doc_id, unnest(string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ')) AS w " +
      "FROM documents), " +
      "sy AS (SELECT doc_id, CAST(len(regexp_extract_all(w, '[aeiouy]+')) AS BIGINT) AS syll FROM wx WHERE len(w) > 0), " +
      "d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, CAST(sum(syll) AS BIGINT) AS n_syll, " +
      "CAST(sum(CASE WHEN syll >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_complex FROM sy GROUP BY 1), " +
      "e AS (SELECT *, CAST((n_words + 14) // 15 AS BIGINT) AS n_sents FROM d) " +
      "SELECT doc_id, n_words, n_syll, n_complex, n_sents, " +
      "round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE)) " +
      "- 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE)), 4) AS flesch, " +
      "round(0.4 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE) " +
      "+ 100.0 * (CAST(n_complex AS DOUBLE) / CAST(n_words AS DOUBLE))), 4) AS fog " +
      "FROM e ORDER BY doc_id"

  // ------------------------------------------------------------------
  // join_asof_nearest — nearest-event join, both directions
  // ------------------------------------------------------------------

  /** Nearest-in-time enrichment: each purchase matched to the CLOSEST
    * error event of the same user within ±1 hour, whichever side of the
    * purchase it falls on (the both-directions generalization of the
    * backward-only join_asof; root-cause tooling wants "the error nearest
    * the failed purchase", not "the last error before it"). Candidates
    * come from a user equi-join + range residual (bounded by per-user
    * activity); rank on (abs Δt, error id) picks the winner; unmatched
    * purchases return via anti-join with NULLs (the attribution_last_touch
    * 'direct' pattern). Δt is reported as a non-negative ms magnitude
    * plus a side flag — signed integer division would diverge between
    * Spark's truncation and DuckDB's floor on negatives.
    */
  private def joinAsofNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val errors = ev
      .filter(col("event_type") === "error")
      .select(col("event_id").as("e_id"), col("user_id"), col("ts").as("e_ts"))
    val w = Window.partitionBy("p_id").orderBy(col("adt"), col("e_id"))
    val matched = purchases
      .join(errors, "user_id")
      .withColumn("adt", abs(col("e_ts") - col("p_ts")))
      .filter(col("adt") <= 3600000000000L) // 1 h in ns
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("p_id"),
        col("user_id"),
        col("e_id"),
        expr("adt div 1000000").as("adt_ms"),
        when(col("e_ts") < col("p_ts"), "before")
          .when(col("e_ts") > col("p_ts"), "after")
          .otherwise("same")
          .as("side"),
      )
    val unmatched = purchases
      .join(matched.select("p_id"), Seq("p_id"), "left_anti")
      .select(
        col("p_id"),
        col("user_id"),
        lit(null).cast("long").as("e_id"),
        lit(null).cast("long").as("adt_ms"),
        lit(null).cast("string").as("side"),
      )
    matched.unionByName(unmatched).orderBy("p_id")
  }

  private val joinAsofNearestSql =
    "WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'), " +
      "e AS (SELECT event_id AS e_id, user_id, ts AS e_ts FROM events WHERE event_type = 'error'), " +
      "cand AS (SELECT p_id, p.user_id, e_id, " +
      "CAST(abs(epoch_ns(e_ts) - epoch_ns(p_ts)) AS BIGINT) AS adt, e_ts, p_ts " +
      "FROM p JOIN e ON p.user_id = e.user_id " +
      "WHERE abs(epoch_ns(e_ts) - epoch_ns(p_ts)) <= 3600000000000), " +
      "m AS (SELECT p_id, user_id, e_id, CAST(adt // 1000000 AS BIGINT) AS adt_ms, " +
      "CASE WHEN e_ts < p_ts THEN 'before' WHEN e_ts > p_ts THEN 'after' ELSE 'same' END AS side " +
      "FROM (SELECT *, row_number() OVER (PARTITION BY p_id ORDER BY adt, e_id) AS rn FROM cand) WHERE rn = 1) " +
      "SELECT * FROM m UNION ALL " +
      "SELECT p_id, user_id, NULL, NULL, NULL FROM p WHERE p_id NOT IN (SELECT p_id FROM m) " +
      "ORDER BY p_id"

  // ------------------------------------------------------------------
  // ml_eval_ann_recall — recall@k of the deployed ANN index vs truth
  // ------------------------------------------------------------------

  /** ANN quality evaluation — the monitor a deployment runs when tuning
    * nprobe / deciding to retrain: recall@10 of the DECLARED sim_ann_ivf
    * ranking against the brute-force cosine truth, per probe. Wraps the
    * declared subplan (the shared-subplan doctrine — the eval can never
    * drift from the index it audits); the truth side is the
    * sim_topk_cosine contract (round(dot, 4) desc, cand_id tiebreak), so
    * "recall" here is recall against a deterministic, totally-ordered
    * truth list — tie-boundary sensitivity is part of the contract, not
    * noise. Output: (probe_id, n_hit, recall_ppm).
    *
    * Scale: truth is one map-side |probes|·n scoring pass pruned to 10
    * per probe before the exchange (at 100 TB you sample probes — recall
    * estimation needs hundreds, not millions); the join against the ANN
    * list and the aggregate are |probes|·10 bounded.
    */
  private def mlEvalAnnRecall(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val ivf = IvfAnn
      .simAnnIvfGrid(s, dir)
      .select(col("probe_id"), col("cand_id"))
      .withColumn("hit", lit(1L))
    // task-floor spread (r17): the truth pass's |probes|·n dots are
    // compute-dense map work off a one-split scan
    val e = Tables.spreadSmallScan(s, dir, "embeddings", Tables.embeddings(s, dir), col("vec_id"))
    val probes = e.filter(col("vec_id") < 100).select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
    val corpus = e.select(col("vec_id").as("cand_id"), col("embedding").as("cvec"))
    val w = Window.partitionBy("probe_id").orderBy(col("sim").desc, col("cand_id"))
    // the probe frame is 100 rows by construction — broadcast EXPLICITLY so
    // the truth pass is a BroadcastNestedLoopJoin at any corpus size, never
    // a CartesianProductExec from a missed size estimate (r14 verdict)
    val truth = corpus
      .crossJoin(broadcast(probes))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("sim", round(Vectors.nativeDot(col("pvec"), col("cvec")), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= IvfAnn.GridTopKShared)
      .select("probe_id", "cand_id")
    truth
      .join(ivf, Seq("probe_id", "cand_id"), "left")
      .groupBy("probe_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(
        col("probe_id"),
        col("n_hit"),
        // integer div keeps the ppm on the exact grid (repo-wide idiom) —
        // the double-division + cast was value-identical today but leaves
        // a latent truncate-vs-floor divergence class (r12 advice)
        expr(s"n_hit * 1000000 div ${IvfAnn.GridTopKShared}").as("recall_ppm"),
      )
      .orderBy("probe_id")
  }

  private val mlEvalAnnRecallSql =
    IvfAnn.simAnnIvfRkCte + ", " +
      s"iv AS (SELECT probe_id, cand_id FROM rk WHERE rn <= ${IvfAnn.GridTopKShared}), " +
      "tr AS (SELECT probe_id, cand_id FROM (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id, " +
      "row_number() OVER (PARTITION BY p.vec_id " +
      "ORDER BY round(list_dot_product(p.v, c.v), 4) DESC, c.vec_id) AS rn " +
      "FROM e p JOIN e c ON c.vec_id <> p.vec_id WHERE p.vec_id < 100) " +
      s"WHERE rn <= ${IvfAnn.GridTopKShared}), " +
      "h AS (SELECT t.probe_id, count(iv.cand_id) AS n_hit FROM tr t " +
      "LEFT JOIN iv ON iv.probe_id = t.probe_id AND iv.cand_id = t.cand_id GROUP BY 1) " +
      "SELECT probe_id, CAST(n_hit AS BIGINT) AS n_hit, " +
      s"CAST(n_hit * 1000000 // ${IvfAnn.GridTopKShared} AS BIGINT) AS recall_ppm " +
      "FROM h ORDER BY probe_id"

  // ------------------------------------------------------------------
  // sim_ann_ivf_recall_curve — the published recall/cost tradeoff (r13)
  // ------------------------------------------------------------------

  private val CurveNprobes = Seq(2, 4, 8, 12)

  /** The nprobe sensitivity curve of the deployed IVF index: recall@10 vs
    * brute-force truth at nprobe ∈ [[CurveNprobes]], aggregated over the
    * probe set — the r12 verdict's ask that the 0.63-recall default stop
    * being a single unpublished point and become an oracle-checked
    * tradeoff table (a deployment picks its operating point from THIS
    * frame; EvaluationSpec pins recall ≥ 0.9 at the nprobe = 12 setting).
    *
    * One candidate-generation pass serves the whole curve: probes route
    * to their max-nprobe nearest cells once with the route rank kept, each
    * candidate carries min_rnp = the best rank of a routed list containing
    * it, and the nprobe = p candidate set is exactly {min_rnp ≤ p} — so
    * adding curve points costs an explode + K-bounded windows, never a
    * second corpus scan. Consumes the session-cached index
    * ([[IvfAnn.gridCentroids]] — the deployment build-once shape; the
    * oracle re-derives training, so values are identical cold or warm).
    *
    * Scale: candidates are ~(maxNprobe/k)·n per probe and truth is the
    * ml_eval_ann_recall map-side pass — at 100 TB you sample probes
    * (recall estimation needs hundreds, not millions); everything after
    * the windows is |nprobes|·|probes|·k bounded.
    */
  private def simAnnIvfRecallCurve(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val cent = IvfAnn.gridCentroids(s, dir)
    val e = Tables.spreadSmallScan(s, dir, "embeddings", Tables.embeddings(s, dir), col("vec_id"))
    val lists = IvfAnn.gridAssign(e, cent).select(col("vec_id").as("cand_id"), col("cid"))
    // shared routing (r13 ADVICE): the SAME implementation the declared
    // fused/probe keys run, rank kept — the curve cannot drift from the
    // index whose operating point it publishes
    val routes = IvfAnn.gridRoutes(e, cent, CurveNprobes.max)
    val pv = e.filter(col("vec_id") < 100).select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
    val cv = e.select(col("vec_id").as("cand_id"), col("embedding").as("cvec"))
    val scored = routes
      .join(lists, "cid")
      .filter(col("probe_id") =!= col("cand_id"))
      .groupBy("probe_id", "cand_id")
      .agg(min("rnp").as("min_rnp"))
      .join(pv, "probe_id")
      .join(cv, "cand_id")
      .withColumn("sim", round(Vectors.nativeDot(col("pvec"), col("cvec")), 4))
      .select("probe_id", "cand_id", "min_rnp", "sim")
    val npArr = array(CurveNprobes.map(p => lit(p.toLong)): _*)
    val wk = Window.partitionBy("nprobe", "probe_id").orderBy(col("sim").desc, col("cand_id"))
    val ivf = scored
      .select(col("probe_id"), col("cand_id"), col("min_rnp"), col("sim"), explode(npArr).as("nprobe"))
      .filter(col("min_rnp") <= col("nprobe"))
      .withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= IvfAnn.GridTopKShared)
      .select(col("nprobe"), col("probe_id"), col("cand_id"))
      .withColumn("hit", lit(1L))
    val wt = Window.partitionBy("probe_id").orderBy(col("sim").desc, col("cand_id"))
    // 100-row probe frame broadcast explicitly — same rationale as
    // ml_eval_ann_recall's truth pass (r14 verdict)
    val truth = cv
      .crossJoin(broadcast(pv))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("sim", round(Vectors.nativeDot(col("pvec"), col("cvec")), 4))
      .withColumn("rn", row_number().over(wt))
      .filter(col("rn") <= IvfAnn.GridTopKShared)
      .select("probe_id", "cand_id")
    truth
      .select(col("probe_id"), col("cand_id"), explode(npArr).as("nprobe"))
      .join(ivf, Seq("nprobe", "probe_id", "cand_id"), "left")
      .groupBy("nprobe")
      .agg(
        countDistinct(col("probe_id")).as("n_probes"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"),
      )
      .select(
        col("nprobe"),
        col("n_probes"),
        col("n_hit"),
        expr(s"n_hit * 1000000 div (${IvfAnn.GridTopKShared} * n_probes)").as("recall_ppm"),
      )
      .orderBy("nprobe")
  }

  private val simAnnIvfRecallCurveSql = {
    val npVals = CurveNprobes.map(p => s"($p)").mkString(", ")
    IvfAnn.gridTrainCte + ", " +
      "routes AS (SELECT vec_id AS probe_id, cid, CAST(rn AS BIGINT) AS rnp FROM (SELECT vec_id, cid, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM dl WHERE vec_id < 100) " +
      s"WHERE rn <= ${CurveNprobes.max}), " +
      "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "cand AS (SELECT probe_id, cand_id, min(rnp) AS min_rnp FROM routes JOIN lists USING (cid) " +
      "WHERE probe_id <> cand_id GROUP BY 1, 2), " +
      "r AS (SELECT probe_id, cand_id, min_rnp, round(list_dot_product(pe.v, ce.v), 4) AS sim " +
      "FROM cand JOIN e pe ON pe.vec_id = cand.probe_id JOIN e ce ON ce.vec_id = cand.cand_id), " +
      s"np(nprobe) AS (VALUES $npVals), " +
      "rk AS (SELECT nprobe, probe_id, cand_id, row_number() OVER " +
      "(PARTITION BY nprobe, probe_id ORDER BY sim DESC, cand_id) AS rn " +
      "FROM r JOIN np ON r.min_rnp <= np.nprobe), " +
      s"iv AS (SELECT nprobe, probe_id, cand_id FROM rk WHERE rn <= ${IvfAnn.GridTopKShared}), " +
      "tr AS (SELECT probe_id, cand_id FROM (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id, " +
      "row_number() OVER (PARTITION BY p.vec_id " +
      "ORDER BY round(list_dot_product(p.v, c.v), 4) DESC, c.vec_id) AS rn " +
      s"FROM e p JOIN e c ON c.vec_id <> p.vec_id WHERE p.vec_id < 100) WHERE rn <= ${IvfAnn.GridTopKShared}), " +
      "h AS (SELECT np.nprobe, count(DISTINCT tr.probe_id) AS n_probes, count(iv.cand_id) AS n_hit " +
      "FROM tr CROSS JOIN np LEFT JOIN iv ON iv.nprobe = np.nprobe " +
      "AND iv.probe_id = tr.probe_id AND iv.cand_id = tr.cand_id GROUP BY 1) " +
      "SELECT CAST(nprobe AS BIGINT) AS nprobe, CAST(n_probes AS BIGINT) AS n_probes, " +
      "CAST(n_hit AS BIGINT) AS n_hit, " +
      s"CAST(n_hit * 1000000 // (${IvfAnn.GridTopKShared} * n_probes) AS BIGINT) AS recall_ppm " +
      "FROM h ORDER BY nprobe"
  }

  // ------------------------------------------------------------------
  // embed_dim_truncation_eval — which serving dimension is safe (r12)
  // ------------------------------------------------------------------

  private val TruncDims = Seq(8, 16, 32, 64)
  private val TruncTopK = 10

  /** Matryoshka-style dimension-truncation evaluation (Kusupati et al.
    * 2022, public): before serving a truncated-prefix vector index, a
    * pipeline must know how much retrieval quality each prefix length
    * keeps. For each dim d ∈ [[TruncDims]], rank the corpus per probe by
    * the PREFIX dot (first d coordinates, the sim_topk_cosine contract:
    * round(dot, 4) desc, cand_id tiebreak) and report recall@[[TruncTopK]]
    * of that truncated ranking against the full-64-d truth, aggregated
    * over the probe set. d = 64 is the built-in 1.0-recall anchor (prefix
    * of 64 IS the full vector), so the output is self-calibrating.
    *
    * Scale: probes broadcast and the corpus is scored in place — one pass
    * computes all four prefix dots per pair (8+16+32+64 = 120 multiplies,
    * ~2× a single full dot) and explodes to (dim, sim) rows whose
    * rank ≤ k filter compiles to WindowGroupLimit, pruning to k per
    * (dim, probe) map-side before the only exchange; the truth pass is
    * the ml_eval_ann_recall shape. Everything after the windows is
    * |dims|·|probes|·k bounded. At 100 TB you sample probes — recall
    * estimation needs hundreds, not millions.
    */
  private def embedDimTruncationEval(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // task-floor spread (r17): the 4-prefix dot pass is compute-dense map
    // work off a one-split scan (measured 2.0 s CPU in ONE task at sf0.1)
    val e = Tables.spreadSmallScan(s, dir, "embeddings", Tables.embeddings(s, dir), col("vec_id"))
    val probes = e
      .filter(col("vec_id") < 100)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
    val corpus = e.select(col("vec_id").as("cand_id"), col("embedding").as("cvec"))
    val pairs = corpus.crossJoin(broadcast(probes)).filter(col("probe_id") =!= col("cand_id"))
    val dsims = array(TruncDims.map { d =>
      struct(
        lit(d.toLong).as("dim"),
        round(Vectors.nativeDot(slice(col("pvec"), 1, d), slice(col("cvec"), 1, d)), 4).as("sim"),
      )
    }: _*)
    val wd = Window.partitionBy("dim", "probe_id").orderBy(col("sim").desc, col("cand_id"))
    val approx = pairs
      .select(col("probe_id"), col("cand_id"), explode(dsims).as("ds"))
      .select(col("probe_id"), col("cand_id"), col("ds.dim").as("dim"), col("ds.sim").as("sim"))
      .withColumn("rn", row_number().over(wd))
      .filter(col("rn") <= TruncTopK)
      .select("dim", "probe_id", "cand_id")
    val wt = Window.partitionBy("probe_id").orderBy(col("sim").desc, col("cand_id"))
    val truth = pairs
      .withColumn("sim", round(Vectors.nativeDot(col("pvec"), col("cvec")), 4))
      .withColumn("rn", row_number().over(wt))
      .filter(col("rn") <= TruncTopK)
      .select(col("probe_id"), col("cand_id"))
      .withColumn("hit", lit(1L))
    approx
      // truth is |probes|·k rows by construction — always broadcast-able
      .join(broadcast(truth), Seq("probe_id", "cand_id"), "left")
      .groupBy("dim")
      .agg(
        countDistinct(col("probe_id")).as("n_probes"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"),
      )
      .select(
        col("dim"),
        col("n_probes"),
        col("n_hit"),
        // integer div — same grid rationale as ml_eval_ann_recall above
        expr(s"n_hit * 1000000 div ($TruncTopK * n_probes)").as("recall_ppm"),
      )
      .orderBy("dim")
  }

  private val embedDimTruncationEvalSql = {
    val dims = TruncDims.map(d => s"($d)").mkString(", ")
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      s"d(dim) AS (VALUES $dims), " +
      "sc AS (SELECT d.dim, p.vec_id AS probe_id, c.vec_id AS cand_id, " +
      "round(list_dot_product(p.v[1:d.dim], c.v[1:d.dim]), 4) AS sim " +
      "FROM e p JOIN e c ON c.vec_id <> p.vec_id CROSS JOIN d WHERE p.vec_id < 100), " +
      "ap AS (SELECT dim, probe_id, cand_id FROM (SELECT dim, probe_id, cand_id, " +
      "row_number() OVER (PARTITION BY dim, probe_id ORDER BY sim DESC, cand_id) AS rn FROM sc) " +
      s"WHERE rn <= $TruncTopK), " +
      "tr AS (SELECT probe_id, cand_id FROM (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id, " +
      "row_number() OVER (PARTITION BY p.vec_id " +
      "ORDER BY round(list_dot_product(p.v, c.v), 4) DESC, c.vec_id) AS rn " +
      s"FROM e p JOIN e c ON c.vec_id <> p.vec_id WHERE p.vec_id < 100) WHERE rn <= $TruncTopK), " +
      "h AS (SELECT ap.dim, count(DISTINCT ap.probe_id) AS n_probes, count(tr.cand_id) AS n_hit " +
      "FROM ap LEFT JOIN tr ON tr.probe_id = ap.probe_id AND tr.cand_id = ap.cand_id GROUP BY 1) " +
      "SELECT CAST(dim AS BIGINT) AS dim, CAST(n_probes AS BIGINT) AS n_probes, " +
      "CAST(n_hit AS BIGINT) AS n_hit, " +
      s"CAST(n_hit * 1000000 // ($TruncTopK * n_probes) AS BIGINT) AS recall_ppm " +
      "FROM h ORDER BY dim"
  }

  val entries: Seq[QueryDef] = Seq(
    QueryDef("ml_eval_ann_recall", mlEvalAnnRecall, Some(mlEvalAnnRecallSql)),
    QueryDef("sim_ann_ivf_recall_curve", simAnnIvfRecallCurve, Some(simAnnIvfRecallCurveSql)),
    QueryDef("embed_dim_truncation_eval", embedDimTruncationEval, Some(embedDimTruncationEvalSql)),
    QueryDef("ml_eval_confusion", mlEvalConfusion, Some(mlEvalConfusionSql)),
    QueryDef("embed_outlier_knn_dist", embedOutlierKnnDist, Some(embedOutlierKnnDistSql)),
    QueryDef("privacy_k_anonymity", privacyKAnonymity, Some(privacyKAnonymitySql)),
    QueryDef("text_readability", textReadability, Some(textReadabilitySql)),
    QueryDef("join_asof_nearest", joinAsofNearest, Some(joinAsofNearestSql)),
  )
}
