package graft.ops

import graft.{QueryDef, Tables}
import graft.Qf._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-4 analytics & warehouse-quality verbs (SURVEY.md §2.15): the
  * product-analytics suite (funnel, cohort retention, gap-filled resample),
  * a fully-oracled count-min sketch, Deequ-style data-quality expectations,
  * per-label embedding centroid diagnostics, and unigram-LM surprisal
  * scoring. Determinism per SURVEY §2.0 throughout.
  *
  * Scale doctrine, per op:
  *   - agg_heavy_hitters: the SKETCH is the point — 4×512 counters total,
  *     regardless of corpus size. Tokens collapse map-side onto (row,
  *     bucket) before the one exchange, so 100 TB of text shuffles 2,048
  *     rows. (The exact side exists only to verify the estimate.)
  *   - funnel_conversion / retention_cohort: every join/agg keys on
  *     user_id, so one hash partitioning serves all stages; per-user state
  *     is O(1) (three stage timestamps / first-day + active-day set).
  *   - ts_gap_fill: the grid explodes to user × hour — bounded by
  *     span/grain, not by event count; the fill is one window pass over
  *     each user's grid partition.
  *   - dq_expectations: one scan per table feeding column-level aggregates;
  *     the orphan check is the only join (orderkey-partitioned count).
  *   - embed_centroid_dist: centroids are |labels|×64 scaled-integer sums
  *     (exact, order-free) broadcast back; vectors score map-side.
  *   - text_unigram_surprisal: the term-frequency model is vocabulary-
  *     bounded; docs join it on the token key with map-side combine.
  */
object Analytics {

  // ------------------------------------------------------------------
  // agg_heavy_hitters — count-min sketch, estimate vs exact
  // ------------------------------------------------------------------

  /** Count-min sketch heavy hitters over document tokens. d = 4 hash rows ×
    * w = 512 buckets; row-j bucket of a term is an md5-derived integer
    * (cross-engine identical, same idiom as SimHash). The estimate of a
    * term's count is the MIN over its 4 row counters — an overestimate by
    * construction (collisions only add), which the declared output exposes
    * as `over_err = cms_est - exact_n >= 0` for the exact top-20 terms.
    *
    * Unlike `agg_approx_distinct` (whose HLL sketch is engine-specific and
    * therefore rows-only), every bit of this sketch is plain relational
    * arithmetic, so the whole approximate path is hash-checked by the
    * oracle.
    */
  private val CmsRows = 4
  private val CmsWidth = 512

  private def cmsBucket(row: Int, term: Column): Column =
    conv(substring(md5(concat(lit(row.toString), lit("#"), term)), 1, 8), 16, 10)
      .cast("long") % CmsWidth

  private def aggHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    // task-floor spread (r17): 4 md5 buckets per token occurrence off a
    // one-split scan ran 0.84 s CPU in ONE task
    val toks = Tables
      .spreadSmallScan(s, dir, "documents", Tables.documents(s, dir), col("doc_id"))
      .select(explode(split(Text.normText(col("text")), " ")).as("term"))
    // sketch: 4 counters per token occurrence, collapsed map-side to 2,048 rows
    val sketch = toks
      .select(explode(array((0 until CmsRows).map { j =>
        struct(lit(j).as("j"), cmsBucket(j, col("term")).as("bucket"))
      }: _*)).as("rb"))
      .groupBy(col("rb.j").as("j"), col("rb.bucket").as("bucket"))
      .agg(nrows.as("c"))
    val exact = toks.groupBy("term").agg(nrows.as("exact_n"))
    val top = exact.orderBy(col("exact_n").desc, col("term")).limit(20)
    val probes = top.select(
      col("term"),
      col("exact_n"),
      explode(array((0 until CmsRows).map { j =>
        struct(lit(j).as("j"), cmsBucket(j, col("term")).as("bucket"))
      }: _*)).as("rb"),
    )
    probes
      .join(broadcast(sketch), col("rb.j") === col("j") && col("rb.bucket") === col("bucket"))
      .groupBy("term", "exact_n")
      .agg(min("c").as("cms_est"))
      .select(
        col("term"),
        col("exact_n"),
        col("cms_est"),
        (col("cms_est") - col("exact_n")).as("over_err"),
      )
      .orderBy(col("exact_n").desc, col("term"))
  }

  private val aggHeavyHittersSql = {
    def bucket(j: Int, t: String) =
      s"('0x' || substring(md5('$j#' || $t), 1, 8))::BIGINT % $CmsWidth"
    val rows = (0 until CmsRows)
    "WITH toks AS (SELECT unnest(string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ')) AS term FROM documents), " +
      "rb AS (" + rows
        .map(j => s"SELECT $j AS j, ${bucket(j, "term")} AS bucket FROM toks")
        .mkString(" UNION ALL ") + "), " +
      "sketch AS (SELECT j, bucket, count(*) AS c FROM rb GROUP BY 1, 2), " +
      "exact AS (SELECT term, count(*) AS exact_n FROM toks GROUP BY 1), " +
      "top AS (SELECT term, exact_n FROM exact ORDER BY exact_n DESC, term LIMIT 20), " +
      "probes AS (" + rows
        .map(j => s"SELECT term, exact_n, $j AS j, ${bucket(j, "term")} AS bucket FROM top")
        .mkString(" UNION ALL ") + ") " +
      "SELECT p.term, p.exact_n, min(s.c) AS cms_est, min(s.c) - p.exact_n AS over_err " +
      "FROM probes p JOIN sketch s ON p.j = s.j AND p.bucket = s.bucket " +
      "GROUP BY p.term, p.exact_n ORDER BY p.exact_n DESC, p.term"
  }

  // ------------------------------------------------------------------
  // funnel_conversion — ordered view → click → purchase within 1 h hops
  // ------------------------------------------------------------------

  /** Classic ordered funnel on the event stream: a user converts stage 2
    * when their first click AFTER the first view lands within 1 hour of it,
    * and stage 3 likewise for purchase after that click. All times compare
    * as microsecond longs (SURVEY §1.3), so the hop windows are exact
    * integer arithmetic in both engines. Stage populations are necessarily
    * non-increasing (law asserted in AnalyticsSpec).
    */
  private val HopUs = 3600L * 1000000L

  private def funnelConversion(s: SparkSession, dir: String): DataFrame = {
    val e = Tables
      .events(s, dir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("us"))
    val v = e
      .filter(col("event_type") === "view")
      .groupBy("user_id")
      .agg(min("us").as("t_view"))
    val c = e
      .filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("us") > col("t_view") && col("us") <= col("t_view") + HopUs)
      .groupBy("user_id")
      .agg(min("us").as("t_click"))
    val p = e
      .filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("us") > col("t_click") && col("us") <= col("t_click") + HopUs)
      .groupBy("user_id")
      .agg(min("us").as("t_purchase"))
    v.agg(nrows.as("n_users")).select(lit("1_view").as("stage"), col("n_users"))
      .unionByName(c.agg(nrows.as("n_users")).select(lit("2_click").as("stage"), col("n_users")))
      .unionByName(p.agg(nrows.as("n_users")).select(lit("3_purchase").as("stage"), col("n_users")))
      .orderBy("stage")
  }

  private val funnelConversionSql =
    "WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events), " +
      "v AS (SELECT user_id, min(us) AS t_view FROM e WHERE event_type = 'view' GROUP BY 1), " +
      "c AS (SELECT e.user_id, min(us) AS t_click FROM e JOIN v USING (user_id) " +
      s"WHERE event_type = 'click' AND us > t_view AND us <= t_view + $HopUs GROUP BY 1), " +
      "p AS (SELECT e.user_id, min(us) AS t_purchase FROM e JOIN c USING (user_id) " +
      s"WHERE event_type = 'purchase' AND us > t_click AND us <= t_click + $HopUs GROUP BY 1) " +
      "SELECT '1_view' AS stage, count(*) AS n_users FROM v " +
      "UNION ALL SELECT '2_click', count(*) FROM c " +
      "UNION ALL SELECT '3_purchase', count(*) FROM p ORDER BY stage"

  // ------------------------------------------------------------------
  // retention_cohort — first-activity cohorts × day offsets
  // ------------------------------------------------------------------

  /** Cohort retention: users grouped by their first active day; for each
    * day offset 0..7, how many are active again. Day boundaries come from
    * the µs-truncated event time in both engines; cohort days are emitted
    * as 'yyyy-MM-dd' strings so the declared schema stays primitive.
    */
  private def retentionCohort(s: SparkSession, dir: String): DataFrame = {
    val days = Tables
      .events(s, dir)
      .select(col("user_id"), to_date(col("etime")).as("day"))
      .distinct()
    val cohort = days.groupBy("user_id").agg(min("day").as("cohort"))
    days
      .join(cohort, "user_id")
      .withColumn("offset", datediff(col("day"), col("cohort")).cast("long"))
      .filter(col("offset") <= 7)
      .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"), col("offset"))
      .agg(nrows.as("n_users"))
      .orderBy("cohort_day", "offset")
  }

  private val retentionCohortSql =
    "WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), " +
      "cohort AS (SELECT user_id, min(day) AS cohort FROM days GROUP BY 1) " +
      "SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day, " +
      "CAST(date_diff('day', cohort, day) AS BIGINT) AS \"offset\", count(*) AS n_users " +
      "FROM days JOIN cohort USING (user_id) " +
      "WHERE date_diff('day', cohort, day) <= 7 " +
      "GROUP BY 1, 2 ORDER BY cohort_day, \"offset\""

  // ------------------------------------------------------------------
  // win_moving_avg_centered — centered rows-frame smoothing
  // ------------------------------------------------------------------

  /** Centered 7-point moving average of daily event counts per type — the
    * smoothing primitive, and the one window-frame shape the catalog didn't
    * yet demonstrate (rowsBetween with both PRECEDING and FOLLOWING;
    * running sums use unbounded-preceding, win_range_interval uses a range
    * frame). Counts are exact integers, so the frame average is an exact
    * integer sum divided by the frame row count — deterministic without
    * decimal routing. Edge days simply average a narrower frame (standard
    * centered-MA semantics).
    */
  private def winMovingAvgCentered(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    Tables
      .events(s, dir)
      .groupBy(col("event_type"), to_date(col("etime")).as("day"))
      .agg(nrows.as("n"))
      .withColumn("ma7", round(sum(col("n")).over(w).cast("double") / count(col("n")).over(w), 4))
      .select(
        col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n"),
        col("ma7"),
      )
      .orderBy("event_type", "day")
  }

  private val winMovingAvgCenteredSql =
    "WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n " +
      "FROM events GROUP BY 1, 2) " +
      "SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n, " +
      "round(CAST(sum(n) OVER w AS DOUBLE) / count(n) OVER w, 4) AS ma7 " +
      "FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day " +
      "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) ORDER BY event_type, day"

  // ------------------------------------------------------------------
  // fn_to_json — row serialization surface
  // ------------------------------------------------------------------

  /** Struct→JSON serialization (the sink-side counterpart of fn_json's
    * parsing): both engines emit compact `{"k":v}` text, byte-identical for
    * string/integer fields — doubles are deliberately EXCLUDED from the
    * struct (engines' shortest-roundtrip float printing diverges on
    * exponent-form values; the catalog rule for serializing money is
    * integer cents, cdc_apply's idiom). The md5 doubles the whole-text
    * check. NULL rule (sibling of the doubles rule): Spark's to_json OMITS
    * null struct fields while DuckDB emits `"key":null`, so every field is
    * coalesce()d on BOTH engines — byte-identity must not depend on the
    * orders columns happening to be non-null.
    */
  private def fnToJson(s: SparkSession, dir: String): DataFrame =
    Tables
      .orders(s, dir)
      .select(
        col("o_orderkey"),
        to_json(
          struct(
            col("o_orderkey").as("k"),
            coalesce(col("o_orderstatus"), lit("")).as("s"),
            coalesce(col("o_orderpriority"), lit("")).as("p"),
            coalesce(round(col("o_totalprice") * 100, 0).cast("long"), lit(0L)).as("cents"),
          )
        ).as("js"),
      )
      .select(col("o_orderkey"), col("js"), md5(col("js")).as("js_md5"))
      .orderBy("o_orderkey")

  private val fnToJsonSql =
    "WITH j AS (SELECT o_orderkey, to_json(struct_pack(k := o_orderkey, " +
      "s := coalesce(o_orderstatus, ''), " +
      "p := coalesce(o_orderpriority, ''), " +
      "cents := coalesce(CAST(round(o_totalprice * 100, 0) AS BIGINT), 0))) AS js " +
      "FROM orders) " +
      "SELECT o_orderkey, js, md5(js) AS js_md5 FROM j ORDER BY o_orderkey"

  // ------------------------------------------------------------------
  // agg_corr_exact — correlation matrix from exact moments
  // ------------------------------------------------------------------

  /** Pairwise Pearson correlations of the lineitem numeric columns, from
    * EXACT moments: built-in `corr` accumulates doubles in partial-agg
    * order (nondeterministic across engines and even across runs), so every
    * Σx, Σx², Σxy routes through DECIMAL (the inputs are ≤2-decimal, so
    * scale 4 makes every product exact) and the closed-form correlation is
    * then scalar double arithmetic on identical operands — the same
    * exact-moment trick as anomaly_daily_volume, extended to cross moments.
    * ONE aggregate row over one scan; the 6-pair matrix fans out from it
    * map-side.
    */
  private def aggCorrExact(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val d = DecimalType(38, 4)
    val aggs = Seq(nrows.as("n")) ++
      cols.map(c => sum(col(c).cast(d)).as(s"s_$c")) ++
      cols.map(c => sum((col(c) * col(c)).cast(d)).as(s"ss_$c")) ++
      cols.combinations(2).toSeq.map { case Seq(a, b) =>
        sum((col(a) * col(b)).cast(d)).as(s"sp_${a}_$b")
      }
    val m = Tables.lineitem(s, dir).agg(aggs.head, aggs.tail: _*)
    val pairs = cols.combinations(2).toSeq.map { case Seq(a, b) =>
      val n = col("n").cast("double")
      val corr = (n * col(s"sp_${a}_$b").cast("double") -
        col(s"s_$a").cast("double") * col(s"s_$b").cast("double")) /
        (sqrt(n * col(s"ss_$a").cast("double") - col(s"s_$a").cast("double") * col(s"s_$a").cast("double")) *
          sqrt(n * col(s"ss_$b").cast("double") - col(s"s_$b").cast("double") * col(s"s_$b").cast("double")))
      struct(lit(s"${a}__$b").as("pair"), zround(round(corr, 4)).as("corr"))
    }
    m.select(col("n"), explode(array(pairs: _*)).as("p"))
      .select(col("p.pair").as("pair"), col("p.corr").as("corr"), col("n"))
      .orderBy("pair")
  }

  private val aggCorrExactSql = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val moments =
      cols.map(c => s"sum(CAST($c AS DECIMAL(38,4))) AS s_$c") ++
        cols.map(c => s"sum(CAST($c * $c AS DECIMAL(38,4))) AS ss_$c") ++
        cols.combinations(2).toSeq.map { case Seq(a, b) =>
          s"sum(CAST($a * $b AS DECIMAL(38,4))) AS sp_${a}_$b"
        }
    val rows = cols.combinations(2).toSeq.map { case Seq(a, b) =>
      s"SELECT '${a}__$b' AS pair, round((CAST(n AS DOUBLE) * CAST(sp_${a}_$b AS DOUBLE) - " +
        s"CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE)) / " +
        s"(sqrt(CAST(n AS DOUBLE) * CAST(ss_$a AS DOUBLE) - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE)) * " +
        s"sqrt(CAST(n AS DOUBLE) * CAST(ss_$b AS DOUBLE) - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE))), 4) AS corr, " +
        s"n FROM m"
    }
    s"WITH m AS (SELECT count(*) AS n, ${moments.mkString(", ")} FROM lineitem) " +
      "SELECT pair, CASE WHEN corr = 0 THEN 0.0 ELSE corr END AS corr, n FROM (" +
      rows.mkString(" UNION ALL ") + ") ORDER BY pair"
  }

  // ------------------------------------------------------------------
  // agg_skew_kurtosis — higher moments, exact-sum route
  // ------------------------------------------------------------------

  /** Population skewness and excess kurtosis of l_extendedprice per
    * returnflag — the two distribution-shape aggregates of the PySpark
    * surface (F.skewness / F.kurtosis) not yet covered by agg_stats, via
    * the exact-moment route (anomaly_daily_volume / agg_corr_exact
    * pattern): per-row powers are fixed-association double products
    * (deterministic), the four raw sums S1..S4 are exact DECIMAL, and the
    * central-moment closed forms are then scalar double arithmetic on
    * identical operands. Built-in skewness()/kurtosis() accumulate doubles
    * in partial-agg order and cannot hash-match across engines.
    */
  private def aggSkewKurtosis(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_extendedprice")
    // OVERFLOW BOUND (SynthKeyOffset convention): x^4 of l_extendedprice is
    // ~1e20/row, and DECIMAL(38,8) leaves 30 integer digits, so the exact S4
    // sum overflows to NULL at ~1e10 rows per group (TPC-H SF ≈ 1.5e3 —
    // beyond the 100 TB target for THIS column, but not generic). The scale
    // path if a wider column ever needs this: per-partition partial sums of
    // x^4/1e8 at scale 0 (shifting the headroom 8 digits), or Welford-style
    // mergeable central moments at the cost of cross-engine hash equality.
    val d = DecimalType(38, 8)
    Tables
      .lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        nrows.as("n"),
        sum(x.cast(d)).cast("double").as("s1"),
        sum((x * x).cast(d)).cast("double").as("s2"),
        sum((x * x * x).cast(d)).cast("double").as("s3"),
        sum((x * x * x * x).cast(d)).cast("double").as("s4"),
      )
      .select(col("l_returnflag"), col("n"), col("s1"), col("s2"), col("s3"), col("s4"))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("mu", col("s1") / col("nd"))
      .withColumn("r2", col("s2") / col("nd"))
      .withColumn("r3", col("s3") / col("nd"))
      .withColumn("r4", col("s4") / col("nd"))
      // the operand ASSOCIATION below is mirrored token-for-token in the
      // oracle: both engines left-associate, so each central moment is the
      // identical double, not just mathematically equal
      .withColumn("m2", col("r2") - col("mu") * col("mu"))
      .withColumn(
        "m3",
        col("r3") - lit(3.0) * col("mu") * col("r2") +
          lit(2.0) * col("mu") * col("mu") * col("mu"),
      )
      .withColumn(
        "m4",
        col("r4") - lit(4.0) * col("mu") * col("r3") +
          lit(6.0) * col("mu") * col("mu") * col("r2") -
          lit(3.0) * col("mu") * col("mu") * col("mu") * col("mu"),
      )
      .select(
        col("l_returnflag"),
        col("n"),
        round(col("mu"), 4).as("mean"),
        // m2·sqrt(m2) = m2^1.5 without pow (libm-dependent; sqrt is
        // correctly-rounded everywhere — the sample_temperature rule)
        zround(round(col("m3") / (col("m2") * sqrt(col("m2"))), 4)).as("skewness"),
        zround(round(col("m4") / (col("m2") * col("m2")) - lit(3.0), 4)).as("kurtosis"),
      )
      .orderBy("l_returnflag")
  }

  private val aggSkewKurtosisSql =
    "WITH m AS (SELECT l_returnflag, count(*) AS n, " +
      "CAST(sum(CAST(l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS s1, " +
      "CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS s2, " +
      "CAST(sum(CAST(l_extendedprice * l_extendedprice * l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS s3, " +
      "CAST(sum(CAST(l_extendedprice * l_extendedprice * l_extendedprice * l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS s4 " +
      "FROM lineitem GROUP BY 1), " +
      "c AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd, s1, s2, s3, s4 FROM m), " +
      "r AS (SELECT l_returnflag, n, s1 / nd AS mu, s2 / nd AS r2, s3 / nd AS r3, s4 / nd AS r4 FROM c), " +
      "f AS (SELECT l_returnflag, n, mu, r2 - mu * mu AS m2, " +
      "r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3, " +
      "r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2 - 3.0 * mu * mu * mu * mu AS m4 FROM r) " +
      "SELECT l_returnflag, n, round(mu, 4) AS mean, " +
      "CASE WHEN round(m3 / (m2 * sqrt(m2)), 4) = 0 THEN 0.0 ELSE round(m3 / (m2 * sqrt(m2)), 4) END AS skewness, " +
      "CASE WHEN round(m4 / (m2 * m2) - 3.0, 4) = 0 THEN 0.0 ELSE round(m4 / (m2 * m2) - 3.0, 4) END AS kurtosis " +
      "FROM f ORDER BY l_returnflag"

  // ------------------------------------------------------------------
  // agg_mode_exact — deterministic per-group mode
  // ------------------------------------------------------------------

  /** Exact mode (most frequent value) of l_linestatus per returnflag, with
    * a DETERMINISTIC tie-break (count desc, then value asc) — built-in
    * `mode()` leaves ties engine-defined in both Spark and DuckDB, so the
    * portable formulation is count + rank, which also exposes the margin
    * (mode share). Two-level agg: the (flag, status) count partial-combines
    * map-side; the rank window runs over ≤|distinct statuses| rows per
    * flag.
    */
  private def aggModeExact(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_returnflag").orderBy(col("n").desc, col("l_linestatus"))
    val wt = Window.partitionBy("l_returnflag")
    Tables
      .lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(nrows.as("n"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_total", sum(col("n")).over(wt))
      .filter(col("rn") === 1)
      .select(
        col("l_returnflag"),
        col("l_linestatus").as("mode_status"),
        col("n").as("n_mode"),
        col("n_total"),
        round(col("n").cast("double") / col("n_total"), 4).as("mode_share"),
      )
      .orderBy("l_returnflag")
  }

  private val aggModeExactSql =
    "WITH c AS (SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem GROUP BY 1, 2), " +
      "r AS (SELECT l_returnflag, l_linestatus, n, " +
      "row_number() OVER (PARTITION BY l_returnflag ORDER BY n DESC, l_linestatus) AS rn, " +
      "CAST(sum(n) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n_total FROM c) " +
      "SELECT l_returnflag, l_linestatus AS mode_status, n AS n_mode, n_total, " +
      "round(CAST(n AS DOUBLE) / n_total, 4) AS mode_share " +
      "FROM r WHERE rn = 1 ORDER BY l_returnflag"

  // ------------------------------------------------------------------
  // win_cumulative_distinct — growth accounting (new vs returning users)
  // ------------------------------------------------------------------

  /** Cumulative distinct users per event type over days — the growth-
    * accounting query (daily NEW users + running total of uniques). The
    * naive formulation (count(DISTINCT user) over an expanding window)
    * re-scans every prefix; this one is linear: a user counts once, on
    * their FIRST day — per-(type, user) min(day) partial-aggregates
    * map-side, the day rollup is |types|×|days| rows, and the running sum
    * windows over |days|-bounded partitions. At 100 TB the only corpus-
    * sized exchange is the (type, user) dedup, which any distinct-count
    * pays.
    */
  private def winCumulativeDistinct(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .select(col("event_type"), col("user_id"), to_date(col("etime")).as("day"))
      .groupBy("event_type", "user_id")
      .agg(min("day").as("day"))
      .groupBy("event_type", "day")
      .agg(nrows.as("n_new"))
      .withColumn(
        "cum_distinct",
        sum(col("n_new")).over(Window.partitionBy("event_type").orderBy("day")),
      )
      .select(
        col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_new"),
        col("cum_distinct"),
      )
      .orderBy("event_type", "day")

  private val winCumulativeDistinctSql =
    "WITH f AS (SELECT event_type, user_id, min(CAST(ts AS DATE)) AS day " +
      "FROM events GROUP BY 1, 2), " +
      "d AS (SELECT event_type, day, count(*) AS n_new FROM f GROUP BY 1, 2) " +
      "SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n_new, " +
      "CAST(sum(n_new) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS cum_distinct " +
      "FROM d ORDER BY event_type, day"

  // ------------------------------------------------------------------
  // ts_period_over_period — day-over-day volume change
  // ------------------------------------------------------------------

  /** Day-over-day event-volume change per type: count, previous day's
    * count, and the % change — the standard period-over-period report.
    * Counts are exact integers, so the one ratio is a double division of
    * identical operands on both engines; the first day's change is NULL by
    * definition (lag over an empty frame), exercising nullable declared
    * output. The window runs over |days|-bounded partitions keyed by
    * event_type — the same exchange the count aggregate already made.
    */
  private def tsPeriodOverPeriod(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    Tables
      .events(s, dir)
      .groupBy(col("event_type"), to_date(col("etime")).as("day"))
      .agg(nrows.as("n"))
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .select(
        col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n"),
        col("prev_n"),
        zround(round((col("n") - col("prev_n")).cast("double") / col("prev_n"), 4)).as("pct_change"),
      )
      .orderBy("event_type", "day")
  }

  private val tsPeriodOverPeriodSql =
    "WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n " +
      "FROM events GROUP BY 1, 2), " +
      "l AS (SELECT event_type, day, n, " +
      "lag(n, 1) OVER (PARTITION BY event_type ORDER BY day) AS prev_n FROM d) " +
      "SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n, prev_n, " +
      "CASE WHEN round(CAST(n - prev_n AS DOUBLE) / prev_n, 4) = 0 THEN 0.0 " +
      "ELSE round(CAST(n - prev_n AS DOUBLE) / prev_n, 4) END AS pct_change " +
      "FROM l ORDER BY event_type, day"

  // ------------------------------------------------------------------
  // win_streak_detection — longest consecutive-day activity streaks
  // ------------------------------------------------------------------

  /** Longest consecutive-day streak per user (every 5th user, to keep the
    * declared output focused): the gaps-and-islands identity — day minus
    * row_number() days is CONSTANT within a consecutive run — turns streak
    * detection into a plain groupBy on (user, island). All date/integer
    * arithmetic, no FP anywhere. One user_id shuffle; both windows and both
    * aggregations reuse it. Day boundaries from the µs-truncated event time
    * (§1.3) as everywhere.
    */
  private def winStreakDetection(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    val days = Tables
      .events(s, dir)
      .filter(col("user_id") % 5 === 0)
      .select(col("user_id"), to_date(col("etime")).as("day"))
      .distinct()
    days
      .withColumn("island", date_sub(col("day"), row_number().over(w)))
      .groupBy("user_id", "island")
      .agg(nrows.as("len"))
      .groupBy("user_id")
      .agg(
        sum(col("len")).as("n_active_days"),
        max(col("len")).as("longest_streak"),
        nrows.as("n_streaks"),
      )
      .orderBy("user_id")
  }

  private val winStreakDetectionSql =
    "WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events " +
      "WHERE user_id % 5 = 0), " +
      "isl AS (SELECT user_id, day, day - CAST(row_number() OVER " +
      "(PARTITION BY user_id ORDER BY day) AS INT) AS island FROM days), " +
      "runs AS (SELECT user_id, island, count(*) AS len FROM isl GROUP BY 1, 2) " +
      "SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days, " +
      "max(len) AS longest_streak, count(*) AS n_streaks " +
      "FROM runs GROUP BY 1 ORDER BY user_id"

  // ------------------------------------------------------------------
  // ts_gap_fill — hourly resample with forward fill
  // ------------------------------------------------------------------

  /** Time-series resample: every 10th user's events downsampled to an
    * hourly grid spanning their first..last hour, with empty hours filled
    * forward from the last observed hour (the standard gap-fill/ffill
    * primitive). The per-hour observation is max(value) — an exact pick of
    * an existing double, order-free, so the fill chain is bit-identical
    * across engines. Grid size is span-bounded (user × hours), never event-
    * bounded.
    */
  private def tsGapFill(s: SparkSession, dir: String): DataFrame = {
    val e = Tables
      .events(s, dir)
      .filter(col("user_id") % 10 === 0)
      .select(col("user_id"), date_trunc("hour", col("etime")).as("hr"), col("value"))
    val obs = e.groupBy("user_id", "hr").agg(nrows.as("n_events"), max("value").as("vmax"))
    val grid = e
      .groupBy("user_id")
      .agg(min("hr").as("h0"), max("hr").as("h1"))
      .select(
        col("user_id"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("hr"),
      )
    val w = Window
      .partitionBy("user_id")
      .orderBy("hr")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(obs, Seq("user_id", "hr"), "left")
      .select(
        col("user_id"),
        col("hr"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("vmax"), ignoreNulls = true).over(w).as("v_filled"),
      )
      .orderBy("user_id", "hr")
  }

  private val tsGapFillSql =
    "WITH e AS (SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr, value " +
      "FROM events WHERE user_id % 10 = 0), " +
      "obs AS (SELECT user_id, hr, count(*) AS n_events, max(value) AS vmax FROM e GROUP BY 1, 2), " +
      "grid AS (SELECT user_id, unnest(generate_series(min(hr), max(hr), INTERVAL 1 HOUR)) AS hr " +
      "FROM e GROUP BY user_id) " +
      "SELECT g.user_id, g.hr, coalesce(o.n_events, 0) AS n_events, " +
      "last_value(o.vmax IGNORE NULLS) OVER " +
      "(PARTITION BY g.user_id ORDER BY g.hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled " +
      "FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.hr = o.hr " +
      "ORDER BY g.user_id, g.hr"

  // ------------------------------------------------------------------
  // dq_drift_psi — population-stability drift between time halves
  // ------------------------------------------------------------------

  /** Population Stability Index of the order-price distribution between an
    * early period (orderdate < 1998-01-01) and a late one — the standard
    * production check for "has the data feeding this model drifted?".
    * Per 50k-wide price bin: contrib = (pA − pB)·ln(pA / pB); PSI = Σ
    * contrib (>0.2 conventionally = action). Declared at BIN grain (bin,
    * counts, shares, contrib) — richer than the scalar and each row's
    * determinism is one round-7 of a single transcendental product over
    * exact-int shares (the unigram-surprisal class); the scalar PSI is the
    * oracle-side sum of the same grid values if a consumer wants it.
    * Bins empty on either side are reported with NULL contrib rather than
    * smoothed — smoothing constants are a modeling choice, not engine
    * semantics. Two single-scan aggregates (one per period) on bounded
    * |bins| frames; scales as one pass over orders at any size.
    */
  private def dqDriftPsi(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables
      .orders(s, dir)
      .select(
        // coalesce pins the NULL-date branch: without it Spark's
        // when(!early) sends a NULL date to NEITHER period (three-valued
        // NOT) while DuckDB's CASE ... ELSE sends it to the late one —
        // the fnToJson NULL rule applied to booleans
        coalesce(col("o_orderdate") < lit("1998-01-01").cast("timestamp"), lit(false))
          .as("early"),
        floor(col("o_totalprice") / 50000).cast("long").as("bin"),
      )
    val counts = ord
      .groupBy("bin")
      .agg(
        sum(when(col("early"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("early"), 1L).otherwise(0L)).as("n_b"),
      )
    val tot = counts.agg(sum("n_a").as("ta"), sum("n_b").as("tb"))
    val pA = col("n_a").cast("double") / col("ta").cast("double")
    val pB = col("n_b").cast("double") / col("tb").cast("double")
    counts
      .crossJoin(broadcast(tot)) // 1-row totals
      .withColumn("p_a", round(pA, 7))
      .withColumn("p_b", round(pB, 7))
      .withColumn(
        "contrib",
        when(
          col("n_a") > 0 && col("n_b") > 0,
          round((pA - pB) * log(pA / pB), 7),
        ),
      )
      .select("bin", "n_a", "n_b", "p_a", "p_b", "contrib")
      .orderBy("bin")
  }

  private val dqDriftPsiSql =
    "WITH o AS (SELECT coalesce(o_orderdate < TIMESTAMP '1998-01-01', FALSE) AS early, " +
      "CAST(floor(o_totalprice / 50000) AS BIGINT) AS bin FROM orders), " +
      "c AS (SELECT bin, CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
      "CAST(sum(CASE WHEN early THEN 0 ELSE 1 END) AS BIGINT) AS n_b FROM o GROUP BY 1), " +
      "t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb FROM c) " +
      "SELECT bin, n_a, n_b, " +
      "round(CAST(n_a AS DOUBLE) / ta, 7) AS p_a, " +
      "round(CAST(n_b AS DOUBLE) / tb, 7) AS p_b, " +
      "CASE WHEN n_a > 0 AND n_b > 0 THEN " +
      "round((CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb) " +
      "* ln((CAST(n_a AS DOUBLE) / ta) / (CAST(n_b AS DOUBLE) / tb)), 7) END AS contrib " +
      "FROM c, t ORDER BY bin"

  // ------------------------------------------------------------------
  // ts_outlier_mad — robust (median/MAD) outlier flags per event type
  // ------------------------------------------------------------------

  /** Robust outlier detection: flag events whose value deviates from the
    * per-type median by more than 3× the Median Absolute Deviation — the
    * standard alternative to z-scores when the data itself may contain the
    * outliers being hunted (mean/stddev get dragged by them, median/MAD
    * don't). Two exact-percentile aggregates (median of values, then
    * median of |value − med|) on the bounded |event_type| frame, broadcast
    * back to the stream — the event table is scanned, never shuffled on
    * value. Determinism: exact interpolated percentiles over identical
    * doubles agree bit-for-bit (the agg_percentile_exact idiom); med/mad
    * are DECLARED at round(4) and the flag compares the same rounded
    * values on both engines, so the decision boundary is grid-aligned,
    * not ULP-aligned.
    */
  private def tsOutlierMad(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"), col("value"))
    val med = ev
      .groupBy("event_type")
      .agg(round(expr("percentile(value, 0.5)"), 4).as("med"))
    val withDev = ev
      .join(broadcast(med), "event_type")
      .withColumn("dev", round(abs(col("value") - col("med")), 4))
    val mad = withDev
      .groupBy("event_type")
      .agg(round(expr("percentile(dev, 0.5)"), 4).as("mad"))
    withDev
      .join(broadcast(mad), "event_type")
      .select(
        col("event_id"),
        col("event_type"),
        col("value"),
        col("med"),
        col("mad"),
        (col("dev") > col("mad") * 3).as("is_outlier"),
      )
      .orderBy("event_id")
  }

  private val tsOutlierMadSql =
    "WITH med AS (SELECT event_type, round(quantile_cont(value, 0.5), 4) AS med " +
      "FROM events GROUP BY 1), " +
      "d AS (SELECT event_id, e.event_type, value, med, round(abs(value - med), 4) AS dev " +
      "FROM events e JOIN med USING (event_type)), " +
      "mad AS (SELECT event_type, round(quantile_cont(dev, 0.5), 4) AS mad FROM d GROUP BY 1) " +
      "SELECT event_id, d.event_type, value, med, mad, dev > mad * 3 AS is_outlier " +
      "FROM d JOIN mad USING (event_type) ORDER BY event_id"

  // ------------------------------------------------------------------
  // dq_expectations — Deequ-style data-quality checks
  // ------------------------------------------------------------------

  /** Declarative data-quality expectations over the star schema, reported
    * as (check, n_checked, n_violations) — the Deequ/Great-Expectations
    * surface a warehouse engine is expected to run on every load. Column
    * checks fold into per-table single-scan aggregates; the referential
    * check is the only join (an orderkey-count).
    */
  private def dqExpectations(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val ord = Tables.orders(s, dir)
    def viol(name: String, checked: Column, bad: Column): Column =
      struct(lit(name).as("check"), checked.as("n_checked"), bad.as("n_violations"))
    val liChecks = li
      .agg(
        viol(
          "lineitem.quantity_in_1_50",
          nrows,
          count(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1)),
        ).as("a"),
        viol(
          "lineitem.price_positive",
          nrows,
          count(when(col("l_extendedprice") <= 0, 1)),
        ).as("b"),
        viol(
          "lineitem.shipdate_not_null",
          nrows,
          count(when(col("l_shipdate").isNull, 1)),
        ).as("c"),
      )
      .select(explode(array(col("a"), col("b"), col("c"))).as("r"))
    val ordChecks = ord
      .agg(
        viol(
          "orders.totalprice_positive",
          nrows,
          count(when(col("o_totalprice") <= 0, 1)),
        ).as("a"),
        viol(
          "orders.orderkey_unique",
          nrows,
          nrows - countDistinct(col("o_orderkey")),
        ).as("b"),
      )
      .select(explode(array(col("a"), col("b"))).as("r"))
    val orphans = li
      .join(ord, col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(nrows.as("bad"))
      .crossJoin(broadcast(li.agg(nrows.as("all"))))
      .select(viol("lineitem.orderkey_in_orders", col("all"), col("bad")).as("r"))
    liChecks
      .unionByName(ordChecks)
      .unionByName(orphans)
      .select(col("r.check").as("check"), col("r.n_checked"), col("r.n_violations"))
      .orderBy("check")
  }

  private val dqExpectationsSql =
    "SELECT * FROM (" +
      "SELECT 'lineitem.quantity_in_1_50' AS \"check\", count(*) AS n_checked, " +
      "count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS n_violations FROM lineitem " +
      "UNION ALL SELECT 'lineitem.price_positive', count(*), " +
      "count(*) FILTER (WHERE l_extendedprice <= 0) FROM lineitem " +
      "UNION ALL SELECT 'lineitem.shipdate_not_null', count(*), " +
      "count(*) FILTER (WHERE l_shipdate IS NULL) FROM lineitem " +
      "UNION ALL SELECT 'orders.totalprice_positive', count(*), " +
      "count(*) FILTER (WHERE o_totalprice <= 0) FROM orders " +
      "UNION ALL SELECT 'orders.orderkey_unique', count(*), " +
      "count(*) - count(DISTINCT o_orderkey) FROM orders " +
      "UNION ALL SELECT 'lineitem.orderkey_in_orders', (SELECT count(*) FROM lineitem), " +
      "(SELECT count(*) FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey " +
      "WHERE o.o_orderkey IS NULL)" +
      ") ORDER BY \"check\""

  // ------------------------------------------------------------------
  // embed_centroid_dist — per-label centroid tightness diagnostics
  // ------------------------------------------------------------------

  /** Embeddings at (vec_id, label, double-vector) grain — shared input shape
    * of the embed_* diagnostics.
    */
  private def embedVecs(s: SparkSession, dir: String): DataFrame =
    Tables
      .embeddings(s, dir)
      .select(col("vec_id"), col("label"), transform(col("embedding"), _.cast("double")).as("v"))

  /** Per-label exact centroids, shared by the centroid diagnostics and the
    * mean-centering transform so the two can never disagree on what "the
    * centroid" is. The mean is made order-free by summing each component as
    * a scaled integer (round(x·1e6) — exact BIGINT addition), so both
    * engines derive the identical centroid.
    */
  private def labelCentroids(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(sum(round(col("x") * 1e6, 0).cast("long")).as("s6"), nrows.as("n"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("s6"), col("n")))).as("pm"))
      .select(
        col("label"),
        expr("transform(pm, p -> (cast(p.s6 AS DOUBLE) / p.n) / 1e6)").as("c"),
      )

  /** The centroid CTE chain, shared verbatim by both embed_* oracles. */
  private val centroidCteSql =
    "e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      // DuckDB 1.0 has no WITH ORDINALITY: index via the (x, i) lambda form
      "dims AS (SELECT label, unnest(list_transform(v, (x, i) -> " +
      "{'pos': i, 'x6': CAST(round(x * 1e6, 0) AS BIGINT)})) AS u FROM e), " +
      "cs AS (SELECT label, u.pos AS pos, sum(u.x6) AS s6, count(*) AS n FROM dims GROUP BY 1, 2), " +
      "cent AS (SELECT label, list((CAST(s6 AS DOUBLE) / n) / 1e6 ORDER BY pos) AS c FROM cs GROUP BY 1)"

  /** Per-label centroid + distance diagnostics (how tight each label's
    * cluster is — the go/no-go report before trusting labels for blocking
    * or classification). Per-vector distance against the exact shared
    * centroid is a fixed-order positional fold.
    */
  private def embedCentroidDist(s: SparkSession, dir: String): DataFrame = {
    val e = embedVecs(s, dir)
    val cent = labelCentroids(e)
    e.join(broadcast(cent), "label")
      .withColumn(
        "dist",
        round(sqrt(aggregate(zip_with(col("v"), col("c"), (x, cc) => (x - cc) * (x - cc)), lit(0.0), (a, t) => a + t)), 4),
      )
      .groupBy("label")
      .agg(
        nrows.as("n_vecs"),
        round(davg(col("dist"), 4), 4).as("avg_dist"),
        max(col("dist")).as("max_dist"),
      )
      .orderBy("label")
  }

  private val embedCentroidDistSql =
    s"WITH $centroidCteSql, " +
      "d AS (SELECT e.label, round(sqrt(list_sum(list_transform(v, (x, i) -> (x - c[i]) * (x - c[i])))), 4) AS dist " +
      "FROM e JOIN cent ON e.label = cent.label) " +
      "SELECT label, count(*) AS n_vecs, " +
      "round(CAST(sum(CAST(dist AS DECIMAL(28,4))) AS DOUBLE) / count(dist), 4) AS avg_dist, " +
      "max(dist) AS max_dist FROM d GROUP BY label ORDER BY label"

  // ------------------------------------------------------------------
  // embed_mean_center — per-label mean centering (anisotropy correction)
  // ------------------------------------------------------------------

  /** Mean-center every embedding against its label centroid — the standard
    * post-processing step before cosine search on anisotropic embeddings
    * (common-direction removal), completing the embedding-postproc family
    * (quantize → centroid diagnostics → centering). Same exact centroid as
    * embed_centroid_dist (shared subplan); the centered vector is reported
    * through a position-weighted scaled-integer checksum (the
    * embed_quantize_int8 idiom — arrays stay out of the declared schema)
    * plus original/centered norms. Centroids broadcast; vectors center
    * map-side; zero corpus shuffles.
    */
  private def embedMeanCenter(s: SparkSession, dir: String): DataFrame = {
    val e = embedVecs(s, dir)
    val cent = labelCentroids(e)
    e.join(broadcast(cent), "label")
      .withColumn("w", zip_with(col("v"), col("c"), (x, cc) => x - cc))
      .select(
        col("vec_id"),
        col("label"),
        aggregate(
          transform(col("w"), (x, i) => round(x * 1e6, 0).cast("long") * (i + 1).cast("long")),
          lit(0L),
          (a, t) => a + t,
        ).as("c_checksum"),
        round(sqrt(aggregate(transform(col("v"), x => x * x), lit(0.0), (a, t) => a + t)), 4)
          .as("norm_orig"),
        round(sqrt(aggregate(transform(col("w"), x => x * x), lit(0.0), (a, t) => a + t)), 4)
          .as("norm_centered"),
      )
      .orderBy("vec_id")
  }

  private val embedMeanCenterSql =
    s"WITH $centroidCteSql, " +
      "j AS (SELECT vec_id, e.label AS label, v, " +
      "list_transform(v, (x, i) -> x - c[i]) AS w FROM e JOIN cent ON e.label = cent.label) " +
      "SELECT vec_id, label, " +
      "CAST(list_sum(list_transform(w, (x, i) -> CAST(round(x * 1e6, 0) AS BIGINT) * i)) AS BIGINT) AS c_checksum, " +
      "round(sqrt(list_sum(list_transform(v, x -> x * x))), 4) AS norm_orig, " +
      "round(sqrt(list_sum(list_transform(w, x -> x * x))), 4) AS norm_centered " +
      "FROM j ORDER BY vec_id"

  // ------------------------------------------------------------------
  // text_bigram_surprisal — interpolated bigram-LM scoring
  // ------------------------------------------------------------------

  /** Bigram language-model surprisal per document with unigram
    * interpolation: score = mean −ln(0.5·p(w₂|w₁) + 0.5·p(w₂)) over the
    * doc's bigrams — one model order up from text_unigram_surprisal, the
    * signal that catches locally-improbable word SEQUENCES (shuffled or
    * templated text) that unigram frequencies can't see. Both model tables
    * are vocabulary-bounded (|bigram types| and |types|); docs join them on
    * the bigram key with map-side combine; the corpus token total enters as
    * a 1-row broadcast. Per-bigram surprisal rounds to 6 decimals and the
    * doc mean runs through exact DECIMAL (§2.0 rule 2).
    */
  private def textBigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    // task-floor spread (r17): the normText+bigram explode passes ran
    // single-task off the one-split scan
    val docs = Tables.spreadSmallScan(s, dir, "documents", Tables.documents(s, dir), col("doc_id"))
    val bgRows = docs
      .select(col("doc_id"), split(Text.normText(col("text")), " ").as("w"))
      .select(col("doc_id"), explode(Text.bigrams(col("w"))).as("bg"))
    val toks = docs.select(explode(split(Text.normText(col("text")), " ")).as("term"))
    val c1 = toks.groupBy("term").agg(nrows.as("c1"))
    val total = c1.agg(sum(col("c1")).as("t"))
    val c2 = bgRows.groupBy("bg").agg(nrows.as("c2"))
    val model = c2
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(c1.select(col("term").as("w1"), col("c1").as("cw1")), "w1")
      .join(c1.select(col("term").as("w2"), col("c1").as("cw2")), "w2")
      .crossJoin(broadcast(total))
      .select(
        col("bg"),
        round(
          -log(
            lit(0.5) * col("c2").cast("double") / col("cw1").cast("double") +
              lit(0.5) * col("cw2").cast("double") / col("t").cast("double")
          ),
          6,
        ).cast(DecimalType(18, 6)).as("s6"),
      )
    // integer-exact half-up grid average (see filterSurprisalBand's r10 note)
    bgRows
      .join(model, "bg")
      .groupBy("doc_id")
      .agg(
        nrows.as("n_bigrams"),
        (sum(col("s6")) * lit(1000000)).cast("long").as("su"),
      )
      .select(
        col("doc_id"),
        col("n_bigrams"),
        (expr("(su * 2 + n_bigrams * 100) div (n_bigrams * 200)").cast("double") / 10000)
          .as("avg_surprisal2"),
      )
      .orderBy("doc_id")
  }

  private val textBigramSurprisalSql =
    "WITH ws AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ') AS w FROM documents), " +
      "bg0 AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> " +
      "{'bg': w[i] || ' ' || w[i+1], 'w1': w[i], 'w2': w[i+1]})) AS u " +
      "FROM ws WHERE len(w) >= 2), " +
      "bg AS (SELECT doc_id, u.bg AS bg, u.w1 AS w1, u.w2 AS w2 FROM bg0), " +
      "tok AS (SELECT unnest(w) AS term FROM ws), " +
      "c1 AS (SELECT term, count(*) AS c1 FROM tok GROUP BY 1), " +
      "tt AS (SELECT sum(c1) AS t FROM c1), " +
      // w1/w2 are constant within a bg group (bg = w1 || ' ' || w2), so min
      // is just the deterministic way to carry them through the GROUP BY
      "c2 AS (SELECT bg, min(w1) AS w1, min(w2) AS w2, count(*) AS c2 FROM bg GROUP BY 1), " +
      "model AS (SELECT c2.bg, CAST(round(-ln(0.5 * CAST(c2.c2 AS DOUBLE) / a.c1 + " +
      "0.5 * CAST(b.c1 AS DOUBLE) / t), 6) AS DECIMAL(18,6)) AS s6 " +
      "FROM c2 JOIN c1 a ON a.term = c2.w1 JOIN c1 b ON b.term = c2.w2, tt), " +
      "d AS (SELECT doc_id, count(*) AS n_bigrams, CAST(sum(s6) * 1000000 AS BIGINT) AS su " +
      "FROM bg JOIN model USING (bg) GROUP BY 1) " +
      "SELECT doc_id, n_bigrams, " +
      "CAST((su * 2 + n_bigrams * 100) // (n_bigrams * 200) AS DOUBLE) / 10000 AS avg_surprisal2 " +
      "FROM d ORDER BY doc_id"

  // ------------------------------------------------------------------
  // embed_top_component — dominant direction via power iteration
  // ------------------------------------------------------------------

  /** The corpus's dominant embedding direction (top eigenvector of the
    * uncentered Gram matrix) by THREE power iterations — the "common
    * direction" that anisotropy-removal pipelines subtract after the
    * per-label centering of embed_mean_center. Numerical linear algebra as
    * a relational plan: one iteration is two joins (dims⋈v on pos → per-doc
    * dot; dims⋈dots on vec_id → per-dim sum), both partial-aggregable.
    *
    * Determinism is the PageRank discipline applied to linear algebra:
    * components live on integer grids (x ⇒ round(x·1e6); v normalized to
    * max |v_i| = 1000 each round by floor division), per-doc dots are
    * BIGINT folds (≤ 64·1e6·1e3 = 6.4e10), per-dim sums route through
    * DECIMAL(38)/HUGEINT (products ≤ 6.4e16, corpus sums overflow int64 —
    * exact in both engines' wide types), and the one double division per
    * round divides identical exact values. No sqrt, no norm — max-abs
    * rescaling replaces L2 normalization precisely to avoid the
    * transcendental. Sign is fixed by the deterministic all-positive v0.
    *
    * Three rounds are the declared demonstrator: this synthetic corpus is
    * near-isotropic (λ2/λ1 ≈ 0.93), so full eigenvector ALIGNMENT needs
    * ~50 rounds — what three rounds owe us, and what AnalyticsSpec pins,
    * is monotone Rayleigh-quotient ascent plus bit-equality with the
    * integer reference. A production run would unroll to a gap-dependent
    * depth; AQE stage reuse keeps the scan count at one regardless (the
    * graph_pagerank measurement).
    */
  private def embedTopComponent(s: SparkSession, dir: String): DataFrame = {
    val dims = embedVecs(s, dir)
      .select(col("vec_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos"), round(col("x") * 1e6, 0).cast("long").as("x6"))
    var v = dims.select("pos").distinct().select(col("pos"), lit(1000L).as("vv"))
    for (_ <- 1 to 3) {
      val dots = dims
        .join(broadcast(v), "pos")
        .groupBy("vec_id")
        .agg(sum(col("x6") * col("vv")).as("dot"))
      val m = dims
        .join(dots, "vec_id")
        .groupBy("pos")
        .agg(sum((col("x6") * col("dot")).cast(DecimalType(38, 0))).as("m"))
      val sMax = m.agg(max(abs(col("m"))).as("s"))
      v = m
        .crossJoin(broadcast(sMax))
        .select(
          col("pos"),
          floor(col("m").cast("double") / col("s").cast("double") * 1000).cast("long").as("vv"),
        )
    }
    v.select(col("pos").cast("long").as("pos"), col("vv")).orderBy("pos")
  }

  private val embedTopComponentSql = {
    def iter(prevV: String, n: Int): String =
      s"d$n AS (SELECT vec_id, sum(x6 * vv) AS dot FROM dims JOIN $prevV USING (pos) GROUP BY 1), " +
        s"m$n AS (SELECT pos, sum(x6 * dot) AS m FROM dims JOIN d$n USING (vec_id) GROUP BY 1), " +
        s"s$n AS (SELECT max(abs(m)) AS s FROM m$n), " +
        s"v$n AS (SELECT pos, CAST(floor(CAST(m AS DOUBLE) / CAST(s AS DOUBLE) * 1000) AS BIGINT) AS vv FROM m$n, s$n)"
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      // Spark's posexplode is 0-based, DuckDB lambdas 1-based: align on 0-based
      "dims AS (SELECT vec_id, u.pos - 1 AS pos, u.x6 AS x6 FROM " +
      "(SELECT vec_id, unnest(list_transform(v, (x, i) -> " +
      "{'pos': i, 'x6': CAST(round(x * 1e6, 0) AS BIGINT)})) AS u FROM e) q), " +
      "v0 AS (SELECT DISTINCT pos, 1000::BIGINT AS vv FROM dims), " +
      iter("v0", 1) + ", " + iter("v1", 2) + ", " + iter("v2", 3) + " " +
      "SELECT CAST(pos AS BIGINT) AS pos, vv FROM v3 ORDER BY pos"
  }

  // ------------------------------------------------------------------
  // text_unigram_surprisal — LM-style per-doc surprisal scoring
  // ------------------------------------------------------------------

  /** Unigram language-model surprisal per document: train token
    * frequencies on the corpus itself, score each doc by the mean
    * −ln p(token) of its tokens. High surprisal = off-distribution text —
    * the model-based quality signal that complements the rule-based
    * text_quality / filter_quality_rules gates. Per-token surprisal is
    * rounded to 6 decimals, then the doc mean runs through exact DECIMAL
    * summation (order-free, SURVEY §2.0 rule 2 discipline).
    */
  private def textUnigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables
      .documents(s, dir)
      .select(col("doc_id"), explode(split(Text.normText(col("text")), " ")).as("term"))
    val freq = toks.groupBy("term").agg(nrows.as("c"))
    val total = freq.agg(sum("c").as("t")) // 1-row frame, enters as a broadcast
    val scored = freq
      .crossJoin(broadcast(total))
      .select(
        col("term"),
        round(-log(col("c").cast("double") / col("t").cast("double")), 6)
          .cast(DecimalType(18, 6))
          .as("s6"),
      )
    // integer-exact half-up grid average (see filterSurprisalBand's r10
    // note: the double-division round flips exact-half quotients at sf1)
    toks
      .join(scored, "term")
      .groupBy("doc_id")
      .agg(
        nrows.as("n_tokens"),
        (sum(col("s6")) * lit(1000000)).cast("long").as("su"),
      )
      .select(
        col("doc_id"),
        col("n_tokens"),
        (expr("(su * 2 + n_tokens * 100) div (n_tokens * 200)").cast("double") / 10000)
          .as("avg_surprisal"),
      )
      .orderBy("doc_id")
  }

  /** Shared unigram-LM CTE prefix (toks → freq → total → scored(term, s6))
    * — interpolated by both textUnigramSurprisalSql and
    * filterSurprisalBandSql so the declared LM cannot drift between the
    * scoring op and the filter built on it (the clustersCteSql rule).
    */
  private val unigramLmCteSql =
    "WITH toks AS (SELECT doc_id, unnest(string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ')) AS term FROM documents), " +
      "freq AS (SELECT term, count(*) AS c FROM toks GROUP BY 1), " +
      "total AS (SELECT sum(c) AS t FROM freq), " +
      "scored AS (SELECT term, CAST(round(-ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)), 6) AS DECIMAL(18,6)) AS s6 " +
      "FROM freq CROSS JOIN total)"

  private val textUnigramSurprisalSql =
    unigramLmCteSql + ", " +
      "d AS (SELECT doc_id, count(*) AS n_tokens, CAST(sum(s6) * 1000000 AS BIGINT) AS su " +
      "FROM toks JOIN scored USING (term) GROUP BY doc_id) " +
      "SELECT doc_id, n_tokens, " +
      "CAST((su * 2 + n_tokens * 100) // (n_tokens * 200) AS DOUBLE) / 10000 AS avg_surprisal " +
      "FROM d ORDER BY doc_id"

  // ------------------------------------------------------------------
  // agg_quantile_binned — mergeable histogram quantiles
  // ------------------------------------------------------------------

  /** Percentiles from a fixed-width histogram sketch: prices bin at $100
    * granularity, the (bin, count) histogram is mergeable by plain addition
    * (partial aggregation IS the merge), and the p50/p90/p99 estimate is
    * the lower edge of the first bin whose cumulative count reaches
    * ceil(q·N). This is the 100 TB percentile path — `agg_percentile_exact`
    * needs the full value multiset per group, while this sketch is
    * |bins|-bounded no matter the corpus — and unlike `agg_approx_percentile`
    * (engine-specific KLL/GK internals, rows-only) every step is exact
    * integer arithmetic, so the whole approximate path hash-checks against
    * the oracle. `err_vs_exact` (estimate − true interpolated percentile)
    * is bounded by the bin width; AnalyticsSpec asserts it.
    */
  private val BinW = 100.0

  private def aggQuantileBinned(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables
      .lineitem(s, dir)
      .groupBy(floor(col("l_extendedprice") / BinW).cast("long").as("bin"))
      .agg(nrows.as("c"))
    val cum = hist
      // BOUNDEDNESS: this unpartitioned cumsum runs over the binned
      // HISTOGRAM (price_range / BinW ≈ 1e3 rows), not lineitem — the
      // bench-tail "No Partition Defined" WindowExec warning is deliberate.
      .withColumn(
        "cumc",
        sum("c").over(
          Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
      )
      .crossJoin(broadcast(hist.agg(sum("c").as("n")))) // 1-row total
    // the estimate side joins cum against LITERAL q rows only; the exact-
    // percentile aggregate stays a separate 1-row frame attached at the
    // very end via CASE. Joining cum directly against the percentile-
    // DERIVED 3-row frame measured 4-5 s at sf0.1 (the broadcast of the
    // ObjectHashAggregate subplan dominates, repeatably) where this shape
    // is 0.3 s — same rows, same values.
    val qlit = s.range(1).select(explode(array(lit(0.5), lit(0.9), lit(0.99))).as("q"))
    val est3 = cum
      .crossJoin(broadcast(qlit))
      .filter(col("cumc") >= ceil(col("q") * col("n")))
      .groupBy("q")
      .agg(min("bin").as("qbin"))
    val exact1 = Tables
      .lineitem(s, dir)
      .agg(
        round(percentile(col("l_extendedprice"), lit(0.5)), 4).as("e50"),
        round(percentile(col("l_extendedprice"), lit(0.9)), 4).as("e90"),
        round(percentile(col("l_extendedprice"), lit(0.99)), 4).as("e99"),
      )
    est3
      .crossJoin(broadcast(exact1))
      .withColumn(
        "exact_q",
        when(col("q") === 0.5, col("e50"))
          .when(col("q") === 0.9, col("e90"))
          .otherwise(col("e99")),
      )
      .select(
        col("q"),
        (col("qbin") * BinW).as("est_q"),
        col("exact_q"),
        round(col("qbin") * BinW - col("exact_q"), 4).as("err_vs_exact"),
      )
      .orderBy("q")
  }

  private val aggQuantileBinnedSql =
    "WITH hist AS (SELECT CAST(floor(l_extendedprice / 100.0) AS BIGINT) AS bin, count(*) AS c " +
      "FROM lineitem GROUP BY 1), " +
      "cum AS (SELECT bin, sum(c) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc, " +
      "(SELECT sum(c) FROM hist) AS n FROM hist), " +
      // explicit rows: DuckDB quantile_cont takes only CONSTANT percentiles,
      // and bare 0.5 parses as DECIMAL (banned in declared output) — cast
      "exact AS (" +
      Seq(0.5, 0.9, 0.99)
        .map(q =>
          s"SELECT CAST($q AS DOUBLE) AS q, round(quantile_cont(l_extendedprice, $q), 4) AS exact_q FROM lineitem"
        )
        .mkString(" UNION ALL ") + ") " +
      "SELECT e.q AS q, min(bin) * CAST(100.0 AS DOUBLE) AS est_q, e.exact_q, " +
      "round(min(bin) * CAST(100.0 AS DOUBLE) - e.exact_q, 4) AS err_vs_exact " +
      "FROM cum JOIN exact e ON cumc >= ceil(e.q * n) " +
      "GROUP BY e.q, e.exact_q ORDER BY q"

  // ------------------------------------------------------------------
  // anomaly_daily_volume — z-score outliers on exact integer moments
  // ------------------------------------------------------------------

  /** Volume-anomaly detection: each (event_type, day) count z-scored
    * against that type's daily distribution. Both moments come from EXACT
    * integer sums (Σc and Σc² in BIGINT — counts are integers, so no float
    * accumulation anywhere): mean = Σc/n and var = (n·Σc² − (Σc)²)/(n(n−1))
    * are single double divisions of exact integers, deterministic in both
    * engines where stddev_samp's internal accumulation order would not be.
    * The anomaly flag gates on the raw z (same rationale as
    * sim_threshold_pairs); the rounded z is display precision.
    */
  private def anomalyDailyVolume(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables
      .events(s, dir)
      .groupBy(col("event_type"), date_format(col("etime"), "yyyy-MM-dd").as("day"))
      .agg(nrows.as("n_events"))
    val stats = daily
      .groupBy("event_type")
      .agg(
        nrows.as("n_days"),
        sum("n_events").as("s1"),
        sum(col("n_events") * col("n_events")).as("s2"),
      )
      .withColumn("mean", col("s1").cast("double") / col("n_days"))
      .withColumn(
        "sd",
        sqrt(
          (col("n_days") * col("s2") - col("s1") * col("s1")).cast("double") /
            (col("n_days") * (col("n_days") - 1))
        ),
      )
      .select("event_type", "mean", "sd")
    daily
      .join(broadcast(stats), "event_type") // |event types| rows
      .withColumn("z", (col("n_events") - col("mean")) / col("sd"))
      .select(
        col("event_type"),
        col("day"),
        col("n_events"),
        round(col("z"), 4).as("z"),
        (abs(col("z")) >= 2.0).as("is_anomaly"),
      )
      .orderBy("event_type", "day")
  }

  private val anomalyDailyVolumeSql =
    "WITH daily AS (SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day, " +
      "count(*) AS n_events FROM events GROUP BY 1, 2), " +
      "stats AS (SELECT event_type, count(*) AS n_days, sum(n_events) AS s1, " +
      "sum(n_events * n_events) AS s2 FROM daily GROUP BY 1), " +
      "z AS (SELECT d.event_type, d.day, d.n_events, " +
      "(d.n_events - CAST(s1 AS DOUBLE) / n_days) / " +
      "sqrt(CAST(n_days * s2 - s1 * s1 AS DOUBLE) / (n_days * (n_days - 1))) AS z " +
      "FROM daily d JOIN stats USING (event_type)) " +
      "SELECT event_type, day, n_events, round(z, 4) AS z, abs(z) >= 2.0 AS is_anomaly " +
      "FROM z ORDER BY event_type, day"

  /** Perplexity-BAND quality filter (the CCNet recipe): score every doc by
    * its mean token surprisal under the corpus unigram LM (same model as
    * text_unigram_surprisal), then keep the middle of the distribution —
    * docs far BELOW the band are degenerate/boilerplate (too predictable),
    * docs far above are noise/garbled (too random). The P10/P90 band edges
    * are DISCRETE percentiles computed from the score histogram: per-doc
    * scores land on a 1e-4 grid (round(4) → ×10⁴ → exact BIGINT), the
    * (s4, count) histogram is mergeable by addition, and the edge is the
    * smallest s4 whose cumulative count reaches ceil(q·n) — ceil done as
    * `(q·n + 9) div 10` pure-integer, so both engines pick the identical
    * grid value and the band comparison can never straddle a float
    * boundary (percentile_disc semantics, the same 100 TB shape as
    * agg_quantile_binned: the only unbounded aggregations are token/doc
    * groupBys; the percentile scan is |score grid|-bounded).
    */
  private def filterSurprisalBand(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables
      .spreadSmallScan(s, dir, "documents", Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), explode(split(Text.normText(col("text")), " ")).as("term"))
    val freq = toks.groupBy("term").agg(nrows.as("c"))
    val total = freq.agg(sum("c").as("t"))
    val scored = freq
      .crossJoin(broadcast(total))
      .select(
        col("term"),
        round(-log(col("c").cast("double") / col("t").cast("double")), 6)
          .cast(DecimalType(18, 6))
          .as("s6"),
      )
    // r10 sf1 fix: the old round(decimal-sum-as-double / n, 4) flipped the
    // 4th decimal on exact-half quotients — with a 31-word vocabulary many
    // docs share a composition, so at sf1 whole composition classes landed
    // on halves and ~4% of rows disagreed with DuckDB's float-multiply
    // round. Now the grid value is PURE-INTEGER half-up arithmetic:
    // su = Σ s6 in exact micros, s4 = ⌊(2·su + 100n) / (200n)⌋ ≡
    // round-half-up(su / (100n)), and avg_surprisal is the exact double
    // s4/10⁴ — no engine's round() ever touches a boundary.
    val d4 = toks
      .join(scored, "term")
      .groupBy("doc_id")
      .agg(
        (sum(col("s6")) * lit(1000000)).cast("long").as("su"),
        count(lit(1)).as("n"),
      )
      .select(
        col("doc_id"),
        expr("(su * 2 + n * 100) div (n * 200)").as("s4"),
      )
      .withColumn("avg_surprisal", col("s4").cast("double") / 10000)
    val hist = d4.groupBy("s4").agg(nrows.as("c"))
    // cumsum over the score histogram through ScaleRank's two-stage
    // range-split lift — the grid is only ~4e5 distinct s4 values, but that
    // was the window allowlist's loosest cardinality proof, and the
    // distributed shape costs nothing extra while never putting the grid
    // through one task (r7 verdict #7). s4 is distinct after the groupBy,
    // so ordering by it is the strict total order rankedFrame requires;
    // __cum is bit-identical to the single-task running sum by the
    // ScaleRank law.
    val cum = ScaleRank
      .rankedFrame(hist, Nil, Seq(col("s4")), Some("c"))
      .withColumnRenamed("__cum", "cum")
    // __seg_sum is rankedFrame's whole-frame total of c (= n docs), so the
    // threshold scan needs no separate total aggregate
    val th = cum
      .agg(
        min(when(col("cum") >= expr("(__seg_sum + 9) div 10"), col("s4"))).as("lo"),
        min(when(col("cum") >= expr("(9 * __seg_sum + 9) div 10"), col("s4"))).as("hi"),
      )
    d4.crossJoin(broadcast(th))
      .select(
        col("doc_id"),
        col("avg_surprisal"),
        (col("s4") >= col("lo") && col("s4") <= col("hi")).as("keep"),
      )
      .orderBy("doc_id")
  }

  private val filterSurprisalBandSql =
    unigramLmCteSql + ", " +
      "d AS (SELECT doc_id, CAST(sum(s6) * 1000000 AS BIGINT) AS su, count(*) AS n " +
      "FROM toks JOIN scored USING (term) GROUP BY doc_id), " +
      "d4 AS (SELECT doc_id, (su * 2 + n * 100) // (n * 200) AS s4, " +
      "CAST((su * 2 + n * 100) // (n * 200) AS DOUBLE) / 10000 AS avg_surprisal FROM d), " +
      "hist AS (SELECT s4, count(*) AS c FROM d4 GROUP BY 1), " +
      "cum AS (SELECT s4, sum(c) OVER (ORDER BY s4) AS cum FROM hist), " +
      "nn AS (SELECT count(*) AS n FROM d4), " +
      "th AS (SELECT min(CASE WHEN cum >= (n + 9) // 10 THEN s4 END) AS lo, " +
      "min(CASE WHEN cum >= (9 * n + 9) // 10 THEN s4 END) AS hi FROM cum, nn) " +
      "SELECT doc_id, avg_surprisal, (s4 >= lo AND s4 <= hi) AS keep FROM d4, th ORDER BY doc_id"

  // ------------------------------------------------------------------
  // agg_hdr_histogram — log2-bucketed latency histogram + SLO percentiles
  // ------------------------------------------------------------------

  /** HDR-style latency histogram: event values (as exact cents) bucket by
    * their binary magnitude — bucket = len(bin(cents)), i.e. floor(log2)+1,
    * a PURE STRING-LENGTH op with no floating-point boundary (floor(log2(x))
    * flips at exact powers of two differently per libm; `bin()` cannot).
    * Log-spaced buckets give constant RELATIVE error — the latency-SLO
    * reporting shape — where the fixed-width sibling `agg_quantile_binned`
    * gives constant absolute error. p50/p95/p99 markers are the first
    * bucket whose cumulative count reaches ceil(q·N), all integer
    * arithmetic. |buckets| ≤ 64 by construction, so the histogram is
    * mergeable by addition and O(1)-sized at any corpus scale.
    */
  private def aggHdrHistogram(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables
      .events(s, dir)
      .filter(col("value") > 0)
      .groupBy(length(bin(expr("CAST(round(value * 100, 0) AS BIGINT)"))).cast("long").as("bucket"))
      .agg(nrows.as("n"))
    hist
      // BOUNDEDNESS: unpartitioned cumsum over the ≤64-row bucket frame
      .withColumn(
        "cum",
        sum("n").over(Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)),
      )
      .crossJoin(broadcast(hist.agg(sum("n").as("total")))) // 1-row total
      .select(
        col("bucket"),
        expr("shiftleft(1L, CAST(bucket AS INT) - 1)").as("lo_cents"),
        expr("shiftleft(1L, CAST(bucket AS INT)) - 1").as("hi_cents"),
        col("n"),
        col("cum"),
        expr("cum - n < (total + 1) div 2 AND (total + 1) div 2 <= cum").as("is_p50"),
        expr("cum - n < (19 * total + 19) div 20 AND (19 * total + 19) div 20 <= cum").as("is_p95"),
        expr("cum - n < (99 * total + 99) div 100 AND (99 * total + 99) div 100 <= cum").as("is_p99"),
      )
      .orderBy("bucket")
  }

  private val aggHdrHistogramSql =
    "WITH h AS (SELECT CAST(length(bin(CAST(round(value * 100, 0) AS BIGINT))) AS BIGINT) AS bucket, " +
      "CAST(count(*) AS BIGINT) AS n FROM events WHERE value > 0 GROUP BY 1), " +
      "c AS (SELECT *, CAST(sum(n) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM h), " +
      "t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM h) " +
      "SELECT bucket, CAST(1::BIGINT << (CAST(bucket AS INT) - 1) AS BIGINT) AS lo_cents, " +
      "CAST((1::BIGINT << CAST(bucket AS INT)) - 1 AS BIGINT) AS hi_cents, n, cum, " +
      "(cum - n < (total + 1) // 2 AND (total + 1) // 2 <= cum) AS is_p50, " +
      "(cum - n < (19 * total + 19) // 20 AND (19 * total + 19) // 20 <= cum) AS is_p95, " +
      "(cum - n < (99 * total + 99) // 100 AND (99 * total + 99) // 100 <= cum) AS is_p99 " +
      "FROM c, t ORDER BY bucket"

  val entries: Seq[QueryDef] = Seq(
    QueryDef("agg_hdr_histogram", aggHdrHistogram, Some(aggHdrHistogramSql)),
    QueryDef("filter_surprisal_band", filterSurprisalBand, Some(filterSurprisalBandSql)),
    QueryDef("agg_heavy_hitters", aggHeavyHitters, Some(aggHeavyHittersSql)),
    QueryDef("funnel_conversion", funnelConversion, Some(funnelConversionSql)),
    QueryDef("retention_cohort", retentionCohort, Some(retentionCohortSql)),
    QueryDef("win_cumulative_distinct", winCumulativeDistinct, Some(winCumulativeDistinctSql)),
    QueryDef("win_streak_detection", winStreakDetection, Some(winStreakDetectionSql)),
    QueryDef("ts_period_over_period", tsPeriodOverPeriod, Some(tsPeriodOverPeriodSql)),
    QueryDef("ts_gap_fill", tsGapFill, Some(tsGapFillSql)),
    QueryDef("dq_expectations", dqExpectations, Some(dqExpectationsSql)),
    QueryDef("dq_drift_psi", dqDriftPsi, Some(dqDriftPsiSql)),
    QueryDef("ts_outlier_mad", tsOutlierMad, Some(tsOutlierMadSql)),
    QueryDef("embed_centroid_dist", embedCentroidDist, Some(embedCentroidDistSql)),
    QueryDef("embed_mean_center", embedMeanCenter, Some(embedMeanCenterSql)),
    QueryDef("embed_top_component", embedTopComponent, Some(embedTopComponentSql)),
    QueryDef("agg_mode_exact", aggModeExact, Some(aggModeExactSql)),
    QueryDef("win_moving_avg_centered", winMovingAvgCentered, Some(winMovingAvgCenteredSql)),
    QueryDef("fn_to_json", fnToJson, Some(fnToJsonSql)),
    QueryDef("agg_corr_exact", aggCorrExact, Some(aggCorrExactSql)),
    QueryDef("text_bigram_surprisal", textBigramSurprisal, Some(textBigramSurprisalSql)),
    QueryDef("agg_skew_kurtosis", aggSkewKurtosis, Some(aggSkewKurtosisSql)),
    QueryDef("text_unigram_surprisal", textUnigramSurprisal, Some(textUnigramSurprisalSql)),
    QueryDef("agg_quantile_binned", aggQuantileBinned, Some(aggQuantileBinnedSql)),
    QueryDef("anomaly_daily_volume", anomalyDailyVolume, Some(anomalyDailyVolumeSql)),
  )
}
