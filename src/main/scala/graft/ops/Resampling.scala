package graft.ops

import graft.{QueryDef, Tables}
import graft.Qf._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-6 batch 2 — resampling, anomaly & content-mining verbs: the
  * Poisson bootstrap (THE map-side resampling method at cluster scale),
  * neighbor-set Jaccard link scores, trailing-median burst detection,
  * RAKE-style keyword extraction, per-group z-score feature scaling, and a
  * rate-limit abuse audit.
  *
  * Determinism doctrine (SURVEY.md §2.0): integer-first throughout —
  * bootstrap weights come from hard-coded integer thresholds on the 2⁵²
  * md5 grid, burst flags compare exact integers, RAKE scores are integer
  * ppm, and the z-score's μ/σ are doubles derived once per group from
  * exact decimal moments (identical operands both engines).
  *
  * Scale doctrine, per op:
  *   - stats_bootstrap_ci: the POINT of the Poisson bootstrap — each row
  *     draws its replicate weights independently (hash-seeded, no shared
  *     state, no resample shuffle), so B replicates cost one map-side
  *     B-fan-out + one |B|-row aggregate. The classic index-resample
  *     bootstrap is impossible at 100 TB; this one is embarrassingly
  *     parallel.
  *   - graph_jaccard_neighbors: same per-part pair generation bound as
  *     graph_adamic_adar (Σ df², never |nodes|²); degree frames join the
  *     PAIR AGGREGATE (|pairs| rows), not the pair stream.
  *   - ts_burst_detection: span-bounded daily frames; the trailing-median
  *     window is 7-ROW bounded; islands merge rides the same per-type
  *     partitioning.
  *   - text_keyword_rake: phrase splitting is pure per-row string work
  *     (zero shuffles until the vocabulary-bounded word-stat aggregate);
  *     the word-score join is vocabulary-bounded.
  *   - feature_scale_zscore: μ/σ from ONE exact-decimal moment aggregate
  *     (|groups| rows, broadcast back); the scan never shuffles.
  *   - ts_rate_limit_audit: (user, minute) pre-aggregation partial-combines
  *     map-side; output is |users|-bounded.
  */
object Resampling {

  // ------------------------------------------------------------------
  // stats_bootstrap_ci — Poisson(1) bootstrap CI of the mean order value
  // ------------------------------------------------------------------

  /** 95% bootstrap confidence interval for the mean order total via the
    * Poisson bootstrap (B = 50 replicates): each (row, replicate) pair
    * draws a weight w ~ Poisson(1) deterministically — a per-row md5-seeded
    * uniform stream (see the body comment) against hard-coded integer
    * thresholds floor(CDF(k)·2⁵²), truncated at w = 9 (mass 1.1e-6; the
    * truncation is part of the DEFINED statistic). Replicate means are
    * single divisions of exact cent sums; the CI is the 2nd/49th order
    * statistic of the 50 replicate means (percentile-bootstrap at
    * 2.5%/97.5% with ceil indexing). At 100 TB: the fan-out is map-side
    * (no state, no extra shuffle) and the replicate aggregate is B rows.
    */
  private val PoissonCdf52 = Seq(
    1656781714176974L, 3313563428353948L, 4141954285442435L, 4418084571138597L,
    4487117142562638L, 4500923656847446L, 4503224742561580L, 4503553469092171L,
    4503594559908495L,
  )
  private val BootB = 50

  private def poissonW(u: Column): Column =
    PoissonCdf52.zipWithIndex.foldRight(lit(PoissonCdf52.length.toLong)) {
      case ((t, k), rest) => when(u < t, k.toLong).otherwise(rest)
    }

  private def statsBootstrapCi(s: SparkSession, dir: String): DataFrame = {
    // ONE md5 per ROW, not per (row, replicate): the portable-hash
    // arithmetic (md5 + hex conv) measured 7.5 s at sf0.1 when run per
    // fan-out row vs 0.19 s for the fan-out itself (Scratch A/B, r6).
    // The md5's two 52-bit halves seed a per-row replicate stream
    // u_b = h1 XOR (b·h2 mod 2^52) — marginally uniform, pairwise-
    // independent across replicates (the difference (b−b')·h2 mod 2^52 is
    // uniform over h2), which is the independence grade a bootstrap
    // variance needs; every op is exact int64 (b·h2 ≤ 50·2^52 < 2^58), so
    // both engines produce identical weights. At 100 TB the same shape
    // holds — or swap in engine-native 64-bit hashing when cross-engine
    // parity isn't required.
    val rows = Tables
      // task-floor spread (r17): the per-row md5 + 50-replicate fan-out ran
      // 0.5 s CPU in ONE task off the one-split scan
      .spreadSmallScan(
        s, dir, "orders",
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
        col("o_orderkey"),
      )
      .select(
        col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("c"),
        md5(concat(lit("bs#"), col("o_orderkey").cast("string"))).as("h"),
      )
      .select(
        col("o_orderkey"),
        col("c"),
        conv(substring(col("h"), 1, 13), 16, 10).cast("long").as("h1"),
        conv(substring(col("h"), 14, 13), 16, 10).cast("long").as("h2"),
      )
      .select(
        col("c"),
        col("h1"),
        col("h2"),
        explode(expr(s"sequence(1, $BootB)")).as("b"),
      )
      .withColumn("u", expr("h1 ^ ((CAST(b AS BIGINT) * h2) % 4503599627370496)"))
      .withColumn("w", poissonW(col("u")))
    val reps = rows
      .groupBy("b")
      .agg(sum(col("w") * col("c")).as("swc"), sum("w").as("sw"))
      .withColumn("mean_b", col("swc").cast("double") / (col("sw") * lit(100L)).cast("double"))
    // 50-row replicate frame: the unpartitioned rank window is B-bounded
    val rn = row_number().over(Window.orderBy(col("mean_b"), col("b")))
    val ci = reps
      .withColumn("rn", rn)
      .filter(col("rn") === 2 || col("rn") === BootB - 1)
      .groupBy()
      .agg(min("mean_b").as("lo"), max("mean_b").as("hi"))
    val point = Tables
      .orders(s, dir)
      .agg(
        nrows.as("n"),
        (sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).cast("double") / lit(100.0))
          .as("sum_d"),
      )
      .select(col("n"), round(col("sum_d") / col("n"), 6).as("mean"))
    point
      .join(broadcast(ci)) // 1-row CI frame
      .select(col("n"), col("mean"), round(col("lo"), 6).as("ci_lo"), round(col("hi"), 6).as("ci_hi"))
  }

  private val statsBootstrapCiSql = {
    val cases = PoissonCdf52.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN $k" }
      .mkString(" ")
    s"WITH seeded AS (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c, " +
      "('0x' || substr(md5('bs#' || o_orderkey), 1, 13))::BIGINT AS h1, " +
      "('0x' || substr(md5('bs#' || o_orderkey), 14, 13))::BIGINT AS h2 FROM orders), " +
      s"fan AS (SELECT c, h1, h2, b FROM seeded, (SELECT unnest(range(1, ${BootB + 1})) AS b)), " +
      s"ww AS (SELECT c, b, CASE $cases ELSE ${PoissonCdf52.length} END AS w " +
      "FROM (SELECT *, xor(h1, (b * h2) % 4503599627370496) AS u FROM fan)), " +
      "reps AS (SELECT b, CAST(sum(w * c) AS BIGINT) AS swc, CAST(sum(w) AS BIGINT) AS sw FROM ww GROUP BY 1), " +
      "m AS (SELECT b, CAST(swc AS DOUBLE) / CAST(sw * 100 AS DOUBLE) AS mean_b FROM reps), " +
      "r AS (SELECT mean_b, row_number() OVER (ORDER BY mean_b, b) AS rn FROM m), " +
      s"ci AS (SELECT min(mean_b) AS lo, max(mean_b) AS hi FROM r WHERE rn IN (2, ${BootB - 1})), " +
      "pt AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
      "round(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 / count(*), 6) AS mean " +
      "FROM orders) " +
      "SELECT n, mean, round(lo, 6) AS ci_lo, round(hi, 6) AS ci_hi FROM pt, ci"
  }

  // ------------------------------------------------------------------
  // graph_jaccard_neighbors — neighbor-set similarity between suppliers
  // ------------------------------------------------------------------

  /** Jaccard similarity of supplier part-neighborhoods: |A∩B|/|A∪B| over
    * the parts each supplier stocks — the structural-equivalence companion
    * of graph_adamic_adar (which weights shared neighbors; this normalizes
    * by set size). The intersection comes from the per-part pair self-join
    * (Σ df² bound); degrees join the |pairs|-bounded AGGREGATE, not the
    * pair stream; jac_ppm = inter·10⁶ div (da + db − inter) is all-integer.
    */
  private def graphJaccardNeighbors(s: SparkSession, dir: String): DataFrame = {
    // scale path (r15): sized + checkpointed raw-row distinct (byte-gated —
    // see Modeling.sizedDistinct); sp is referenced 4× (deg, pairable, both
    // pair sides), so the checkpoint also turns those into block reads
    val sp = Modeling.sizedDistinct(
      s, dir, Tables.lineitem(s, dir).select(col("l_partkey").as("p"), col("l_suppkey").as("sk")),
      spreadKeys = Seq("p")) // the pair-join key (r17 task-floor branch)
    val deg = sp.groupBy("sk").agg(nrows.as("d"))
    // two-sided support on the PAIR side only (degrees for the jaccard
    // denominator stay computed on the full sp): df >= 2 keeps hapax parts
    // off the pair shuffle entirely (they generate no pairs), df <= cap is
    // the hub cap bounding per-key pair fan-out at cap² (Modeling
    // .PairDegreeCap doc); both sides mirrored in the oracle SQL
    val spb = sp.join(Modeling.pairableKeys(sp, "p", Modeling.PairDegreeCap), Seq("p"), "left_semi")
    val pairs = spb
      .withColumnRenamed("sk", "s2")
      .join(spb, Seq("p"))
      .filter(col("sk") < col("s2"))
    // scale path (r14): above the byte gate, spread the pair aggregate
    // over work-proportional partitions — see Modeling.pairAggPartitions
    val inter = Modeling
      .pairAggPartitions(s, dir)
      .map(n => pairs.repartition(n, col("sk"), col("s2")))
      .getOrElse(pairs)
      .groupBy(col("sk").as("s1"), col("s2"))
      .agg(nrows.as("inter"))
    inter
      .join(broadcast(deg.select(col("sk").as("s1"), col("d").as("da"))), "s1")
      .join(broadcast(deg.select(col("sk").as("s2"), col("d").as("db"))), "s2")
      .select(
        col("s1"),
        col("s2"),
        col("inter"),
        expr("inter * 1000000 div (da + db - inter)").as("jac_ppm"),
      )
      .orderBy(col("jac_ppm").desc, col("s1"), col("s2"))
      .limit(50)
  }

  private val graphJaccardNeighborsSql =
    "WITH sp AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem), " +
      "deg AS (SELECT sk, CAST(count(*) AS BIGINT) AS d FROM sp GROUP BY 1), " +
      "ok AS (SELECT p FROM sp GROUP BY 1 " +
      s"HAVING count(*) >= 2 AND count(*) <= ${Modeling.PairDegreeCap}), " +
      "spb AS (SELECT sp.p, sp.sk FROM sp JOIN ok ON sp.p = ok.p), " +
      "it AS (SELECT a.sk AS s1, b.sk AS s2, CAST(count(*) AS BIGINT) AS inter " +
      "FROM spb a JOIN spb b ON a.p = b.p AND a.sk < b.sk GROUP BY 1, 2) " +
      "SELECT s1, s2, inter, CAST(inter * 1000000 // (da.d + db.d - inter) AS BIGINT) AS jac_ppm " +
      "FROM it JOIN deg da ON da.sk = it.s1 JOIN deg db ON db.sk = it.s2 " +
      "ORDER BY jac_ppm DESC, s1, s2 LIMIT 50"

  // ------------------------------------------------------------------
  // ts_burst_detection — trailing-median volume bursts per event type
  // ------------------------------------------------------------------

  /** Burst detection on daily event volume: a day is bursting when its
    * count exceeds the trailing 7-day median by more than 2 Poisson
    * standard deviations — spelled integer-exactly as c > med AND
    * (c − med)² > 4·med, so the rule adapts to series scale (a fixed
    * multiplicative threshold goes silent as relative noise shrinks
    * ~1/√n: measured 0 burst days at sf0.1 for the 2× rule vs 2 for this
    * one). The baseline window is strictly PRIOR days, so a burst can't
    * contaminate its own baseline; the first 7 days of a series are
    * ineligible by definition. Consecutive bursting days merge into
    * maximal intervals via gaps-and-islands. The 7-row trailing frame has
    * an odd count, so the median is the 4th order statistic — an exact
    * INTEGER. Spans/medians all ride the per-type partitioning.
    */
  private def tsBurstDetection(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables
      .events(s, dir)
      .groupBy(col("event_type"), to_date(col("etime")).as("day"))
      .agg(nrows.as("c"))
    val wTrail = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    val flagged = daily
      .withColumn("win", sort_array(collect_list(col("c")).over(wTrail)))
      .filter(size(col("win")) === 7)
      .withColumn("med", element_at(col("win"), 4))
      .filter(
        col("c") > col("med") &&
          (col("c") - col("med")) * (col("c") - col("med")) > lit(4L) * col("med")
      )
    val wIsl = Window.partitionBy("event_type").orderBy("day")
    flagged
      .withColumn("island", date_sub(col("day"), row_number().over(wIsl)))
      .groupBy("event_type", "island")
      .agg(
        min("day").as("start_day"),
        max("day").as("end_day"),
        nrows.as("n_days"),
        max("c").as("peak"),
        sum("c").as("total"),
      )
      .drop("island")
      .orderBy("event_type", "start_day")
  }

  private val tsBurstDetectionSql =
    "WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c " +
      "FROM events GROUP BY 1, 2), " +
      "w AS (SELECT event_type, day, c, " +
      "list_sort(list(c) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)) AS win " +
      "FROM daily), " +
      "f AS (SELECT event_type, day, c FROM w WHERE len(win) = 7 AND c > win[4] " +
      "AND (c - win[4]) * (c - win[4]) > 4 * win[4]), " +
      "isl AS (SELECT event_type, day, c, " +
      "day - CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS INT) AS island FROM f) " +
      "SELECT event_type, min(day) AS start_day, max(day) AS end_day, CAST(count(*) AS BIGINT) AS n_days, " +
      "CAST(max(c) AS BIGINT) AS peak, CAST(sum(c) AS BIGINT) AS total " +
      "FROM isl GROUP BY event_type, island ORDER BY event_type, start_day"

  // ------------------------------------------------------------------
  // text_keyword_rake — RAKE-style keyword extraction
  // ------------------------------------------------------------------

  /** RAKE-style corpus keyword extraction: candidate phrases are maximal
    * stopword-free word runs (capped at 3 words), each word scores
    * deg/freq (deg = Σ phrase length over its occurrences — co-occurrence
    * degree; freq = occurrence count), and a phrase scores the sum of its
    * words' scores. Word scores are integer-ized (deg·10⁶ div freq) so the
    * phrase sum is order-free exact arithmetic. The stopword delimiting is
    * regex-free on the overlap problem: spaces are DOUBLED first, so every
    * stopword occurrence owns disjoint padding and ONE global replace
    * catches runs of adjacent stopwords ("of the and" needs no second
    * pass). Phrase splitting is per-row string work; word stats and the
    * score join are vocabulary-bounded.
    */
  private val RakeStops =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "for", "on", "with",
      "as", "by", "at", "be", "this", "that", "it", "are", "was", "or", "from")

  private def textKeywordRake(s: SparkSession, dir: String): DataFrame = {
    val stopAlt = RakeStops.mkString("|")
    val phrases = Tables
      .documents(s, dir)
      .select(Text.normText(col("text")).as("t"))
      .select(
        explode(
          split(
            regexp_replace(
              concat(lit(" "), regexp_replace(col("t"), lit(" "), lit("  ")), lit(" ")),
              s" ($stopAlt) ",
              " § ",
            ),
            "§",
          )
        ).as("frag")
      )
      .select(trim(regexp_replace(col("frag"), "  *", " ")).as("phrase"))
      .filter(col("phrase") =!= "")
      .withColumn("nw", size(split(col("phrase"), " ")))
      .filter(col("nw") <= 3)
    val words = phrases
      .select(col("nw").cast("long").as("plen"), explode(split(col("phrase"), " ")).as("word"))
      .groupBy("word")
      .agg(sum("plen").as("deg"), nrows.as("freq"))
      .withColumn("w_ppm", expr("deg * 1000000 div freq"))
    val occ = phrases.groupBy("phrase").agg(nrows.as("n_occ"))
    // score depends only on the phrase TEXT, so it computes once per
    // distinct phrase (vocabulary grain), never per occurrence
    occ
      .select(col("phrase"), col("n_occ"), explode(split(col("phrase"), " ")).as("word"))
      .join(words.select("word", "w_ppm"), "word")
      .groupBy("phrase")
      .agg(max("n_occ").as("n_occ"), sum("w_ppm").as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("phrase"))
      .limit(20)
  }

  private val textKeywordRakeSql = {
    val stopAlt = RakeStops.mkString("|")
    "WITH norm AS (SELECT lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))) AS t FROM documents), " +
      "frag AS (SELECT unnest(string_split(regexp_replace(' ' || replace(t, ' ', '  ') || ' ', " +
      s"' ($stopAlt) ', ' § ', 'g'), '§')) AS f FROM norm), " +
      "ph AS (SELECT phrase, len(string_split(phrase, ' ')) AS nw FROM " +
      "(SELECT trim(regexp_replace(f, '  *', ' ', 'g')) AS phrase FROM frag) WHERE phrase <> ''), " +
      "p3 AS (SELECT phrase, CAST(nw AS BIGINT) AS plen FROM ph WHERE nw <= 3), " +
      "wx AS (SELECT plen, unnest(string_split(phrase, ' ')) AS word FROM p3), " +
      "ws AS (SELECT word, CAST(sum(plen) AS BIGINT) AS deg, CAST(count(*) AS BIGINT) AS freq FROM wx GROUP BY 1), " +
      "wp AS (SELECT word, CAST(deg * 1000000 // freq AS BIGINT) AS w_ppm FROM ws), " +
      "occ AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ FROM p3 GROUP BY 1), " +
      "pw AS (SELECT phrase, n_occ, unnest(string_split(phrase, ' ')) AS word FROM occ), " +
      "sc AS (SELECT phrase, CAST(max(n_occ) AS BIGINT) AS n_occ, CAST(sum(w_ppm) AS BIGINT) AS score_ppm " +
      "FROM pw JOIN wp USING (word) GROUP BY 1) " +
      "SELECT phrase, n_occ, score_ppm FROM sc ORDER BY score_ppm DESC, phrase LIMIT 20"
  }

  // ------------------------------------------------------------------
  // feature_scale_zscore — per-group z-score feature scaling
  // ------------------------------------------------------------------

  /** Per-group z-score scaling of extended price (the standard feature
    * normalization before distance-based models): μ and σ derive ONCE per
    * group from exact decimal cent moments (S1, S2 — int64 overflows at
    * ~1e5 rows·1e7 cents², hence DECIMAL(38)), then every row's
    * z = (c − μ)/σ is double arithmetic on identical operands, rounded to
    * the declared 4-decimal grid. The group frame broadcasts back; the
    * scan itself never shuffles.
    */
  private def featureScaleZscore(s: SparkSession, dir: String): DataFrame = {
    val li = Tables
      .lineitem(s, dir)
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_returnflag").as("flag"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("c"),
      )
    val m = li
      .groupBy("flag")
      .agg(
        nrows.as("n"),
        sum(col("c").cast(DecimalType(38, 0))).as("s1"),
        sum((col("c") * col("c")).cast(DecimalType(38, 0))).as("s2"),
      )
      .select(
        col("flag"),
        (col("s1").cast("double") / col("n")).as("mu"),
        sqrt(
          (col("s2").cast("double") / col("n")) -
            (col("s1").cast("double") / col("n")) * (col("s1").cast("double") / col("n"))
        ).as("sigma"),
      )
    // -0.0 NORMALIZATION (found by the sf0.1 gate): a z that rounds to
    // zero FROM BELOW is -0.0 in DuckDB but 0.0 in Spark (Round routes
    // through BigDecimal, which has no signed zero) — numerically equal,
    // repr-distinct, hash-mismatch. Both sides map exact zero to +0.0
    // explicitly (the CASE survives any optimizer, unlike `+ 0.0`).
    val zr = round((col("c").cast("double") - col("mu")) / col("sigma"), 4)
    li.join(broadcast(m), "flag")
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("flag"),
        when(zr === lit(0.0), lit(0.0)).otherwise(zr).as("z"),
      )
      .orderBy("l_orderkey", "l_linenumber")
  }

  private val featureScaleZscoreSql =
    "WITH li AS (SELECT l_orderkey, l_linenumber, l_returnflag AS flag, " +
      "CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c FROM lineitem), " +
      "m AS (SELECT flag, CAST(count(*) AS BIGINT) AS n, sum(c) AS s1, sum(c * c) AS s2 FROM li GROUP BY 1), " +
      "ms AS (SELECT flag, CAST(s1 AS DOUBLE) / n AS mu, " +
      "sqrt(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) AS sigma FROM m) " +
      "SELECT l_orderkey, l_linenumber, li.flag, " +
      "CASE WHEN round((CAST(c AS DOUBLE) - mu) / sigma, 4) = 0 THEN 0.0 " +
      "ELSE round((CAST(c AS DOUBLE) - mu) / sigma, 4) END AS z " +
      "FROM li JOIN ms ON li.flag = ms.flag ORDER BY l_orderkey, l_linenumber"

  // ------------------------------------------------------------------
  // ts_rate_limit_audit — per-user rate-limit violation audit
  // ------------------------------------------------------------------

  /** Abuse/bot screening: users whose peak events-per-minute reaches the
    * rate limit (2/min — the observed ceiling in this event stream; a real
    * deployment would set its SLO here), with how many distinct minutes
    * violated and how many events those minutes contained. The
    * (user, minute) grain partial-aggregates map-side (bounded by active
    * minutes, not events); the per-user rollup is |users|-bounded.
    */
  private val RateLimitPerMin = 2

  private def tsRateLimitAudit(s: SparkSession, dir: String): DataFrame = {
    val pm = Tables
      .events(s, dir)
      .groupBy(col("user_id"), date_trunc("minute", col("etime")).as("minute"))
      .agg(nrows.as("c"))
    pm.groupBy("user_id")
      .agg(
        max("c").as("peak_per_min"),
        sum(when(col("c") >= RateLimitPerMin, 1L).otherwise(0L)).as("n_hot_minutes"),
        sum(when(col("c") >= RateLimitPerMin, col("c")).otherwise(0L)).as("n_hot_events"),
      )
      .filter(col("peak_per_min") >= RateLimitPerMin)
      .orderBy("user_id")
  }

  private val tsRateLimitAuditSql =
    "WITH pm AS (SELECT user_id, date_trunc('minute', CAST(ts AS TIMESTAMP)) AS minute, " +
      "CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2) " +
      s"SELECT user_id, CAST(max(c) AS BIGINT) AS peak_per_min, " +
      s"CAST(sum(CASE WHEN c >= $RateLimitPerMin THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_minutes, " +
      s"CAST(sum(CASE WHEN c >= $RateLimitPerMin THEN c ELSE 0 END) AS BIGINT) AS n_hot_events " +
      s"FROM pm GROUP BY 1 HAVING max(c) >= $RateLimitPerMin ORDER BY user_id"

  val entries: Seq[QueryDef] = Seq(
    QueryDef("stats_bootstrap_ci", statsBootstrapCi, Some(statsBootstrapCiSql)),
    QueryDef("graph_jaccard_neighbors", graphJaccardNeighbors, Some(graphJaccardNeighborsSql)),
    QueryDef("ts_burst_detection", tsBurstDetection, Some(tsBurstDetectionSql)),
    QueryDef("text_keyword_rake", textKeywordRake, Some(textKeywordRakeSql)),
    QueryDef("feature_scale_zscore", featureScaleZscore, Some(featureScaleZscoreSql)),
    QueryDef("ts_rate_limit_audit", tsRateLimitAudit, Some(tsRateLimitAuditSql)),
  )
}
