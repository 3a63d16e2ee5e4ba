package graft.ops

import graft.{QueryDef, Tables}
import graft.Qf._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-4 training-mix & privacy verbs (SURVEY.md §2.13): temperature-
  * weighted language mixing, PII redaction, int8 embedding quantization.
  *
  * Scale doctrine, per op:
  *   - sample_temperature: the only aggregation is per-lang doc counts —
  *     |langs| rows — and the weight normalization is a window over that
  *     tiny frame. The corpus contributes one map-side count; nothing else
  *     shuffles. At 100 TB the mix table is still 5 rows.
  *   - text_pii_redact: pure per-row regex projection, zero exchanges
  *     beyond the declared sort — embarrassingly parallel at any scale.
  *   - embed_quantize_int8: per-row HOF over the 64-element vector, no
  *     shuffle. At 100 TB this is the map-only pass that shrinks a vector
  *     index 4× before it is built.
  */
object Mixes {

  /** Temperature-weighted sampling mix (the multilingual-LLM standard:
    * p_lang ∝ n_lang^α). α = 0.5 deliberately: sqrt is IEEE-754
    * correctly-rounded, hence bit-identical across engines, where pow(x,
    * 0.7) is libm-dependent. Determinism route: round(sqrt, 6) → exact
    * DECIMAL(18,6) → exact window sum (order-free) → both operands cast to
    * double (exact: 6-decimal values of this magnitude are < 2^53 ulps) →
    * one division → round(4). target_docs is the rounded share of a
    * 1000-doc budget, derived from the already-rounded weight so both
    * engines scale the identical double.
    */
  private def sampleTemperature(s: SparkSession, dir: String): DataFrame = {
    val tot = sum(col("s6")).over(Window.partitionBy()) // |langs| rows — tiny
    Tables
      .documents(s, dir)
      .groupBy("lang")
      .agg(nrows.as("n_docs"))
      .withColumn("s6", round(sqrt(col("n_docs")), 6).cast(DecimalType(18, 6)))
      .withColumn("weight", round(col("s6").cast("double") / tot.cast("double"), 4))
      .select(
        col("lang"),
        col("n_docs"),
        col("weight"),
        round(col("weight") * 1000, 0).cast("long").as("target_docs"),
      )
      .orderBy("lang")
  }

  private val sampleTemperatureSql =
    "WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1), " +
      "s AS (SELECT lang, n_docs, CAST(round(sqrt(n_docs), 6) AS DECIMAL(18,6)) AS s6 FROM c) " +
      "SELECT lang, n_docs, " +
      "round(CAST(s6 AS DOUBLE) / CAST(sum(s6) OVER () AS DOUBLE), 4) AS weight, " +
      "CAST(round(round(CAST(s6 AS DOUBLE) / CAST(sum(s6) OVER () AS DOUBLE), 4) * 1000, 0) AS BIGINT) AS target_docs " +
      "FROM s ORDER BY lang"

  /** PII redaction. The corpus is normalized lowercase prose with no PII by
    * construction, so a deterministic synthesizer first plants doc_id-many
    * (mod 3 / mod 2) emails and phone numbers per doc — the redactor is
    * then checked on varying-density PII, not on a no-op. Patterns are
    * deliberately within the Java-regex ∩ RE2 common subset. The md5 of the
    * redacted text is the strong cross-engine check: one divergent
    * replacement anywhere flips it.
    */
  private val EmailRe = "[a-z0-9]+@[a-z]+\\.[a-z]+"
  private val PhoneRe = "\\+1-555-[0-9]{4}"

  private def textPiiRedact(s: SparkSession, dir: String): DataFrame = {
    val synth = concat(
      col("text"),
      expr("repeat(concat(' u', cast(doc_id AS STRING), '@mail.com'), cast(doc_id % 3 AS INT))"),
      expr(
        "repeat(concat(' +1-555-', lpad(cast(doc_id % 10000 AS STRING), 4, '0')), cast(doc_id % 2 AS INT))"
      ),
    )
    Tables
      .documents(s, dir)
      .select(col("doc_id"), synth.as("t"))
      .select(
        col("doc_id"),
        regexp_count(col("t"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("t"), lit(PhoneRe)).cast("long").as("n_phones"),
        md5(
          regexp_replace(regexp_replace(col("t"), EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")
        ).as("redacted_md5"),
      )
      .orderBy("doc_id")
  }

  private val textPiiRedactSql =
    "WITH synth AS (SELECT doc_id, " +
      "text || repeat(' u' || doc_id || '@mail.com', CAST(doc_id % 3 AS INT)) " +
      "|| repeat(' +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), CAST(doc_id % 2 AS INT)) AS t " +
      "FROM documents) " +
      "SELECT doc_id, " +
      s"CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_emails, " +
      s"CAST(len(regexp_extract_all(t, '$PhoneRe')) AS BIGINT) AS n_phones, " +
      s"md5(regexp_replace(regexp_replace(t, '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g')) AS redacted_md5 " +
      "FROM synth ORDER BY doc_id"

  /** Symmetric int8 quantization of the embedding column (what a vector
    * index stores at corpus scale): per-vector scale = max |x|, q_i =
    * round(x_i / scale · 127). Declared output avoids the banned array type
    * via a position-weighted integer checksum (Σ q_i·(i+1) — exact BIGINT
    * arithmetic, order-free) plus the saturation count; the scale at
    * display precision. The lambda references only materialized attributes
    * (`v`, `scale`), never a recomputed expression — see
    * Curation.decontaminate for why that matters in interpreted HOFs.
    */
  /** q_i = round(x_i / scale · 127) with the zero-vector guard: scale = 0
    * (an all-zero vector: padding row, failed embed) must quantize to
    * zeros — unguarded, 0/0 is NaN and Spark 4's ANSI cast to long THROWS
    * while DuckDB yields NULLs (engine divergence). Public so the law spec
    * can exercise the guard on a synthetic zero vector.
    */
  def quantizeInt8(v: org.apache.spark.sql.Column, scale: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    transform(
      v,
      (x, i) =>
        when(scale === 0d, lit(0L)).otherwise(round(x / scale * 127, 0).cast("long")),
    )

  private def embedQuantizeInt8(s: SparkSession, dir: String): DataFrame =
    Tables
      .embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))))
      .withColumn("qs", quantizeInt8(col("v"), col("scale")))
      .select(
        col("vec_id"),
        round(col("scale"), 6).as("scale"),
        aggregate(
          transform(col("qs"), (q, i) => q * (i + 1).cast("long")),
          lit(0L),
          (a, x) => a + x,
        ).as("q_checksum"),
        size(filter(col("qs"), q => abs(q) === 127)).cast("long").as("n_sat"),
      )
      .orderBy("vec_id")

  private val embedQuantizeInt8Sql =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM e), " +
      "q AS (SELECT vec_id, scale, " +
      "list_transform(v, (x, i) -> CASE WHEN scale = 0 THEN 0 ELSE CAST(round(x / scale * 127, 0) AS BIGINT) END) AS qs FROM s) " +
      "SELECT vec_id, round(scale, 6) AS scale, " +
      "CAST(list_sum(list_transform(qs, (x, i) -> x * i)) AS BIGINT) AS q_checksum, " +
      "CAST(len(list_filter(qs, x -> abs(x) = 127)) AS BIGINT) AS n_sat " +
      "FROM q ORDER BY vec_id"

  // -------------------------------------------------------- sample_weighted

  /** Weighted sampling without replacement (Efraimidis–Spirakis exponential
    * clocks): per doc, u = 13-hex-digit md5 fraction (52 bits — exactly
    * representable in a double), clock = −ln(u)/w with weight w = n_chars;
    * the sample is the k smallest clocks, ties broken by doc_id. Seedless
    * and replayable like sample_hash_split, but with INCLUSION PROBABILITY
    * ∝ WEIGHT — the mix knob sample_temperature sets per language, applied
    * at the document grain.
    *
    * Scale shape: orderBy+limit plans TakeOrderedAndProject — each task
    * keeps its local k smallest clocks and only those merge, so a 100 TB
    * corpus moves k rows per partition, no global sort. The clock set is
    * also a mergeable bottom-k sketch: top-k(A ∪ B) = top-k(top-k(A) ∪
    * top-k(B)) (the shard-merge law in MixesSpec), so per-shard samples
    * union into the corpus sample without rescanning.
    *
    * Determinism: −ln(u) is the one transcendental; both engines' libm is
    * ≤ 1 ulp off and the 9-decimal rounding (applied BEFORE the rank, so
    * selection and output use the same value) is ~10^9× coarser than the
    * disagreement — the residual boundary risk is the documented
    * dedup_embedding class. +1 on the raw hash keeps u in (0, 1] (u = 0
    * would give clock = ∞).
    */
  private def sampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val u = (hash52("es#", col("doc_id")) + lit(1L)) / lit(Hash52Range)
    val clock = round((log(u) * -1) / greatest(col("n_chars"), lit(1)), 9)
    Tables
      .documents(s, dir)
      .select(col("doc_id"), col("n_chars"), clock.as("clock"))
      .orderBy(col("clock"), col("doc_id"))
      .limit(20)
      .withColumn(
        "rn",
        asLong(row_number().over(Window.orderBy(col("clock"), col("doc_id")))),
      )
      // pin the DECLARED row order explicitly — without this the output
      // order merely coincides with the single-partition window sort above
      .orderBy("clock", "doc_id")
  }

  private val sampleWeightedSql =
    "WITH c AS (SELECT doc_id, n_chars, " +
      s"round(-ln((${hash52Sql("es#", "doc_id")} + 1) / 4503599627370496.0) " +
      "/ greatest(n_chars, 1), 9) AS clock FROM documents) " +
      "SELECT doc_id, n_chars, clock, " +
      "CAST(row_number() OVER (ORDER BY clock, doc_id) AS BIGINT) AS rn " +
      "FROM c ORDER BY clock, doc_id LIMIT 20"

  // --------------------------------------------------- sample_reservoir_group

  /** Per-stratum fixed-size sample: the k = 4 docs with the smallest
    * md5-derived priority WITHIN EACH LANGUAGE — the deterministic
    * equivalent of a per-group reservoir. Like sample_weighted this is a
    * mergeable bottom-k sketch, but per stratum: shard samples union and
    * re-rank without rescanning, and re-running on a grown corpus only
    * swaps a doc out when a smaller priority arrives (no global reshuffle
    * of the sample). One (lang)-partitioned window; priorities are integer,
    * no FP anywhere.
    */
  private def sampleReservoirGroup(s: SparkSession, dir: String): DataFrame = {
    val prio = hash52("rg#", col("doc_id"))
    val w = Window.partitionBy("lang").orderBy(col("prio"), col("doc_id"))
    Tables
      .documents(s, dir)
      .select(col("lang"), col("doc_id"), prio.as("prio"))
      .withColumn("rn", asLong(row_number().over(w)))
      .filter(col("rn") <= 4)
      .orderBy("lang", "rn")
  }

  private val sampleReservoirGroupSql =
    s"WITH p AS (SELECT lang, doc_id, ${hash52Sql("rg#", "doc_id")} AS prio FROM documents) " +
      "SELECT lang, doc_id, prio, " +
      "CAST(row_number() OVER (PARTITION BY lang ORDER BY prio, doc_id) AS BIGINT) AS rn " +
      "FROM p QUALIFY rn <= 4 ORDER BY lang, rn"

  /** Deterministic per-epoch shuffle order — the data-loader side of a
    * training pipeline: epoch e visits documents in the order of a
    * seedless pseudo-random permutation, different per epoch, identical
    * across reruns/workers (hash arithmetic, no RNG state). Position is a
    * rank over hash52("ep#", epoch#doc_id) within the epoch; any worker
    * can compute its own shard's positions map-side and the global order
    * needs no coordination. The per-epoch window at fixture scale is the
    * whole corpus; at 100 TB the rank becomes a sort key for a
    * repartitionByRange write (the sink_range_layout path) rather than a
    * materialized row_number — the HASH, not the window, is the portable
    * contract.
    */
  private def sampleEpochShuffle(s: SparkSession, dir: String): DataFrame = {
    val prio = hash52("ep#", concat_ws("#", col("epoch"), col("doc_id")))
    // per-epoch position via ScaleRank — each epoch previously sorted the
    // WHOLE corpus in one window task; the hash stays the portable
    // contract (scaladoc above), the rank now materializes distributed
    val base = Tables
      .documents(s, dir)
      .select(col("doc_id"), explode(array(lit(0L), lit(1L), lit(2L))).as("epoch"))
      .withColumn("prio", prio)
    ScaleRank
      .rankedFrame(base, Seq("epoch"), Seq(col("prio"), col("doc_id")), None)
      .select(col("epoch"), col("doc_id"), col("prio"), col("__rn").as("position"))
      .orderBy("epoch", "position")
  }

  private val sampleEpochShuffleSql =
    "WITH d AS (SELECT doc_id, unnest([0, 1, 2]) AS epoch FROM documents), " +
      s"p AS (SELECT CAST(epoch AS BIGINT) AS epoch, doc_id, " +
      s"${hash52Sql("ep#", "(epoch || '#' || doc_id)")} AS prio FROM d) " +
      "SELECT epoch, doc_id, prio, " +
      "CAST(row_number() OVER (PARTITION BY epoch ORDER BY prio, doc_id) AS BIGINT) AS position " +
      "FROM p ORDER BY epoch, position"

  /** Deterministic negative sampling for contrastive training: each doc
    * gets 4 pseudo-random partners, one per draw j, as its RING SUCCESSOR
    * in the order of hash52("neg#", j#doc_id) within a hash bucket (last
    * wraps to first). The ring construction needs no id-density assumption
    * and no corpus-count arithmetic — any id set works — and every doc is
    * used as a negative exactly once per draw (a permutation, so no
    * popular-doc bias). Bucketing (h % 8 here) is the scale knob:
    * negatives are SHARD-LOCAL by design — at 100 TB the bucket count
    * rises so each (j, bucket) window fits one executor, the standard
    * in-batch/in-shard negative practice, rather than a corpus-wide sort.
    * Positives (near-dups) are excluded by composition with the dedup
    * outputs, not baked in — samplers and dedup stay orthogonal.
    */
  private def sampleNegativePairs(s: SparkSession, dir: String): DataFrame = {
    val h = hash52("neg#", concat_ws("#", col("j"), col("doc_id")))
    val ring = Window.partitionBy("j", "bucket").orderBy("h", "doc_id")
    val whole = ring.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables
      .documents(s, dir)
      .select(col("doc_id"), explode(array((0 until 4).map(j => lit(j.toLong)): _*)).as("j"))
      .withColumn("h", h)
      .withColumn("bucket", col("h") % 8)
      .withColumn(
        "partner",
        coalesce(lead("doc_id", 1).over(ring), first("doc_id").over(whole)),
      )
      .select("doc_id", "j", "bucket", "partner")
      .orderBy("doc_id", "j")
  }

  private val sampleNegativePairsSql =
    "WITH e AS (SELECT doc_id, CAST(unnest([0, 1, 2, 3]) AS BIGINT) AS j FROM documents), " +
      s"h AS (SELECT j, doc_id, ${hash52Sql("neg#", "(j || '#' || doc_id)")} AS h FROM e), " +
      "b AS (SELECT j, doc_id, h, h % 8 AS bucket FROM h) " +
      "SELECT doc_id, j, bucket, " +
      "coalesce(lead(doc_id) OVER w, first_value(doc_id) OVER (PARTITION BY j, bucket " +
      "ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS partner " +
      "FROM b WINDOW w AS (PARTITION BY j, bucket ORDER BY h, doc_id) " +
      "ORDER BY doc_id, j"

  /** Doc-level REALIZATION of the temperature mix: sample_temperature says
    * how many docs each language contributes to a 1000-doc budget; this op
    * selects exactly WHICH docs, deterministically — per language, the
    * target_docs docs with the smallest hash52("mix#", doc_id) survive
    * (hash rank ⇒ a uniform, seed-reproducible subsample; doc_id tiebreak
    * is unreachable for distinct ids but pins the order anyway). Quotas
    * are met EXACTLY whenever the language has enough docs — unlike the
    * Bernoulli hash gate of sample_hash_split, which only meets them in
    * expectation — and a sqrt-upweighted minority language whose target
    * exceeds its supply is CAPPED at its doc count (least() in the quota
    * frame makes the cap part of the declared target, not a silent
    * artifact of the rank filter); exactness-when-supplied is what
    * curriculum / eval splits need. Scale shape: the quota frame is |langs| rows
    * (broadcast); the rank is one window partitioned by lang. A language's
    * partition is corpus-sized at 100 TB, so the scale path replaces the
    * full-partition sort with the two-phase quantile cut: take the quota's
    * hash threshold from approx-quantile per lang, Bernoulli-gate at the
    * threshold map-side, and exact-rank only the boundary sliver — same
    * output, no global per-lang sort. The declared plan keeps the window
    * form (exact, and the fixture langs are small); the swap point is this
    * Window definition.
    */
  private def sampleMixExact(s: SparkSession, dir: String): DataFrame = {
    // quota frame: |langs| rows. Budget = half the corpus so the quotas
    // BIND at every scale (a fixed budget degenerates to keep-everything
    // whenever corpus < budget). The weight→count step is pure integer
    // arithmetic: w4 = the 4-decimal weight's integer numerator (round()
    // recovers it exactly from the double), target = w4·budget div 10⁴ —
    // no double product ever meets a rounding boundary (the ×0.85-grid
    // half-tie trap).
    val tot = sum(col("n_docs")).over(Window.partitionBy())
    val targets = Tables
      .documents(s, dir)
      .groupBy("lang")
      .agg(nrows.as("n_docs"))
      .withColumn("s6", round(sqrt(col("n_docs")), 6).cast(DecimalType(18, 6)))
      .withColumn(
        "weight",
        round(col("s6").cast("double") / sum(col("s6")).over(Window.partitionBy()).cast("double"), 4),
      )
      .withColumn("w4", round(col("weight") * 10000, 0).cast("long"))
      .withColumn("tot", tot)
      .withColumn("budget", expr("tot div 2"))
      // least() makes the supply cap EXPLICIT: a sqrt-upweighted minority
      // language whose target exceeds its doc count contributes everything
      // it has — the quota is exact whenever supply suffices, capped
      // otherwise (and the cap is declared, not an accident of rk <= t)
      .withColumn("target_docs", least(expr("(w4 * budget) div 10000"), col("n_docs")))
      .select(col("lang"), col("target_docs"))
    // per-lang priority rank via ScaleRank — the quota is data-derived, so
    // no literal-top-k map-side prune applies, and the r6 per-lang window
    // task held the language's whole corpus slice
    val base = Tables
      .documents(s, dir)
      .select(col("doc_id"), col("lang"))
      .withColumn("h", hash52("mix#", col("doc_id")))
    ScaleRank
      .rankedFrame(base, Seq("lang"), Seq(col("h"), col("doc_id")), None)
      .join(broadcast(targets), "lang")
      .filter(col("__rn") <= col("target_docs"))
      .select(col("doc_id"), col("lang"), col("__rn").as("rk"))
      .orderBy("doc_id")
  }

  private val sampleMixExactSql =
    "WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1), " +
      "s AS (SELECT lang, n_docs, CAST(round(sqrt(n_docs), 6) AS DECIMAL(18,6)) AS s6 FROM c), " +
      "t AS (SELECT lang, least(" +
      "(CAST(round(round(CAST(s6 AS DOUBLE) / CAST(sum(s6) OVER () AS DOUBLE), 4) * 10000, 0) AS BIGINT) " +
      "* (CAST(sum(n_docs) OVER () AS BIGINT) // 2)) // 10000, n_docs) AS target_docs FROM s), " +
      s"r AS (SELECT doc_id, lang, ${hash52Sql("mix#", "doc_id")} AS h FROM documents), " +
      "rk AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk FROM r) " +
      "SELECT doc_id, rk.lang, rk FROM rk JOIN t ON rk.lang = t.lang " +
      "WHERE rk <= target_docs ORDER BY doc_id"

  /** Leakage-safe train/valid/test split — the assignment unit is the
    * exact-duplicate CLUSTER, not the document: every member of a
    * whitespace/case-normalized duplicate group rides its representative's
    * (min doc_id) split, so a duplicated document can never straddle the
    * train/eval boundary (the classic contamination-by-split bug).
    * Determinism: the split is seedless md5 arithmetic on the
    * representative id (hash52 in [0, 2^52)), compared against INTEGER
    * thresholds floor(0.8·2^52) and floor(0.9·2^52) — no double compare,
    * no tie. Scale shape: text is hashed and dropped map-side; the
    * representative is a groupBy(k).min whose partial aggregation collapses
    * a mass-duplicated hash before its exchange, joined back by the 32 B
    * key; split assignment is pure per-row arithmetic.
    */
  private def sampleGroupSplit(s: SparkSession, dir: String): DataFrame = {
    val TrainCut = 3602879701896396L // floor(0.8 * 2^52)
    val ValidCut = 4053239664633446L // floor(0.9 * 2^52)
    val norm = lower(trim(regexp_replace(col("text"), "[ \\t\\n\\r\\f\\x0B]+", " ")))
    val h = hash52("gs#", col("rep_id"))
    // representative via groupBy(k).min + join — a mass-duplicated content
    // hash collapses map-side instead of pushing every copy through one
    // min-window task (the dedup_lines r7 discipline)
    val keyed = Tables
      .documents(s, dir)
      .select(col("doc_id"), md5(norm).as("k"))
    keyed
      .join(keyed.groupBy("k").agg(min("doc_id").as("rep_id")), "k")
      .select(
        col("doc_id"),
        col("rep_id"),
        when(h < TrainCut, lit("train"))
          .when(h < ValidCut, lit("valid"))
          .otherwise(lit("test"))
          .as("split"),
      )
      .orderBy("doc_id")
  }

  private val sampleGroupSplitSql =
    "WITH d AS (SELECT doc_id, " +
      "md5(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')))) AS k " +
      "FROM documents), " +
      "g AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY k) AS rep_id FROM d), " +
      s"h AS (SELECT doc_id, rep_id, ${hash52Sql("gs#", "rep_id")} AS h FROM g) " +
      "SELECT doc_id, rep_id, " +
      "CASE WHEN h < 3602879701896396 THEN 'train' " +
      "WHEN h < 4053239664633446 THEN 'valid' ELSE 'test' END AS split " +
      "FROM h ORDER BY doc_id"

  /** Token-budget mix assembly — the op that actually BUILDS a training mix
    * once `sample_temperature` has priced it: spend a global token budget
    * (⅓ of the corpus here) across languages in temperature proportion,
    * filling each language's budget with documents in deterministic
    * hash-priority order and stopping at the first document that starts at
    * or past the budget line. Doc-level mixes (`sample_mix_exact`) get the
    * COUNT right; training cares about TOKENS — a lang of long documents
    * must contribute fewer docs for the same share.
    *
    * Determinism route: budgets are pure integers — s6i = sqrt(n_docs)
    * rounded to the 1e-6 grid × 1e6 (exact BIGINT), w_ppm = s6i·1e6 div
    * Σs6i, budget = (total_tokens div 3)·w_ppm div 1e6 (this order keeps
    * every intermediate < 2^63 even at 1e13 corpus tokens). Selection rule:
    * keep iff cum − n_tokens < budget (the doc STARTS inside the budget),
    * so low-resource langs whose budget exceeds their stock keep
    * everything — upsampling is the consumer's next step.
    *
    * Scale doctrine: the per-lang running token sum is
    * [[ScaleRank.rankedFrame]] with lang segments — a language NEVER
    * collapses into one task the way `Window.partitionBy(lang)` would
    * (languages are the canonical skew key: one lang can be half the
    * corpus). Budgets are a |langs|-row broadcast. This key is the
    * segmented-ScaleRank showcase.
    */
  private def sampleTokenBudget(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        hash52("tokbudget#", col("doc_id")).as("pri"),
      )
    val counts = toks.groupBy("lang").agg(nrows.as("n_docs"), sum("n_tokens").as("lang_tokens"))
    // the sample_temperature determinism route: double -> 1e-6-grid
    // DECIMAL (deterministic scalar cast in both engines) -> exact integer
    val s6i = (round(sqrt(col("n_docs")), 6).cast(DecimalType(18, 6)) * 1000000).cast("long")
    val budgets = counts
      .select(col("lang"), s6i.as("s6i"))
      .crossJoin(broadcast(counts.agg(sum(s6i).as("ssum"))))
      .crossJoin(broadcast(toks.agg(sum("n_tokens").as("total"))))
      .select(
        col("lang"),
        expr("(total div 3) * (s6i * 1000000 div ssum) div 1000000").as("budget_tokens"),
      )
    ScaleRank
      .rankedFrame(toks, Seq("lang"), Seq(col("pri"), col("doc_id")), Some("n_tokens"))
      .join(broadcast(budgets), "lang")
      .filter(col("__cum") - col("n_tokens") < col("budget_tokens"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("__cum").as("cum_tokens"), col("budget_tokens"))
      .orderBy("doc_id")
  }

  private val sampleTokenBudgetSql =
    "WITH t AS (SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
      hash52Sql("tokbudget#", "doc_id") + " AS pri FROM documents), " +
      "c AS (SELECT lang, count(*) AS n_docs, sum(n_tokens) AS lang_tokens FROM t GROUP BY 1), " +
      "s AS (SELECT lang, CAST(CAST(round(sqrt(n_docs), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS s6i FROM c), " +
      "tot AS (SELECT CAST(sum(s6i) AS BIGINT) AS ssum FROM s), " +
      "n AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM t), " +
      "b AS (SELECT lang, CAST((total // 3) * (s6i * 1000000 // ssum) // 1000000 AS BIGINT) AS budget_tokens " +
      "FROM s, tot, n), " +
      "r AS (SELECT t.*, CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY pri, doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens FROM t) " +
      "SELECT doc_id, lang, n_tokens, cum_tokens, budget_tokens " +
      "FROM r JOIN b USING (lang) WHERE cum_tokens - n_tokens < budget_tokens ORDER BY doc_id"

  // ------------------------------------------------------------------
  // sample_importance_dsir — data selection via importance resampling
  // ------------------------------------------------------------------

  /** DSIR-style data selection (public technique: Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score every
    * document by the log-likelihood ratio of a TARGET-domain unigram LM
    * (here the `en` slice — the domain the selection should match) against
    * the corpus-wide LM, add deterministic Gumbel noise, keep the top
    * quarter by (score, doc_id) — Gumbel-top-k IS sampling without
    * replacement ∝ exp(λ), so the kept set is a true importance resample,
    * not a hard threshold, yet fully deterministic.
    *
    * Determinism route: both LMs are add-1-smoothed integer counts; each
    * word's log-ratio term rounds to 6 decimals onto the DECIMAL grid (the
    * surprisal idiom — ln is the only engine-dependent step, the 1e-6 grid
    * absorbs ULP drift) and per-doc sums are exact decimal addition. The
    * Gumbel is −ln(−ln(u)) with u = (hash52 + 0.5)/2^52 — the seedless-
    * uniform idiom, strictly inside (0, 1) — rounded onto the same grid.
    *
    * Scale shape: token explode → two map-side-combining word counts (the
    * model is |vocab| rows); totals are a 1-row broadcast; the per-token
    * model join is vocabulary-bounded (AQE picks broadcast while the model
    * fits); the per-doc λ aggregates map-side to doc grain; and the global
    * top-quarter rank runs through ScaleRank (range-split local windows —
    * no single-task window at any n).
    */
  private def sampleImportanceDsir(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables
      .spreadSmallScan(s, dir, "documents", Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), col("lang"), explode(split(Text.normText(col("text")), " ")).as("w"))
      .filter(length(col("w")) >= 1)
    val cc = toks.groupBy("w").agg(nrows.as("cc"))
    val ct = toks.filter(col("lang") === "en").groupBy("w").agg(nrows.as("ct"))
    val model = cc
      .join(ct, Seq("w"), "left")
      .select(col("w"), coalesce(col("ct"), lit(0L)).as("ct"), col("cc"))
    val tot = model.agg(sum("ct").as("nt"), sum("cc").as("nc"), nrows.as("v"))
    val term = model
      .crossJoin(broadcast(tot))
      .select(
        col("w"),
        round(
          log((col("ct") + 1).cast("double") / (col("nt") + col("v")).cast("double")) -
            log((col("cc") + 1).cast("double") / (col("nc") + col("v")).cast("double")),
          6,
        ).cast(DecimalType(18, 6)).as("t6"),
      )
    val lam = toks.join(term, "w").groupBy("doc_id").agg(sum("t6").as("lam6"))
    val scored = Tables
      .documents(s, dir)
      .select("doc_id", "lang")
      .join(lam, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("lang"),
        coalesce(col("lam6"), lit(0).cast(DecimalType(18, 6))).as("lam6"),
        round(
          -log(-log((hash52("dsir#", col("doc_id")) + lit(0.5)) / lit(Hash52Range))),
          6,
        ).cast(DecimalType(18, 6)).as("g6"),
      )
      .withColumn("score6", col("lam6") + col("g6"))
    ScaleRank
      .rankedFrame(scored, Nil, Seq(col("score6").desc, col("doc_id")), None)
      .select(
        col("doc_id"),
        col("lang"),
        col("lam6").cast("double").as("lam"),
        col("g6").cast("double").as("gumbel"),
        col("score6").cast("double").as("score"),
        (col("__rn") * 4 <= col("__seg_n")).as("keep"),
      )
      .orderBy("doc_id")
  }

  private val sampleImportanceDsirSql =
    "WITH tk AS (SELECT doc_id, lang, unnest(string_split(" +
      "lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ')) AS w FROM documents), " +
      "tk1 AS (SELECT * FROM tk WHERE len(w) >= 1), " +
      "cc AS (SELECT w, CAST(count(*) AS BIGINT) AS cc FROM tk1 GROUP BY 1), " +
      "ct AS (SELECT w, CAST(count(*) AS BIGINT) AS ct FROM tk1 WHERE lang = 'en' GROUP BY 1), " +
      "model AS (SELECT cc.w, coalesce(ct.ct, 0) AS ct, cc.cc FROM cc LEFT JOIN ct USING (w)), " +
      "tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cc) AS BIGINT) AS nc, " +
      "CAST(count(*) AS BIGINT) AS v FROM model), " +
      "term AS (SELECT w, CAST(round(ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE)) - " +
      "ln(CAST(cc + 1 AS DOUBLE) / CAST(nc + v AS DOUBLE)), 6) AS DECIMAL(18,6)) AS t6 FROM model, tot), " +
      "lam AS (SELECT doc_id, sum(t6) AS lam6 FROM tk1 JOIN term USING (w) GROUP BY 1), " +
      "sc AS (SELECT d.doc_id, d.lang, CAST(coalesce(lam.lam6, 0) AS DECIMAL(28,6)) AS lam6, " +
      s"CAST(round(-ln(-ln((${hash52Sql("dsir#", "doc_id")} + 0.5) / 4503599627370496.0)), 6) " +
      "AS DECIMAL(18,6)) AS g6 FROM documents d LEFT JOIN lam USING (doc_id)), " +
      "rk AS (SELECT doc_id, lang, lam6, g6, lam6 + g6 AS score6, " +
      "row_number() OVER (ORDER BY lam6 + g6 DESC, doc_id) AS rn, count(*) OVER () AS n FROM sc) " +
      "SELECT doc_id, lang, CAST(lam6 AS DOUBLE) AS lam, CAST(g6 AS DOUBLE) AS gumbel, " +
      "CAST(score6 AS DOUBLE) AS score, rn * 4 <= n AS keep FROM rk ORDER BY doc_id"

  // ------------------------------------------------------------------
  // mix_epoch_plan — data-constrained epoch planning under a token budget
  // ------------------------------------------------------------------

  /** Epoch planner for a data-constrained mix (public recipe: Muennighoff
    * et al. 2023, "Scaling Data-Constrained Language Models" — repeating a
    * corpus stops helping after ~4 epochs): spend the sample_token_budget
    * convention's B = total/3 tokens across languages in temperature
    * shares (α = 0.5, the sample_temperature idiom); a language whose
    * stock falls short of its share REPEATS — epochs = ceil(want/stock),
    * capped at 4 — and anything past the cap is reported as `deficit`,
    * the number the mix designer must re-balance (raise other shares or
    * accept a smaller budget). This is the planning artifact BETWEEN
    * sample_temperature (shares) and sample_token_budget (the actual
    * fill): it says up front which languages will repeat and which can't
    * reach their share at any useful epoch count.
    *
    * Scale: one map-side token count to |langs| rows, two 1-row
    * broadcasts, pure integer-ppm arithmetic end to end (the sqrt share
    * enters through the established 1e-6-DECIMAL grid).
    */
  private def mixEpochPlan(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables
      .documents(s, dir)
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val counts = toks.groupBy("lang").agg(nrows.as("n_docs"), sum("n_tokens").as("stock_tokens"))
    val s6i = (round(sqrt(col("n_docs")), 6).cast(DecimalType(18, 6)) * 1000000).cast("long")
    counts
      .select(col("lang"), col("n_docs"), col("stock_tokens"), s6i.as("s6i"))
      .crossJoin(broadcast(counts.agg(sum(s6i).as("ssum"), sum("stock_tokens").as("total"))))
      .select(
        col("lang"),
        col("n_docs"),
        col("stock_tokens"),
        expr("s6i * 1000000 div ssum").as("target_ppm"),
        expr("(total div 3) * (s6i * 1000000 div ssum) div 1000000").as("want_tokens"),
      )
      .select(
        col("lang"),
        col("n_docs"),
        col("stock_tokens"),
        col("target_ppm"),
        col("want_tokens"),
        expr("least(4, (want_tokens + stock_tokens - 1) div stock_tokens)").as("epochs"),
        expr("least(want_tokens, 4 * stock_tokens)").as("served_tokens"),
        expr("want_tokens - least(want_tokens, 4 * stock_tokens)").as("deficit_tokens"),
      )
      .orderBy("lang")
  }

  private val mixEpochPlanSql =
    "WITH t AS (SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents), " +
      "c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS stock_tokens " +
      "FROM t GROUP BY 1), " +
      "s AS (SELECT lang, n_docs, stock_tokens, " +
      "CAST(CAST(round(sqrt(n_docs), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS s6i FROM c), " +
      "tot AS (SELECT CAST(sum(s6i) AS BIGINT) AS ssum, CAST(sum(stock_tokens) AS BIGINT) AS total FROM s), " +
      "w AS (SELECT lang, n_docs, stock_tokens, CAST(s6i * 1000000 // ssum AS BIGINT) AS target_ppm, " +
      "CAST((total // 3) * (s6i * 1000000 // ssum) // 1000000 AS BIGINT) AS want_tokens FROM s, tot) " +
      "SELECT lang, n_docs, stock_tokens, target_ppm, want_tokens, " +
      "CAST(least(4, (want_tokens + stock_tokens - 1) // stock_tokens) AS BIGINT) AS epochs, " +
      "CAST(least(want_tokens, 4 * stock_tokens) AS BIGINT) AS served_tokens, " +
      "CAST(want_tokens - least(want_tokens, 4 * stock_tokens) AS BIGINT) AS deficit_tokens " +
      "FROM w ORDER BY lang"

  val entries: Seq[QueryDef] = Seq(
    QueryDef("mix_epoch_plan", mixEpochPlan, Some(mixEpochPlanSql)),
    QueryDef("sample_importance_dsir", sampleImportanceDsir, Some(sampleImportanceDsirSql)),
    QueryDef("sample_token_budget", sampleTokenBudget, Some(sampleTokenBudgetSql)),
    QueryDef("sample_group_split", sampleGroupSplit, Some(sampleGroupSplitSql)),
    QueryDef("sample_mix_exact", sampleMixExact, Some(sampleMixExactSql)),
    QueryDef("sample_negative_pairs", sampleNegativePairs, Some(sampleNegativePairsSql)),
    QueryDef("sample_epoch_shuffle", sampleEpochShuffle, Some(sampleEpochShuffleSql)),
    QueryDef("sample_temperature", sampleTemperature, Some(sampleTemperatureSql)),
    QueryDef("text_pii_redact", textPiiRedact, Some(textPiiRedactSql)),
    QueryDef("embed_quantize_int8", embedQuantizeInt8, Some(embedQuantizeInt8Sql)),
    QueryDef("sample_weighted", sampleWeighted, Some(sampleWeightedSql)),
    QueryDef("sample_reservoir_group", sampleReservoirGroup, Some(sampleReservoirGroupSql)),
  )
}
