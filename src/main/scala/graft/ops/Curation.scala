package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-set curation verbs beyond the per-doc scorers in TextQuality:
  * benchmark decontamination, context-window chunking, sequence packing,
  * and quantile-based quality filtering (SURVEY.md §2.12).
  *
  * Scale doctrine, per op:
  *   - decontaminate: the eval set is a benchmark — tiny by construction —
  *     so its distinct n-grams BROADCAST; the corpus side computes per-doc
  *     distinct grams map-side (array_distinct before explode) and only the
  *     matching grams ever reach a shuffle. The corpus never self-joins.
  *   - chunk_text: pure per-row explode arithmetic, zero exchanges (the
  *     declared orderBy exists only for the deterministic oracle compare).
  *   - pack_sequences: the running-token window runs per (lang, shard)
  *     where shard is a deterministic hash bucket — partition size is
  *     bounded by corpus/|shards|, and at 100 TB you raise the shard count,
  *     not the partition size. No global sort exists.
  *   - filter_quality_quantile: declared form uses an exact per-lang
  *     percent_rank window (oracle-checkable); at 100 TB swap the window
  *     for an approx_percentile threshold per lang (a tiny agg,
  *     broadcast-joined back) — one-line change, same output contract
  *     modulo sketch error, and the per-lang full sort disappears.
  */
object Curation {

  private def nw: Column = split(Text.normText(col("text")), " ")

  /** Word 5-grams of a word array: one slice+concat per start index.
    * Guarded because sequence(1, 0) runs DESCENDING in Spark — a < 5-word
    * doc must yield an empty list, not [1, 0] start indices.
    */
  private def grams5(w: Column): Column =
    when(
      size(w) >= 5,
      transform(
        sequence(lit(1), size(w) - 4),
        // element_at x5, not slice(w, i, 5): the HOF runs interpreted, and
        // slice allocates a 5-element array per gram — measured ~2x slower
        i =>
          concat_ws(
            " ",
            element_at(w, i),
            element_at(w, i + 1),
            element_at(w, i + 2),
            element_at(w, i + 3),
            element_at(w, i + 4),
          ),
      ),
    ).otherwise(array().cast("array<string>"))

  /** Benchmark decontamination: train-split docs that share at least one
    * word-5-gram with the held-out eval split (hash buckets >= 98, i.e. the
    * same zero-state md5 bucketing as sample_hash_split — the eval
    * membership is reproducible on any engine). Output is the contaminated
    * doc ids with their distinct shared-gram counts — the pipeline drops
    * them (anti-join) before training.
    */
  private def decontaminate(s: SparkSession, dir: String): DataFrame = {
    // Two load-bearing plan shapes here:
    // 1. `w` is MATERIALIZED in its own projection before grams5 sees it.
    //    Interpreted HOFs do no common-subexpression elimination, so passing
    //    the raw `split(normText(text))` expression into the lambda re-runs
    //    the regex+split for every element_at of every gram (5 per gram ×
    //    ~50 grams per doc) — measured 17 s -> ~1 s at sf0.1 for this one
    //    projection. CollapseProject keeps the split out of the lambda
    //    because it never duplicates non-cheap aliases into multiple uses.
    // 2. explode_outer + attribute filter, NOT explode:
    //    InferFiltersFromGenerate would clone the (non-codegen) 5-gram HOF
    //    into inferred `size(gs) > 0 / isnotnull(gs)` scan filters and the
    //    interpreted transform would run 3x per row.
    val base = Tables
      // task-floor spread (r17): the interpreted grams5 HOF projection ran
      // single-task off the one-split scan
      .spreadSmallScan(s, dir, "documents", Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), Pipeline.hashBucket.as("bucket"), nw.as("w"))
      .select(
        col("doc_id"),
        col("bucket"),
        explode_outer(array_distinct(grams5(col("w")))).as("g"),
      )
      .filter(col("g").isNotNull)
    val evalGrams = base.filter(col("bucket") >= 98).select("g").distinct()
    base
      .filter(col("bucket") < 98)
      .select(col("doc_id"), col("g"))
      .join(broadcast(evalGrams), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy("doc_id")
  }

  private val decontaminateSql = {
    val bucket = Pipeline.hashBucketSql
    "WITH ws AS (SELECT doc_id, " + bucket + " AS bucket, " +
      "string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ') AS w FROM documents), " +
      "grams AS (SELECT DISTINCT doc_id, bucket, " +
      "unnest(list_transform(range(1, len(w) - 3), " +
      "i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4])) AS g " +
      "FROM ws WHERE len(w) >= 5), " +
      "ev AS (SELECT DISTINCT g FROM grams WHERE bucket >= 98) " +
      "SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams " +
      "FROM grams c JOIN ev ON c.g = ev.g WHERE c.bucket < 98 " +
      "GROUP BY 1 ORDER BY 1"
  }

  /** Context-window chunking: 32-token windows with stride 24 (8-token
    * overlap) over normalized text — how long documents become model
    * context windows. A chunk starts every 24 tokens while it would still
    * contribute tokens not fully covered by its predecessor; the final
    * chunk may be short. Start count for n > 32 is 1 + ceil((n-32)/24),
    * written as 1 + (n-9) div 24 so both engines stay in exact integers.
    */
  private def chunkText(s: SparkSession, dir: String): DataFrame = {
    val n = size(col("w"))
    val nStarts = when(n > 32, ((n - 9).cast("long") / 24).cast("long") + 1).otherwise(lit(1L))
    Tables
      .documents(s, dir)
      .select(col("doc_id"), nw.as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("n"),
        explode(sequence(lit(0L), nStarts - 1)).as("chunk_id"))
      .select(
        col("doc_id"),
        col("chunk_id"),
        least(col("n") - col("chunk_id") * 24, lit(32L)).as("n_chunk_tokens"),
        concat_ws(" ", slice(col("w"), (col("chunk_id") * 24 + 1).cast("int"), lit(32))).as("chunk_text"),
      )
      .orderBy("doc_id", "chunk_id")
  }

  private val chunkTextSql =
    "WITH ws AS (SELECT doc_id, " +
      "string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ') AS w FROM documents), " +
      "st AS (SELECT doc_id, w, len(w) AS n, " +
      "unnest(range(0, 1 + CASE WHEN len(w) > 32 THEN (len(w) - 9) // 24 ELSE 0 END)) AS c " +
      "FROM ws WHERE len(w) > 0) " +
      "SELECT doc_id, CAST(c AS BIGINT) AS chunk_id, " +
      "CAST(least(n - c*24, 32) AS BIGINT) AS n_chunk_tokens, " +
      "array_to_string(list_slice(w, c*24 + 1, least(c*24 + 32, n)), ' ') AS chunk_text " +
      "FROM st ORDER BY doc_id, chunk_id"

  /** Sequence packing: assign docs to fixed-capacity (256-token) training
    * sequences by running token count per (lang, shard), docs in doc_id
    * order — the deterministic "concatenate until full" packer. A doc's
    * sequence is the bin where its first token lands; start_offset is its
    * position in the shard's token stream.
    */
  private def packSequences(s: SparkSession, dir: String): DataFrame = {
    // running token offset per (lang, shard) via ScaleRank (range-split
    // local cumsum + broadcast prefix offsets): a shard's whole token
    // stream no longer rides one window task (r7 hub discipline — shard
    // count × |langs| tasks was the old parallelism ceiling)
    val base = Tables
      .documents(s, dir)
      .select(
        col("doc_id"),
        col("lang"),
        (Pipeline.hashBucket % 8).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
      )
    ScaleRank
      .rankedFrame(base, Seq("lang", "shard"), Seq(col("doc_id")), Some("n_tokens"))
      .withColumn("start_offset", col("__cum") - col("n_tokens"))
      .select(
        col("doc_id"),
        col("lang"),
        col("shard"),
        col("n_tokens"),
        col("start_offset"),
        expr("start_offset div 256").as("seq_id"),
      )
      .orderBy("doc_id")
  }

  private val packSequencesSql = {
    val bucket = Pipeline.hashBucketSql
    "WITH d AS (SELECT doc_id, lang, (" + bucket + ") % 8 AS shard, " +
      "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents), " +
      "c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id) AS cum FROM d) " +
      "SELECT doc_id, lang, CAST(shard AS BIGINT) AS shard, n_tokens, " +
      "CAST(cum - n_tokens AS BIGINT) AS start_offset, " +
      "CAST((cum - n_tokens) // 256 AS BIGINT) AS seq_id " +
      "FROM c ORDER BY doc_id"
  }

  /** Quality-quantile filter: keep docs at or above their language's median
    * quality score. percent_rank over (quality, doc_id) is fully
    * deterministic under ties, and quality itself is the exact
    * scaled-integer composite from TextQuality (distinct integer scores map
    * to distinct doubles), so the >= 0.5 boundary is engine-independent.
    */
  private def filterQualityQuantile(s: SparkSession, dir: String): DataFrame = {
    // percent_rank ≡ (rn − 1)/(n − 1) under the strict (quality, doc_id)
    // order, computed distributed via ScaleRank instead of a per-lang
    // window task holding the language's whole corpus slice; the n = 1
    // branch mirrors Spark/DuckDB's percent_rank-of-a-single-row = 0
    val base = Tables
      .documents(s, dir)
      .select(col("doc_id"), col("lang"), TextQuality.qualityCol.as("quality"))
    ScaleRank
      .rankedFrame(base, Seq("lang"), Seq(col("quality"), col("doc_id")), None)
      .withColumn(
        "pr",
        when(col("__seg_n") === 1, lit(0.0))
          .otherwise((col("__rn") - 1).cast("double") / (col("__seg_n") - 1).cast("double")),
      )
      .filter(col("pr") >= 0.5)
      .select(col("doc_id"), col("lang"), col("quality"), round(col("pr"), 4).as("pr"))
      .orderBy("doc_id")
  }

  private val filterQualityQuantileSql =
    "WITH d AS (SELECT doc_id, lang, text, string_split(text, ' ') AS w FROM documents), " +
      "b AS (SELECT doc_id, lang, CAST(len(w) AS BIGINT) AS n_tokens, " +
      s"${TextQuality.alphaRatioSql} AS alpha_ratio, " +
      s"${TextQuality.stopRatioSql} AS stop_ratio FROM d), " +
      s"q AS (SELECT doc_id, lang, ${TextQuality.qualityFromPartsSql} AS quality FROM b), " +
      "p AS (SELECT *, percent_rank() OVER (PARTITION BY lang ORDER BY quality, doc_id) AS pr FROM q) " +
      "SELECT doc_id, lang, quality, round(pr, 4) AS pr FROM p WHERE pr >= 0.5 ORDER BY doc_id"

  val entries: Seq[QueryDef] = Seq(
    QueryDef("decontaminate", decontaminate, Some(decontaminateSql)),
    QueryDef("chunk_text", chunkText, Some(chunkTextSql)),
    QueryDef("pack_sequences", packSequences, Some(packSequencesSql)),
    QueryDef("filter_quality_quantile", filterQualityQuantile, Some(filterQualityQuantileSql)),
  )
}
