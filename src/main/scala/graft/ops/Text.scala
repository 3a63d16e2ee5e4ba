package graft.ops

import graft.{QueryDef, Tables}
import graft.Qf._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis + dedup operators over the `documents` corpus
  * (SURVEY.md §2.10 — the LLM-data-pipeline surface).
  *
  * Scale doctrine: every op here is explode/groupBy/join shaped — shuffles
  * scale with token count, never with the square of the corpus. The one
  * quadratic-looking op (`dedup_near_jaccard`) joins on shared shingles, so
  * its cost is Σ per-shingle pair counts, which on natural text is ~linear;
  * at 100 TB the MinHash/LSH candidate generator (MinHashDedup, tested in
  * scalatest) feeds this same verifier only candidate pairs.
  */
object Text {

  /** Normalized text: lowercase, trim, collapse whitespace runs. This is the
    * canonical form for exact dedup; mirrored in DuckDB as
    * `lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g')))`.
    * The oracle side spells out Java's `\s` class explicitly because RE2's
    * `\s` EXCLUDES `\x0B` (vertical tab) — a single `\x0B` in any document
    * would otherwise diverge every downstream md5 (r4 ADVICE).
    */
  def normText(c: Column): Column = lower(trim(regexp_replace(c, "\\s+", " ")))

  private def words(c: Column): Column = split(c, " ")

  /** Word bigrams without a generator UDF: zip the word array against itself
    * shifted by one. slice() lengths are size-1 (>= 0 for any non-empty
    * split), so single-word docs yield an empty bigram list, not an error.
    */
  private[ops] def bigrams(w: Column): Column =
    zip_with(
      slice(w, lit(1), size(w) - 1),
      slice(w, lit(2), size(w) - 1),
      (x, y) => concat_ws(" ", x, y),
    )

  /** 3-word shingles, same shifted-zip trick (docs with < 3 words produce
    * an empty list via slice length 0; negative lengths are avoided by the
    * greatest(0, ...) guard).
    */
  private def shingles3(w: Column): Column = {
    val len = greatest(size(w) - 2, lit(0))
    zip_with(
      zip_with(slice(w, lit(1), len), slice(w, lit(2), len), (x, y) => concat_ws(" ", x, y)),
      slice(w, lit(3), len),
      (xy, z) => concat_ws(" ", xy, z),
    )
  }

  // ------------------------------------------------------------- dedup ops

  /** Exact dedup on normalized text. The group key shipped through the
    * shuffle is md5(norm) — 32 bytes instead of the full document — which is
    * the 100 TB-correct shape (the text column never leaves the map side).
    * Survivor = min doc_id per normal form; n_copies counts the duplicates.
    */
  private def dedupExactNorm(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .groupBy(md5(normText(col("text"))).as("norm_md5"))
      .agg(min(col("doc_id")).as("keep_id"), nrows.as("n_copies"))
      .orderBy("keep_id")

  /** THE shingle universe: distinct (doc_id, sh) 3-shingle hashes over
    * NORMALIZED text. Both the exact near-dup join below and the MinHash
    * LSH path (MinHashDedup) build on this one definition, so the exact
    * verifier and the LSH candidate generator can never drift apart.
    * The shuffle/join key is xxhash64(shingle), not the shingle text: at
    * corpus scale the shuffled bytes drop ~3× and joins compare longs (a
    * 64-bit collision among even 10^9 distinct shingles is ~1e-10 — far
    * below the accepted FP-rounding risk; same reasoning as
    * dedup_exact_norm's md5 key).
    */
  /** Per-doc DISTINCT shingle-hash ARRAYS — the same universe as
    * shingleHashes but kept at doc grain with NO explode: the input shape
    * the native MinHash signature kernel (graft_minhash_sig) consumes
    * map-side. array_distinct here ≡ the exploded path's distinct()
    * restricted to one doc.
    */
  def shingleHashArrays(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(col("doc_id"), words(normText(col(textCol))).as("w"))
      .filter(size(col("w")) >= 3)
      .select(
        col("doc_id"),
        array_distinct(transform(shingles3(col("w")), s => xxhash64(s))).as("shs"),
      )

  def shingleHashes(docs: DataFrame, textCol: String = "text"): DataFrame =
    // `w` is materialized before shingles3 references it 5× (filter + three
    // slices + size): an inlined expression would run the regex+split five
    // times per row — see Curation.decontaminate for the per-ELEMENT version
    // of the same trap.
    docs
      .select(col("doc_id"), words(normText(col(textCol))).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(shingles3(col("w"))).as("sh_str"))
      .select(col("doc_id"), xxhash64(col("sh_str")).as("sh"))
      .distinct()

  /** Shingle stream pruned to shingles appearing in >= 2 docs before the
    * pair self-join: a doc-frequency-1 shingle can never produce a pair, and
    * on natural text df=1 is the LONG TAIL of the shingle distribution
    * (hapax shingles dominate distinct counts). Implemented as a count
    * window over the join key itself — ONE exchange hash-partitioned by
    * `sh`, whose partitioning the self-join reuses (both join inputs are
    * this same subtree, already hash(sh)-partitioned, so at SMJ scale the
    * prune adds ZERO exchanges and removes df=1 rows from the pair
    * explosion). Per-doc SIZES must still count ALL shingles — callers
    * compute sizes from the unpruned stream.
    *
    * Measured A/B at sf0.1 (Scratch harness, 3 passes, r5): unpruned
    * 1.80 s / 3.1 MB shuffle; window prune 1.57 s / 21.4 MB; groupBy+
    * semi-join prune 2.25 s / 6.9 MB. Two fixture artifacts explain the
    * byte INCREASE here: (a) the synthetic corpus's tiny vocab makes
    * df=1 only 207 of 260,388 shingle rows (0.08%), so there is nothing
    * to prune, and (b) at this size AQE plans the self-join as a
    * BROADCAST join with no sh-exchange at all, so the window's exchange
    * is additional rather than reused — and its xxhash64 payload doesn't
    * LZ4 like the text-token exchanges do. Both invert at natural-text
    * scale: hapax shingles dominate and the join is SMJ, where this
    * exchange is the join's own. A shuffle-BYTE reduction (vs compute
    * reduction) would additionally need map-side pruning — a bloom filter
    * of df>=2 keys applied before the exchange. Two such prunes were built,
    * measured and not shipped: with exact keys, the df aggregation itself
    * shuffles every distinct key, which costs about as much as the stream
    * exchange it avoids; a constant-shuffle two-bloom (seen, dup) sketch
    * cut the pair join's bytes more than 2x on a hapax-heavy corpus but
    * costs one more evaluation of the stream, and this corpus's hapax tail
    * is 0.08%. Revisit only if the pair stage's input dominates at 100 TB.
    *
    * The window's exchange plays a second, load-bearing role: it is the
    * MATERIALIZATION POINT AQE stage reuse dedups across the self-join's
    * two references. The callers' shingle subtree is pure map-side
    * (shingleHashArrays), so without a shuffle stage here each join side
    * would re-shingle the whole corpus — measured 3.2-3.7 s vs 1.9-2.1 s
    * at sf0.1 with the window removed.
    */
  private[graft] def pairableShingles(sh: DataFrame): DataFrame =
    sh.withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
      .filter(col("df") >= 2)
      .drop("df")

  /** Near-duplicate pairs by exact 3-shingle Jaccard >= 0.8 on normalized
    * text. Plan: shingle hashes → df>=2 prune → self-equi-join (a < b) →
    * |∩| per pair → |∪| = |A|+|B|−|∩| → ratio. Only docs sharing a shingle
    * ever pair up — no all-pairs blowup. Jaccard is a ratio of exact ints
    * (deterministic); round(4) declared.
    */
  private def dedupNearJaccard(s: SparkSession, dir: String): DataFrame = {
    // task-floor spread (r17): the shingle map work parallelizes (measured
    // at sf0.1: the shingle stage ran 1.6 s CPU in 1 task while 31 cores
    // idled)
    val docs = Tables.spreadSmallScan(s, dir, "documents", Tables.documents(s, dir), col("doc_id"))
    // Doc-grain arrays keep BOTH the per-doc distinct and the sizes entirely
    // map-side: explode(array_distinct(..)) needs no global distinct()
    // exchange (uniqueness within a doc is the only uniqueness the pair
    // join needs), and |shingles| = size(shs) needs no groupBy exchange.
    // The only pre-join exchange left is the df>=2 window's hash(sh).
    val arr = shingleHashArrays(docs)
    // n_sh rides ALONG each stream row (8 B) instead of being a separate
    // sizes frame: a pure map-side subtree has no shuffle stage for AQE to
    // reuse, so a separate sizes frame would re-shingle the corpus once per
    // reference (2 sizes broadcasts + 2 join sides = 4 full recomputes —
    // measured 2.2 s vs 1.5 s at sf0.1). Constant-per-group, so min() in
    // the pair aggregate recovers it exactly.
    val sh = arr.select(
      col("doc_id"),
      size(col("shs")).cast("long").as("n_sh"),
      explode(col("shs")).as("sh"),
    )
    // EXACT-pair budget pre-flight (r15): above the documents byte gate,
    // one df aggregate prices the pair stream (Σ df·(df−1)/2 — the exact
    // a<b row count this join will emit). Within budget → the pair
    // aggregate is sized to the work; past it → refuse in seconds naming
    // dedup_minhash_lsh, instead of dying in spill after minutes (the r14
    // closed-vocab sf10 kill: 11.76 B pairs vs 77 GB of disk). Below the
    // gate the plan is byte-identical and no estimate job runs.
    val sized = PairBudget.exactPairPreflight(
      s, dir, "dedup_near_jaccard", s"exactpair:near_jaccard:$dir", "dedup_minhash_lsh")(
      sh.select("sh"), "sh")
    val pairable = pairableShingles(sh)
    val paired = pairable
      .select(col("doc_id").as("id_a"), col("n_sh").as("na"), col("sh"))
      .join(pairable.select(col("doc_id").as("id_b"), col("n_sh").as("nb"), col("sh")), "sh")
      .filter(col("id_a") < col("id_b"))
    sized
      .map(n => paired.repartition(n, col("id_a"), col("id_b")))
      .getOrElse(paired)
      .groupBy("id_a", "id_b")
      .agg(nrows.as("n_inter"), min("na").as("n_a"), min("nb").as("n_b"))
      .withColumn(
        "jaccard",
        round(col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")), 4),
      )
      .filter(col("jaccard") >= 0.8)
      .select("id_a", "id_b", "n_inter", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** Asymmetric containment dedup: |A∩B| / min(|A|,|B|) ≥ 0.9 — catches a
    * document EMBEDDED in a larger one (quotes, excerpts, truncated
    * re-crawls), which symmetric Jaccard misses: a half-length excerpt has
    * containment 1.0 but Jaccard ~0.5, far under the 0.8 dup bar. The
    * corpus has no natural excerpts [DATA], so every 20th doc contributes a
    * synthesized prefix-half excerpt (id + 1e12 — disjoint from real doc_ids at any conceivable corpus size) — the same
    * plant-then-detect pattern as text_pii_redact. Same shingle universe
    * and shared-shingle join as dedup_near_jaccard: cost is Σ per-shingle
    * pair counts, never corpus². id_sub is the smaller shingle set (the
    * contained side; ties → smaller id since id_a < id_b).
    */
  private def dedupContainment(s: SparkSession, dir: String): DataFrame = {
    // task-floor spread (r17) BEFORE the excerpt derivation (session 2):
    // the first cut spread the union, which left TWO single-split
    // `documents` scans (docs side + excerpts side) and the excerpt
    // regex+split running at scan parallelism — a 2-task ~0.8 CPU-s stage
    // while 30 cores idled. Spreading the bare (doc_id, text) scan first
    // means ONE scan feeds one exchange whose blocks both union branches
    // read (AQE exchange reuse), and the excerpt regex runs at full
    // parallelism. Above the gate the spread is identity, so the cluster
    // plan keeps the planner's shape unchanged.
    val base = Tables.spreadSmallScan(
      s, dir, "documents", Tables.documents(s, dir).select(col("doc_id"), col("text")), col("doc_id"))
    val excerpts = base
      .filter(col("doc_id") % 20 === 0)
      .select(col("doc_id"), words(normText(col("text"))).as("w"))
      .select(
        (col("doc_id") + 1000000000000L).as("doc_id"),
        concat_ws(
          " ",
          slice(col("w"), lit(1), greatest(floor(size(col("w")) / 2).cast("int"), lit(3))),
        ).as("text"),
      )
    val corpus = base.unionByName(excerpts)
    // same map-side array shape + rode-along n_sh as dedup_near_jaccard:
    // no distinct()/groupBy exchanges, no sizes joins (see that scaladoc)
    val arr = shingleHashArrays(corpus)
    val sh = arr.select(
      col("doc_id"),
      size(col("shs")).cast("long").as("n_sh"),
      explode(col("shs")).as("sh"),
    )
    // same exact-pair pre-flight as dedup_near_jaccard (its own cache key:
    // this stream includes the synthesized excerpts)
    val sized = PairBudget.exactPairPreflight(
      s, dir, "dedup_containment", s"exactpair:containment:$dir", "dedup_minhash_lsh")(
      sh.select("sh"), "sh")
    val pairable = pairableShingles(sh) // n_sh still counts ALL shingles
    val subFirst = col("n_a") <= col("n_b") // ties → id_a, which is the smaller id
    val paired = pairable
      .select(col("doc_id").as("id_a"), col("n_sh").as("na"), col("sh"))
      .join(pairable.select(col("doc_id").as("id_b"), col("n_sh").as("nb"), col("sh")), "sh")
      .filter(col("id_a") < col("id_b"))
    sized
      .map(n => paired.repartition(n, col("id_a"), col("id_b")))
      .getOrElse(paired)
      .groupBy("id_a", "id_b")
      .agg(nrows.as("n_inter"), min("na").as("n_a"), min("nb").as("n_b"))
      .withColumn(
        "containment",
        round(col("n_inter").cast("double") / least(col("n_a"), col("n_b")), 4),
      )
      .filter(col("containment") >= 0.9)
      .select(
        when(subFirst, col("id_a")).otherwise(col("id_b")).as("id_sub"),
        when(subFirst, col("id_b")).otherwise(col("id_a")).as("id_super"),
        col("n_inter"),
        col("containment"),
      )
      .orderBy("id_sub", "id_super")
  }

  private val dedupContainmentSql =
    "WITH ws0 AS (SELECT doc_id, " +
      "string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ') AS w FROM documents), " +
      "exc AS (SELECT doc_id + 1000000000000 AS doc_id, " +
      "array_to_string(w[1:greatest(len(w)//2, 3)], ' ') AS text FROM ws0 WHERE doc_id % 20 = 0), " +
      "corpus AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM exc), " +
      "ws AS (SELECT doc_id, " +
      "string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ') AS w FROM corpus), " +
      "sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(w) - 1), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM ws WHERE len(w) >= 3), " +
      "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1), " +
      "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter " +
      "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "scored AS (SELECT id_a, id_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b, " +
      "round(CAST(n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh), 4) AS containment " +
      "FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b) " +
      "SELECT CASE WHEN n_a <= n_b THEN id_a ELSE id_b END AS id_sub, " +
      "CASE WHEN n_a <= n_b THEN id_b ELSE id_a END AS id_super, " +
      "n_inter, containment FROM scored WHERE containment >= 0.9 ORDER BY id_sub, id_super"

  // ----------------------------------------------------------- text stats

  /** Per-language corpus stats: doc count, avg chars, avg tokens, vocabulary
    * size. Two aggregates joined on lang: doc-grain stats can't share a plan
    * with the exploded token-grain distinct. Integer sums are exact, so the
    * averages (int sum / count, divided in double) are deterministic across
    * engines without decimal routing.
    */
  private def textStatsLang(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).withColumn("toks", words(col("text")))
    val base = docs
      .groupBy("lang")
      .agg(
        nrows.as("n_docs"),
        (sum(col("n_chars")).cast("double") / nrows).as("avg_chars"),
        (sum(size(col("toks"))).cast("double") / nrows).as("avg_tokens"),
      )
    val vocab = docs
      .select(col("lang"), explode(col("toks")).as("tok"))
      .groupBy("lang")
      .agg(countDistinct(col("tok")).as("vocab"))
    base.join(vocab, "lang").orderBy("lang")
  }

  /** Top-10 terms per language (terms longer than 3 chars — a stand-in for a
    * stopword list), count-desc with term tiebreak. Explode → two-level agg →
    * rank-filter: the window shuffle carries only (lang, term, n).
    */
  private def textTopTerms(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("term"))
    Tables
      .documents(s, dir)
      .select(col("lang"), explode(words(col("text"))).as("term"))
      .filter(length(col("term")) > 3)
      .groupBy("lang", "term")
      .agg(nrows.as("n"))
      .withColumn("rn", asLong(row_number().over(w)))
      .filter(col("rn") <= 10)
      .orderBy("lang", "rn")
  }

  /** TF-IDF, top-3 terms per doc. THE FORMULA IS THE ORACLE CONTRACT:
    *   tf      = count of term in doc (raw count)
    *   idf     = ln((N + 1) / (df + 1)) + 1      (smoothed)
    *   score   = round(tf * idf, 4)
    * with N = total docs, df = docs containing term. N reaches the plan as a
    * 1-row broadcast cross join (never a collected literal).
    * Rank by (score desc, term) per doc, keep rn <= 3.
    */
  private def textTfidfTopk(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toks = docs.select(col("doc_id"), explode(words(col("text"))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(nrows.as("tf"))
    val dfreq = toks.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.agg(nrows.as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn(
        "score",
        round(
          col("tf") * (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1),
          4,
        ),
      )
      .withColumn("rn", asLong(row_number().over(w)))
      .filter(col("rn") <= 3)
      .select("doc_id", "term", "score", "rn")
      .orderBy("doc_id", "rn")
  }

  /** Top-20 corpus bigrams, count-desc with bigram tiebreak. */
  private def textNgramsBigram(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(explode(bigrams(words(col("text")))).as("bigram"))
      .groupBy("bigram")
      .agg(nrows.as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)

  // ------------------------------------------------------------- catalog

  /** Exact 3-shingle Jaccard >= 0.8 oracle over normalized text — SHARED
    * between `dedup_near_jaccard` and `dedup_minhash_lsh` (the LSH pipeline
    * is declared against the exact truth; keeping one constant is what makes
    * "same oracle" impossible to drift).
    */
  val nearJaccardOracleSql: String =
    "WITH ws AS (SELECT doc_id, " +
      "string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ') AS w FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(w) - 1), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM ws WHERE len(w) >= 3), " +
      "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1), " +
      "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter " +
      "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
      "SELECT id_a, id_b, n_inter, " +
      "round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard " +
      "FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
      "WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.8 " +
      "ORDER BY id_a, id_b"

  /** Prefix n-gram novelty per document: the fraction of a doc's distinct
    * 3-shingles not seen in ANY lower-id document — the curriculum /
    * incremental-crawl signal ("how much new content does this doc add?").
    * A sequential-sounding definition made relational, with NO per-shingle
    * window (r7: the min-over-partitionBy(sh) window shipped every row of
    * a shingle to one task — a planet-hot shingle owns that task at corpus
    * scale): first-seer = groupBy(sh).min(doc_id), whose partial
    * aggregation collapses even a hot shingle to one row per map task
    * BEFORE the exchange; novelty counts then come from a second
    * aggregation of the |shingles|-grain firsts at doc grain, joined back
    * onto the per-doc gram counts — every exchange carries collapsed
    * grain, never the raw shingle stream. The shingle subtree is evaluated
    * twice (counts + firsts), both map-side — cheaper than one full-stream
    * exchange at any scale. Novelty is a round(4) ratio of exact ints.
    */
  private def textNovelty(s: SparkSession, dir: String): DataFrame = {
    val arr = shingleHashArrays(
      Tables.spreadSmallScan(s, dir, "documents", Tables.documents(s, dir), col("doc_id")))
    val sh = arr.select(
      col("doc_id"),
      size(col("shs")).cast("long").as("n_sh"),
      explode(col("shs")).as("sh"),
    )
    val counts = sh.groupBy("doc_id").agg(min("n_sh").as("n_grams"))
    val novel = sh
      .groupBy("sh")
      .agg(min("doc_id").as("first_doc"))
      .groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("nn"))
    counts
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"), coalesce(col("nn"), lit(0L)).as("n_novel"))
      .withColumn("novelty", round(col("n_novel").cast("double") / col("n_grams"), 4))
      .orderBy("doc_id")
  }

  private val textNoveltySql =
    "WITH ws AS (SELECT doc_id, " +
      "string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ') AS w FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(w) - 1), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM ws WHERE len(w) >= 3), " +
      "f AS (SELECT doc_id, s, min(doc_id) OVER (PARTITION BY s) AS first_doc FROM sh) " +
      "SELECT doc_id, count(*) AS n_grams, " +
      "CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, " +
      "round(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS novelty " +
      "FROM f GROUP BY doc_id ORDER BY doc_id"

  /** Exact duplicated-SPAN detection (the suffix-array "exact substring"
    * dedup of the train-data literature, re-expressed relationally): a
    * k-token window (k = 8) is duplicated when its token string occurs >= 2
    * times anywhere in the corpus — across docs OR repeated within one —
    * and maximal runs of consecutive duplicated windows merge into spans
    * `(doc_id, span_start, span_len, n_windows)` via gaps-and-islands
    * (pos − row_number is constant exactly on consecutive-pos runs). Unlike
    * the pair-join dedups above, duplication needs NO pair join: the df per
    * gram comes from a groupBy(hash) AGGREGATE — partial aggregation
    * collapses even a planet-hot gram to one row per map task BEFORE the
    * exchange (the r6 window formulation put a hot gram's whole df in one
    * WindowExec task — the "hub" seam this redesign closes) — and dup
    * membership re-attaches by a semi-join probe that Spark's runtime
    * bloom/AQE machinery prunes map-side, so the probe exchange carries
    * ~only true-dup windows. The df frame is TWO-SIDED: `2 ≤ df ≤ cap`.
    * The upper side is the stop-gram cap — a gram hotter than
    * [[SpanDfCap]] is boilerplate whose spans saturate anyway, and
    * dropping it from the build side lets the runtime filter discard its
    * windows before they ever shuffle. Spark groups on xxhash64(gram)
    * (8 B through the shuffle, never gram text); the oracle groups on the
    * gram string itself — identical rows barring a 2^-64 collision.
    */
  private val SpanK = 8

  /** Stop-gram cap: ≫ any real df in the fixtures (so current outputs are
    * bit-identical), binding only on degenerate boilerplate at corpus
    * scale; mirrored verbatim in the oracle SQL so the contract is explicit.
    */
  private val SpanDfCap = 65536L

  private def dedupSubstringSpans(s: SparkSession, dir: String): DataFrame = {
    val wins = Tables.spreadSmallScan(s, dir, "documents", Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), words(normText(col("text"))).as("w"))
      .filter(size(col("w")) >= SpanK)
      .select(
        col("doc_id"),
        posexplode(
          expr(
            s"transform(sequence(0, size(w) - $SpanK), " +
              s"i -> xxhash64(concat_ws(' ', slice(w, i + 1, $SpanK))))"
          )
        ).as(Seq("pos", "h")),
      )
      .select(col("doc_id"), asLong(col("pos")).as("pos"), col("h"))
    val dupGrams = wins
      .groupBy("h")
      .agg(nrows.as("df"))
      .filter(col("df") >= 2 && col("df") <= SpanDfCap)
      .select("h")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    wins
      .join(dupGrams, Seq("h"), "left_semi")
      .withColumn("isl", col("pos") - asLong(row_number().over(byDoc)))
      .groupBy("doc_id", "isl")
      .agg(
        min("pos").as("span_start"),
        (max("pos") - min("pos") + SpanK).as("span_len"),
        nrows.as("n_windows"),
      )
      .select("doc_id", "span_start", "span_len", "n_windows")
      .orderBy("doc_id", "span_start")
  }

  private val dedupSubstringSpansSql =
    "WITH ws AS (SELECT doc_id, " +
      "string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ') AS w FROM documents), " +
      s"g AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - $SpanK + 2), " +
      s"i -> struct_pack(pos := i - 1, g := array_to_string(w[i:i+$SpanK-1], ' ')))) AS s " +
      s"FROM ws WHERE len(w) >= $SpanK), " +
      "f AS (SELECT doc_id, s.pos AS pos, s.g AS g FROM g), " +
      "d AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS df FROM f), " +
      "r AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl " +
      s"FROM d WHERE df >= 2 AND df <= $SpanDfCap) " +
      s"SELECT doc_id, min(pos) AS span_start, max(pos) - min(pos) + $SpanK AS span_len, " +
      "count(*) AS n_windows FROM r GROUP BY doc_id, isl ORDER BY doc_id, span_start"

  val entries: Seq[QueryDef] = Seq(
    QueryDef("dedup_substring_spans", dedupSubstringSpans, Some(dedupSubstringSpansSql)),
    QueryDef("text_novelty", textNovelty, Some(textNoveltySql)),
    QueryDef(
      "dedup_exact_norm",
      dedupExactNorm,
      Some(
        "SELECT md5(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')))) AS norm_md5, " +
          "min(doc_id) AS keep_id, count(*) AS n_copies " +
          "FROM documents GROUP BY 1 ORDER BY keep_id"
      ),
    ),
    QueryDef("dedup_near_jaccard", dedupNearJaccard, Some(nearJaccardOracleSql)),
    QueryDef("dedup_containment", dedupContainment, Some(dedupContainmentSql)),
    QueryDef(
      "text_stats_lang",
      textStatsLang,
      Some(
        "WITH d AS (SELECT lang, n_chars, string_split(text, ' ') AS toks FROM documents), " +
          "base AS (SELECT lang, count(*) AS n_docs, " +
          "CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars, " +
          "CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avg_tokens FROM d GROUP BY 1), " +
          "v AS (SELECT lang, count(DISTINCT tok) AS vocab FROM " +
          "(SELECT lang, unnest(toks) AS tok FROM d) GROUP BY 1) " +
          "SELECT base.lang AS lang, n_docs, avg_chars, avg_tokens, vocab " +
          "FROM base JOIN v USING (lang) ORDER BY lang"
      ),
    ),
    QueryDef(
      "text_top_terms",
      textTopTerms,
      Some(
        "SELECT lang, term, n, rn FROM (" +
          "SELECT lang, term, count(*) AS n, " +
          "row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, term) AS rn " +
          "FROM (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents) " +
          "WHERE length(term) > 3 GROUP BY lang, term) WHERE rn <= 10 ORDER BY lang, rn"
      ),
    ),
    QueryDef(
      "text_tfidf_topk",
      textTfidfTopk,
      Some(
        "WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
          "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2), " +
          "dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1), " +
          "n AS (SELECT count(*) AS n_docs FROM documents), " +
          "scored AS (SELECT doc_id, tf.term AS term, " +
          "round(tf * (ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) + 1), 4) AS score " +
          "FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n) " +
          "SELECT doc_id, term, score, rn FROM (" +
          "SELECT doc_id, term, score, " +
          "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn " +
          "FROM scored) WHERE rn <= 3 ORDER BY doc_id, rn"
      ),
    ),
    QueryDef(
      "text_ngrams_bigram",
      textNgramsBigram,
      Some(
        "SELECT bigram, count(*) AS n FROM (" +
          "SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram " +
          "FROM (SELECT string_split(text, ' ') AS w FROM documents)) " +
          "GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20"
      ),
    ),
  )
}
