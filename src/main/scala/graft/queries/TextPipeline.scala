package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SessionCache
import graft.pipeline.TextPrep
import graft.sources.Tables

/** Training-data text pipeline over the `documents` table: analysis
  * (token stats, quality scoring, language-ID, fingerprinting) and
  * deduplication (exact, n-gram Jaccard, MinHash+LSH banding, SimHash).
  * Beyond the reference's own operator surface (the reference has no
  * corpus tooling), these are the operations a large-scale
  * training-data pipeline needs; built Spark-first.
  *
  * Determinism contract: every query is pure integer/exact arithmetic
  * except explicitly-mirrored IEEE double expressions (ratios,
  * divisions) whose operand order is textually identical on both
  * sides, so Spark and DuckDB produce bit-identical doubles.
  *
  * Scale notes (the point of each design):
  *   - Everything keys on doc_id or shingle: hash-partitioned
  *     aggregations and joins, no driver-side state, no collect.
  *   - Candidate generation is always index-based (inverted shingle
  *     index, LSH bands, SimHash bands) — never an O(n²) cross join —
  *     so the same plans hold on a 1000-executor cluster.
  *   - The per-(lang, token) document-frequency table used by
  *     language-ID carries no broadcast hint: the planner broadcasts
  *     it when its measured size fits and shuffle-joins on `tok`
  *     when a web-scale vocabulary doesn't.
  */
object TextPipeline extends graft.Registry {
  import TextPrep._

  /** td15 span length in tokens (Lee et al. use 50 BPE tokens; 8
    * whitespace tokens is the proportionate span for the short
    * testdata docs — frozen, mirrored into the oracle). */
  private val SpanGram = 8

  private val NumHashes = 16 // minhash signature length
  // private[graft]: the streaming twin (DocStreams.rowLocalBands)
  // derives its band layout from THIS constant — its bkeys join the
  // batch index, so a silent re-hardcode diverging from a retune here
  // would make the (band, bkey) equijoin stop matching with no error
  private[graft] val Bands = 4 // LSH bands (4 rows each): ~0.7 similarity knee
  private[graft] val Rows = NumHashes / Bands
  // SimHash calibration: 64-bit signature, 8 bands of 8 bits, exact
  // Hamming ≤ 7 — the Manku et al. (WWW'07, "Detecting near-duplicates
  // for web crawling") operating point (64-bit fingerprints, small
  // Hamming radius, banded index). Pigeonhole: d ≤ 7 flipped bits
  // cannot touch all 8 bands, so every true pair shares a clean band —
  // recall is guaranteed, not probabilistic. The 8-bit band key gives
  // 256 buckets/band (vs 16 for the old 32-bit/4-bit layout), so
  // random-pair candidates drop ~n²/4 → ~n²/64: the bucket join stays
  // subquadratic at corpus scale. Measured on testdata: true
  // (jaccard ≥ 0.8) pairs land at hamming ≤ 7 of 64 at sf0.01 (max 10
  // at sf0.001 — d ≤ 7 over 64 bits is a slightly TIGHTER similarity
  // bar than jaccard 0.8, by design), background pairs ≥ 17.
  private[graft] val SimBits = 64
  // 8×8-bit banding, retained for the DuckDB oracle SQL only: any
  // candidate scheme that is COMPLETE for hamming ≤ MaxHamming yields
  // the same final pair set after the exact-Hamming filter, so the
  // oracle and the engine are free to band differently (see
  // [[simBandKeys]] for the engine-side scheme and why it changed).
  private[graft] val SimBands = 8
  private[graft] val SimBandBits = SimBits / SimBands
  private[graft] val MaxHamming = 7
  private[graft] val SimBlocks = 9

  /** Engine-side SimHash candidate banding: the 64 signature bits
    * split into [[SimBlocks]] = 9 blocks (one 8-bit + eight 7-bit),
    * candidates keyed on every PAIR of blocks — C(9,2) = 36 bands with
    * 14/15-bit keys. Pigeonhole recall is preserved: ≤ [[MaxHamming]]
    * (7) differing bits dirty at most 7 blocks, so at least 2 blocks
    * stay clean and every true near-dup pair shares at least one
    * band key, exactly as with single clean 8-bit bands.
    *
    * Why pairs: the scale bottleneck is band-key ENTROPY. Single 8-bit
    * keys give 8 × 256 = 2 048 buckets TOTAL, so bucket occupancy —
    * and the within-bucket pair comparisons — grow quadratically once
    * the corpus passes ~10⁵ docs (measured on the sf1→sf10 decade:
    * td08 went 11.8× for 10× data as every bucket reached ~2 000
    * docs). Block-pair keys give 36 × ~2¹⁴ ≈ 590 000 buckets: ~300×
    * more key entropy for a 4.5× increase in banded rows, pushing the
    * quadratic wall out by the same ~300× in corpus size.
    *
    * Returns (bandId, band-key SQL over a `simhash` BIGINT column) —
    * shared by the batch sorted-run scan ([[simHashPairsOf]]) and the
    * streaming bucket state
    * ([[graft.streaming.DocStreams.nearDupSimHash]]) so both halves
    * bucket identically. */
  private[graft] def simBandKeys: Seq[(Int, String)] = {
    val widths = 8 +: Seq.fill(SimBlocks - 1)(7)
    val offsets = widths.scanLeft(0)(_ + _).init
    val blocks = offsets.zip(widths)
    for {
      i <- 0 until SimBlocks
      j <- (i + 1) until SimBlocks
    } yield {
      val (oi, wi) = blocks(i)
      val (oj, wj) = blocks(j)
      // shiftright is arithmetic, but the width masks keep only the
      // block's own bits, so bit 63's sign never leaks into a key
      (i * SimBlocks + j,
        s"(shiftright(simhash, $oi) & ${(1 << wi) - 1}) * ${1L << wj} + " +
          s"(shiftright(simhash, $oj) & ${(1 << wj) - 1})")
    }
  }
  private val JaccardThreshold = 0.8
  private val EstSimThreshold = 0.5
  // Document-frequency cap for the Jaccard candidate join: a shingle
  // present in more than this many documents (site boilerplate,
  // license headers — think "terms of service" with df = 10⁶) is
  // dropped BEFORE the shingle self-join, because its contribution to
  // the join is df² candidate rows on one key — a single hot shingle
  // would put a 10¹²-pair partition on one executor. Ubiquitous
  // shingles carry no dedup signal, so sizes and intersections are
  // both computed over the capped index (consistent Jaccard over
  // discriminative shingles). Testdata max df is 25 (measured at
  // sf0.1), so results are identical to the uncapped form there; a
  // production corpus would tune this toward a corpus fraction.
  // private[graft]: BASELINE.md round 14 measured the pair graph at
  // the SAME cap the operators use
  private[graft] val MaxShingleDf = 1000L

  /** Stopword list for quality scoring (generic English function
    * words; 'the'/'in'/'on' overlap the testdata vocabulary). */
  private val Stopwords =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")

  /** Quality-score formula, shared verbatim by Spark and the oracle. */
  private val scoreExpr: String =
    "CAST(0.4 AS DOUBLE) * least(n_tokens, 100) / CAST(100.0 AS DOUBLE)" +
      " + CAST(0.4 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - stop_ratio)" +
      " + CAST(0.2 AS DOUBLE) * least(avg_word_len, CAST(8.0 AS DOUBLE)) / CAST(8.0 AS DOUBLE)"

  // ---------------------------------------------------------------- analysis

  /** BPE-ish subword pattern: greedy ≤4-char letter chunks, ≤3-digit
    * number chunks, single other glyphs — greedy quantifiers behave
    * identically in Java regex and DuckDB RE2, so counts match. The
    * pattern is escape-free (literal space, not \s) because Spark SQL
    * string literals consume backslash escapes while DuckDB's do not.
    */
  private val SubwordPattern = "[a-z]{1,4}|[0-9]{1,3}|[^a-z0-9 ]"

  /** Token-count distribution per language: whitespace tokens AND
    * BPE-ish regex subtokens, with exact interpolated median. One
    * pass, one shuffle on lang (5 groups). */
  def tokenStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(
        col("lang"),
        size(split(col("text"), " ")).as("n_tok"),
        size(expr(s"regexp_extract_all(text, '$SubwordPattern', 0)")).as("n_sub"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("total_tokens"),
        sum("n_sub").as("total_subtokens"),
        // long, not int: DuckDB len() is BIGINT, so the oracle's
        // MIN/MAX are int64 — match the width exactly.
        min("n_tok").cast("long").as("min_tokens"),
        max("n_tok").cast("long").as("max_tokens"),
        (sum("n_tok").cast("double") / count(lit(1))).as("avg_tokens"),
        percentile(col("n_tok").cast("double"), lit(0.5)).as("p50_tokens"))
      .orderBy("lang")

  /** Per-document quality metrics + composite score over one scan:
    * length, stopword ratio, mean word length (codegen'd scalars).
    * Pure stateless column expressions over a `(doc_id, lang, text)`
    * frame — the SAME transform scores a streaming ingest
    * ([[graft.streaming.DocStreams.qualityFilter]]). */
  private[graft] def scoreQuality(d0: DataFrame): DataFrame = {
    val inList = Stopwords.map(w => s"'$w'").mkString(", ")
    // Re-scoring already-scored input must be idempotent, not
    // ambiguous (the piiTag discipline): drop any prior derived
    // columns before re-deriving them, so chaining streaming
    // operators that each call this (qualityFilter → mixtureQuota)
    // can never stack duplicate names into AMBIGUOUS_REFERENCE.
    // Only OUR OUTPUT columns are reserved: drop-and-re-derive is the
    // idempotence semantics for them. The intermediates use __q_-
    // prefixed names so a caller's own generic "t" or "n_stopwords"
    // column rides through untouched instead of being eaten.
    val reserved = Seq("n_chars_calc", "n_tokens",
      "stop_ratio", "avg_word_len", "quality_score")
    val d = d0.drop(reserved: _*)
    // every column except the scored pair rides through unchanged —
    // including `text` itself: a streaming ingest must keep the
    // document body (it is the payload being landed) and its
    // event-time column (for watermarking). Batch declared queries
    // select their exact columns afterwards, so the ride-through does
    // not change any oracle-compared output.
    val extras = d.columns.toSeq.diff(Seq("doc_id", "lang")).map(col)
    d
      .select(Seq(
        col("doc_id"), col("lang"),
        // long, not int: DuckDB length()/len() are BIGINT and the
        // driver hashes typed values — match the width exactly
        length(col("text")).cast("long").as("n_chars_calc"),
        split(col("text"), " ").as("__q_t")) ++ extras: _*)
      .select(Seq(
        col("doc_id"), col("lang"),
        col("n_chars_calc"),
        size(col("__q_t")).cast("long").as("n_tokens"),
        expr(s"size(filter(__q_t, x -> x IN ($inList)))").as("__q_nstop"))
        ++ extras: _*)
      .select(Seq(
        col("doc_id"), col("lang"),
        col("n_tokens"),
        col("n_chars_calc"),
        expr("CAST(__q_nstop AS DOUBLE) / n_tokens").as("stop_ratio"),
        expr("CAST(n_chars_calc - (n_tokens - 1) AS DOUBLE) / n_tokens")
          .as("avg_word_len")) ++ extras: _*)
      .withColumn(
        "quality_score",
        // Literals cast to DOUBLE on BOTH sides: bare 0.4 parses as
        // DECIMAL in each engine with different precision rules → ulp
        // drift; forcing doubles makes the IEEE op sequence identical.
        expr(scoreExpr))
  }

  /** Scored corpus of `dir` (batch form of [[scoreQuality]]). */
  private def qualityBase(s: SparkSession, dir: String): DataFrame =
    scoreQuality(docs(s, dir))

  /** Quality-score listing (declared query). */
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    qualityBase(s, dir)
      .select("doc_id", "n_tokens", "n_chars_calc", "stop_ratio",
        "avg_word_len", "quality_score")
      .orderBy("doc_id")
      .limit(200)

  /** Language-ID by corpus-trained token document frequency: score of
    * doc d for language L = sum over d's distinct tokens of the number
    * of L-labeled docs containing that token; prediction = argmax
    * (ties → alphabetical). Output is the lang × predicted confusion
    * matrix. All-integer scoring → deterministic. The (token, lang)
    * df table joins WITHOUT a broadcast hint: a web-scale corpus has
    * 10⁸-10⁹ distinct tokens (typos, code, URLs), which would OOM the
    * executors if forced to broadcast — Catalyst's size statistics
    * pick broadcast when the vocabulary actually fits (as it does on
    * testdata) and a key-keyed shuffle join when it doesn't. The
    * wide shuffles key on the token key and doc_id.
    *
    * Since r20 the token is hashed to the 63-bit two-md5-word key at
    * the source (td17/td25/td32's construction, mirrored textually
    * into the oracle AFTER the per-doc DISTINCT so a 2⁻³²-odds
    * collision merges the same df groups on both engines): the cached
    * relation, the df aggregation and the vocabulary join all carry
    * an 8-byte long instead of a token string — no output column
    * exposes the token (guide §2.3, the exact change that cut td17
    * −44% at sf10 in r19). Results proven byte-identical to the
    * pre-change dump at sf0.01.
    *
    * Null labels are excluded from the label list: a doc with a null
    * `lang` adds no document frequency to any language, but is still
    * scored and reported under a null `lang`. A corpus with no
    * non-null label (empty, or all labels null) has no classes and
    * yields an empty `(lang, predicted_lang, n_docs)` frame.
    */
  def langId(s: SparkSession, dir: String): DataFrame = {
    // cached once (plan-keyed, SessionCache-owned): the token explode is
    // the expensive subtree and BOTH the df aggregation and the
    // scoring join consume it — uncached, Catalyst scans and explodes
    // the corpus twice per run
    val toks = SessionCache(docs(s, dir)
      .select(
        col("doc_id"), col("lang"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      .select(col("doc_id"), col("lang"), hashKey63(col("tok")).as("g")))
    // r20 second pass: the label set is tiny and bounded (it is the
    // classifier's class list), so collect it once from a pruned
    // 1-column scan and PIVOT the df table to ONE row per token key
    // carrying all |langs| df counts. The scoring join then emits one
    // row per (doc, token) instead of one per (doc, token, df_lang) —
    // the old form multiplied the join output (and the partial-agg
    // update stream behind it) by |langs| — and the per-doc scores
    // become |langs| plain codegen'd SUM columns in a single hash
    // aggregate keyed (doc_id, lang), replacing BOTH old aggregates
    // (the ×langs sum AND the ObjectHashAggregate collect_list).
    // sum(coalesce(df_L, 0)) makes a lang sharing no token with the
    // doc score 0 — it previously had no candidate row at all; a
    // 0-score candidate can never win the argmax because the doc's
    // own lang always scores ≥ its distinct-token count ≥ 1.
    // Null labels are not classes (a null would also NPE the sort).
    val langs = docs(s, dir).select("lang").where(col("lang").isNotNull)
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    if (langs.isEmpty) {
      import s.implicits._
      return Seq.empty[(String, String, Long)].toDF("lang", "predicted_lang", "n_docs")
    }
    // positional rename: a pathological label value equal to one of
    // the join columns (doc_id/lang/g) must not collide
    val dfVec = toks
      .groupBy(col("g"))
      .pivot("lang", langs)
      .agg(count(lit(1)))
      .toDF("g" +: langs.indices.map(i => s"__df_$i"): _*)
    // argmax(score, ties → alphabetical lang) as the minimum of
    // (-score, lang) candidate structs: structs order
    // lexicographically, so the min IS the argmax with the right
    // tiebreak — evaluated row-locally over the |langs| sum columns
    // (the v09/v19 row-local-argmin layout; guide §2.4). The df
    // table joins WITHOUT a broadcast hint, exactly as before.
    toks
      .join(dfVec, "g")
      .groupBy("doc_id", "lang")
      .agg(
        sum(coalesce(col("__df_0"), lit(0L))).as("s_0"),
        langs.indices.tail.map(i =>
          sum(coalesce(col(s"__df_$i"), lit(0L))).as(s"s_$i")): _*)
      .select(col("lang"),
        array_min(array(langs.zipWithIndex.map { case (l, i) =>
          struct((-col(s"s_$i")).as("ns"), lit(l).as("df_lang"))
        }: _*)).getField("df_lang").as("predicted_lang"))
      .groupBy("lang", "predicted_lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "predicted_lang")
  }

  /** Repetition metrics per document (the Gopher/MassiveText-style
    * repetition quality signals): unique-token ratio, top-token
    * fraction (most frequent token's share), duplicate-3-gram fraction
    * (1 − distinct/total word 3-grams), plus a 0/1 repetitive flag at
    * the classic top-gram 0.2 / dup-gram 0.3 operating points.
    *
    * Scale design: every metric is ROW-LOCAL codegen'd array math —
    * token count is `size`, uniqueness is `array_distinct`, and the
    * top-token count is the longest run of the SORTED token array
    * (one O(L log L) sort + one linear fold; never the O(L²)
    * `array_max(transform(...filter...))` shape that melts on
    * book-length documents). No explode, no shuffle at all until the
    * final ordered limit — the whole corpus streams through one
    * narrow stage. All ratios are BIGINT-over-BIGINT IEEE double
    * divisions — bit-identical across engines, so the flag thresholds
    * compare identically too (the DuckDB oracle computes the same
    * values via unnest + GROUP BY; results, not plans, are compared). */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    // longest run in the sorted array = max multiplicity of any token
    val topRun =
      "aggregate(array_sort(t), " +
        "named_struct('best', CAST(0 AS BIGINT), 'cur', CAST(0 AS BIGINT), 'prev', CAST(NULL AS STRING)), " +
        "(acc, x) -> IF(acc.prev IS NOT NULL AND x = acc.prev, " +
        "named_struct('best', GREATEST(acc.best, acc.cur + 1), 'cur', acc.cur + 1, 'prev', x), " +
        "named_struct('best', GREATEST(acc.best, CAST(1 AS BIGINT)), 'cur', CAST(1 AS BIGINT), 'prev', x)), " +
        "acc -> acc.best)"
    docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(array_distinct(col("t"))).cast("long").as("n_uniq"),
        expr(topRun).as("top_c"),
        when(size(col("t")) >= 3, expr(
          "transform(sequence(1, size(t) - 2), " +
            "i -> concat(element_at(t, i), ' ', element_at(t, i + 1), ' ', element_at(t, i + 2)))"))
          .as("g"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        expr("CAST(n_uniq AS DOUBLE) / n_tokens").as("uniq_token_ratio"),
        expr("CAST(top_c AS DOUBLE) / n_tokens").as("top_token_frac"),
        expr("CASE WHEN g IS NULL THEN CAST(0 AS DOUBLE) " +
          "ELSE CAST(size(g) - size(array_distinct(g)) AS DOUBLE) / size(g) END")
          .as("dup_3gram_frac"))
      .withColumn("is_repetitive", expr(
        "CAST(CASE WHEN top_token_frac > CAST(0.2 AS DOUBLE) " +
          "OR dup_3gram_frac > CAST(0.3 AS DOUBLE) THEN 1 ELSE 0 END AS BIGINT)"))
      .orderBy("doc_id")
      .limit(200)
  }

  /** td15: exact substring-span deduplication report (the
    * occurrence-level accounting of Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): every consecutive
    * [[SpanGram]]-token span is an occurrence; a span is *duplicated*
    * when its text occurs ≥ 2 times anywhere in the corpus (other
    * docs or elsewhere in the same doc). Reports, per source, the
    * fraction of its spans that are duplicated — the signal that
    * drives substring-level cut-lists.
    *
    * Scale design: spans are hashed to a 63-bit key (two independent
    * md5 words; 2⁻³² collision odds at 10⁹ distinct spans stay
    * negligible, and the oracle mirrors the same key so a collision
    * cannot diverge the engines). The first aggregation compacts
    * (source, span) to occurrence counts, so the corpus-frequency
    * window over `g` sees at most |sources| rows per span key — a
    * web-scale hot span ("click here to subscribe…" × 10⁸) arrives
    * at the window as ≤ |sources| pre-summed rows, never as raw
    * occurrences: skew-safe by construction, no df cap needed. */
  def substringDedup(s: SparkSession, dir: String): DataFrame = {
    val spans = docs(s, dir)
      .select(col("source"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= SpanGram)
      .select(col("source"),
        explode(expr(s"sequence(1, size(t) - ${SpanGram - 1})")).as("i"),
        col("t"))
      .select(col("source"),
        expr(s"concat_ws(' ', slice(t, i, $SpanGram))").as("gram"))
      .select(col("source"), hashKey63(col("gram")).as("g"))
    val bySourceSpan = spans.groupBy("source", "g")
      .agg(count(lit(1)).as("c"))
    bySourceSpan
      .withColumn("n_occ",
        sum("c").over(Window.partitionBy("g")))
      .groupBy("source")
      .agg(
        sum("c").as("n_spans"),
        sum(when(col("n_occ") >= 2, col("c")).otherwise(0L)).as("n_dup_spans"))
      .select(col("source"), col("n_spans"), col("n_dup_spans"),
        expr("CAST(n_dup_spans AS DOUBLE) / n_spans").as("dup_frac"))
      .orderBy("source")
  }

  /** Cross-source content-overlap matrix: for every source pair, how
    * many distinct bottom-sketch fingerprints (td04's `fp1` = min
    * shingle hash per doc — a 1/|shingles| sample of content identity)
    * appear in BOTH sources. The provenance question behind
    * deduplication: which corpus slices feed each other duplicated or
    * templated content.
    *
    * Scale shape: fingerprint = one `doc_id`-keyed aggregation over
    * the shared shingle index; sketches hotter than `dfCap` docs are
    * dropped first via the same broadcast anti-join as td06, which
    * BOUNDS every surviving sketch's document set — so the per-sketch
    * distinct source list (`collect_set`, ≤ dfCap entries by
    * construction) is a bounded-size aggregate, and source pairs
    * expand row-locally from that sorted list instead of through a
    * second shuffle of the sketch relation into a self-join. A viral
    * template's sketch cannot concentrate df² pair rows on one
    * partition. Output is |sources|² at most — tiny. */
  def sourceOverlap(s: SparkSession, dir: String,
      dfCap: Long = MaxShingleDf): DataFrame = {
    val fp = shingleIndex(s, dir).groupBy("doc_id").agg(min("h").as("fp1"))
    val hot = fp.groupBy("fp1").agg(count(lit(1)).as("n"))
      .where(col("n") > dfCap).select("fp1")
    fp.join(broadcast(hot), Seq("fp1"), "left_anti")
      .join(docs(s, dir).select("doc_id", "source"), "doc_id")
      .groupBy("fp1")
      // collect_set dedups (fp1, source) in one pass and is bounded
      // by dfCap; sorting makes the expansion emit source_a < source_b
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .select(explode(expr(
        "flatten(transform(ss, (x, i) -> " +
          "transform(slice(ss, i + 2, size(ss) - i - 1), " +
          "y -> named_struct('source_a', x, 'source_b', y))))")).as("p"))
      .groupBy(col("p.source_a").as("source_a"),
        col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("n_shared_sketches"))
      .orderBy("source_a", "source_b")
  }

  /** Document fingerprint: bottom-3 sketch of the shingle-hash set
    * (winnowing-style content signature; equal fingerprints ⇒ likely
    * near-dup). One shuffle on doc_id. */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("h"), col("shingle"))
    shingleIndex(s, dir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .groupBy("doc_id")
      .agg(
        max(when(col("rn") === 1, col("h"))).as("fp1"),
        max(when(col("rn") === 2, col("h"))).as("fp2"),
        max(when(col("rn") === 3, col("h"))).as("fp3"))
      .orderBy("doc_id")
      .limit(100)
  }

  // ------------------------------------------------------------------- dedup

  /** Exact dedup summary: corpus size, distinct text-hash count, and
    * how many docs are byte-identical copies. md5-keyed groupBy — the
    * canonical exact-dedup shuffle. */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .agg(
        count(lit(1)).as("n_docs"),
        count_distinct(md5(col("text"))).as("n_distinct_texts"))
      .select(
        col("n_docs"), col("n_distinct_texts"),
        (col("n_docs") - col("n_distinct_texts")).as("n_dup_docs"))

  // The thresholded pair graph is consumed by both the pair listing
  // (td06) and connected components (td09): materialize once per
  // (session, corpus), like the shingle index it derives from.
  private def jaccardPairGraph(s: SparkSession, dir: String): DataFrame =
    SessionCache.named(s, ("pair_graph", dir))(dedupJaccard(s, dir))

  // The candidate-pair intersection frame — (doc_a, doc_b, n_common,
  // na, nb) over the df-capped shingle index — is the expensive pass
  // (Σ df² shingle self-join + per-pair count + two size joins) that
  // BOTH similarity rules derive from: Jaccard (td06) and containment
  // (td28) differ only in the row-local arithmetic applied to the
  // same three integers. Computed once per (session, corpus, dfCap)
  // and cached; before sharing, td28 regenerated the whole pass from
  // scratch and was the slowest sf10 query of the surface (30.6 s).
  //
  // MEASURED disk budget (BASELINE.md round 14; the shuffle-byte
  // tally of the whole td06 pass, index phase excluded):
  // candidate multiplicity Σ df·(df−1)/2 is exactly linear in docs on
  // replicated corpora (sf0.1: 1,265,779 → sf10: ×100 to the digit —
  // cross-replica shingle disjointness makes it arithmetic, not
  // approximate), and the pass costs ~52 bytes of shuffle write per
  // candidate ≈ 13.1 KB/doc at sf10 (500 k docs → 6.57 GB, 34 s,
  // zero spill, pair cache 1.8 GB in memory). The sf100 projection is
  // therefore ~66 GB of shuffle — a third of the earlier ~200 GB
  // estimate, but still past this sandbox's ~50 GB free disk, which
  // keeps td06/td09/td28 out of the one-session sf100 bench; on a
  // cluster the budget is simply 13 KB/doc of local shuffle disk
  // spread across executors.
  private[graft] def pairIntersections(s: SparkSession, dir: String,
      dfCap: Long): DataFrame =
    SessionCache.named(s, ("pair_intersections", dir, dfCap)) {
      val shAll = shingleIndex(s, dir).select("doc_id", "shingle")
      val hot = shAll.groupBy("shingle").agg(count(lit(1)).as("df"))
        .where(col("df") > dfCap)
        .select("shingle")
      val sh = shAll.join(broadcast(hot), Seq("shingle"), "left_anti")
      val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = sh.as("a")
        .join(sh.as("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_common"))
      // sz is corpus-cardinality (one row per doc): shuffle-join it —
      // broadcasting would collect the whole corpus's sizes to the
      // driver, which breaks at the trillion-document target scale.
      // This frame is the PRE-threshold candidate set — ~40 bytes ×
      // every pair with n_common ≥ 1 (Σ df² over the capped index,
      // linear in docs by the df-cap) — so at large corpora it can
      // dominate storage memory. SessionCache stores it at
      // MEMORY_AND_DISK (`Dataset.cache()`'s level in Spark 4.1): the
      // blocks spill to local disk instead of evicting-and-recomputing
      // the Σ df² join, the expensive pass the cache exists to amortize.
      inter
        .join(sz.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("n", "na"), "doc_a")
        .join(sz.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("n", "nb"), "doc_b")
    }

  /** N-gram Jaccard near-dup pairs via inverted shingle index: explode
    * distinct shingles, self-join on shingle (candidate pairs share at
    * least one), count intersections, Jaccard = |∩| / (|A|+|B|−|∩|).
    * Never O(n²): work is Σ df(shingle)² over the index, the join
    * keys on shingle so it hash-distributes, and shingles hotter than
    * `dfCap` docs are dropped first so no single key can concentrate
    * df² pairs on one partition (see [[MaxShingleDf]]). The hot-
    * shingle list is tiny by construction → broadcast anti-join.
    * The candidate pass itself is the shared cached
    * [[pairIntersections]] frame (one pass serves td06 AND td28). */
  def dedupJaccard(s: SparkSession, dir: String,
      dfCap: Long = MaxShingleDf): DataFrame =
    pairIntersections(s, dir, dfCap)
      .select(
        col("doc_a"), col("doc_b"), col("n_common"),
        expr("CAST(n_common AS DOUBLE) / (na + nb - n_common)").as("jaccard"))
      .where(col("jaccard") >= JaccardThreshold)
      .orderBy("doc_a", "doc_b")

  /** MinHash + LSH near-dup pairs: 16-hash signature (min over
    * shingle-hash permutations), banded 4×4; candidates collide on a
    * whole band; est_sim = matching-signature fraction ≥ 0.5.
    * The band self-join keys on (band, band-key) — the standard
    * shuffle-friendly LSH bucket join that replaces all-pairs search.
    */
  def dedupMinHash(s: SparkSession, dir: String): DataFrame = {
    val bands = minhashBands(s, dir)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("size(filter(zip_with(a.sigarr, b.sigarr, (x, y) -> x = y), m -> m))")
          .cast("long").as("n_matching"))
      .where(col("n_matching") >= math.ceil(EstSimThreshold * NumHashes).toInt)
      .distinct()
      .withColumn("est_sim", expr(s"CAST(n_matching AS DOUBLE) / $NumHashes"))
      .orderBy("doc_a", "doc_b")
  }

  /** Banded MinHash index rows: one row per (doc, band), keyed by the
    * band's 4-hash string, carrying the whole signature as an array so
    * match counting runs inside any downstream band join — candidates
    * shrink BEFORE their cross-band distinct, with ONE shuffle keyed
    * on (band, bkey). Shared by the intra-corpus pair search (td07)
    * and the incremental ingest gate (td23). */
  private[graft] def minhashBands(s: SparkSession, dir: String): DataFrame = {
    val mhAggs = (0 until NumHashes).map(i => min(perm(i, col("h"))).as(s"mh$i"))
    val sig = SessionCache(shingleIndex(s, dir)
      .groupBy("doc_id")
      .agg(mhAggs.head, mhAggs.tail: _*))
    (0 until Bands)
      .map { j =>
        sig.select(
          col("doc_id"), lit(j).as("band"),
          concat_ws(":",
            (0 until Rows).map(k => col(s"mh${j * Rows + k}")): _*).as("bkey"),
          array((0 until NumHashes).map(i => col(s"mh$i")): _*).as("sigarr"))
      }
      .reduce(_ unionAll _)
  }

  /** td23 split: documents with `doc_id % IngestMod = IngestNewRem`
    * play the incoming batch; the rest are the standing corpus. */
  private[graft] val IngestMod = 5L
  private[graft] val IngestNewRem = 4L

  /** td23: incremental ingestion dedup — the gate a daily crawl batch
    * passes before joining the corpus: each NEW document (the
    * deterministic [[IngestMod]]-split above) is checked against the
    * STANDING corpus only (new-vs-new duplicates are td05/td07's
    * job at the next compaction), first byte-exact (md5 membership),
    * then MinHash-near (band collision + signature agreement ≥
    * [[EstSimThreshold]], the td07 criterion). Per source: batch
    * size, exact dupes, near-but-not-exact dupes, and the admitted
    * remainder.
    *
    * Scale: the exact gate is an md5-keyed semi-join and the near
    * gate joins the batch's band rows against the corpus band index
    * on (band, bkey) — both hash-distribute, and at production scale
    * the corpus side is the STORED index (td07 already materializes
    * it), so a batch ingest reads it instead of recomputing. The
    * per-doc distincts bound intermediate rows by batch size. md5 is
    * compared only WITHIN each engine, never emitted, so the report
    * stays engine-portable. */
  def ingestDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .withColumn("is_new", col("doc_id") % IngestMod === IngestNewRem)
    val md = d.select(col("doc_id"), col("is_new"), md5(col("text")).as("mh"))
    val exactNew = md.where(col("is_new"))
      .join(md.where(!col("is_new")).select("mh").distinct(),
        Seq("mh"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("is_exact", lit(true))
    // is_new is a pure function of doc_id, so the band index carries
    // it as a projection — no join back to the corpus needed (the
    // production analogue: a stored band index keyed by doc id can
    // always re-derive the batch membership predicate).
    val flagged = minhashBands(s, dir)
      .withColumn("is_new", col("doc_id") % IngestMod === IngestNewRem)
    val nearNew = flagged.where(col("is_new")).as("a")
      .join(flagged.where(!col("is_new")).as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .where(
        expr("size(filter(zip_with(a.sigarr, b.sigarr, (x, y) -> x = y), m -> m))")
          >= math.ceil(EstSimThreshold * NumHashes).toInt)
      .select(col("a.doc_id").as("doc_id")).distinct()
      .withColumn("is_near", lit(true))
    d.where(col("is_new")).select(col("doc_id"), col("source"))
      .join(exactNew, Seq("doc_id"), "left")
      .join(nearNew, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_new"),
        sum(when(col("is_exact"), 1L).otherwise(0L)).as("n_exact_dup"),
        sum(when(col("is_near") && col("is_exact").isNull, 1L).otherwise(0L))
          .as("n_near_dup"),
        sum(when(col("is_exact").isNull && col("is_near").isNull, 1L)
          .otherwise(0L)).as("n_admitted"))
      .orderBy("source")
  }

  /** 64-bit SimHash signature over a `(doc_id, h, h2)` shingle-hash
    * frame: sign of per-bit vote sums — bits 0-31 vote from `h`,
    * 32-63 from `h2` (two independent md5 words = one uniform 64-bit
    * shingle hash). The streaming near-dup detector
    * ([[graft.streaming.DocStreams.nearDupSimHash]]) computes the
    * SAME per-bit votes row-locally via [[simhashLocal]]; over the
    * same distinct-shingle set the two forms produce bit-identical
    * signatures (pinned by DocStreamsSpec). */
  private[graft] def simhashSig(shingleHashes: DataFrame): DataFrame = {
    // 32 PACKED lane sums instead of 64 per-bit vote sums: lane i
    // carries signature bit i's set-bit count in its low 32 bits (from
    // h) and bit i+32's in its high 32 (from h2); per-bit votes recover
    // as 2·c_b − n with n the group row count. Halving the aggregate
    // width plus fusing the 64-term sign/pack projection into the
    // simhash_pack kernel keeps the stage's whole-stage-codegen
    // consume() under HotSpot's 8 000-bytecode JIT limit — it was the
    // round-16 fallback inventory's last entry (9 140 bytecodes,
    // interpreted or per-expression-dispatched either side of the
    // hugeMethodLimit knob). Lane-carry safety and the exact
    // equivalence argument live on [[graft.functions.SimHashPack]];
    // bit-parity with the retired 64-sum tree ([[simhashSigVotes]])
    // and with the row-local streaming form are pinned in
    // PipelineSpec. h/h2 are null together (both md5 words of the
    // same shingle), so one count serves both words.
    val lanes = (0 until 32).map { i =>
      sum(expr(s"(shiftright(h, $i) & 1) + shiftleft(shiftright(h2, $i) & 1, 32)"))
        .as(s"lane$i")
    }
    val laneArr = (0 until 32)
      .map(i => s"coalesce(lane$i, CAST(0 AS BIGINT))").mkString(", ")
    shingleHashes
      .groupBy("doc_id")
      .agg(lanes.head, (lanes.tail :+ count(col("h")).as("nr")): _*)
      .select(
        col("doc_id"),
        expr(s"simhash_pack(array($laneArr), nr)").as("simhash"))
  }

  /** The RETIRED 64-sum expression-tree form of [[simhashSig]], kept
    * test-only as the bit-parity witness for the packed-lane +
    * [[graft.functions.SimHashPack]] kernel form (PipelineSpec pins
    * signature equality on a seeded corpus and planted edge docs).
    * This tree's aggregate consume() compiled to 9 140 bytecodes —
    * past HotSpot's JIT refusal — which is why it was retired. */
  private[graft] def simhashSigVotes(shingleHashes: DataFrame): DataFrame = {
    val votes = (0 until SimBits).map { b =>
      val (src, bit) = if (b < 32) ("h", b) else ("h2", b - 32)
      sum(expr(s"(shiftright($src, $bit) & 1) * 2 - 1")).as(s"s$b")
    }
    shingleHashes
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(
        col("doc_id"),
        (0 until SimBits)
          .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Row-local form of [[simhashSig]] for the streaming path: the same
    * per-bit vote arithmetic folded over a row's shingle-hash ARRAYS
    * (`hsCol` = [[graft.pipeline.TextPrep.h32]] values, `hs2Col` =
    * `h32b` values) instead of grouped rows — no shuffle, so it
    * composes with downstream stateful operators. Vote sums, sign
    * rule and bit weights are identical by construction. */
  private[graft] def simhashLocal(hsCol: String, hs2Col: String): org.apache.spark.sql.Column = {
    (0 until SimBits).map { b =>
      val (src, bit) = if (b < 32) (hsCol, b) else (hs2Col, b - 32)
      when(
        expr(s"aggregate($src, CAST(0 AS BIGINT), " +
          s"(acc, h) -> acc + (shiftright(h, $bit) & 1) * 2 - 1)") > 0,
        lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** The corpus SimHash signature frame (cached, SessionCache-owned) —
    * ONE construction shared by the product path and the specs, so
    * the pair-set evidence can never drift from the shipped
    * operator's actual signature build.
    *
    * Measured alternative (round 6): computing the signature row-locally
    * via [[simhashLocal]] (as streaming does, skipping the grouped
    * 64-aggregate shuffle) produces bit-identical pairs and is mildly
    * faster only with a COLD shingle index (1.30 vs 1.55 s at sf0.1,
    * 2.01 vs 2.07 s at sf1, min of 3). Under real bench/pipeline
    * conditions the sibling dedup queries have already materialized the
    * shared cached [[graft.pipeline.TextPrep]] shingle index and this
    * grouped form runs 0.87 s at sf0.1 — faster than the local
    * variant's 64 per-row array folds — so the grouped form stays. */
  private[graft] def simhashSigOf(s: SparkSession, dir: String): DataFrame =
    SessionCache(simhashSig(
      shingleIndex(s, dir).withColumn("h2", h32b(col("shingle")))))

  /** SimHash near-dup pairs (td08): 64-bit signature (sign of per-bit
    * vote sums over distinct shingle hashes), then [[simHashPairsOf]].
    * The exact Hamming filter makes the output independent of the
    * candidate scheme (any complete scheme gives the same pairs), so
    * the oracle keeps its simpler 8×8 banding. */
  def dedupSimHash(s: SparkSession, dir: String): DataFrame =
    simHashPairsOf(simhashSigOf(s, dir))

  /** Near-dup pairs of ANY 64-bit signature frame `(doc_id BIGINT,
    * simhash BIGINT)` at Hamming ≤ [[MaxHamming]] — shared by the text
    * SimHash path ([[dedupSimHash]]) and the perceptual image, audio,
    * video and text-hash paths of [[graft.pipeline.Multimodal]]: the
    * sorted-run machinery is signature-agnostic.
    *
    * Manku prefix-sorted multi-table scan (Manku et al., WWW'07 §3:
    * sort fingerprint permutations, scan runs of equal prefix). The
    * [[simBandKeys]] block-pair keys ARE the permuted prefixes — each
    * band is a permutation putting two blocks first — so every pair
    * at Hamming ≤ [[MaxHamming]] shares at least one run (the
    * pigeonhole argument on the keys' Scaladoc), and PipelineSpec pins
    * the pair set against a brute-force all-pairs reference.
    *
    * The banded rows are hash-partitioned on (band, key), sorted
    * within partitions — Spark's spill-safe sort, the literal Manku
    * layout — and a mapPartitions scan buffers one (band, key) run at
    * a time (bounded by bucket occupancy: avg ~300, max a few
    * thousand at 5 M docs under 36 × 2¹⁴⁻¹⁵ keys) and compares every
    * in-run pair with a tight xor+popcount loop: ~ns each, so the
    * job's cost is the ONE 36n-row shuffle+sort. Only true near-dups
    * (Hamming ≤ 7, a corpus-bounded set) leave the scan; the final
    * distinct dedups cross-band hits on that small set.
    *
    * Why no band EQUIJOIN: a join pays ~μs-scale probe machinery
    * (hash lookup, row copy, condition eval) per in-bucket candidate,
    * and both join forms measured slower than this scan at every size
    * tried, 5 k to 5 M docs (BASELINE.md round 11 and "td08 runs one
    * regime"). */
  private[graft] def simHashPairsOf(sig: DataFrame): DataFrame = {
    val s = sig.sparkSession
    import s.implicits._
    val bandStructs = simBandKeys.map { case (band, keySql) =>
      expr(s"struct($band AS band, CAST($keySql AS BIGINT) AS nib)")
    }
    val banded = sig
      .select(col("doc_id"), col("simhash"),
        explode(array(bandStructs: _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.nib").as("nib"),
        col("doc_id"), col("simhash"))
      .as[(Int, Long, Long, Long)]
    val maxH = MaxHamming
    banded
      .repartition(col("band"), col("nib"))
      .sortWithinPartitions("band", "nib")
      .mapPartitions { rows =>
        val buf = rows.buffered
        new Iterator[(Long, Long, Long)] {
          private var pending: Iterator[(Long, Long, Long)] =
            Iterator.empty
          private def advance(): Unit =
            while (!pending.hasNext && buf.hasNext) {
              // buffer exactly one sorted (band, key) run — within a
              // run each doc appears once (one key per band per doc)
              val (band, key) = (buf.head._1, buf.head._2)
              val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
              val sigs = scala.collection.mutable.ArrayBuffer.empty[Long]
              while (buf.hasNext &&
                buf.head._1 == band && buf.head._2 == key) {
                val r = buf.next(); ids += r._3; sigs += r._4
              }
              // Emit the run's qualifying pairs LAZILY over (i, j)
              // index state: only the O(k) id/sig run buffers stay
              // resident, never the pair set — a degenerate bucket of
              // k mutually-near docs streams its k²/2 pairs out
              // without materializing them (the streamed join form's
              // memory property, kept here).
              pending = new Iterator[(Long, Long, Long)] {
                private var i = 0
                private var j = 1
                private var nextPair: (Long, Long, Long) = null
                private def seek(): Unit =
                  while (nextPair == null && i < ids.length - 1) {
                    val h = java.lang.Long.bitCount(sigs(i) ^ sigs(j))
                    if (h <= maxH) {
                      val di = ids(i); val dj = ids(j)
                      nextPair =
                        if (di < dj) (di, dj, h.toLong)
                        else (dj, di, h.toLong)
                    }
                    j += 1
                    if (j >= ids.length) { i += 1; j = i + 1 }
                  }
                def hasNext: Boolean = { seek(); nextPair != null }
                def next(): (Long, Long, Long) = {
                  seek()
                  if (nextPair == null)
                    throw new NoSuchElementException("pair run exhausted")
                  val p = nextPair; nextPair = null; p
                }
              }
            }
          def hasNext: Boolean = { advance(); pending.hasNext }
          def next(): (Long, Long, Long) = { advance(); pending.next() }
        }
      }
      .toDF("doc_a", "doc_b", "hamming")
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Benchmark decontamination: flag training documents sharing ≥ 10
    * distinct word 3-grams with the held-out eval set (`source =
    * 'src0'` stands in for the benchmark corpus). The eval side
    * collapses to a DISTINCT shingle set first, so overlap counts are
    * per unique shingle — an inverted-index semi-join keyed on
    * shingle, the shape that scales to a trillion-token corpus
    * (the eval shingle set is small and broadcastable). */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val evalIds = docs(s, dir).where(col("source") === "src0")
      .select(col("doc_id").as("eval_id"))
    val idx = shingleIndex(s, dir).select("doc_id", "shingle")
    val evalShingles = idx
      .join(broadcast(evalIds), col("doc_id") === col("eval_id"))
      .select("shingle").distinct()
    idx
      .join(broadcast(evalIds), col("doc_id") === col("eval_id"), "left_anti")
      // The eval shingle set is bounded (it IS the benchmark corpus),
      // but it reaches here through a join+distinct, so Catalyst has
      // no size statistic and would shuffle the whole corpus index
      // into a sort-merge join without the hint.
      .join(broadcast(evalShingles), "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_shingles"))
      .where(col("n_shared_shingles") >= 10)
      .orderBy("doc_id")
  }

  /** Deterministic 10% corpus sample by content-hash bucket: stable
    * across runs and engines (unlike Bernoulli sampling), stratification
    * reported per language. Hash-mod bucketing is the sampling
    * primitive that stays consistent when the corpus is re-partitioned
    * or re-processed — a requirement for reproducible training sets. */
  def sampleStrata(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .where(h32(col("text")) % 100 < 10)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"),
        sum(length(col("text"))).as("sampled_chars"))
      .orderBy("lang")

  /** Split-bucket granularity and the train/val boundaries (per
    * mille): buckets < 980 train, < 990 val, rest test. */
  private val SplitBuckets = 1000L
  private val TrainUpper = 980L
  private val ValUpper = 990L

  /** Deterministic train/val/test split report: every document is
    * assigned a split by `h32(text) % 1000` — keying on the CONTENT
    * hash, not the id, so byte-identical duplicates always land in
    * the same split and can never leak train text into the eval sets
    * (the id-keyed split loses that guarantee the moment two ids
    * share a body). Stateless per-row assignment → the split of any
    * document is reproducible on any engine, any partitioning, any
    * corpus subset; the only shuffle is the small per-(split, lang)
    * report aggregation. */
  def stratifiedSplit(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("b", h32(col("text")) % SplitBuckets)
      .withColumn("split",
        when(col("b") < TrainUpper, lit("train"))
          .when(col("b") < ValUpper, lit("val"))
          .otherwise(lit("test")))
      .groupBy("split", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("n_chars"),
        min("doc_id").as("first_doc"))
      .orderBy("split", "lang")

  /** Number of training shards for [[shardAssign]]: frozen, it
    * parameterizes the declared query and its oracle. */
  private val Shards = 16L

  /** td29: deterministic training-shard assignment + balance audit —
    * every document lands in shard `h32("shard:" || doc_id) % 16`,
    * and the report shows each shard's doc count, token mass,
    * source spread and corpus share in exact ppm. This is the global
    * "shuffle" a training run actually needs at 100 TB: a stateless
    * per-row hash assignment (any worker can compute any document's
    * shard with zero coordination, re-runs and re-partitions can
    * never move a document) instead of a total sort of the corpus —
    * and the audit is the evidence the shards came out balanced
    * enough to stream to trainers. Keyed on the ID (unlike td16's
    * content-hash split) because sharding wants exact-duplicate
    * SPREAD — identical texts in one shard would skew a data-parallel
    * epoch — while split assignment wants duplicate cohesion.
    *
    * Determinism: the md5-prefix hash is engine-identical
    * ([[TextPrep.h32]]), counts/ppm are BIGINT `div` arithmetic.
    *
    * Scale shape: one narrow stage computes (shard, n_tok) per row;
    * the distinct-source count plans as two aggregate phases whose
    * exchanges BOTH carry map-side-compacted partials bounded by
    * 16 × |sources| — never raw corpus rows; the share window runs
    * over the 16-row report, not the corpus. */
  def shardAssign(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        (h32(concat(lit("shard:"), col("doc_id").cast("string")))
          % Shards).as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").cast("long").as("n_tokens"),
        count_distinct(col("source")).as("n_sources"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .withColumn("share_ppm",
        expr("n_docs * 1000000 div sum(n_docs) OVER ()"))
      .orderBy("shard")

  /** Ingestion-order slice width (docs per bucket) for
    * [[vocabGrowth]]: frozen, parameterizes query + oracle. */
  private val GrowthBucketDocs = 250L

  /** Buckets per prefix-sum chunk in [[vocabGrowth]]: the cumulative
    * trajectory is computed as a two-level distributed prefix sum
    * (within-chunk running totals under a chunk-partitioned window +
    * broadcast cumulative chunk offsets), so the only single-partition
    * pass runs over the chunk-partials report — buckets/4096 rows,
    * ~10^4 at a 10^10-doc corpus — never over buckets themselves. */
  private val GrowthChunkBuckets = 4096L

  /** td30: vocabulary-growth (Heaps' law) curve — per 250-document
    * ingestion slice: docs, token mass, NEW shingle types first seen
    * in that slice, and the cumulative types-vs-tokens trajectory.
    * This is the sizing pass run before fixing a tokenizer/vocab
    * budget or an n-gram index: the measured Heaps exponent says how
    * the type inventory will keep growing at 100 TB, and a slice
    * whose new-type rate jumps off-trend is a domain shift or an
    * encoding bug arriving in the crawl.
    *
    * Determinism: BIGINT counts and `div` bucket arithmetic only;
    * first-seen = MIN(doc_id) per shingle on both engines.
    *
    * Scale shape: the cached shingle index ([[TextPrep.shingleIndex]],
    * shared with the dedup operators) aggregates per-shingle
    * MIN(doc_id) with map-side partials — the only corpus-sized
    * shuffle, identical in kind to the df joins the dedup family
    * already pays; everything after runs on the bounded bucket
    * domain (corpus/250 rows). The cumulative trajectory is a
    * two-level distributed prefix sum: within-chunk running totals
    * under a window PARTITIONED by `bucket div 4096` (so the bucket
    * domain never collapses to one task — at a 10^10-doc corpus the
    * ~4×10^7 buckets spread across ~10^4 chunks), plus cumulative
    * chunk offsets computed on the chunk-partials report (buckets/4096
    * rows — the only single-partition window, ~10^4 rows at 10^10
    * docs) and broadcast back. Exact BIGINT addition throughout, so
    * the split is bit-identical to a serial running sum. */
  def vocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val byDoc = docs(s, dir)
      .select(expr(s"doc_id div $GrowthBucketDocs").as("bucket"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").cast("long").as("n_tokens"))
    val newTypes = TextPrep.shingleIndex(s, dir)
      .groupBy("shingle").agg(min("doc_id").as("first_doc"))
      .groupBy(expr(s"first_doc div $GrowthBucketDocs").as("bucket"))
      .agg(count(lit(1)).as("n_new_shingles"))
    // both report frames are bounded (corpus/250 rows); the hint
    // stops Catalyst sort-merge-joining two stat-less aggregates.
    // The report is consumed TWICE (within-chunk running totals +
    // chunk offsets) and materialized ONCE through the owned cache
    // (r20): the static sf0.1 plan covered the duplicate with
    // ReuseExchange, but under AQE the two subtrees re-plan apart and
    // the runtime-final sf10 plan showed ZERO ReusedExchange — the
    // whole byDoc aggregation and the first-seen pass ran twice at
    // scale (plans/r20/td30_vocab_growth_sf10_final.txt, taken after
    // execution as `graft.Plans --exec` does). Bounded rows (corpus/250) make
    // the cache a few longs per 250 docs — ~1.3 GB at a 10^10-doc
    // corpus, spill-safe either way.
    val report = SessionCache(
      byDoc.join(broadcast(newTypes), Seq("bucket"), "left")
        .select(col("bucket"), col("n_docs"), col("n_tokens"),
          coalesce(col("n_new_shingles"), lit(0L)).as("n_new_shingles"))
        .withColumn("chunk", expr(s"bucket div $GrowthChunkBuckets")))
    // level 1: running totals inside each chunk (distributed window)
    val wIn = Window.partitionBy("chunk").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = report
      .withColumn("loc_tokens", sum("n_tokens").over(wIn))
      .withColumn("loc_shingles", sum("n_new_shingles").over(wIn))
    // level 2: exclusive cumulative offsets over the chunk partials —
    // the single-partition window runs on buckets/4096 rows only
    val wOff = Window.orderBy("chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = report.groupBy("chunk")
      .agg(sum("n_tokens").as("c_tokens"),
        sum("n_new_shingles").as("c_shingles"))
      .withColumn("off_tokens",
        coalesce(sum("c_tokens").over(wOff), lit(0L)))
      .withColumn("off_shingles",
        coalesce(sum("c_shingles").over(wOff), lit(0L)))
      .select("chunk", "off_tokens", "off_shingles")
    local.join(broadcast(offsets), Seq("chunk"))
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        col("n_new_shingles"),
        (col("loc_tokens") + col("off_tokens")).cast("long")
          .as("cum_tokens"),
        (col("loc_shingles") + col("off_shingles")).cast("long")
          .as("cum_shingles"))
      .orderBy("bucket")
  }

  /** Balanced training mixture: top-20 docs per language by quality
    * score (ties → doc_id) — per-group quota selection, the mixture-
    * construction step of a curation pipeline. WindowGroupLimit prunes
    * per-partition before the shuffle. */
  def mixture(s: SparkSession, dir: String): DataFrame = {
    val scored = qualityBase(s, dir)
    val w = Window.partitionBy("lang").orderBy(desc("quality_score"), col("doc_id"))
    scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 20)
      .select("lang", "rn", "doc_id", "quality_score")
      .orderBy("lang", "rn")
  }

  /** Context window length for sequence packing (tokens). */
  private val CtxTokens = 512L

  /** td17: corpus-frequency document scoring — per document: token
    * count, distinct-token count, summed token document-frequency and
    * the count of rare tokens (df below 1% of the corpus). The
    * "surprise" signal of a curation pipeline (rare-token-heavy docs
    * are candidates for either upweighting or garbage review), kept
    * in pure integer space: summed df replaces the usual mean-log
    * probability because `ln` is not required to be correctly rounded
    * by IEEE, so a log-based score could differ between engines in
    * the last ulp — integer df sums cannot.
    *
    * Scale shape: the exploded corpus compacts FIRST to distinct
    * (doc, token) pairs with occurrence counts — one doc-keyed
    * shuffle — and everything downstream runs on that strictly
    * smaller relation: the df aggregation, and the token-keyed join
    * back (deliberately UNHINTED like td03's vocabulary join,
    * because a web-corpus vocabulary outgrows any broadcast
    * threshold) now carry one row per distinct pair instead of one
    * per token occurrence, and the final doc-keyed aggregation needs
    * no COUNT(DISTINCT) (each pair row IS distinct), so Catalyst
    * plans it without the multi-distinct Expand. The corpus-size
    * scalar rides a 1-row broadcast. Since r19, tokens hash to 63-bit
    * keys AT THE SOURCE (td25's two-md5-word construction, mirrored
    * into the oracle so a 2⁻³²-odds collision merges the same df on
    * both engines): every shuffle and the df attachment carry an
    * 8-byte long instead of a token string (guide §2.3 — narrower
    * shuffle bytes; no output column carries the token, so the key
    * never needs to be a string). Since r20, df attaches as a COUNT
    * window over `g` on the compacted pairs (td25's form) instead of
    * a (g, df)-table join: the join's build side re-ran the whole
    * scan+explode+MD5 subtree (column pruning de-duplicates the two
    * aggregates apart, so Catalyst cannot reuse the exchange — the
    * r19 verdict's top finding: 2× corpus explode at every scale),
    * while the window reads the one exchange it already needs. Pair
    * rows are distinct by construction, so a per-g window partition
    * holds at most one row per document containing the token —
    * identical skew exposure to the join's g-keyed shuffle, minus
    * the second explode (guide §2.4 — remove shuffles outright;
    * sf0.1 full-surface 0.55 → 0.38 s; sf10 deltas in
    * OPTIMIZATION_r20.md). */
  def rarityScore(s: SparkSession, dir: String): DataFrame = {
    val pairs = docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .select(col("doc_id"), hashKey63(col("token")).as("g"))
      .groupBy("doc_id", "g")
      .agg(count(lit(1)).as("occ"))
    val total = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    pairs
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(
        sum("occ").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("df") * col("occ")).as("sum_token_df"),
        sum(when(col("df") * 100 < col("n_docs"), col("occ"))
          .otherwise(0L)).as("n_rare"))
      .orderBy("doc_id")
      .limit(200)
  }

  /** td25: bigram novelty profile — per document: how much of its
    * word-pair content exists nowhere else in the corpus. For every
    * bigram the corpus-wide document frequency (df) is computed; a
    * document's occurrences of df = 1 bigrams are NOVEL (it is the
    * only document that ever says that word pair), and the summed df
    * gives the complementary commonness signal. This is the n-gram
    * novelty/memorization accounting of the dedup literature (Lee et
    * al. 2021 measure duplicated-substring mass; McCoy et al. 2023
    * "How much do language models copy?" measure novel n-gram
    * fraction) one level up from td17's token-df rarity: bigrams see
    * phrase reuse that token frequencies cannot (every token of
    * "click here to subscribe" is common; the PAIRS are what repeat).
    * High novel_frac → unique content worth keeping (or garbage worth
    * review); low novel_frac + high avg df → templated/boilerplate
    * mass, the td06/td15 dedup candidates.
    *
    * Scale shape (td15's single-scan window form at bigram
    * granularity): bigrams hash to 63-bit keys at the source (td15's
    * two-md5-word construction — collisions at 2⁻³² odds for 10⁹
    * distinct phrases, mirrored into the oracle so they cannot
    * diverge the engines), the exploded stream compacts FIRST to
    * distinct (doc, g) pairs with occurrence counts — one shuffle
    * with map-side partial aggregation — and df comes from a COUNT
    * window over g on that compacted relation: pair rows are
    * distinct by construction, so the per-g partition holds at most
    * one row per document that uses the phrase, and a viral bigram
    * arrives pre-compacted, never as raw occurrences. ONE corpus
    * scan, three long-keyed exchanges, no join (a df-table join
    * would re-run the explode+compaction subtree — Catalyst cannot
    * reuse the exchange across the two different aggregates;
    * measured 2.4× slower at sf0.1). Integer counts end-to-end; the
    * two ratios are single exact IEEE divisions mirrored textually
    * into the oracle. */
  def bigramNovelty(s: SparkSession, dir: String): DataFrame = {
    val pairs = docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), " +
          "(x, y) -> concat(x, ' ', y))")).as("bigram"))
      .select(col("doc_id"), hashKey63(col("bigram")).as("g"))
      .groupBy("doc_id", "g")
      .agg(count(lit(1)).as("occ"))
    pairs
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
      .groupBy("doc_id")
      .agg(
        sum("occ").as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"),
        sum(when(col("df") === 1, col("occ")).otherwise(0L)).as("n_novel"),
        sum(col("df") * col("occ")).as("sum_bigram_df"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct_bigrams"),
        col("n_novel"), col("sum_bigram_df"),
        expr("CAST(n_novel AS DOUBLE) / n_bigrams").as("novel_frac"),
        expr("CAST(sum_bigram_df AS DOUBLE) / n_bigrams").as("avg_bigram_df"))
      .orderBy("doc_id")
      .limit(200)
  }

  /** td26 chunking geometry: window/stride in tokens (overlap =
    * [[ChunkW]] − [[ChunkS]]). Frozen, mirrored into the oracle. */
  private val ChunkW = 64L
  private val ChunkS = 48L

  /** td26: RAG chunking overhead report — per source, what a
    * sliding-window chunking (window [[ChunkW]], stride [[ChunkS]],
    * the standard retrieval-index layout: overlap so no answer span
    * straddles a boundary unseen) costs in index duplication:
    * chunk counts, summed chunk tokens, and the duplication factor
    * (chunk tokens / corpus tokens, in exact ppm) — the number that
    * sizes the vector index a corpus will need before it is built.
    * Chunk starts are 0, S, 2S, …; the last window is clamped to the
    * document end; a document at or under one window is one chunk.
    *
    * Scale shape: the chunk arithmetic is a row-local integer fold
    * over `sequence(0, n_chunks−1)` (codegen'd, no explode — the
    * chunks are COUNTED, never materialized), then ONE bounded
    * groupBy(source) with map-side partials. Integer end-to-end;
    * ppm via `div` like td22/td24. */
  def chunkOverlap(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .withColumn("n_chunks",
        when(col("n") <= ChunkW, lit(1L))
          .otherwise(lit(1L) +
            expr(s"(n - $ChunkW + $ChunkS - 1) div $ChunkS")))
      .withColumn("chunk_toks", expr(
        s"aggregate(sequence(CAST(0 AS BIGINT), n_chunks - 1), " +
          s"CAST(0 AS BIGINT), " +
          s"(acc, i) -> acc + least($ChunkW, n - i * $ChunkS))"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n").as("total_tokens"),
        sum("n_chunks").as("total_chunks"),
        sum("chunk_toks").as("total_chunk_tokens"))
      .withColumn("dup_factor_ppm",
        expr("total_chunk_tokens * 1000000 div total_tokens"))
      .orderBy("source")

  /** td18: sequence packing by concat-and-chunk — the GPT-style
    * pretraining layout: order each language's documents
    * deterministically (content hash, id tiebreak), lay them end to
    * end, and cut every [[CtxTokens]] tokens. Per language the report
    * gives corpus tokens, the resulting chunk count, how many
    * documents straddle a chunk boundary and the widest straddle —
    * the numbers that decide a packing's attention-fragmentation
    * cost.
    *
    * Scale shape: ONE shuffle — the per-lang running-sum window
    * assigns every document its global token offset, and the report
    * aggregation reuses the window's lang partitioning (same pattern
    * as e02; pinned). Offsets are nonnegative longs and chunk ids are
    * `floor(offset / ctx)` written identically on both engines. */
  def packChunks(s: SparkSession, dir: String): DataFrame = {
    val wRun = Window.partitionBy("lang").orderBy("pick", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, dir)
      .select(col("lang"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        h32(col("text")).as("pick"))
      .withColumn("end_off", sum("n_tok").over(wRun))
      .select(col("lang"), col("n_tok"), col("end_off"),
        floor((col("end_off") - col("n_tok")).cast("double") / CtxTokens)
          .cast("long").as("chunk_first"),
        floor((col("end_off") - 1).cast("double") / CtxTokens)
          .cast("long").as("chunk_last"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("total_tokens"),
        floor((max("end_off") + CtxTokens - 1).cast("double") / CtxTokens)
          .cast("long").as("n_chunks"),
        sum(when(col("chunk_last") > col("chunk_first"), 1L).otherwise(0L))
          .as("n_boundary_docs"),
        max(col("chunk_last") - col("chunk_first") + 1)
          .as("max_chunks_spanned"))
      .orderBy("lang")
  }

  /** td21: per-source quality audit — the curation dashboard for
    * "which sources should be down-weighted": doc count plus discrete
    * quantiles (p25/p50/p75/p95) of the td02 quality score per
    * source. Scores are quantized per-row to 2²⁰-scaled BIGINT before
    * any aggregation, and the quantiles are computed EXPLICITLY as
    * "smallest value whose rank clears ⌈p·n⌉" over integer rank
    * arithmetic — both engine-independent by construction, where a
    * builtin continuous `percentile` would interpolate with
    * engine-specific IEEE operand order (1-ulp drift the bitwise
    * oracle hash would catch).
    *
    * Scale shape: the quantiles come from the DISTINCT-VALUE
    * histogram, never a rank sort of raw docs. `groupBy(source, qq)`
    * compacts map-side into ≤ |sources| × 2²⁰ histogram rows (qq is a
    * bounded integer domain by construction), and only that histogram
    * enters the per-source cumulative window — equivalent because
    * equal values occupy consecutive ranks, so the smallest row with
    * rank·100 ≥ n·p is exactly the smallest value whose cumulative
    * count clears the same bound. This keeps the oracle bit-exact
    * (unlike an `approx_percentile` swap) while removing the
    * per-source raw-row sort that made the naive `row_number` form a
    * reducer-per-source chokepoint at 100 TB. */
  def sourceQuality(s: SparkSession, dir: String): DataFrame = {
    val wCum = Window.partitionBy("source").orderBy("qq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("source")
    def atLeast(pct: Int) =
      min(when(col("cum") * 100 >= col("n") * pct, col("qq")))
    qualityBase(s, dir)
      .select(col("source"),
        floor(col("quality_score") * (1L << 20)).cast("long").as("qq"))
      .groupBy("source", "qq")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(wAll))
      .groupBy("source")
      .agg(
        sum("cnt").as("n_docs"),
        min("qq").as("min_q20"),
        max("qq").as("max_q20"),
        atLeast(25).as("p25_q20"),
        atLeast(50).as("p50_q20"),
        atLeast(75).as("p75_q20"),
        atLeast(95).as("p95_q20"))
      .orderBy("source")
  }

  /** td22 calibration: document budget for the expected-sample-count
    * column (the "how many docs would a B-doc sample draw from each
    * language" planning number). */
  private[graft] val SampleBudget = 100000L

  /** td22: temperature-sampled mixture weights — the multilingual
    * sampling-ratio computation (α = 0.5: weight ∝ √corpus-tokens)
    * used to up-weight low-resource languages when drawing a training
    * mixture, as in the XLM-R / mT5 recipe. Per language: corpus size,
    * the quantized weight, its parts-per-million share, and the
    * expected document count under a [[SampleBudget]]-doc draw.
    *
    * Determinism: √ is IEEE-correctly-rounded in both engines and each
    * weight is quantized to 2²⁰-scaled BIGINT per GROUP (never summed
    * as a float), so the share arithmetic is pure integer — `div`
    * truncation and DuckDB's `//` floor agree because every operand is
    * non-negative. Scale: one shuffle on lang (a bounded domain — the
    * per-group token sum is the only corpus-sized work), then the
    * 1-row weight total broadcast back; share math is row-local. */
  def sampleWeights(s: SparkSession, dir: String): DataFrame = {
    val perLang = docs(s, dir)
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("total_tokens"))
      .withColumn("w_q20",
        floor(sqrt(col("total_tokens").cast("double")) * (1L << 20))
          .cast("long"))
    val total = perLang.agg(sum("w_q20").as("w_total"))
    perLang.crossJoin(broadcast(total))
      .select(col("lang"), col("n_docs"), col("total_tokens"), col("w_q20"),
        expr("w_q20 * 1000000 div w_total").as("share_ppm"),
        expr(s"w_q20 * $SampleBudget div w_total").as("expected_docs"))
      .orderBy("lang")
  }

  /** td24: per-source distribution drift — the curation audit that
    * flags a source whose token distribution diverges from the
    * corpus (spam farms, boilerplate mirrors, mis-tagged languages
    * all show up here before any model does): total-variation-style
    * L1 distance between each source's token frequencies and the
    * corpus-wide distribution, in exact integer ppm space, plus the
    * most-deviating token as the "why" column.
    *
    * The L1 sum runs over the FULL corpus vocabulary without ever
    * materializing source × vocabulary: Σ_t |obs − exp| =
    * Σ_{t∈source} |obs − exp| + (Σ_corpus exp − Σ_{t∈source} exp) —
    * absent tokens contribute exactly their expected ppm, folded in
    * via one global scalar. Frequencies quantize to ppm by integer
    * division (all operands non-negative, so Spark `div` ≡ DuckDB
    * `//`), keeping the report bit-identical across engines.
    *
    * Scale: one shuffle on (source, token), one on token (the
    * corpus-frequency side is deliberately unhinted, like td03's
    * vocab join — broadcast when it fits, SMJ at web-scale
    * vocabularies), one on source for the report; the two scalar
    * frames broadcast. The top-deviator window partitions by source
    * over rows the report shuffle already co-located. */
  def sourceDrift(s: SparkSession, dir: String): DataFrame =
    sourceDriftOf(docs(s, dir))

  /** td32 log geometry: probabilities quantize to 2^[[LmProbScale]],
    * the piecewise-linear log2 carries [[LmLogF]] fractional bits.
    * Frozen — they parameterize the declared query and its oracle. */
  private[graft] val LmProbScale = 20
  private[graft] val LmLogF = 12

  /** Exact integer piecewise-linear log2 of a quantized probability
    * `p` SQL expression, 2^[[LmLogF]]-scaled: `k·2^F + (p − 2^k)·2^F
    * div 2^k` with `k = ⌊log2 p⌋` taken from the BINARY STRING length
    * (`length(bin(p)) − 1`) — pure integer/string ops, so both
    * engines agree bit-for-bit where a libm `log` (not required to be
    * correctly rounded by IEEE) could drift in the last ulp. The
    * chord interpolation underestimates log2 by ≤ 0.086 bits and is
    * strictly monotone — a ranking/quantile score, not a calibrated
    * entropy. Requires p ≥ 1. */
  private[graft] def lmLog2Sql(p: String): String =
    s"(length(bin($p)) - 1) * ${1L << LmLogF} + " +
      s"(($p) - shiftleft(CAST(1 AS BIGINT), length(bin($p)) - 1)) * " +
      s"${1L << LmLogF} div shiftleft(CAST(1 AS BIGINT), length(bin($p)) - 1)"

  /** Shared DuckDB CTE chain computing td32's per-doc LM scores
    * `pd(doc_id, source, n_bigrams, bpb)` — the oracle mirror of
    * [[lmDocScores]], spliced into both the td32 and td33 oracles so
    * the two stay textually one formulation. The integer chord log2
    * is mirrored textually (lmLog2Sql's Spark form ≡ this DuckDB
    * form: length(bin(p)) is the same exact floor-log2 in both
    * engines, shifts/div are integer ops). */
  private def lmPerDocSqlCtes: String = {
    val f = 1L << LmLogF
    val nllMax = LmProbScale.toLong * (1L << LmLogF)
    val lg = s"(length(bin(p_q)) - 1) * $f + " +
      s"((p_q - (1::BIGINT << (length(bin(p_q)) - 1))) * $f) " +
      s"// (1::BIGINT << (length(bin(p_q)) - 1))"
    s"""t AS (SELECT doc_id, source, string_split(text, ' ') AS a
       |      FROM documents
       |      WHERE len(string_split(text, ' ')) >= 2),
       |ix AS (SELECT doc_id, source, a, unnest(range(1, len(a))) AS i
       |       FROM t),
       |p AS (SELECT doc_id, source,
       |             ${h32Sql("a[i] || ' ' || a[i + 1]")} * 2147483648 +
       |               ${h32bSql("a[i] || ' ' || a[i + 1]")} // 2 AS g,
       |             ${h32Sql("a[i]")} * 2147483648 +
       |               ${h32bSql("a[i]")} // 2 AS gw
       |      FROM ix),
       |pc AS (SELECT doc_id, source, g, gw, COUNT(*) AS occ
       |       FROM p GROUP BY doc_id, source, g, gw),
       |lm AS (SELECT g, gw, CAST(SUM(occ) AS BIGINT) AS c12
       |       FROM pc GROUP BY g, gw),
       |pref AS (SELECT gw, CAST(SUM(c12) AS BIGINT) AS c1
       |         FROM lm GROUP BY gw),
       |sc AS (SELECT pc.doc_id, pc.source, pc.occ,
       |              greatest((lm.c12 * ${1L << LmProbScale}) // pref.c1,
       |                       1) AS p_q
       |       FROM pc JOIN lm USING (g, gw) JOIN pref USING (gw)),
       |nl AS (SELECT doc_id, source, occ, $nllMax - ($lg) AS nll
       |       FROM sc),
       |pd AS (SELECT doc_id, source,
       |              CAST(SUM(occ) AS BIGINT) AS n_bigrams,
       |              CAST(SUM(occ * nll) AS BIGINT)
       |                // CAST(SUM(occ) AS BIGINT) AS bpb
       |       FROM nl GROUP BY doc_id, source)""".stripMargin
  }

  /** td32: bigram-LM perplexity quality scoring — the CCNet-style
    * complement to td02's heuristic rules (Wenzek et al. 2020 score
    * every document under a corpus-trained LM and keep/weight by
    * perplexity percentile; Gopher/Dolma pipelines run BOTH rule and
    * LM filters). The LM is the corpus's own bigram table:
    * P(w2|w1) = c(w1,w2) / c(w1,·), quantized to 2^[[LmProbScale]]
    * (floored at 1 so log is total); a document's score is its mean
    * negative log2-probability per bigram token — "bits per bigram",
    * 2^[[LmLogF]]-scaled — and the report is each source's
    * n_docs/min/max/p25/p50/p75/p95 of that score, td21's
    * integer-rank quantile method. Low bits-per-bigram = templated /
    * boilerplate mass (every phrase is corpus-typical: the td25
    * low-novelty population); high = rare or garbled content. Docs
    * under 2 tokens have no bigram and are excluded (mirrored in the
    * oracle).
    *
    * Determinism: probabilities are exact integer ppm-style
    * quantities (`c12·2^20 div c1`), the log is [[lmLog2Sql]]'s
    * integer chord form, and the per-doc mean is an integer `div` —
    * no float leaves any operator, so the report hashes identically
    * across engines.
    *
    * Scale shape: bigram and prefix hash to 63-bit keys at the source
    * (td25's two-md5-word construction — string words never reach a
    * shuffle), the exploded stream compacts FIRST to distinct
    * (doc, g, gw) rows with occurrence counts (td17's compaction; one
    * doc-keyed shuffle), the bigram total c12 comes from a COUNT-style
    * window over the compacted relation (td25's df shape — partition
    * by the fine-grained bigram key, so no viral-PREFIX fat task), and
    * the prefix total c1 comes from an independent token-level count
    * aggregation joined back UNHINTED on gw (map-side partials absorb
    * a viral prefix; the join is AQE-skew-splittable; a web corpus's
    * prefix vocabulary outgrows any broadcast threshold). Measured
    * alternatives at sf10 (warm min-of-3): string keys + derived
    * lm/pref join tables 13.4 s (Catalyst cannot reuse the compaction
    * exchange across the probe and a derived aggregate — td25's
    * finding, re-confirmed); hashed keys + derived joins 10.4 s;
    * double window (c12 by g, c1 by gw) 8.35 s but the gw window is a
    * single-task wall per viral prefix at corpus scale; this hybrid
    * 8.96 s and skew-safe everywhere. The quantile pass runs on the
    * ≤ |sources| × score histogram (td21), never a per-source raw
    * sort. */
  def lmScore(s: SparkSession, dir: String): DataFrame =
    lmScoreOf(docs(s, dir))

  /** [[lmScore]] over an arbitrary `(doc_id, source, text)` frame —
    * the declared query binds the stored corpus; PipelineSpec binds a
    * planted corpus against an in-memory integer reference. */
  private[queries] def lmScoreOf(d: DataFrame): DataFrame = {
    val perDoc = lmDocScores(d)
      .select(col("source"), col("bpb"))
    val wCum = Window.partitionBy("source").orderBy("bpb")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("source")
    def atLeast(pct: Int) =
      min(when(col("cum") * 100 >= col("n") * pct, col("bpb")))
    perDoc
      .groupBy("source", "bpb")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(wAll))
      .groupBy("source")
      .agg(
        sum("cnt").as("n_docs"),
        min("bpb").as("min_bpb_q12"),
        max("bpb").as("max_bpb_q12"),
        atLeast(25).as("p25_bpb_q12"),
        atLeast(50).as("p50_bpb_q12"),
        atLeast(75).as("p75_bpb_q12"),
        atLeast(95).as("p95_bpb_q12"))
      .orderBy("source")
  }

  /** The maximum per-bigram score: the quantization floor p_q = 1
    * gives log2 = 0 and nll = [[LmProbScale]]·2^[[LmLogF]] — also the
    * out-of-vocabulary backoff the streaming gate charges a bigram
    * the stored LM has never seen. */
  private[graft] val LmNllMax: Long = LmProbScale.toLong * (1L << LmLogF)

  /** Per-document LM scores `(doc_id, source, n_bigrams, bpb)` —
    * [[lmScoreOf]] before the per-source histogramming; shared with
    * the streaming gate's equivalence pin (DocStreamsSpec scores the
    * same corpus as a stream against [[lmNllTable]] and must match
    * bit-for-bit). */
  private[graft] def lmDocScores(d: DataFrame): DataFrame = {
    // bigram and prefix hash to 63-bit keys AT THE SOURCE (td25's
    // two-md5-word construction, collisions at 2^-32 odds for 10^9
    // distinct keys, mirrored into the oracle so a collision merges
    // the same counts in both engines): every downstream shuffle and
    // join carries two longs instead of two word strings.
    //
    // The compacted (doc_id, source, g, gw, occ) relation is
    // MATERIALIZED once (plan-keyed cache, disk-tolerant) and every
    // total derives from it: Catalyst cannot reuse the compaction
    // exchange across a probe and a derived aggregate (td25's
    // finding, re-confirmed on td32), so without the cache each
    // derived total re-ran the explode subtree, and the previous
    // window form (c12 via sum over partitionBy(g, gw)) re-SORTED the
    // full relation inside the sf100 spill regime — the r17 verdict's
    // 13-15x/decade flag. Measured history at sf100 solo, same
    // session/binary: window+token-count hybrid 190 s → this
    // materialized aggregate+join form [see BASELINE.md r18 A/B].
    val pairs = SessionCache(d
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), col("source"), explode(expr(
        "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), " +
          "(x, y) -> struct(x AS w1, y AS w2))")).as("b"))
      .select(col("doc_id"), col("source"),
        hashKey63(concat_ws(" ", col("b.w1"), col("b.w2"))).as("g"),
        hashKey63(col("b.w1")).as("gw"))
      // gw is functionally dependent on g (same w1), so adding it to
      // the keys changes no group
      .groupBy("doc_id", "source", "g", "gw")
      .agg(count(lit(1)).as("occ")))
    // (g, gw) aggregation grain matches the oracle's GROUP BY g, gw —
    // on a g-collision across different prefixes (2^-63 odds) the two
    // engines then still merge identically
    val lm = pairs.groupBy("g", "gw").agg(sum("occ").as("c12"))
    // prefix totals c1(w1) = occurrences of w1 in non-final position
    // = Σ_g∈gw c12 = Σ occ per gw over the SAME materialized relation
    // (no raw-text re-scan) — a hash-keyed aggregation whose map-side
    // partials absorb viral prefixes, never a gw-partitioned window
    // (one fat task per viral prefix, and windows cannot skew-split)
    val pref = pairs.groupBy("gw").agg(sum("occ").as("c1"))
    // SHUFFLE_HASH on the one-row-per-key sides: both joins are
    // big-to-smaller on fine-grained hash keys, and the hash build
    // skips the SMJ sort of the probe side — the sort this
    // formulation exists to avoid. Memory bound to respect: a
    // ShuffledHashJoin build map CANNOT spill, and both build sides
    // are vocabulary-scale (one row per distinct bigram / prefix), so
    // the per-partition bound is |vocab|·~24 B / shuffle-partitions —
    // safe through the measured sf100 regime BECAUSE InputTuning
    // keeps AQE partition sizing on for large inputs (partition count
    // grows with the input, holding per-partition build size
    // roughly constant).
    val joinHint = "SHUFFLE_HASH"
    val nllTab = lm.join(pref.hint(joinHint), Seq("gw"))
      .select(col("g"), col("gw"),
        // c12 ≤ c1 caps p_q at 2^20 (zero nll); the floor at 1 keeps
        // the log total when c12·2^20 div c1 truncates to 0
        greatest(expr(s"c12 * ${1L << LmProbScale} div c1"), lit(1L))
          .as("p_q"))
      .select(col("g"), col("gw"),
        (lit(LmProbScale.toLong * (1L << LmLogF)) -
          expr(lmLog2Sql("p_q"))).as("nll"))
    // the per-doc score frame is cached too: ONE bounded row per doc
    // (~30 B — 150 MB at 5M docs), and three consumers read it (the
    // td32 histogram, td33's tercile cuts AND its bucket assign) —
    // uncached, each consumer re-ran the two SHJ joins over the full
    // pair relation (measured sf10: td33 15.9 s → see BASELINE.md)
    val perDoc = SessionCache(pairs
      .join(nllTab.hint(joinHint), Seq("g", "gw"))
      .groupBy("doc_id", "source")
      .agg(sum(col("occ") * col("nll")).as("nll_sum"),
        sum("occ").as("n_bigrams"))
      .select(col("doc_id"), col("source"), col("n_bigrams"),
        expr("nll_sum div n_bigrams").as("bpb")))
    // Count-triggered pair-relation release (r18 verdict, What's wrong
    // #2): once the per-doc frame is materialized, NOTHING reads the
    // pair relation again — every consumer (td32 histogram, td33 cuts
    // + bucket assign, the streaming parity pin) reads the per-doc
    // frame — yet the pairs cache stayed pinned until invalidation
    // (tens of GB of dead columnar cache at sf100, a direct
    // contributor to the shared-JVM ENOSPC ceiling). The count forces
    // the per-doc build here (charged to whichever query constructs
    // first — same place the first action charged it before); the
    // release then frees the pair storage. Trade-off accepted: if the
    // per-doc entry is later evicted under pressure, recovery
    // recomputes from the raw corpus instead of the pair cache.
    // Steady state (both frames already materialized) is a cheap
    // count on the cached per-doc frame plus a no-op release.
    perDoc.count()
    SessionCache.release(pairs)
    perDoc
  }

  /** The stored LM scoring table `(g, nll)` — one row per distinct
    * corpus bigram with its 2^[[LmLogF]]-scaled negative
    * log2-probability, the material a production pipeline trains ONCE
    * on the standing corpus and every ingest batch scores against
    * (the streaming gate [[graft.streaming.DocStreams.lmScoreGate]]).
    * Arithmetic is exactly [[lmDocScores]]'s: the same (g, gw)
    * groupBy for c12, the same prefix totals and the same integer
    * chord log (since r18 both sides are aggregate+join over the
    * compacted relation — one formulation), so a doc scored against
    * this table matches its batch self-score bit-for-bit (pinned by
    * DocStreamsSpec). Output grain: ONE row per g (see the collapse
    * below). */
  private[graft] def lmNllTable(d: DataFrame): DataFrame = {
    val pairs = d
      .select(split(col("text"), " ").as("t"))
      .where(size(col("t")) >= 2)
      .select(explode(expr(
        "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), " +
          "(x, y) -> struct(x AS w1, y AS w2))")).as("b"))
      .select(
        hashKey63(concat_ws(" ", col("b.w1"), col("b.w2"))).as("g"),
        hashKey63(col("b.w1")).as("gw"))
      .groupBy("g", "gw").agg(count(lit(1)).as("c12"))
    val pref = d
      .select(split(col("text"), " ").as("t"))
      .where(size(col("t")) >= 2)
      .select(explode(expr("slice(t, 1, size(t) - 1)")).as("w1"))
      .select(hashKey63(col("w1")).as("gw"))
      .groupBy("gw").agg(count(lit(1)).as("c1"))
    pairs.join(pref, Seq("gw"))
      .select(col("g"),
        greatest(expr(s"c12 * ${1L << LmProbScale} div c1"), lit(1L))
          .as("p_q"))
      .select(col("g"),
        (lit(LmNllMax) - expr(lmLog2Sql("p_q"))).as("nll"))
      // one row per g, ENFORCED at the producer: the (g, gw) grain
      // above can emit two rows with the same g on a 63-bit
      // g-collision across distinct prefixes (2^-63 odds), and the
      // streaming gate's stream-static join would then DUPLICATE
      // every matching stream bigram. min(nll) is a deterministic
      // pick and the identity on non-colliding data; deduping here
      // (not in the gate) keeps the per-micro-batch static side
      // join-ready instead of re-aggregating the whole LM table on
      // every batch.
      .groupBy("g").agg(min("nll").as("nll"))
  }

  /** td33 bucket factors: the quality bias a head/middle/tail draw
    * applies (head = lowest bits-per-bigram = most corpus-typical
    * text). Integer so every weight stays exact. FROZEN: they
    * parameterize the declared query and its oracle. */
  private[graft] val QmFactors: Map[String, Long] =
    Map("head" -> 6L, "middle" -> 3L, "tail" -> 1L)

  /** The td33 bucket rule as ONE expression over `(bpb, cut33_q12,
    * cut66_q12)` columns, shared verbatim by the batch assign
    * ([[qualityMixtureOf]]) and the streaming admission gate
    * ([[graft.streaming.DocStreams.qualityBucketGate]]) so the two
    * can never drift: `bpb ≤ cut33` head, `≤ cut66` middle, else tail
    * (ties inside a cut all land low — pure integer comparison, both
    * engines). NULL cuts (a source the stored frame has never seen)
    * fall through both `when`s to `tail` — the conservative
    * lowest-weight admission for unknown provenance. */
  private[graft] def qmBucket: Column =
    when(col("bpb") <= col("cut33_q12"), "head")
      .when(col("bpb") <= col("cut66_q12"), "middle")
      .otherwise("tail")

  /** td33: quality-bucketed mixture weights — CCNet's actual
    * deployment step (Wenzek et al. 2020 §4: each language's corpus
    * is split at per-language perplexity TERCILES into head/middle/
    * tail and the training draw is biased toward the head). Joins
    * td32's per-doc bits-per-bigram against per-source integer-rank
    * tercile cuts (td21's quantile method: least score whose
    * cumulative count reaches 33% / 66%), assigns each doc a bucket,
    * and emits per-(source, bucket) sampling weights in td22's
    * exact-ppm style: weight = [[QmFactors]](bucket) · bucket bigram
    * count, share_ppm / expected_docs by integer `div` against the
    * weight total.
    *
    * Determinism: bpb and the cuts are td32's exact q12 integers, the
    * bucket rule is pure comparison (`bpb ≤ cut33` head, `≤ cut66`
    * middle, else tail — ties inside a cut all land low, both
    * engines), and every weight op is BIGINT — no float anywhere.
    * A source whose docs all share one bpb yields a single `head` row
    * (both engines drop empty buckets).
    *
    * Scale shape: per-doc scores REUSE td32's materialized compacted
    * relation ([[lmDocScores]]'s plan-keyed cache — no re-scan of the
    * bigram machinery), the tercile cuts run on the ≤ |sources| ×
    * distinct-score histogram (td21), the cuts frame (one row per
    * source — a bounded domain, never corpus-sized) broadcasts back
    * for a row-local bucket assign, and the report aggregation
    * shuffles ≤ 3·|sources| groups with map-side partials. Overflow
    * headroom: share arithmetic needs w·10⁶ < 2⁶³ ⇒ corpus bigram
    * count < 1.5·10¹² (≈ 6 TB of raw text) — beyond that, quantize
    * n_bigrams to a coarser unit first (td22's w_q20·10⁶ has the same
    * documented regime). */
  def qualityMixture(s: SparkSession, dir: String): DataFrame =
    qualityMixtureOf(docs(s, dir))

  /** [[qualityMixture]] over an arbitrary `(doc_id, source, text)`
    * frame — PipelineSpec binds a planted corpus against an
    * in-memory integer reference. */
  /** Per-source tercile cuts `(source, cut33_q12, cut66_q12)` over a
    * per-doc score frame ([[lmDocScores]]'s shape) — td21's
    * integer-rank quantile method on the ≤ |sources| × distinct-score
    * histogram. Factored out of [[qualityMixtureOf]] because this is
    * also the STORED frame a production ingest admits against: the
    * streaming twin ([[graft.streaming.DocStreams.qualityBucketGate]])
    * joins arriving docs to exactly this frame, so batch and online
    * bucket assignment share one cut definition (one row per source —
    * a bounded domain, broadcastable). */
  private[graft] def lmTercileCuts(perDoc: DataFrame): DataFrame = {
    val wCum = Window.partitionBy("source").orderBy("bpb")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("source")
    perDoc
      .groupBy("source", "bpb")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(wAll))
      .groupBy("source")
      .agg(
        min(when(col("cum") * 100 >= col("n") * 33, col("bpb")))
          .as("cut33_q12"),
        min(when(col("cum") * 100 >= col("n") * 66, col("bpb")))
          .as("cut66_q12"))
  }

  private[queries] def qualityMixtureOf(d: DataFrame): DataFrame = {
    val perDoc = lmDocScores(d)
    val cuts = lmTercileCuts(perDoc)
    val weighted = perDoc
      .join(broadcast(cuts), Seq("source"))
      .select(col("source"), col("n_bigrams"),
        col("cut33_q12"), col("cut66_q12"), qmBucket.as("bucket"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_bigrams").as("n_bigrams"),
        max("cut33_q12").as("cut33_q12"),
        max("cut66_q12").as("cut66_q12"))
      .withColumn("w",
        expr(s"CASE bucket WHEN 'head' THEN ${QmFactors("head")} " +
          s"WHEN 'middle' THEN ${QmFactors("middle")} " +
          s"ELSE ${QmFactors("tail")} END") * col("n_bigrams"))
    val total = weighted.agg(sum("w").as("w_total"))
    weighted.crossJoin(broadcast(total))
      .select(col("source"), col("bucket"), col("n_docs"),
        col("n_bigrams"), col("cut33_q12"), col("cut66_q12"), col("w"),
        expr("w * 1000000 div w_total").as("share_ppm"),
        expr(s"w * $SampleBudget div w_total").as("expected_docs"))
      .orderBy("source", "bucket")
  }

  /** [[sourceDrift]] over an arbitrary `(source, text)` frame — the
    * declared query binds the stored corpus; DriftProperties binds
    * random corpora against a direct full-vocabulary reference. */
  private[queries] def sourceDriftOf(d: DataFrame): DataFrame = {
    val st = d
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    val ts = st.groupBy("source").agg(sum("c").as("ts"))
    val ct = SessionCache(st.groupBy("token").agg(sum("c").as("ct")))
    val g = ct.agg(sum("ct").as("g"))
    val sExp = ct.crossJoin(broadcast(g))
      .agg(sum(expr("ct * 1000000 div g")).as("s_exp"))
    val j = st.join(ts, "source").join(ct, "token").crossJoin(broadcast(g))
      .select(col("source"), col("token"), col("ts"),
        expr("c * 1000000 div ts").as("obs_ppm"),
        expr("ct * 1000000 div g").as("exp_ppm"))
    val w = Window.partitionBy("source")
      .orderBy(desc("dev"), col("token"))
    j.withColumn("dev", expr("abs(obs_ppm - exp_ppm)"))
      .withColumn("rn", row_number().over(w))
      .groupBy("source")
      .agg(
        max("ts").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum("dev").as("l1_present"),
        sum("exp_ppm").as("exp_present"),
        max(when(col("rn") === 1, col("token"))).as("top_token"),
        max(when(col("rn") === 1, col("dev"))).as("top_dev_ppm"))
      .crossJoin(broadcast(sExp))
      .select(col("source"), col("n_tokens"), col("n_distinct"),
        (col("l1_present") + col("s_exp") - col("exp_present"))
          .as("drift_ppm"),
        col("top_token"), col("top_dev_ppm"))
      .orderBy("source")
  }

  /** td19 calibration: sketch capacity and report size. Validity is
    * enforced, not hoped for — see [[heavyHittersOf]]. */
  private[graft] val HhCapacity = 256
  private[graft] val HhK = 20

  /** Exact corpus heavy-hitters (top-[[HhK]] tokens) WITHOUT a
    * vocabulary-wide shuffle: pass 1 runs a mergeable Misra–Gries
    * sketch ([[graft.functions.MisraGries]]) as a typed aggregate —
    * the shuffle carries one ≤[[HhCapacity]]-entry map per partition,
    * not the token vocabulary — and pass 2 re-scans with an InSet
    * filter on the ≤[[HhCapacity]] surviving candidates, so the exact
    * groupBy aggregates ≤[[HhCapacity]] distinct keys. At web scale
    * (billions of distinct tokens) the naive groupBy(token) shuffles
    * the whole vocabulary; this shape shuffles O(partitions ×
    * capacity) then O(capacity), independent of vocabulary size. */
  def heavyHitters(s: SparkSession, dir: String): DataFrame =
    heavyHittersOf(s, docs(s, dir), HhK, HhCapacity,
      exactDirect = graft.InputTuning.smallInput(dir))

  /** [[heavyHitters]] over an explicit `(text)` frame with explicit
    * k/capacity/ceiling, so specs can plant corpora that force sketch
    * eviction and escalation. The sketch guarantees every token with
    * true count > total/(capacity+1) survives pass 1 (and
    * non-survivors are ≤ that bound), so when the observed k-th count
    * clears the bound the top-k is provably exact; a sketch whose
    * counts sum to `total` never evicted and is exact outright. When
    * neither certificate holds the capacity escalates (see
    * [[heavyHittersOfTokens]]); past `maxCapacity` this FAILS LOUDLY
    * (like td09 on non-convergence) rather than return a maybe-list. */
  private[graft] def heavyHittersOf(
      s: SparkSession, d: DataFrame, k: Int, capacity: Int,
      maxCapacity: Int = 1 << 20, exactDirect: Boolean = false): DataFrame =
    heavyHittersOfTokens(s,
      d.select(explode(split(col("text"), " ")).as("token")), k, capacity,
      maxCapacity, exactDirect)

  /** The sketch kernel of [[heavyHittersOf]] over an already-exploded
    * single-column `token` frame — reused by [[bigramStep]] (td20),
    * whose "tokens" are adjacent-pair strings.
    *
    * Capacity ESCALATES (informed jump after the first failure, ×8
    * floor, up to `maxCapacity`): an attempt whose top-k cannot be
    * certified exact — the sketch evicted AND the k-th count does not
    * clear the miss bound total/(capacity+1) — is discarded and
    * re-sketched larger, so the returned top-k is always provably
    * exact whichever attempt produced it. Real corpora are Zipf and
    * certify on the first attempt with no extra work; the escalation
    * exists for near-UNIFORM frequency profiles (e.g. the
    * replica-tagged ScaleGen testdata, whose vocabulary is 10× per
    * decade with near-equal counts — a deliberately sketch-
    * adversarial shape), where exactness needs capacity ≥
    * distinct-token count. On those the first failure buys one cheap
    * HLL distinct estimate, and (r20) the sketch-only failure bound
    * (k-th stored count + MG undercount bound cannot clear the miss
    * bound) skips the guaranteed-futile exact-recount pass entirely;
    * when the informed jump then lands inside `maxCapacity` — i.e.
    * the re-sketch it would size is lossless by construction — the
    * ladder computes the exact top-k directly as one codegen'd hash
    * aggregate over the same ≤capacity-bounded vocabulary instead of
    * paying a second typed-aggregate sketch pass, so an escalating
    * ladder costs sketch + HLL + exact-groupBy instead of sketch +
    * recount + HLL + sketch. Only a vocabulary estimated PAST
    * `maxCapacity` takes a ceiling-capacity sketch rung, after which
    * the operator still refuses loudly rather than approximate.
    *
    * `exactDirect` is the measured-input regime switch (td08/td09
    * pattern, keyed off [[graft.InputTuning.smallInput]] by the
    * declared queries): the sketch exists to keep the shuffle at
    * O(partitions × capacity) when the vocabulary is too large to
    * shuffle — below the AQE input threshold the whole vocabulary
    * fits a single healthy shuffle, and a certifying Zipf attempt's
    * two full passes (typed-aggregate sketch + candidate recount —
    * the recount is skipped only in the LOSSLESS terminal state,
    * where the sketch's counters are already exact) cost roughly
    * twice the one exact groupBy. Both paths return the identical
    * exact top-k with the same (count desc, token) tiebreak. */
  private[graft] def heavyHittersOfTokens(
      s: SparkSession, toks: DataFrame, k: Int, capacity: Int,
      maxCapacity: Int = 1 << 20, exactDirect: Boolean = false): DataFrame = {
    import s.implicits._
    if (exactDirect)
      return toks.groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("token"))
        .limit(k)
    var cap = capacity
    var result: Option[Seq[(String, Long)]] = None
    var lastDiag = ""
    // Lazily-measured distinct-token estimate (HLL, ONE cheap
    // codegen'd scan): taken only after the FIRST uncertified
    // attempt, never on the Zipf corpora that certify immediately.
    // The estimate makes the next attempt jump straight to a capacity
    // ≥ distinct tokens, where the sketch cannot evict and certifies
    // by construction. ×1.1 covers the HLL rsd (0.02); an
    // underestimate just means the loop takes one more rung —
    // correctness never rests on the estimate. (An r20 A/B fused the
    // HLL into the sketch scan itself to save this pass — REJECTED:
    // it taxes the expensive typed-aggregate pass on every corpus,
    // while the standalone HLL scan is a cheap codegen'd aggregate
    // paid only on escalation; sf10 td19 min 3.9 → 4.8 s fused.)
    var approxDistinct = -1L
    while (result.isEmpty && cap <= maxCapacity) {
      val mg = toks.as[String]
        .select(new graft.functions.MisraGries(cap).toColumn)
        .head()
      val storedSum = mg.counts.valuesIterator.sum
      val sketchIsExact = storedSum == mg.total
      val maxUndercount = (mg.total - storedSum) / (cap + 1L)
      val provablyNotSeparable =
        !sketchIsExact && mgRecountFutile(mg.counts, mg.total, cap, k)
      if (sketchIsExact) {
        // Lossless sketch (capacity ≥ distinct tokens — the informed
        // jump's terminal state): the sketch's counters ARE the exact
        // counts, so the candidate-recount pass would recompute what
        // the driver already holds. Skip the scan.
        result = Some(mg.counts.toSeq
          .sortBy { case (t, c) => (-c, t) }
          .take(k))
      } else {
        val top =
          if (provablyNotSeparable) Array.empty[(String, Long)]
          else exactCandidateCounts(s, toks, mg.counts.keys.toSeq)
            .collect()
            .map(r => (r.getString(0), r.getLong(1)))
            .sortBy { case (t, c) => (-c, t) }
            .take(k)
        // division form of `count * (cap+1) > total`: the product
        // overflows Long once the k-th count passes ~2^63/cap (a
        // ~10^14-token corpus at the 2^20 capacity ceiling), turning a
        // provably-exact top-k into a spurious uncertifiable abort —
        // the same overflow class as bucketsForRows' pow2 round-up
        // for non-negative counts, c*(cap+1) > total ⟺ c > total/(cap+1)
        // under floor division — exact, with no product to overflow
        val separable =
          top.length == k && top.last._2 > mg.total / (cap + 1L)
        if (separable) result = Some(top.toSeq)
        else {
          lastDiag =
            if (provablyNotSeparable)
              s"sketch-only bound: k-th stored + undercount bound " +
                s"$maxUndercount cannot clear the miss bound " +
                s"${mg.total} / ${cap + 1} (recount skipped)"
            else s"k-th count ${top.lastOption.map(_._2)} does not " +
              s"clear the sketch miss bound ${mg.total} / ${cap + 1}"
          if (cap >= maxCapacity) cap = maxCapacity + 1 // terminate
          else {
            if (approxDistinct < 0L)
              approxDistinct = toks
                .agg(approx_count_distinct(col("token"), 0.02))
                .head().getLong(0)
            val wanted = (approxDistinct * 11L) / 10L + 1L
            // r20: when the informed jump lands INSIDE the ceiling,
            // the re-sketch it sizes is lossless by construction
            // (capacity ≥ distinct ⇒ no counter ever evicts ⇒ the
            // sketch IS the exact per-token count map, merged on the
            // driver). An exact groupBy top-k over the same ≤wanted-
            // key vocabulary is the identical result — computed as
            // one codegen'd hash aggregate with map-side partials
            // plus a TakeOrdered of k rows, instead of a second full
            // typed-aggregate pass (per-row Scala map updates) whose
            // vocabulary-sized merged map lands on the driver. The
            // return is gated on the HLL ESTIMATE, so the shuffle is
            // bounded by the capacity the ladder accepts for its
            // driver-side map only while the estimate holds: when HLL
            // underestimates a vocabulary just past maxCapacity by
            // more than the 1.1 margin, this branch runs one
            // vocabulary-sized shuffle where the ceiling rung would
            // have refused. That softens the web-scale refusal
            // contract; it does not touch exactness — the groupBy
            // top-k is exact whatever the estimate says.
            if (wanted <= maxCapacity)
              return toks.groupBy("token")
                .agg(count(lit(1)).as("cnt"))
                .orderBy(desc("cnt"), asc("token"))
                .limit(k)
            cap = math.min(math.max(cap * 8L, wanted), maxCapacity.toLong).toInt
          }
        }
      }
    }
    require(result.nonEmpty,
      s"heavy-hitters top-$k not certifiable up to maxCapacity=" +
        s"$maxCapacity: $lastDiag — raise maxCapacity")
    result.get.toDF("token", "cnt").orderBy(desc("cnt"), asc("token"))
  }

  /** Exact second-pass counts for the sketch's surviving candidates,
    * as a BROADCAST LEFT-SEMI join against a 1-column candidate frame
    * — never an `isInCollection` literal. The candidate set lives on
    * the driver either way (it IS the sketch), but inlining up to 2²⁰
    * escalated-capacity strings into the plan as an InSet literal is
    * a plan-size/codegen hazard; a broadcast semi-join ships the same
    * set once per executor through the torrent broadcast path and
    * keeps the plan O(1). Plan shape (BroadcastHashJoin LeftSemi)
    * pinned in PlanQualitySpec. */
  private[graft] def exactCandidateCounts(
      s: SparkSession, toks: DataFrame, candidates: Seq[String]): DataFrame = {
    import s.implicits._
    toks
      .join(broadcast(candidates.toDF("token")), Seq("token"), "left_semi")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
  }

  /** Sketch-only proof that the exact candidate-recount pass CANNOT
    * certify a separable top-k at this capacity, so the full corpus
    * scan it costs can be skipped and the ladder escalated directly
    * (r20; the escalation path previously paid sketch + recount per
    * rung). Sound by the Misra–Gries decrement bound: every token's
    * true count exceeds its stored count by at most
    * D = (total − storedSum)/(cap+1) (mergeable-summaries guarantee —
    * the same accounting the separability certificate itself relies
    * on), and among any k tokens at most k−1 have stored count above
    * the k-th largest stored value, so the k-th largest TRUE count is
    * ≤ (k-th largest stored) + D. When even that upper bound cannot
    * clear the miss bound total/(cap+1) — or the sketch holds fewer
    * than k candidates at all — certification (`k-th exact count >
    * total/(cap+1)`, over candidates ⊆ all tokens) must fail. On
    * near-uniform corpora (the ScaleGen decades) the k-th stored
    * count sits at the stored average and the proof fires; on Zipf
    * corpora the head dwarfs the bound and the recount proceeds as
    * before. Never called on a lossless sketch (no recount happens
    * there at all). */
  private[graft] def mgRecountFutile(
      counts: Map[String, Long], total: Long, cap: Int, k: Int): Boolean =
    counts.size < k || {
      val kthStored = counts.valuesIterator.toArray
        .sorted(Ordering[Long].reverse).apply(k - 1)
      val maxUndercount = (total - counts.valuesIterator.sum) / (cap + 1L)
      kthStored + maxUndercount <= total / (cap + 1L)
    }

  /** td20 calibration: report size and INITIAL sketch capacity. The
    * driver testdata vocabulary is ~31 tokens (~10³ distinct
    * bigrams), so 2048 is lossless on the first attempt through
    * sf0.1; the replica-tagged ScaleGen decades multiply the bigram
    * vocabulary 10× per decade and escalate (sf1 certifies at 16k).
    * Web-scale natural-language corpora instead rely on the Zipf
    * head clearing the separability bound — bigram frequencies are
    * steeper-than-Zipf, so the head separates even better than
    * unigrams do. */
  private[graft] val BpeK = 20
  private[graft] val BpeCapacity = 2048

  /** One BPE-training pair-count step (the Sennrich et al. merge
    * loop's inner argmax): the most frequent ADJACENT token pairs in
    * the corpus, i.e. the pairs a tokenizer trainer would merge
    * next. Pair construction is row-local array math — zip_with over
    * two slices of the same split, no posexplode self-join, no
    * shuffle before the sketch — and counting reuses the td19
    * Misra–Gries kernel, so the shuffle carries bounded sketch maps,
    * never the bigram vocabulary (quadratic in token vocabulary at
    * web scale). */
  def bigramStep(s: SparkSession, dir: String): DataFrame =
    heavyHittersOfTokens(s,
      docs(s, dir)
        .select(split(col("text"), " ").as("a"))
        .select(explode(expr(
          "CASE WHEN size(a) > 1 THEN zip_with(" +
            "slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1), " +
            "(x, y) -> concat(x, ' ', y)) ELSE array() END")).as("token")),
      BpeK, BpeCapacity,
      exactDirect = graft.InputTuning.smallInput(dir))
      .withColumnRenamed("token", "bigram")

  /** Dedup keep-list: connected components over the Jaccard near-dup
    * pair graph via min-label propagation (the Pregel pattern: a
    * driver-side loop of data-parallel join+min steps, lineage
    * truncated per round). Component root = smallest doc_id = the
    * document to KEEP; everything else in the component is a drop.
    * Iteration count bounds component diameter; near-dup clusters are
    * small, and the result is exact once converged regardless of
    * extra rounds. */
  def dedupComponents(s: SparkSession, dir: String): DataFrame = {
    val (labels, _) =
      connectedComponents(jaccardPairGraph(s, dir).select("doc_a", "doc_b"))
    labels
      .select(col("root").as("component"), col("node").as("doc_id"),
        (col("node") =!= col("root")).as("is_duplicate"))
      .orderBy("component", "doc_id")
  }

  /** Edge count at or below which connected components run as a
    * driver-side union-find instead of the distributed propagation
    * loop. The pair graph is the OUTPUT of banded candidate
    * generation — near-dup pairs, not the corpus — so it is usually
    * minuscule relative to the data (tens of thousands of rows at
    * sf10 for a 10M-doc corpus), yet the iterative loop pays ~2
    * Spark jobs per round regardless. The regime is chosen from the
    * TRUE measured cardinality at run time: ≤ 1M edges (two longs each,
    * a few tens of MB transient on the driver) collect and solve in
    * microseconds; anything larger — the genuine web-scale dup
    * graph — takes the Pregel path below, which never materializes
    * the graph on one machine. */
  private[queries] val DriverCcMaxEdges = 1000000L

  /** Min-label connected components over an undirected pair list
    * (`doc_a`, `doc_b`): each round propagates the min label across
    * edges, then POINTER-JUMPS (root ← root-of-root) — composing the
    * label map with itself halves the remaining chain depth, so a
    * path of length L converges in O(log L) rounds instead of O(L)
    * (the Pregel/shortcutting pattern; labels only ever decrease, so
    * an unchanged label sum means the exact fixpoint was reached).
    * sum() over an empty frame is null → 0 (an empty pair graph is a
    * legal input and must yield an empty, not crashed, result).
    * Pair lists at or below `driverMaxEdges` (see
    * [[DriverCcMaxEdges]]) skip the loop entirely: a bounded collect
    * + union-find with min-root attachment produces the identical
    * labeling (property-tested against the same oracle) without the
    * per-round job floor. Returns (labels(node, root), rounds used —
    * 0 on the driver path). */
  private[graft] def connectedComponents(
      pairs: DataFrame, maxRounds: Int = 50,
      driverMaxEdges: Long = DriverCcMaxEdges): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    val pairsC = pairs.cache()
    if (pairsC.count() <= driverMaxEdges) {
      // Union-find, larger root attached under smaller: every tree
      // root stays the min id of its tree (the exact labeling the
      // distributed fixpoint converges to — see ComponentsProperties).
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      // Iterative find + full path compression: a pathological union
      // order can build O(n) parent chains, and a recursive find
      // would blow the stack at the 1M-edge bound.
      def find(x: Long): Long = {
        var r = parent.getOrElseUpdate(x, x)
        while (parent(r) != r) r = parent(r)
        var c = x
        while (c != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      pairsC.collect().foreach { r =>
        val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val labels = parent.keys.toSeq.sorted.map(k => (k, find(k)))
      import spark.implicits._
      // the result is a driver-local frame: the loop-scoped cache is
      // done — release it rather than pin it until session stop
      pairsC.unpersist()
      return (labels.toDF("node", "root"), 0)
    }
    val edges = pairsC
      .union(pairsC.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .cache()
    var labels = edges.select(col("doc_a").as("node")).distinct()
      .withColumn("root", col("node"))
      .localCheckpoint()
    def labelSum(): Long = {
      val v = labels.agg(sum("root")).first()
      if (v.isNullAt(0)) 0L else v.getLong(0)
    }
    var prevSum = labelSum()
    var converged = labels.head(1).isEmpty
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      rounds += 1
      val prop = edges
        .join(labels, edges("doc_b") === labels("node"))
        .groupBy(col("doc_a").as("pnode"))
        .agg(min("root").as("proot"))
      val stepped = labels
        .join(prop, col("node") === col("pnode"), "left")
        .select(col("node"),
          least(col("root"), coalesce(col("proot"), col("root"))).as("root"))
      // Pointer-jumping: every root is itself a node id (labels start
      // as self and only take mins of existing labels), so looking the
      // root up in the same map is total; the left join + coalesce is
      // belt-and-braces for the empty frame.
      val rootOf = stepped
        .select(col("node").as("rnode"), col("root").as("rroot"))
      labels = stepped
        .join(rootOf, stepped("root") === rootOf("rnode"), "left")
        .select(stepped("node"),
          coalesce(col("rroot"), stepped("root")).as("root"))
        .localCheckpoint() // truncate the iterative lineage
      val s = labelSum()
      converged = s == prevSum
      prevSum = s
    }
    // Fail loudly rather than emit partial (wrong) components: with
    // pointer-jumping, maxRounds = 50 covers component diameters up
    // to ~2^50 — non-convergence means something is broken, not big.
    require(converged, s"component propagation did not converge in $rounds rounds")
    // the final labels are a localCheckpoint (lineage already cut), so
    // the loop-scoped caches can be released here instead of pinning
    // one pair graph + doubled edge list per invocation
    edges.unpersist()
    pairsC.unpersist()
    (labels, rounds)
  }

  // -------------------------------------------------------------- registry

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "td01_token_stats" -> tokenStats,
    "td02_quality_score" -> qualityScore,
    "td03_lang_id" -> langId,
    "td04_fingerprint" -> fingerprint,
    "td05_dedup_exact" -> dedupExact,
    "td06_dedup_jaccard" -> jaccardPairGraph,
    "td07_dedup_minhash" -> dedupMinHash,
    "td08_dedup_simhash" -> dedupSimHash,
    "td09_dedup_components" -> dedupComponents,
    "td10_sample_strata" -> sampleStrata,
    "td11_mixture" -> mixture,
    "td12_decontaminate" -> decontaminate,
    "td13_repetition" -> repetition,
    "td14_source_overlap" -> ((s, dir) => sourceOverlap(s, dir)),
    "td15_substring_dedup" -> substringDedup,
    "td16_stratified_split" -> stratifiedSplit,
    "td17_rarity_score" -> rarityScore,
    "td18_pack_chunks" -> packChunks,
    "td19_heavy_hitters" -> heavyHitters,
    "td20_bigram_step" -> bigramStep,
    "td21_source_quality" -> sourceQuality,
    "td22_sample_weights" -> sampleWeights,
    "td23_ingest_dedup" -> ingestDedup,
    "td24_source_drift" -> sourceDrift,
    "td25_bigram_novelty" -> bigramNovelty,
    "td26_chunk_overlap" -> chunkOverlap,
    "td27_phrase_detect" -> phraseDetect,
    "td28_containment_dedup" -> ((s, dir) => containmentDedup(s, dir)),
    "td29_shard_assign" -> shardAssign,
    "td30_vocab_growth" -> vocabGrowth,
    "td31_pii_scan" -> piiScan,
    "td32_lm_score" -> lmScore,
    "td33_quality_mixture" -> qualityMixture
  )

  /** Containment bar: a pair is flagged when its larger-direction
    * containment reaches 80%. */
  private[graft] val ContainmentPpm = 800000L

  /** td28: containment dedup — Broder's asymmetric containment
    * C(A→B) = |A∩B| / |A| over 3-token shingle sets, in exact integer
    * ppm, flagging pairs whose LARGER direction reaches
    * [[ContainmentPpm]]. The subset-duplicate detector Jaccard
    * (td06) structurally misses: a short document wholly quoted
    * inside a long one has near-1.0 containment but tiny Jaccard
    * (|A∩B|/|A∪B| is diluted by the long side), and it is exactly the
    * quote/boilerplate-expansion case web-scale dedup pipelines
    * (Broder 1997's resemblance vs containment split) treat as a
    * separate rule. Both directions are reported, so the CONTAINED
    * side (the one to drop) is identifiable per pair.
    *
    * Scale shape: the candidate generation IS td06's — the shared
    * cached [[pairIntersections]] frame (hot-shingle df cap via
    * broadcast anti-join kills df² skew, (shingle) equijoin pair
    * join, corpus-cardinality sizes shuffle-joined, never broadcast) —
    * computed once per corpus and reused here, so td28 adds only
    * row-local BIGINT ppm arithmetic (non-negative ⇒ `div` ≡ `//`)
    * on top of a pass the pipeline already paid for. Measured sf10:
    * 30.6 s regenerating from scratch → 1.3 s cold once td06 has
    * built the shared frame (0.8 s warm). */
  def containmentDedup(s: SparkSession, dir: String,
      dfCap: Long = MaxShingleDf): DataFrame =
    pairIntersections(s, dir, dfCap)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        col("na"), col("nb"),
        expr("n_common * 1000000 div na").as("cont_a_ppm"),
        expr("n_common * 1000000 div nb").as("cont_b_ppm"))
      .where(greatest(col("cont_a_ppm"), col("cont_b_ppm"))
        >= ContainmentPpm)
      .orderBy("doc_a", "doc_b")

  /** Mikolov count discount δ: pairs must beat it to score at all. */
  private[graft] val PhraseDelta = 5L
  /** Report size of [[phraseDetect]]. */
  private[graft] val PhraseTopK = 50

  /** td27: collocation / phrase detection — the word2vec phrase-merge
    * score (Mikolov et al. 2013, "Distributed Representations of
    * Words and Phrases", §4): for each adjacent word pair,
    * `score = (c_xy − δ)·N / (c_x·c_y)` in exact integer basis
    * points, reported as the top-[[PhraseTopK]] by score. Pairs that
    * co-occur far above their unigram chance rate are the "new_york"
    * candidates a tokenizer or phrase-aware dedup wants merged;
    * δ = [[PhraseDelta]] discounts rare-pair noise. The unigram-
    * normalized complement of td20's raw BPE pair counts.
    *
    * Determinism: counts are BIGINT; the score runs through
    * DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) intermediates, so it is
    * exact at any corpus size with no overflow caveat; ties break on
    * the bigram string (unique per row).
    *
    * Scale shape: one (x,y) pair-count shuffle and one token
    * shuffle, both compacted map-side to the (bigram / vocabulary)
    * domain before exchanging; the two unigram joins are deliberately
    * unhinted like td03's vocab join (broadcast while the vocabulary
    * fits, SMJ at web scale); N is a 1-row broadcast; the report is a
    * TakeOrderedAndProject heap, never a global sort. */
  def phraseDetect(s: SparkSession, dir: String): DataFrame = {
    val uni = SessionCache(docs(s, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c")))
    val nTok = uni.agg(sum("c").as("n_tok"))
    val pairs = docs(s, dir)
      .select(split(col("text"), " ").as("a"))
      .where(size(col("a")) > 1)
      .select(explode(expr(
        "zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1), " +
          "(x, y) -> named_struct('x', x, 'y', y))")).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
    pairs.where(col("c_xy") > PhraseDelta)
      .join(uni.select(col("token").as("x"), col("c").as("c_x")), Seq("x"))
      .join(uni.select(col("token").as("y"), col("c").as("c_y")), Seq("y"))
      .crossJoin(broadcast(nTok))
      .select(concat_ws(" ", col("x"), col("y")).as("bigram"),
        col("c_xy"), col("c_x"), col("c_y"),
        expr(s"CAST(CAST(c_xy - $PhraseDelta AS DECIMAL(38,0)) * n_tok " +
          s"* 10000 div (CAST(c_x AS DECIMAL(38,0)) * c_y) AS BIGINT)")
          .as("score_bp"))
      .orderBy(desc("score_bp"), col("bigram"))
      .limit(PhraseTopK)
  }

  /** td31 pattern set — the C4/Dolma-style hygiene categories
    * (emails, phone numbers, IPv4 addresses, SSN-shaped ids), frozen
    * and mirrored TEXTUALLY into the oracle like td15's hashing.
    * Escape-free on purpose (the [[SubwordPattern]] rule): Spark SQL
    * string literals consume backslash escapes while DuckDB's do
    * not, so literal dots are `[.]` and digit classes `[0-9]` — both
    * regex dialects (Java / RE2) read these identically, and both
    * engines' `regexp_extract_all` scan leftmost non-overlapping
    * with identical greedy quantifiers. */
  private[graft] val PiiPatterns: Seq[(String, String)] = Seq(
    // TLD is {2,} not {2,6}: modern gTLDs (.technology,
    // .international) run past 6 chars, and an under-matching
    // pattern here silently under-reports in the report that decides
    // which sources need redaction — the one failure mode the oracle
    // gate cannot catch, because the oracle runs the same pattern.
    "email" -> "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}",
    "phone" -> "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}",
    "ipv4" -> "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}",
    "ssn" -> "[0-9]{3}-[0-9]{2}-[0-9]{4}")

  /** td31: PII detection report — per source, the count of documents,
    * total spans per [[PiiPatterns]] category, documents containing
    * any PII span, and that document rate in exact integer ppm. The
    * pre-release hygiene pass every curation pipeline runs (C4 strips
    * lines with curse/PII markers; Dolma's PII tagger counts exactly
    * these categories) — the report tells a curator WHICH sources
    * need redaction before a corpus ships. The synthetic testdata
    * corpus contains no digits or `@` at any SF, so every span count
    * is legitimately zero there (the driver gate still verifies
    * schema/rows/hash); detection itself is proven by the
    * planted-PII PipelineSpec case over [[piiScanDf]].
    *
    * Scale shape: ONE corpus scan — all four regex extractions are
    * row-local codegen'd expressions inside the scan stage, partials
    * compact to the bounded source domain map-side, and the single
    * exchange carries |sources| rows. No join anywhere; ppm is
    * non-negative BIGINT `div` (≡ DuckDB `//`). At 100 TB this is
    * the cheapest shape a full-text scan can have: bytes stream past
    * the regex automata once, and nothing corpus-sized shuffles. */
  def piiScan(s: SparkSession, dir: String): DataFrame =
    piiScanDf(docs(s, dir))

  /** Row-local PII tag stage shared by batch td31 and the streaming
    * gate ([[graft.streaming.DocStreams.piiGate]]): appends one
    * `c_<category>` span-count column per [[PiiPatterns]] entry plus
    * a `pii_any` flag to the input columns. Stateless codegen'd
    * per-row expressions only — no aggregation, no state — which is
    * exactly what lets the SAME stage run unchanged on a stream. */
  private[graft] def piiTag(d0: DataFrame): DataFrame = {
    // Re-gating already-tagged input (the streaming gate forwards
    // arbitrary ingest frames) must be idempotent, not ambiguous:
    // drop any prior tag columns before re-deriving them, so a frame
    // carrying c_email/pii_any never yields duplicate names that
    // break the report fold with AMBIGUOUS_REFERENCE.
    val reserved = PiiPatterns.map(p => s"c_${p._1}") :+ "pii_any"
    val d = d0.drop(reserved: _*)
    d.select(
      d.columns.map(col).toSeq ++
        PiiPatterns.map { case (nm, pat) =>
          size(expr(s"regexp_extract_all(text, '$pat', 0)"))
            .cast("long").as(s"c_$nm")
        }: _*)
      .withColumn("pii_any",
        PiiPatterns.map(p => col(s"c_${p._1}")).reduce(_ + _) > 0L)
  }

  /** The td31 report fold over [[piiTag]] output — per source: doc
    * count, span totals per category, PII-document count and exact
    * integer ppm. Factored out so DocStreamsSpec can prove the
    * streamed per-doc tags fold to the batch report EXACTLY. */
  private[graft] def piiReportFromTags(tagged: DataFrame): DataFrame =
    tagged.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        PiiPatterns.map { case (nm, _) =>
          sum(col(s"c_$nm")).cast("long").as(s"${nm}_spans")
        } :+ sum(col("pii_any").cast("long")).cast("long").as("pii_docs"): _*)
      .select(Seq(col("source"), col("n_docs")) ++
        PiiPatterns.map(p => col(s"${p._1}_spans")) ++
        Seq(col("pii_docs"),
          expr("pii_docs * 1000000 div n_docs").as("pii_doc_ppm")): _*)
      .orderBy("source")

  /** [[piiScan]] over an ad-hoc `(text, source)` frame (test entry
    * point for planted-PII corpora). */
  private[graft] def piiScanDf(d: DataFrame): DataFrame =
    piiReportFromTags(piiTag(d.select("source", "text")))

  // DuckDB oracles — generated from the SAME constants as the Spark
  // queries (TextPrep.MinHashAB etc.), so both sides stay in lockstep.

  /** Oracle mirror of the df-cap: `shf` = `sh` minus shingles hotter
    * than [[MaxShingleDf]] docs (td06/td09 compute over `shf`). */
  private def cappedShinglesSqlCte: String =
    s"""shf AS (
       |  SELECT doc_id, shingle FROM sh
       |  WHERE shingle NOT IN (
       |    SELECT shingle FROM sh GROUP BY shingle
       |    HAVING COUNT(*) > $MaxShingleDf))""".stripMargin

  private def minhashSigSql: String = {
    val mh = (0 until NumHashes)
      .map(i => s"MIN(${permSql(i, "h")}) AS mh$i").mkString(",\n         ")
    s"""sig AS (
       |  SELECT doc_id,
       |         $mh
       |  FROM shh GROUP BY doc_id)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "td01_token_stats" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |       CAST(SUM(n_sub) AS BIGINT) AS total_subtokens,
        |       MIN(n_tok) AS min_tokens, MAX(n_tok) AS max_tokens,
        |       CAST(SUM(n_tok) AS DOUBLE) / COUNT(*) AS avg_tokens,
        |       quantile_cont(CAST(n_tok AS DOUBLE), 0.5) AS p50_tokens
        |FROM (SELECT lang, len(string_split(text, ' ')) AS n_tok,
        |             len(regexp_extract_all(text, '$SubwordPattern')) AS n_sub
        |      FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "td02_quality_score" -> {
      val inList = Stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH base AS (
         |  SELECT doc_id, length(text) AS n_chars_calc,
         |         string_split(text, ' ') AS t
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, n_chars_calc, len(t) AS n_tokens,
         |         len(list_filter(t, x -> x IN ($inList))) AS n_stopwords
         |  FROM base),
         |r AS (
         |  SELECT doc_id, n_tokens, n_chars_calc,
         |         CAST(n_stopwords AS DOUBLE) / n_tokens AS stop_ratio,
         |         CAST(n_chars_calc - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_word_len
         |  FROM m)
         |SELECT doc_id, n_tokens, n_chars_calc, stop_ratio, avg_word_len,
         |       $scoreExpr AS quality_score
         |FROM r ORDER BY doc_id LIMIT 200""".stripMargin
    },
    "td16_stratified_split" ->
      s"""WITH b AS (
         |  SELECT lang, doc_id, length(text) AS n_chars,
         |         CASE WHEN ${h32Sql("text")} % $SplitBuckets < $TrainUpper
         |                THEN 'train'
         |              WHEN ${h32Sql("text")} % $SplitBuckets < $ValUpper
         |                THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM documents)
         |SELECT split, lang, COUNT(*) AS n_docs,
         |       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         |       MIN(doc_id) AS first_doc
         |FROM b GROUP BY split, lang
         |ORDER BY split, lang""".stripMargin,
    "td17_rarity_score" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |         ${h32Sql("token")} * 2147483648
         |           + ${h32bSql("token")} // 2 AS g
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |        FROM documents)),
         |pc AS (
         |  SELECT doc_id, g, COUNT(*) AS occ FROM toks GROUP BY doc_id, g),
         |df AS (
         |  SELECT g, COUNT(*) AS df FROM pc GROUP BY g),
         |total AS (SELECT COUNT(*) AS n_docs FROM documents)
         |SELECT pc.doc_id,
         |       CAST(SUM(pc.occ) AS BIGINT) AS n_tokens,
         |       COUNT(*) AS n_distinct,
         |       CAST(SUM(df.df * pc.occ) AS BIGINT) AS sum_token_df,
         |       CAST(SUM(CASE WHEN df.df * 100 < total.n_docs
         |                     THEN pc.occ ELSE 0 END) AS BIGINT) AS n_rare
         |FROM pc JOIN df ON df.g = pc.g CROSS JOIN total
         |GROUP BY pc.doc_id
         |ORDER BY pc.doc_id LIMIT 200""".stripMargin,
    "td18_pack_chunks" ->
      s"""WITH d AS (
         |  SELECT lang, doc_id,
         |         len(string_split(text, ' ')) AS n_tok,
         |         ${h32Sql("text")} AS pick
         |  FROM documents),
         |offs AS (
         |  SELECT lang, n_tok,
         |         SUM(n_tok) OVER (PARTITION BY lang ORDER BY pick, doc_id
         |                          ROWS UNBOUNDED PRECEDING) AS end_off
         |  FROM d),
         |marked AS (
         |  SELECT lang, n_tok, end_off,
         |         CAST(floor(CAST(end_off - n_tok AS DOUBLE) / $CtxTokens)
         |              AS BIGINT) AS chunk_first,
         |         CAST(floor(CAST(end_off - 1 AS DOUBLE) / $CtxTokens)
         |              AS BIGINT) AS chunk_last
         |  FROM offs)
         |SELECT lang, COUNT(*) AS n_docs,
         |       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
         |       CAST(floor(CAST(MAX(end_off) + $CtxTokens - 1 AS DOUBLE)
         |                  / $CtxTokens) AS BIGINT) AS n_chunks,
         |       CAST(SUM(CASE WHEN chunk_last > chunk_first
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs,
         |       CAST(MAX(chunk_last - chunk_first + 1) AS BIGINT)
         |         AS max_chunks_spanned
         |FROM marked GROUP BY lang ORDER BY lang""".stripMargin,
    "td19_heavy_hitters" ->
      s"""WITH tok AS (
         |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
         |SELECT token, COUNT(*) AS cnt FROM tok
         |GROUP BY token ORDER BY cnt DESC, token LIMIT $HhK""".stripMargin,
    "td20_bigram_step" ->
      s"""WITH t AS (SELECT string_split(text, ' ') AS a FROM documents),
         |ix AS (SELECT a, unnest(range(1, len(a))) AS i FROM t),
         |p AS (SELECT a[i] || ' ' || a[i + 1] AS bigram FROM ix)
         |SELECT bigram, COUNT(*) AS cnt FROM p
         |GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT $BpeK""".stripMargin,
    "td21_source_quality" -> {
      val inList = Stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH base AS (
         |  SELECT source, length(text) AS n_chars_calc,
         |         string_split(text, ' ') AS t
         |  FROM documents),
         |m AS (
         |  SELECT source, n_chars_calc, len(t) AS n_tokens,
         |         len(list_filter(t, x -> x IN ($inList))) AS n_stopwords
         |  FROM base),
         |r AS (
         |  SELECT source, n_tokens,
         |         CAST(n_stopwords AS DOUBLE) / n_tokens AS stop_ratio,
         |         CAST(n_chars_calc - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_word_len
         |  FROM m),
         |q AS (
         |  SELECT source,
         |         CAST(floor(($scoreExpr) * 1048576) AS BIGINT) AS qq
         |  FROM r),
         |ranked AS (
         |  SELECT source, qq,
         |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY qq) AS rn,
         |         COUNT(*) OVER (PARTITION BY source) AS n
         |  FROM q)
         |SELECT source, COUNT(*) AS n_docs,
         |       MIN(qq) AS min_q20, MAX(qq) AS max_q20,
         |       MIN(CASE WHEN rn * 100 >= n * 25 THEN qq END) AS p25_q20,
         |       MIN(CASE WHEN rn * 100 >= n * 50 THEN qq END) AS p50_q20,
         |       MIN(CASE WHEN rn * 100 >= n * 75 THEN qq END) AS p75_q20,
         |       MIN(CASE WHEN rn * 100 >= n * 95 THEN qq END) AS p95_q20
         |FROM ranked GROUP BY source ORDER BY source""".stripMargin
    },
    "td22_sample_weights" ->
      s"""WITH d AS (
         |  SELECT lang, len(string_split(text, ' ')) AS n_tok
         |  FROM documents),
         |g AS (
         |  SELECT lang, COUNT(*) AS n_docs,
         |         CAST(SUM(n_tok) AS BIGINT) AS total_tokens
         |  FROM d GROUP BY lang),
         |w AS (
         |  SELECT lang, n_docs, total_tokens,
         |         CAST(floor(sqrt(CAST(total_tokens AS DOUBLE)) * 1048576)
         |              AS BIGINT) AS w_q20
         |  FROM g),
         |t AS (SELECT CAST(SUM(w_q20) AS BIGINT) AS w_total FROM w)
         |SELECT lang, n_docs, total_tokens, w_q20,
         |       w_q20 * 1000000 // w_total AS share_ppm,
         |       w_q20 * $SampleBudget // w_total AS expected_docs
         |FROM w CROSS JOIN t ORDER BY lang""".stripMargin,
    "td24_source_drift" ->
      s"""WITH tok AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS token
         |  FROM documents),
         |st AS (
         |  SELECT source, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
         |ts AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ts
         |       FROM st GROUP BY 1),
         |ct AS (SELECT token, CAST(SUM(c) AS BIGINT) AS ct
         |       FROM st GROUP BY 1),
         |g AS (SELECT CAST(SUM(ct) AS BIGINT) AS g FROM ct),
         |sexp AS (
         |  SELECT CAST(SUM(ct.ct * 1000000 // g.g) AS BIGINT) AS s_exp
         |  FROM ct CROSS JOIN g),
         |j AS (
         |  SELECT st.source, st.token, ts.ts,
         |         st.c * 1000000 // ts.ts AS obs_ppm,
         |         ct.ct * 1000000 // g.g AS exp_ppm
         |  FROM st JOIN ts USING (source) JOIN ct USING (token)
         |  CROSS JOIN g),
         |d AS (
         |  SELECT source, token, ts, obs_ppm, exp_ppm,
         |         abs(obs_ppm - exp_ppm) AS dev,
         |         ROW_NUMBER() OVER (PARTITION BY source
         |           ORDER BY abs(obs_ppm - exp_ppm) DESC, token) AS rn
         |  FROM j)
         |SELECT source, MAX(ts) AS n_tokens, COUNT(*) AS n_distinct,
         |       CAST(SUM(dev) AS BIGINT) + (SELECT s_exp FROM sexp)
         |         - CAST(SUM(exp_ppm) AS BIGINT) AS drift_ppm,
         |       MAX(CASE WHEN rn = 1 THEN token END) AS top_token,
         |       MAX(CASE WHEN rn = 1 THEN dev END) AS top_dev_ppm
         |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "td25_bigram_novelty" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS a
        |           FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |ix AS (SELECT doc_id, a, unnest(range(1, len(a))) AS i FROM t),
        |p AS (SELECT doc_id, a[i] || ' ' || a[i + 1] AS bigram FROM ix),
        |ph AS (SELECT doc_id,
        |              ${h32Sql("bigram")} * 2147483648 + ${h32bSql("bigram")} // 2 AS g
        |       FROM p),
        |pc AS (SELECT doc_id, g, COUNT(*) AS occ
        |       FROM ph GROUP BY doc_id, g),
        |wd AS (SELECT doc_id, occ, COUNT(*) OVER (PARTITION BY g) AS df
        |       FROM pc),
        |agg AS (
        |  SELECT doc_id,
        |         CAST(SUM(occ) AS BIGINT) AS n_bigrams,
        |         COUNT(*) AS n_distinct_bigrams,
        |         CAST(SUM(CASE WHEN df = 1 THEN occ ELSE 0 END) AS BIGINT)
        |           AS n_novel,
        |         CAST(SUM(df * occ) AS BIGINT) AS sum_bigram_df
        |  FROM wd
        |  GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, n_distinct_bigrams, n_novel, sum_bigram_df,
        |       CAST(n_novel AS DOUBLE) / n_bigrams AS novel_frac,
        |       CAST(sum_bigram_df AS DOUBLE) / n_bigrams AS avg_bigram_df
        |FROM agg ORDER BY doc_id LIMIT 200""".stripMargin,
    "td26_chunk_overlap" ->
      s"""WITH d AS (
         |  SELECT source, len(string_split(text, ' ')) AS n FROM documents),
         |c AS (
         |  SELECT source, n,
         |         CASE WHEN n <= $ChunkW THEN CAST(1 AS BIGINT)
         |              ELSE 1 + (n - $ChunkW + $ChunkS - 1) // $ChunkS
         |         END AS n_chunks
         |  FROM d),
         |t AS (
         |  SELECT source, n, n_chunks,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list_transform(range(0, n_chunks),
         |             i -> least($ChunkW, n - i * $ChunkS))),
         |           (acc, v) -> acc + v) AS chunk_toks
         |  FROM c)
         |SELECT source, COUNT(*) AS n_docs,
         |       CAST(SUM(n) AS BIGINT) AS total_tokens,
         |       CAST(SUM(n_chunks) AS BIGINT) AS total_chunks,
         |       CAST(SUM(chunk_toks) AS BIGINT) AS total_chunk_tokens,
         |       CAST(SUM(chunk_toks) AS BIGINT) * 1000000
         |         // CAST(SUM(n) AS BIGINT) AS dup_factor_ppm
         |FROM t GROUP BY source ORDER BY source""".stripMargin,
    "td27_phrase_detect" ->
      s"""WITH t AS (SELECT string_split(text, ' ') AS a FROM documents),
         |tok AS (SELECT unnest(a) AS token FROM t),
         |uni AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
         |nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uni),
         |ix AS (SELECT a, unnest(range(1, len(a))) AS i
         |       FROM t WHERE len(a) > 1),
         |p AS (SELECT a[i] AS x, a[i + 1] AS y FROM ix),
         |bg AS (SELECT x, y, COUNT(*) AS c_xy FROM p GROUP BY x, y),
         |sc AS (
         |  SELECT x || ' ' || y AS bigram, bg.c_xy, ux.c AS c_x,
         |         uy.c AS c_y,
         |         CAST(CAST(bg.c_xy - $PhraseDelta AS HUGEINT) * nt.n_tok
         |              * 10000 // (CAST(ux.c AS HUGEINT) * uy.c)
         |              AS BIGINT) AS score_bp
         |  FROM bg JOIN uni ux ON bg.x = ux.token
         |          JOIN uni uy ON bg.y = uy.token
         |          CROSS JOIN nt
         |  WHERE bg.c_xy > $PhraseDelta)
         |SELECT bigram, c_xy, c_x, c_y, score_bp
         |FROM sc ORDER BY score_bp DESC, bigram LIMIT $PhraseTopK""".stripMargin,
    "td29_shard_assign" ->
      s"""WITH a AS (
         |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok,
         |         ${h32Sql("'shard:' || CAST(doc_id AS VARCHAR)")}
         |           % $Shards AS shard
         |  FROM documents),
         |g AS (
         |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         |         MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |  FROM a GROUP BY 1)
         |SELECT shard, n_docs, n_tokens, n_sources, first_doc, last_doc,
         |       n_docs * 1000000
         |         // CAST(SUM(n_docs) OVER () AS BIGINT) AS share_ppm
         |FROM g ORDER BY shard""".stripMargin,
    "td30_vocab_growth" ->
      s"""WITH $shinglesSqlCte,
         |f AS (SELECT shingle, MIN(doc_id) AS first_doc
         |      FROM sh GROUP BY shingle),
         |nt AS (SELECT first_doc // $GrowthBucketDocs AS bucket,
         |              CAST(COUNT(*) AS BIGINT) AS n_new_shingles
         |       FROM f GROUP BY 1),
         |bd AS (SELECT doc_id // $GrowthBucketDocs AS bucket,
         |              CAST(COUNT(*) AS BIGINT) AS n_docs,
         |              CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
         |                AS n_tokens
         |       FROM documents GROUP BY 1)
         |SELECT bd.bucket, n_docs, n_tokens,
         |       CAST(COALESCE(n_new_shingles, 0) AS BIGINT)
         |         AS n_new_shingles,
         |       CAST(SUM(n_tokens) OVER (ORDER BY bd.bucket)
         |            AS BIGINT) AS cum_tokens,
         |       CAST(SUM(COALESCE(n_new_shingles, 0))
         |            OVER (ORDER BY bd.bucket) AS BIGINT) AS cum_shingles
         |FROM bd LEFT JOIN nt USING (bucket)
         |ORDER BY bucket""".stripMargin,
    "td31_pii_scan" -> {
      // the Spark patterns verbatim (escape-free, so no dialect
      // divergence — see PiiPatterns); DuckDB len() is BIGINT already
      val perDoc = PiiPatterns.map { case (nm, pat) =>
        s"len(regexp_extract_all(text, '$pat')) AS c_$nm"
      }.mkString(",\n         |         ")
      val sums = PiiPatterns.map { case (nm, _) =>
        s"CAST(SUM(c_$nm) AS BIGINT) AS ${nm}_spans"
      }.mkString(",\n         |       ")
      val any = PiiPatterns.map(p => s"c_${p._1}").mkString(" + ")
      s"""WITH a AS (
         |  SELECT source,
         |         $perDoc
         |  FROM documents),
         |g AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       $sums,
         |       CAST(SUM(CASE WHEN $any > 0 THEN 1 ELSE 0 END)
         |            AS BIGINT) AS pii_docs
         |  FROM a GROUP BY source)
         |SELECT *, pii_docs * 1000000 // n_docs AS pii_doc_ppm
         |FROM g ORDER BY source""".stripMargin
    },
    "td32_lm_score" ->
      s"""WITH $lmPerDocSqlCtes,
         |h AS (SELECT source, bpb, COUNT(*) AS cnt
         |      FROM pd GROUP BY source, bpb),
         |c AS (SELECT source, bpb, cnt,
         |             SUM(cnt) OVER (PARTITION BY source ORDER BY bpb
         |                            ROWS UNBOUNDED PRECEDING) AS cum,
         |             SUM(cnt) OVER (PARTITION BY source) AS n
         |      FROM h)
         |SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_docs,
         |       MIN(bpb) AS min_bpb_q12, MAX(bpb) AS max_bpb_q12,
         |       MIN(CASE WHEN cum * 100 >= n * 25 THEN bpb END)
         |         AS p25_bpb_q12,
         |       MIN(CASE WHEN cum * 100 >= n * 50 THEN bpb END)
         |         AS p50_bpb_q12,
         |       MIN(CASE WHEN cum * 100 >= n * 75 THEN bpb END)
         |         AS p75_bpb_q12,
         |       MIN(CASE WHEN cum * 100 >= n * 95 THEN bpb END)
         |         AS p95_bpb_q12
         |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "td33_quality_mixture" ->
      s"""WITH $lmPerDocSqlCtes,
         |h AS (SELECT source, bpb, COUNT(*) AS cnt
         |      FROM pd GROUP BY source, bpb),
         |c AS (SELECT source, bpb, cnt,
         |             SUM(cnt) OVER (PARTITION BY source ORDER BY bpb
         |                            ROWS UNBOUNDED PRECEDING) AS cum,
         |             SUM(cnt) OVER (PARTITION BY source) AS n
         |      FROM h),
         |cuts AS (SELECT source,
         |                MIN(CASE WHEN cum * 100 >= n * 33 THEN bpb END)
         |                  AS cut33_q12,
         |                MIN(CASE WHEN cum * 100 >= n * 66 THEN bpb END)
         |                  AS cut66_q12
         |         FROM c GROUP BY source),
         |b AS (SELECT pd.source,
         |             CASE WHEN bpb <= cut33_q12 THEN 'head'
         |                  WHEN bpb <= cut66_q12 THEN 'middle'
         |                  ELSE 'tail' END AS bucket,
         |             n_bigrams, cut33_q12, cut66_q12
         |      FROM pd JOIN cuts USING (source)),
         |pb AS (SELECT source, bucket, COUNT(*) AS n_docs,
         |              CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams,
         |              MAX(cut33_q12) AS cut33_q12,
         |              MAX(cut66_q12) AS cut66_q12
         |       FROM b GROUP BY source, bucket),
         |wt AS (SELECT *,
         |              (CASE bucket WHEN 'head' THEN ${QmFactors("head")}
         |               WHEN 'middle' THEN ${QmFactors("middle")}
         |               ELSE ${QmFactors("tail")} END) * n_bigrams AS w
         |       FROM pb),
         |tt AS (SELECT CAST(SUM(w) AS BIGINT) AS w_total FROM wt)
         |SELECT source, bucket, n_docs, n_bigrams, cut33_q12, cut66_q12,
         |       w, w * 1000000 // w_total AS share_ppm,
         |       w * $SampleBudget // w_total AS expected_docs
         |FROM wt CROSS JOIN tt ORDER BY source, bucket""".stripMargin,
    "td28_containment_dedup" ->
      s"""WITH $shinglesSqlCte,
         |$cappedShinglesSqlCte,
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
         |  FROM shf a JOIN shf b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b, n_common, sa.n AS na, sb.n AS nb,
         |       n_common * 1000000 // sa.n AS cont_a_ppm,
         |       n_common * 1000000 // sb.n AS cont_b_ppm
         |FROM inter
         |JOIN sz sa ON doc_a = sa.doc_id
         |JOIN sz sb ON doc_b = sb.doc_id
         |WHERE greatest(n_common * 1000000 // sa.n,
         |               n_common * 1000000 // sb.n) >= $ContainmentPpm
         |ORDER BY doc_a, doc_b""".stripMargin,
    "td15_substring_dedup" ->
      s"""WITH t AS (
         |  SELECT source, string_split(text, ' ') AS t FROM documents
         |  WHERE len(string_split(text, ' ')) >= $SpanGram),
         |gr AS (
         |  SELECT source, array_to_string(t[i:i+${SpanGram - 1}], ' ') AS gram
         |  FROM t, LATERAL unnest(generate_series(1, len(t) - ${SpanGram - 1})) AS u(i)),
         |h AS (
         |  SELECT source,
         |         ${h32Sql("gram")} * 2147483648 + ${h32bSql("gram")} // 2 AS g
         |  FROM gr),
         |sg AS (SELECT source, g, COUNT(*) AS c FROM h GROUP BY source, g),
         |ng AS (SELECT g, SUM(c) AS n_occ FROM sg GROUP BY g)
         |SELECT sg.source,
         |       CAST(SUM(c) AS BIGINT) AS n_spans,
         |       CAST(SUM(CASE WHEN n_occ >= 2 THEN c ELSE 0 END) AS BIGINT)
         |         AS n_dup_spans,
         |       CAST(SUM(CASE WHEN n_occ >= 2 THEN c ELSE 0 END) AS DOUBLE)
         |         / CAST(SUM(c) AS BIGINT) AS dup_frac
         |FROM sg JOIN ng USING (g)
         |GROUP BY sg.source ORDER BY sg.source""".stripMargin,
    "td14_source_overlap" ->
      s"""WITH $shingleHashesSqlCte,
         |f AS (SELECT doc_id, MIN(h) AS fp1 FROM shh GROUP BY doc_id),
         |hot AS (SELECT fp1 FROM f GROUP BY fp1 HAVING COUNT(*) > $MaxShingleDf),
         |j AS (
         |  SELECT DISTINCT f.fp1, d.source
         |  FROM f JOIN documents d USING (doc_id)
         |  WHERE f.fp1 NOT IN (SELECT fp1 FROM hot))
         |SELECT a.source AS source_a, b.source AS source_b,
         |       CAST(COUNT(*) AS BIGINT) AS n_shared_sketches
         |FROM j a JOIN j b ON a.fp1 = b.fp1 AND a.source < b.source
         |GROUP BY source_a, source_b
         |ORDER BY source_a, source_b""".stripMargin,
    "td13_repetition" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tc AS (
        |  SELECT doc_id, tok, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(t) AS tok FROM base)
        |  GROUP BY doc_id, tok),
        |pd AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |         CAST(COUNT(*) AS BIGINT) AS n_uniq,
        |         CAST(MAX(c) AS BIGINT) AS top_c
        |  FROM tc GROUP BY doc_id),
        |tg AS (
        |  SELECT doc_id, g, COUNT(*) AS c
        |  FROM (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |        FROM base, LATERAL unnest(generate_series(1, len(t) - 2)) AS u(i)
        |        WHERE len(t) >= 3)
        |  GROUP BY doc_id, g),
        |td AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tri,
        |         CAST(COUNT(*) AS BIGINT) AS n_tri_uniq
        |  FROM tg GROUP BY doc_id),
        |r AS (
        |  SELECT pd.doc_id, pd.n_tokens,
        |         CAST(n_uniq AS DOUBLE) / n_tokens AS uniq_token_ratio,
        |         CAST(top_c AS DOUBLE) / n_tokens AS top_token_frac,
        |         COALESCE(CAST(n_tri - n_tri_uniq AS DOUBLE) / n_tri,
        |                  CAST(0 AS DOUBLE)) AS dup_3gram_frac
        |  FROM pd LEFT JOIN td ON pd.doc_id = td.doc_id)
        |SELECT doc_id, n_tokens, uniq_token_ratio, top_token_frac,
        |       dup_3gram_frac,
        |       CAST(CASE WHEN top_token_frac > CAST(0.2 AS DOUBLE)
        |                   OR dup_3gram_frac > CAST(0.3 AS DOUBLE)
        |            THEN 1 ELSE 0 END AS BIGINT) AS is_repetitive
        |FROM r ORDER BY doc_id LIMIT 200""".stripMargin,
    "td03_lang_id" ->
      // token keys hash to the shared 63-bit two-md5-word construction
      // AFTER the per-doc DISTINCT (mirroring the Spark side exactly:
      // one row per distinct TOKEN, so a colliding token pair keeps
      // two equal-g rows and merges the same way on both engines)
      s"""WITH toks AS (
        |  SELECT doc_id, lang,
        |         ${h32Sql("tok")} * 2147483648 + ${h32bSql("tok")} // 2 AS g
        |  FROM (SELECT DISTINCT doc_id, lang,
        |               unnest(string_split(text, ' ')) AS tok
        |        FROM documents)),
        |df AS (
        |  SELECT g, lang AS df_lang, COUNT(*) AS df
        |  FROM toks GROUP BY g, lang),
        |scored AS (
        |  SELECT t.doc_id, t.lang, d.df_lang, SUM(d.df) AS score
        |  FROM toks t JOIN df d ON t.g = d.g
        |  GROUP BY t.doc_id, t.lang, d.df_lang),
        |best AS (
        |  SELECT doc_id, lang, df_lang,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id
        |                            ORDER BY score DESC, df_lang) AS rn
        |  FROM scored)
        |SELECT lang, df_lang AS predicted_lang, COUNT(*) AS n_docs
        |FROM best WHERE rn = 1
        |GROUP BY lang, df_lang
        |ORDER BY lang, predicted_lang""".stripMargin,
    "td04_fingerprint" ->
      s"""WITH $shingleHashesSqlCte,
         |ranked AS (
         |  SELECT doc_id, h,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id
         |                            ORDER BY h, shingle) AS rn
         |  FROM shh)
         |SELECT doc_id,
         |       MAX(CASE WHEN rn = 1 THEN h END) AS fp1,
         |       MAX(CASE WHEN rn = 2 THEN h END) AS fp2,
         |       MAX(CASE WHEN rn = 3 THEN h END) AS fp3
         |FROM ranked WHERE rn <= 3
         |GROUP BY doc_id ORDER BY doc_id LIMIT 100""".stripMargin,
    "td05_dedup_exact" ->
      """SELECT COUNT(*) AS n_docs,
        |       COUNT(DISTINCT md5(text)) AS n_distinct_texts,
        |       COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dup_docs
        |FROM documents""".stripMargin,
    "td06_dedup_jaccard" ->
      s"""WITH $shinglesSqlCte,
         |$cappedShinglesSqlCte,
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
         |  FROM shf a JOIN shf b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b, n_common,
         |       CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
         |FROM inter
         |JOIN sz sa ON doc_a = sa.doc_id
         |JOIN sz sb ON doc_b = sb.doc_id
         |WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= $JaccardThreshold
         |ORDER BY doc_a, doc_b""".stripMargin,
    "td07_dedup_minhash" -> {
      val bandSelects = (0 until Bands).map { j =>
        val key = (0 until Rows).map(k => s"mh${j * Rows + k}")
          .mkString(" || ':' || ")
        s"SELECT doc_id, $j AS band, $key AS bkey FROM sig"
      }.mkString("\n  UNION ALL\n  ")
      val matches = (0 until NumHashes)
        .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $shingleHashesSqlCte,
         |$minhashSigSql,
         |bands AS (
         |  $bandSelects),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |scored AS (
         |  SELECT doc_a, doc_b, CAST($matches AS BIGINT) AS n_matching
         |  FROM cand
         |  JOIN sig sa ON doc_a = sa.doc_id
         |  JOIN sig sb ON doc_b = sb.doc_id)
         |SELECT doc_a, doc_b, n_matching,
         |       CAST(n_matching AS DOUBLE) / $NumHashes AS est_sim
         |FROM scored
         |WHERE CAST(n_matching AS DOUBLE) / $NumHashes >= $EstSimThreshold
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    "td23_ingest_dedup" -> {
      val bandSelects = (0 until Bands).map { j =>
        val key = (0 until Rows).map(k => s"mh${j * Rows + k}")
          .mkString(" || ':' || ")
        s"SELECT doc_id, $j AS band, $key AS bkey FROM sig"
      }.mkString("\n  UNION ALL\n  ")
      val matches = (0 until NumHashes)
        .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $shingleHashesSqlCte,
         |$minhashSigSql,
         |bands AS (
         |  $bandSelects),
         |flags AS (
         |  SELECT doc_id, source,
         |         (doc_id % $IngestMod = $IngestNewRem) AS is_new
         |  FROM documents),
         |exact_new AS (
         |  SELECT DISTINCT doc_id FROM documents
         |  WHERE doc_id % $IngestMod = $IngestNewRem
         |    AND md5(text) IN (SELECT md5(text) FROM documents
         |                      WHERE doc_id % $IngestMod <> $IngestNewRem)),
         |near_new AS (
         |  SELECT DISTINCT nb.doc_id
         |  FROM bands nb
         |  JOIN flags fn ON fn.doc_id = nb.doc_id AND fn.is_new
         |  JOIN bands ob ON ob.band = nb.band AND ob.bkey = nb.bkey
         |  JOIN flags fo ON fo.doc_id = ob.doc_id AND NOT fo.is_new
         |  JOIN sig sa ON sa.doc_id = nb.doc_id
         |  JOIN sig sb ON sb.doc_id = ob.doc_id
         |  WHERE $matches >= ${math.ceil(EstSimThreshold * NumHashes).toInt})
         |SELECT f.source, COUNT(*) AS n_new,
         |       CAST(SUM(CASE WHEN e.doc_id IS NOT NULL
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
         |       CAST(SUM(CASE WHEN e.doc_id IS NULL AND n.doc_id IS NOT NULL
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
         |       CAST(SUM(CASE WHEN e.doc_id IS NULL AND n.doc_id IS NULL
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted
         |FROM flags f
         |LEFT JOIN exact_new e ON e.doc_id = f.doc_id
         |LEFT JOIN near_new n ON n.doc_id = f.doc_id
         |WHERE f.is_new
         |GROUP BY f.source ORDER BY f.source""".stripMargin
    },
    "td10_sample_strata" ->
      s"""SELECT lang, COUNT(*) AS n_sampled,
         |       CAST(SUM(LENGTH(text)) AS BIGINT) AS sampled_chars
         |FROM documents
         |WHERE ${h32Sql("text")} % 100 < 10
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "td11_mixture" -> {
      val inList = Stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH base AS (
         |  SELECT doc_id, lang, length(text) AS n_chars_calc,
         |         string_split(text, ' ') AS t
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, lang, n_chars_calc, len(t) AS n_tokens,
         |         len(list_filter(t, x -> x IN ($inList))) AS n_stopwords
         |  FROM base),
         |r AS (
         |  SELECT doc_id, lang,
         |         CAST(n_stopwords AS DOUBLE) / n_tokens AS stop_ratio,
         |         CAST(n_chars_calc - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_word_len,
         |         n_tokens
         |  FROM m),
         |q AS (
         |  SELECT doc_id, lang, $scoreExpr AS quality_score FROM r),
         |ranked AS (
         |  SELECT lang, doc_id, quality_score,
         |         ROW_NUMBER() OVER (PARTITION BY lang
         |                            ORDER BY quality_score DESC, doc_id) AS rn
         |  FROM q)
         |SELECT lang, rn, doc_id, quality_score
         |FROM ranked WHERE rn <= 20
         |ORDER BY lang, rn""".stripMargin
    },
    "td12_decontaminate" ->
      s"""WITH $shinglesSqlCte,
         |eval_ids AS (SELECT doc_id FROM documents WHERE source = 'src0'),
         |eval_sh AS (
         |  SELECT DISTINCT shingle FROM sh
         |  WHERE doc_id IN (SELECT doc_id FROM eval_ids))
         |SELECT s.doc_id, COUNT(*) AS n_shared_shingles
         |FROM sh s
         |JOIN eval_sh e ON s.shingle = e.shingle
         |WHERE s.doc_id NOT IN (SELECT doc_id FROM eval_ids)
         |GROUP BY s.doc_id
         |HAVING COUNT(*) >= 10
         |ORDER BY s.doc_id""".stripMargin,
    "td09_dedup_components" ->
      s"""WITH RECURSIVE $shinglesSqlCte,
         |$cappedShinglesSqlCte,
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
         |  FROM shf a JOIN shf b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |jpairs AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN sz sa ON doc_a = sa.doc_id
         |  JOIN sz sb ON doc_b = sb.doc_id
         |  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= $JaccardThreshold),
         |edges AS (
         |  SELECT doc_a, doc_b FROM jpairs
         |  UNION ALL
         |  SELECT doc_b AS doc_a, doc_a AS doc_b FROM jpairs),
         |reach AS (
         |  SELECT DISTINCT doc_a AS node, doc_a AS r FROM edges
         |  UNION
         |  SELECT e.doc_a AS node, rc.r
         |  FROM edges e JOIN reach rc ON e.doc_b = rc.node)
         |SELECT MIN(r) AS component, node AS doc_id,
         |       node <> MIN(r) AS is_duplicate
         |FROM reach GROUP BY node
         |ORDER BY component, doc_id""".stripMargin,
    "td08_dedup_simhash" -> {
      val votes = (0 until SimBits)
        .map { b =>
          val (src, bit) = if (b < 32) ("h", b) else ("h2", b - 32)
          s"SUM((($src >> $bit) & 1) * 2 - 1) AS s$b"
        }
        .mkString(",\n         ")
      // bit 63's weight is Long.MinValue; spelled (-(2^63-1) - 1) so the
      // literal parses as BIGINT arithmetic (a bare -9223372036854775808
      // would momentarily be a HUGEINT literal and widen the whole sum)
      val combine = (0 until SimBits)
        .map { b =>
          val w = if (b == 63) "(-9223372036854775807 - 1)" else (1L << b).toString
          s"(CASE WHEN s$b > 0 THEN $w ELSE 0 END)"
        }
        .mkString(" + ")
      val bandSelects = (0 until SimBands).map { j =>
        s"SELECT doc_id, $j AS band, (simhash >> ${SimBandBits * j}) & 255 AS nib FROM sig"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH $shingleHashesSqlCte,
         |shh2 AS (SELECT doc_id, h, ${h32bSql("shingle")} AS h2 FROM shh),
         |v AS (
         |  SELECT doc_id,
         |         $votes
         |  FROM shh2 GROUP BY doc_id),
         |sig AS (
         |  SELECT doc_id, $combine AS simhash FROM v),
         |bands AS (
         |  $bandSelects),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
         |FROM cand
         |JOIN sig sa ON doc_a = sa.doc_id
         |JOIN sig sb ON doc_b = sb.doc_id
         |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= $MaxHamming
         |ORDER BY doc_a, doc_b""".stripMargin
    }
  )
}
