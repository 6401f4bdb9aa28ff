package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming document ingest for the `documents` table shape — the
  * live half of the training-data pipeline (batch forms:
  * [[graft.queries.TextPipeline]]). A corpus at 100 TB is not
  * re-scanned per day; new documents arrive continuously and must be
  * deduplicated and quality-gated ON INGEST, before they ever land in
  * the lake.
  *
  * Scale notes: exact dedup state is one (hash → seen) entry per
  * distinct document inside the watermark horizon, hash-partitioned
  * across executors and evicted as event time passes — bounded state,
  * no full-corpus reprocessing. The quality gate is stateless codegen'd
  * column math, so it adds no state at all. Cross-horizon dedup (a
  * duplicate arriving months later) is the batch td05/td09 pass over
  * the accumulated lake — the standard lambda split.
  */
object DocStreams {

  final case class Doc(
      docId: Long, lang: String, source: String, text: String,
      ingestTs: Timestamp)

  /** Row-local DISTINCT word-3-gram shingle array, appended as `sh`
    * (with the split tokens as `t`, rows with < 3 tokens dropped).
    * This is the frozen cross-half contract with
    * [[graft.pipeline.TextPrep.shingles]] — ONE definition, used by
    * the MinHash ([[rowLocalBands]]), SimHash ([[nearDupSimHash]])
    * and decontamination ([[decontaminate]]) paths, so the shingling
    * scheme can never silently desynchronize between them or from
    * batch. Pure codegen'd array expressions; no shuffle, no state. */
  private def withShingles(docs: DataFrame): DataFrame =
    docs
      .withColumn("t", split(col("text"), " "))
      .where(size(col("t")) >= 3)
      .withColumn("sh", expr(
        "array_distinct(transform(sequence(1, size(t) - 2), " +
          "i -> concat(element_at(t, i), ' ', element_at(t, i + 1), ' ', element_at(t, i + 2))))"))

  /** Streaming exact dedup: only the FIRST document with each content
    * hash (within the watermark horizon) survives. Uses
    * `dropDuplicatesWithinWatermark` so the per-hash state is evicted
    * once the event-time watermark passes — the streaming form of the
    * td05 md5-groupBy. */
  def dedupExact(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_hash", md5(col("text")))
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("text_hash")
      .drop("text_hash")

  /** Streaming quality gate: scores each arriving document with the
    * SAME stateless expressions as the batch td02 query and keeps
    * documents at/above `minScore` — identical scoring logic in both
    * halves of the pipeline by construction. */
  def qualityFilter(docs: DataFrame, minScore: Double = 0.5): DataFrame =
    graft.queries.TextPipeline.scoreQuality(docs)
      .where(col("quality_score") >= minScore)

  /** A document admitted by the streaming mixture quota, with its
    * in-window quality rank. */
  final case class AdmittedDoc(lang: String, windowStart: Timestamp,
      docId: Long, qualityScore: Double, rank: Int)

  private[streaming] final case class QuotaState(
      docs: Seq[(Long, Double)], windowEndMs: Long)

  /** Streaming balanced-mixture curation — the streaming counterpart
    * of the batch td11 quota: admit at most `quota` documents per
    * (lang, event-time window), preferring the highest
    * [[graft.queries.TextPipeline.scoreQuality]] scores (same
    * expressions as batch; `(score desc, doc_id)` tiebreak).
    *
    * Unlike the near-dup detectors (emit-on-arrival), this is a
    * close-on-watermark operator: candidates buffer in per-key state —
    * bounded at `quota` entries, the running top-q, NOT the window's
    * full contents — and the admitted set is emitted once the
    * watermark passes the window end (event-time timeout), because
    * "top q of the window" is only decidable when the window can no
    * longer receive rows. State per key is O(quota); keys expire as
    * event time advances. */
  def mixtureQuota(docs: DataFrame,
      quota: Int = 100,
      windowDur: String = "1 hour",
      watermark: String = "1 hour"): Dataset[AdmittedDoc] = {
    import docs.sparkSession.implicits._
    // ingest_ts rides through to the stateful operator: the watermark
    // association lives on that column, and event-time timeout
    // requires it to survive the projection
    val scored = graft.queries.TextPipeline.scoreQuality(docs)
      .withWatermark("ingest_ts", watermark)
      .select(col("doc_id"), col("lang"), col("quality_score"),
        window(col("ingest_ts"), windowDur).as("w"), col("ingest_ts"))
      .select(col("doc_id"), col("lang"), col("quality_score"),
        col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("ingest_ts"))
      .as[(Long, String, Double, Timestamp, Timestamp, Timestamp)]
    scored
      .groupByKey(r => (r._2, r._4.getTime))
      .flatMapGroupsWithState[QuotaState, AdmittedDoc](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, it: Iterator[(Long, String, Double, Timestamp, Timestamp, Timestamp)],
            state: GroupState[QuotaState]) =>
          if (it.isEmpty && state.hasTimedOut) {
            // window closed: emit the admitted set, ranked
            val admitted = state.getOption.map(_.docs).getOrElse(Seq.empty)
            state.remove()
            admitted.zipWithIndex.iterator.map { case ((id, sc), i) =>
              AdmittedDoc(key._1, new Timestamp(key._2), id, sc, i + 1)
            }
          } else {
            val arrivals = it.toVector
            val merged =
              (state.getOption.map(_.docs).getOrElse(Seq.empty) ++
                arrivals.map(r => (r._1, r._3)))
                .distinctBy(_._1)
                .sortBy { case (id, sc) => (-sc, id) }
                .take(quota)
            val wEnd = arrivals.headOption.map(_._5.getTime)
              .orElse(state.getOption.map(_.windowEndMs)).get
            state.update(QuotaState(merged, wEnd))
            // fire when the watermark passes the window end (clamped
            // like scheduleEviction, in case of a late-only batch)
            state.setTimeoutTimestamp(
              math.max(wEnd, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** Streaming decontamination — td12's continuous form: every
    * arriving document is checked against a STATIC eval-set shingle
    * index, so benchmark-contaminated documents are flagged ON INGEST
    * instead of by a later batch sweep. Emits one
    * `(doc_id, n_shared_shingles)` row per contaminated document
    * (≥ `minShared` distinct 3-gram shingles shared with the eval
    * set — the same bar as batch td12).
    *
    * Shape: the per-document DISTINCT shingle set is computed
    * ROW-LOCALLY (array_distinct over a transform of the split — the
    * streaming analogue of the batch per-doc distinct, with no
    * stateful dropDuplicates), then a stream-static equijoin against
    * the eval index (stateless on the stream side; Catalyst
    * broadcasts the eval side when it fits, shuffles when a web-scale
    * eval suite doesn't) feeds one windowed count finalized on
    * watermark close. Join + shingle prep carry no state at all; the
    * count state is bounded by the watermark horizon. */
  def decontaminate(docs: DataFrame, evalShingles: DataFrame,
      minShared: Long = 10,
      watermark: String = "10 minutes"): DataFrame = {
    val sh = withShingles(docs.withWatermark("ingest_ts", watermark))
      .select(col("doc_id"), col("ingest_ts"),
        explode(col("sh")).as("shingle"))
    sh
      // DISTINCT the static side exactly as batch td12 does
      // internally: a caller passing the natural per-doc eval index
      // (one row per eval doc per shingle) would otherwise inflate
      // n_shared_shingles by each shingle's eval-side multiplicity
      // and flag documents batch never flags
      .join(evalShingles.select("shingle").distinct(), "shingle")
      .groupBy(col("doc_id"), window(col("ingest_ts"), "1 minute"))
      .agg(count(lit(1)).as("n_shared_shingles"))
      .where(col("n_shared_shingles") >= minShared)
      .select("doc_id", "n_shared_shingles")
  }

  /** Streaming LM-perplexity quality gate — td32's continuous form:
    * each arriving document is scored against a STORED bigram-LM
    * table (`(g, nll)` — [[graft.queries.TextPipeline.lmNllTable]],
    * trained once on the standing corpus, the CCNet deployment
    * shape) and reported with its 2^12-scaled bits-per-bigram plus an
    * `admitted` verdict at `maxBpb`. Out-of-vocabulary bigrams (the
    * stored LM has never seen them — impossible in batch
    * self-scoring, routine on live ingest) are charged the
    * quantization-floor maximum
    * ([[graft.queries.TextPipeline.LmNllMax]]), the deterministic
    * "unknown = minimum probability" backoff.
    *
    * Shape: bigram hashing is ROW-LOCAL (the same 63-bit two-md5-word
    * keys as batch, so the stored table joins without any
    * re-tokenization contract), the stream-static LEFT join is
    * stateless (Catalyst broadcasts a small LM, shuffles a web-scale
    * one), and the only state is the per-(doc, window) sum bounded by
    * the watermark horizon — the [[decontaminate]] layout. A
    * document scored here against a table trained on its own corpus
    * matches its batch [[graft.queries.TextPipeline.lmDocScores]] row
    * bit-for-bit (DocStreamsSpec pins this on the full sf0.001
    * corpus). Docs under 2 tokens carry no bigram and pass nothing
    * into the gate (batch excludes them from scoring the same way). */
  def lmScoreGate(docs: DataFrame, lmNll: DataFrame, maxBpb: Long,
      watermark: String = "10 minutes"): DataFrame = {
    // lmNll's contract is one row per g, enforced at the producer
    // ([[graft.queries.TextPipeline.lmNllTable]] collapses g-collision
    // rows with a deterministic min there, where it costs one
    // aggregation at table-build time) — so the stream-static join
    // below is duplicate-safe without re-aggregating the whole LM
    // table on every micro-batch.
    val bg = docs.withWatermark("ingest_ts", watermark)
      .select(col("doc_id"), col("ingest_ts"),
        split(col("text"), " ").as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), col("ingest_ts"), explode(expr(
        "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), " +
          "(x, y) -> concat_ws(' ', x, y))")).as("bigram"))
      .select(col("doc_id"), col("ingest_ts"),
        graft.pipeline.TextPrep.hashKey63(col("bigram")).as("g"))
    bg
      .join(lmNll, Seq("g"), "left")
      .select(col("doc_id"), col("ingest_ts"),
        coalesce(col("nll"),
          lit(graft.queries.TextPipeline.LmNllMax)).as("nll"))
      .groupBy(col("doc_id"), window(col("ingest_ts"), "1 minute"))
      .agg(sum("nll").as("nll_sum"), count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("nll_sum div n_bigrams").as("bpb"))
      .withColumn("admitted", col("bpb") <= maxBpb)
  }

  /** Streaming quality-bucket admission — the online half of batch
    * td33 ([[graft.queries.TextPipeline.qualityMixtureOf]]): a
    * production ingest scores each arriving doc against the STANDING
    * corpus's stored LM table and assigns it a head/middle/tail
    * bucket against the standing per-source tercile cuts, so a doc's
    * sampling weight is known the moment it lands, without re-running
    * the batch mixture.
    *
    * Both static sides are bounded frames a pipeline materializes
    * once per corpus refresh: `lmNll` is
    * [[graft.queries.TextPipeline.lmNllTable]]'s `(g, nll)` (one row
    * per distinct corpus bigram, duplicate-collapse enforced at the
    * producer), `cuts` is
    * [[graft.queries.TextPipeline.lmTercileCuts]]'s
    * `(source, cut33_q12, cut66_q12)` (one row per source — a bounded
    * domain, joined broadcast so the assign is row-local). Scoring
    * arithmetic is [[lmScoreGate]]'s — bigram hash keys, stored-nll
    * lookup with the [[graft.queries.TextPipeline.LmNllMax]]
    * out-of-vocabulary backoff, integer `div` bits-per-bigram — and
    * the bucket rule is the batch
    * [[graft.queries.TextPipeline.qmBucket]] expression VERBATIM, so
    * a streamed doc's bucket equals its batch assignment bit-for-bit
    * (pinned by DocStreamsSpec on a planted corpus). A source the
    * cuts frame has never seen buckets `tail` (qmBucket's NULL-cut
    * fallthrough) — conservative lowest-weight admission for unknown
    * provenance.
    *
    * State: the windowed per-doc aggregation's only — same retention
    * class as [[lmScoreGate]] (watermark-evicted, no custom state). */
  def qualityBucketGate(docs: DataFrame, lmNll: DataFrame,
      cuts: DataFrame, watermark: String = "10 minutes"): DataFrame = {
    val bg = docs.withWatermark("ingest_ts", watermark)
      .select(col("doc_id"), col("source"), col("ingest_ts"),
        split(col("text"), " ").as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), col("source"), col("ingest_ts"),
        explode(expr(
          "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), " +
            "(x, y) -> concat_ws(' ', x, y))")).as("bigram"))
      .select(col("doc_id"), col("source"), col("ingest_ts"),
        graft.pipeline.TextPrep.hashKey63(col("bigram")).as("g"))
    bg
      .join(lmNll, Seq("g"), "left")
      .select(col("doc_id"), col("source"), col("ingest_ts"),
        coalesce(col("nll"),
          lit(graft.queries.TextPipeline.LmNllMax)).as("nll"))
      .groupBy(col("doc_id"), col("source"),
        window(col("ingest_ts"), "1 minute"))
      .agg(sum("nll").as("nll_sum"), count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), col("source"), col("n_bigrams"),
        expr("nll_sum div n_bigrams").as("bpb"))
      .join(broadcast(cuts), Seq("source"), "left")
      .select(col("doc_id"), col("source"), col("n_bigrams"),
        col("bpb"),
        graft.queries.TextPipeline.qmBucket.as("bucket"))
  }

  /** One trending-token report row: a shard's top tokens for a
    * closed event-time window. `exact` certifies the shard's counts
    * are true counts (its sketch never evicted). */
  final case class TrendingToken(windowStart: Timestamp, shard: Int,
      token: String, cnt: Long, exact: Boolean)

  private[streaming] final case class TrendState(
      counts: Map[String, Long], total: Long, windowEndMs: Long)

  /** Streaming trending tokens — the continuous form of the batch
    * td19 heavy-hitters, per event-time window: which tokens are
    * hottest in each closed window, with BOUNDED state.
    *
    * Sharding is the scale design: state is keyed by
    * `(window, hash(token) % shards)`, so a window's token stream
    * fans out over `shards` parallel Misra–Gries sketches instead of
    * concentrating on one task (keying by window alone would funnel
    * the whole corpus through one state row — the streaming analogue
    * of a single-reducer groupBy). Because the shards partition the
    * TOKEN SPACE disjointly, a global top-k is the top-k of the union
    * of per-shard reports — any globally-hot token is hot in its own
    * shard — and when every shard reports `exact` (its
    * ≤`capacity`-entry sketch never evicted) that union top-k is
    * provably the true one, same certificate as batch td19. Each
    * shard's state is one ≤`capacity`-entry map, evicted when the
    * watermark closes its window (event-time timeout), so total state
    * is O(live windows × shards × capacity) regardless of corpus
    * rate. Token counting is commutative, so unlike the funnel no
    * reorder buffer is needed — any arrival order inside the
    * watermark bound folds to the same counts. */
  def trendingTokens(docs: DataFrame,
      k: Int = 10,
      capacity: Int = 1024,
      shards: Int = 8,
      windowDur: String = "1 hour",
      watermark: String = "1 hour"): Dataset[TrendingToken] = {
    import docs.sparkSession.implicits._
    val mg = new graft.functions.MisraGries(capacity)
    val toks = docs
      .withWatermark("ingest_ts", watermark)
      .select(window(col("ingest_ts"), windowDur).as("w"),
        explode(split(col("text"), " ")).as("token"), col("ingest_ts"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("token"),
        pmod(xxhash64(col("token")), lit(shards)).cast("int").as("shard"),
        col("ingest_ts"))
      .as[(Timestamp, Timestamp, String, Int, Timestamp)]
    toks
      .groupByKey(r => (r._1.getTime, r._4))
      .flatMapGroupsWithState[TrendState, TrendingToken](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, it: Iterator[(Timestamp, Timestamp, String, Int, Timestamp)],
            state: GroupState[TrendState]) =>
          if (it.isEmpty && state.hasTimedOut) {
            val st = state.get
            state.remove()
            val exact = st.counts.valuesIterator.sum == st.total
            st.counts.toSeq
              .sortBy { case (t, c) => (-c, t) }.take(k).iterator
              .map { case (t, c) =>
                TrendingToken(new Timestamp(key._1), key._2, t, c, exact)
              }
          } else {
            val st0 = state.getOption
              .getOrElse(TrendState(Map.empty, 0L, 0L))
            // thaw the checkpointed immutable state into the r20
            // mutable sketch buffer once per micro-batch group, fold
            // the arrivals in place, freeze back for the state store
            val buf = mg.zero
            st0.counts.foreach { case (t, c) => buf.counts.put(t, c) }
            buf.total = st0.total
            var wEnd = st0.windowEndMs
            it.foreach { r =>
              mg.reduce(buf, r._3)
              wEnd = math.max(wEnd, r._2.getTime)
            }
            val s = mg.finish(buf)
            state.update(TrendState(s.counts, s.total, wEnd))
            state.setTimeoutTimestamp(
              math.max(wEnd, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** A near-dup hit: the arriving doc vs an already-ingested one. */
  final case class NearDupPair(docA: Long, docB: Long, estSim: Double)

  private[streaming] final case class BucketDoc(docId: Long, sig: Seq[Long])

  /** Keyed state for one MinHash LSH bucket.
    *
    * Checkpoint compatibility: adding `seenIds` (round 5) changed the
    * `flatMapGroupsWithState` state schema. With
    * `spark.sql.streaming.stateStore.stateSchemaCheck` on (the
    * default), restarting from a checkpoint written by the
    * pre-`seenIds` shape fails fast with a state-schema-incompatible
    * error — old near-dup checkpoints must be DISCARDED and the stream
    * restarted fresh. The batch td05/td09 pass over the accumulated
    * lake reconciles any pairs missed across the restart (the standard
    * lambda-split recovery), so a fresh start loses no corpus-level
    * guarantees. Same contract for [[SimBucketState]]. */
  private[streaming] final case class BucketState(
      docs: Seq[BucketDoc], lastMs: Long, seenIds: Seq[Long])

  /** How many admitted doc ids each bucket remembers beyond the
    * retained-doc cap — the replay-dedup horizon (see [[bucketStep]]). */
  private val SeenIdsFactor = 8

  /** One micro-batch step of a banded near-dup bucket: compare each
    * first-seen arrival against the bucket's known docs (oldest event
    * first, doc_id tiebreak), emit what `emit` accepts, cap retained
    * docs at `maxBucketDocs`, advance the bucket clock. The state
    * machine is shared by the MinHash and SimHash detectors — one
    * place to fix, two signature types. Returns (emitted, retained
    * docs, seen ids, new bucket clock).
    *
    * First-seen is judged against `seen0` — the ids of every recently
    * ADMITTED doc, including ones since evicted from `known` by the
    * `maxBucketDocs` cap — so an at-least-once source replay of an
    * evicted doc does not re-enter the bucket and re-emit its pairs.
    * The list is bounded at [[SeenIdsFactor]]× the doc cap; a replay
    * arriving after that horizon degrades back to at-least-once
    * emission (the documented contract for LSH-banded output). */
  private[streaming] def bucketStep[Sig, Out](
      arrivals: Vector[(Long, Timestamp, Sig, String)],
      known0: Seq[(Long, Sig)],
      seen0: Seq[Long],
      lastMs0: Long,
      maxBucketDocs: Int,
      emit: (Long, Sig, Long, Sig) => Option[Out]): (Vector[Out], Seq[(Long, Sig)], Seq[Long], Long) = {
    var known = known0
    // Insertion-ordered set: O(1) membership (admission is O(arrivals)
    // per micro-batch, not O(arrivals × seen-cap)) while preserving
    // arrival order for oldest-first trimming at the cap. seen0 is
    // empty only for a fresh bucket (a pre-seenIds-schema checkpoint
    // cannot reach here — see [[BucketState]]); the known0 fallback is
    // defensive and a no-op in that fresh case.
    val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
    seen ++= (if (seen0.nonEmpty) seen0 else known0.map(_._1))
    val seenCap = maxBucketDocs * SeenIdsFactor
    var lastMs = lastMs0
    val out = Vector.newBuilder[Out]
    for ((docId, ts, sig, _) <- arrivals.sortBy(d => (d._2.getTime, d._1))) {
      if (!seen.contains(docId)) {
        for ((kid, ksig) <- known; o <- emit(kid, ksig, docId, sig)) out += o
        known = (known :+ (docId -> sig)).takeRight(maxBucketDocs)
        seen += docId
        while (seen.size > seenCap) seen -= seen.head
      }
      lastMs = math.max(lastMs, ts.getTime)
    }
    (out.result(), known, seen.toSeq, lastMs)
  }

  /** Schedule the bucket's eviction one TTL past its clock, clamped to
    * the current watermark. Defensive: setTimeoutTimestamp throws if
    * the resulting timestamp is not past the watermark, which an
    * unclamped `lastMs` could violate if a late row ever reached the
    * operator (Spark 4 filters late input ahead of
    * flatMapGroupsWithState — DocStreamsSpec pins the no-crash
    * behavior either way). */
  private def scheduleEviction[S](state: GroupState[S], lastMs: Long,
      ttl: String): Unit =
    state.setTimeoutTimestamp(
      math.max(lastMs, state.getCurrentWatermarkMs()), ttl)

  /** Streaming MinHash near-dup detection: flags each arriving
    * document against everything already ingested, at ingest time —
    * the streaming counterpart of the batch td07 query, built from the
    * SAME frozen constants ([[graft.pipeline.TextPrep.MinHashAB]]), so
    * the pairs it emits are a subset of what the batch pass finds.
    *
    * Scale design:
    *  - The 16-hash signature is computed with ROW-LOCAL expressions
    *    (shingle → h32 → per-permutation `array_min`), no shuffle
    *    before the keyed state — each document is one row until
    *    banding.
    *  - Banding explodes each doc into [[graft.queries]]-style
    *    (band, band-key) rows; state lives per bucket via
    *    [[bucketStep]] under `flatMapGroupsWithState`,
    *    hash-distributed across executors exactly like the batch
    *    bucket join.
    *  - State is bounded two ways: at most `maxBucketDocs` recent docs
    *    per bucket (near-dup buckets are small by construction — a
    *    bucket that overflows is boilerplate, exactly what the batch
    *    df-cap drops), and an event-time timeout evicts buckets idle
    *    past the watermark TTL.
    *
    * Output pairs can surface once per matching band; downstream
    * consumers (or the test) de-duplicate — the standard at-least-once
    * LSH emission.
    */
  /** Row-local banded MinHash rows over a `(doc_id, source, text,
    * ingest_ts)` frame: distinct word 3-grams → 32-bit md5-prefix
    * hash → min over each frozen permutation, one output row per
    * (doc, band) with the band key in the SAME `mh:mh:mh:mh` format
    * as the batch index ([[graft.queries.TextPipeline.minhashBands]])
    * so stream and batch rows join against each other. Every step is
    * a codegen'd array expression — no shuffle, so it composes with
    * downstream stateful operators; works identically on a batch
    * frame (pinned by DocStreamsSpec). */
  private[graft] def rowLocalBands(docs: DataFrame): DataFrame = {
    import graft.pipeline.TextPrep.{MinHashAB, MinHashP}
    val NumHashes = MinHashAB.size
    // the BATCH index's layout — sharing the constant is what keeps
    // the stream-vs-corpus (band, bkey) equijoin joinable forever
    val Bands = graft.queries.TextPipeline.Bands
    val Rows = NumHashes / Bands
    val shingled = withShingles(docs)
      .withColumn("hs", expr(
        "transform(sh, s -> h32(s))"))
    val sigCols = MinHashAB.zipWithIndex.map { case ((a, b), i) =>
      expr(s"array_min(transform(hs, h -> (h * ${a}L + ${b}L) % ${MinHashP}L))")
        .as(s"mh$i")
    }
    val sig = shingled.select(
      Seq(col("doc_id"), col("source"), col("ingest_ts")) ++ sigCols: _*)
      .withColumn("sig", array((0 until NumHashes).map(i => col(s"mh$i")): _*))
    // ONE band array exploded per row, not a 4-way unionAll: streaming
    // cannot cache the signature subtree, so union branches would each
    // re-evaluate the shingle + 16-permutation fold per micro-batch —
    // 4× the dominant row-local work (the explode(array(...)) form
    // nearDupSimHash already uses)
    val bandStructs = array((0 until Bands).map { j =>
      struct(lit(j).as("band"),
        concat_ws(":",
          (0 until Rows).map(k => col(s"mh${j * Rows + k}")): _*).as("bkey"))
    }: _*)
    sig
      .select(col("doc_id"), col("source"), col("ingest_ts"), col("sig"),
        explode(bandStructs).as("bb"))
      .select(col("doc_id"), col("source"), col("ingest_ts"), col("sig"),
        col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  def nearDupMinHash(docs: DataFrame,
      watermark: String = "1 hour",
      estSimThreshold: Double = 0.5,
      maxBucketDocs: Int = 64): Dataset[NearDupPair] = {
    import docs.sparkSession.implicits._
    import graft.pipeline.TextPrep.MinHashAB

    val NumHashes = MinHashAB.size
    val minMatches = math.ceil(estSimThreshold * NumHashes).toInt

    val banded = rowLocalBands(docs)
      .select(col("doc_id"), col("ingest_ts"), col("sig"),
        concat_ws(":", col("band"), col("bkey")).as("bucket"))

    banded
      .withWatermark("ingest_ts", watermark)
      .as[(Long, Timestamp, Seq[Long], String)]
      .groupByKey(_._4)
      .flatMapGroupsWithState[BucketState, NearDupPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, it: Iterator[(Long, Timestamp, Seq[Long], String)],
            state: GroupState[BucketState]) =>
          if (it.isEmpty && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val (out, known, seen, lastMs) = bucketStep[Seq[Long], NearDupPair](
              it.toVector,
              state.getOption.map(_.docs.map(d => d.docId -> d.sig)).getOrElse(Seq.empty),
              state.getOption.map(_.seenIds).getOrElse(Seq.empty),
              state.getOption.map(_.lastMs).getOrElse(0L),
              maxBucketDocs,
              (kid, ksig, id, sig) => {
                val matches = ksig.iterator.zip(sig.iterator)
                  .count { case (x, y) => x == y }
                if (matches >= minMatches)
                  Some(NearDupPair(math.min(kid, id), math.max(kid, id),
                    matches.toDouble / NumHashes))
                else None
              })
            state.update(BucketState(
              known.map { case (i, s) => BucketDoc(i, s) }, lastMs, seen))
            scheduleEviction(state, lastMs, watermark)
            out.iterator
          }
      }
  }

  /** Streaming ingestion gate — td23's continuous form: every
    * arriving document gets an admission verdict against the STATIC
    * standing corpus, ON INGEST instead of at the next batch sweep.
    * `exact_dup` = its md5 is already in the corpus; `near_dup` = a
    * corpus doc shares a MinHash band AND ≥ `estSimThreshold`
    * signature agreement (the td07/td23 bar); `admitted` otherwise.
    * One verdict row per document, finalized when the watermark
    * closes its 1-minute arrival window.
    *
    * Shape: the md5 check is a stateless stream-static join against
    * the corpus digest set; the near check computes the banded
    * signature ROW-LOCALLY ([[rowLocalBands]] — no shuffle, exactly
    * the batch signature by construction) and stream-static-joins the
    * corpus band index on (band, bkey) — both sides of the corpus
    * are the STORED indexes at scale (td07 already materializes the
    * band index), broadcast when they fit and shuffled when they
    * don't. The two vote branches union into ONE windowed max-vote
    * aggregation, the only stateful operator, so state is bounded by
    * the watermark horizon regardless of corpus size. The watermark
    * is applied BEFORE either branch filters, so both branch copies
    * see every arrival and their watermarks advance together. */
  def ingestGate(docs: DataFrame,
      corpusBands: DataFrame, // (band, bkey, sigarr) — the td07 index
      corpusMd5: DataFrame, // (mh) distinct md5 hex of corpus texts
      estSimThreshold: Double = 0.5,
      watermark: String = "10 minutes"): DataFrame = {
    import graft.pipeline.TextPrep.MinHashAB
    val minMatches = math.ceil(estSimThreshold * MinHashAB.size).toInt
    val wm = docs.withWatermark("ingest_ts", watermark)
    val exactVotes = wm
      .join(corpusMd5.select(col("mh").as("cmh")),
        md5(col("text")) === col("cmh"), "left_outer")
      .select(col("doc_id"), col("source"), col("ingest_ts"),
        when(col("cmh").isNotNull, 1).otherwise(0).as("exact_vote"),
        lit(0).as("near_vote"))
    // keep only the join key + signature from the corpus side: the
    // documented td07 index (minhashBands output) also carries doc_id,
    // which would collide with the stream side's doc_id and break the
    // select below with AMBIGUOUS_REFERENCE
    val corpusSide = corpusBands.select(
      col("band"), col("bkey"), col("sigarr"))
    val nearVotes = rowLocalBands(wm)
      .join(corpusSide, Seq("band", "bkey"))
      .where(expr(
        s"size(filter(zip_with(sig, sigarr, (x, y) -> x = y), m -> m)) >= $minMatches"))
      .select(col("doc_id"), col("source"), col("ingest_ts"),
        lit(0).as("exact_vote"), lit(1).as("near_vote"))
    exactVotes.unionByName(nearVotes)
      .groupBy(col("doc_id"), col("source"),
        window(col("ingest_ts"), "1 minute"))
      .agg(max("exact_vote").as("ex"), max("near_vote").as("nr"))
      .select(col("doc_id"), col("source"),
        when(col("ex") === 1, "exact_dup")
          .when(col("nr") === 1, "near_dup")
          .otherwise("admitted").as("verdict"))
  }

  /** A SimHash near-dup hit with its exact Hamming distance. */
  final case class SimDupPair(docA: Long, docB: Long, hamming: Long)

  private[streaming] final case class SimBucketDoc(docId: Long, sig: Long)
  private[streaming] final case class SimBucketState(
      docs: Seq[SimBucketDoc], lastMs: Long, seenIds: Seq[Long])

  /** Streaming SimHash near-dup detection — the streaming counterpart
    * of the batch td08 query, built from the SAME frozen constants
    * ([[graft.queries.TextPipeline.SimBits]]/`SimBands`/`MaxHamming`)
    * and the same per-bit vote arithmetic
    * ([[graft.queries.TextPipeline.simhashLocal]]), so the signature
    * of a document is bit-identical in both halves and the emitted
    * pair set matches the batch pass on the same corpus
    * (pinned in DocStreamsSpec).
    *
    * Scale design mirrors [[nearDupMinHash]]: the 64-bit signature is
    * computed with row-local array expressions (no shuffle before the
    * keyed state); each doc explodes into 36 block-pair band rows
    * ([[graft.queries.TextPipeline.simBandKeys]] — identical bucketing
    * to the batch sorted-run scan, with ~590k key entropy so buckets
    * stay sparse at corpus scale); per-bucket state via [[bucketStep]] is bounded
    * by `maxBucketDocs` and evicted by event-time timeout. Candidates within a bucket are
    * confirmed by exact Hamming ≤
    * [[graft.queries.TextPipeline.MaxHamming]] (64-bit xor popcount —
    * integer-exact on any engine). */
  def nearDupSimHash(docs: DataFrame,
      watermark: String = "1 hour",
      maxBucketDocs: Int = 64): Dataset[SimDupPair] = {
    import docs.sparkSession.implicits._
    import graft.queries.TextPipeline.MaxHamming

    // Row-local distinct shingles and both md5 hash words via the
    // native h32/h32b kernels (same values as TextPrep's hashes).
    val sig = withShingles(docs)
      .withColumn("hs", expr(
        "transform(sh, s -> h32(s))"))
      .withColumn("hs2", expr(
        "transform(sh, s -> h32b(s))"))
      .select(col("doc_id"), col("ingest_ts"),
        graft.queries.TextPipeline.simhashLocal("hs", "hs2").as("simhash"))

    nearDupSimHashSig(sig, watermark, maxBucketDocs)
  }

  /** Streaming perceptual image near-dup — the live half of
    * [[graft.pipeline.Multimodal.nearDupImages]]: each arriving
    * `(media_id, content, ingest_ts)` blob is dHashed ONCE
    * (row-local, the blob never enters state or a shuffle — only the
    * 8-byte signature does) and checked against the already-ingested
    * signatures in its band buckets, exactly the [[nearDupSimHash]]
    * machinery on a different 64-bit signature. Undecodable payloads
    * drop out (the [[graft.pipeline.Multimodal.dHash64]] contract).
    * Pair semantics, banding scheme, Hamming bar and state bounds are
    * the shared [[nearDupSimHashSig]]'s — MultimodalSpec pins
    * streamed pairs against the batch operator on planted
    * resize/recompress variants. */
  def nearDupImages(media: DataFrame,
      watermark: String = "1 hour",
      maxBucketDocs: Int = 64): Dataset[SimDupPair] =
    nearDupMedia(media, graft.pipeline.Multimodal.dHash64 _,
      watermark, maxBucketDocs, "image")

  /** Shared streaming media-gate body: hash each arriving blob ONCE
    * row-locally with `hasher` (only the 8-byte signature survives
    * the row; undecodable payloads drop per-row) and band against
    * ingested state via [[nearDupSimHashSig]]. The drop is counted
    * LOUDLY before it happens: every micro-batch publishes a
    * `decode_coverage_<kind>` observed metric (n_media arrived, n_hashed
    * decodable) in its StreamingQueryProgress — the live twin of
    * [[graft.pipeline.Multimodal.decodeCoverage]], so a stream that
    * is 95% inter-coded H.264 cannot silently skip video dedup. */
  private def nearDupMedia(media: DataFrame,
      hasher: Array[Byte] => Option[Long],
      watermark: String, maxBucketDocs: Int,
      kind: String): Dataset[SimDupPair] = {
    import media.sparkSession.implicits._
    val sig = media
      .select(col("media_id"), col("ingest_ts"), col("content"))
      .as[(Long, Timestamp, Array[Byte])]
      .mapPartitions(_.map { case (id, ts, bytes) =>
        (id, ts, graft.pipeline.Multimodal.safeHash(hasher, bytes))
      })
      .toDF("doc_id", "ingest_ts", "simhash")
      // observation name carries the modality: observed-metric names
      // must be unique per streaming query, so two gates composed into
      // one query (e.g. an image and an audio gate unioned) would fail
      // analysis on a shared fixed name (r18 advice)
      .observe(s"decode_coverage_$kind",
        count(lit(1)).as("n_media"),
        count(col("simhash")).as("n_hashed"))
      .where(col("simhash").isNotNull)
    nearDupSimHashSig(sig, watermark, maxBucketDocs)
  }

  /** Streaming audio near-dup — [[nearDupImages]]'s waveform sibling:
    * arriving PCM blobs are aHashed row-locally
    * ([[graft.pipeline.Multimodal.aHash64]]) and banded against
    * ingested state; only 8-byte signatures ever leave the row. */
  def nearDupAudio(media: DataFrame,
      watermark: String = "1 hour",
      maxBucketDocs: Int = 64): Dataset[SimDupPair] =
    nearDupMedia(media, graft.pipeline.Multimodal.aHash64 _,
      watermark, maxBucketDocs, "audio")

  /** Streaming video near-dup — frame-majority
    * [[graft.pipeline.Multimodal.vHash64]] signatures through the
    * same shared banding state; with [[nearDupSimHash]],
    * [[nearDupImages]] and [[nearDupAudio]], all four modalities run
    * on one streaming pair engine, mirroring the batch
    * `simHashPairsOf` family. */
  def nearDupVideo(media: DataFrame,
      watermark: String = "1 hour",
      maxBucketDocs: Int = 64): Dataset[SimDupPair] =
    nearDupMedia(media, graft.pipeline.Multimodal.vHash64 _,
      watermark, maxBucketDocs, "video")

  /** The banding + bucket-state half of [[nearDupSimHash]], over ANY
    * 64-bit signature frame `(doc_id, ingest_ts, simhash)` — shared
    * with the perceptual image gate ([[nearDupImages]]), the
    * streaming twin of the batch sorted-run scan
    * [[graft.queries.TextPipeline.simHashPairsOf]]. */
  private[streaming] def nearDupSimHashSig(sig: DataFrame,
      watermark: String, maxBucketDocs: Int): Dataset[SimDupPair] = {
    import sig.sparkSession.implicits._
    import graft.queries.TextPipeline.MaxHamming
    // One row per block-pair band (TextPipeline.simBandKeys — the SAME
    // scheme as the batch scan, so both halves bucket identically
    // and state spreads over ~590k keys instead of 2 048), produced by
    // one row-local explode.
    val bandExprs = graft.queries.TextPipeline.simBandKeys.map {
      case (band, keySql) => expr(s"concat('$band:', CAST($keySql AS STRING))")
    }
    val banded = sig.select(
      col("doc_id"), col("ingest_ts"), col("simhash"),
      explode(array(bandExprs: _*)).as("bucket"))

    banded
      .withWatermark("ingest_ts", watermark)
      .as[(Long, Timestamp, Long, String)]
      .groupByKey(_._4)
      .flatMapGroupsWithState[SimBucketState, SimDupPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, it: Iterator[(Long, Timestamp, Long, String)],
            state: GroupState[SimBucketState]) =>
          if (it.isEmpty && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val (out, known, seen, lastMs) = bucketStep[Long, SimDupPair](
              it.toVector,
              state.getOption.map(_.docs.map(d => d.docId -> d.sig)).getOrElse(Seq.empty),
              state.getOption.map(_.seenIds).getOrElse(Seq.empty),
              state.getOption.map(_.lastMs).getOrElse(0L),
              maxBucketDocs,
              (kid, ksig, id, sig) => {
                val hamming = java.lang.Long.bitCount(ksig ^ sig)
                if (hamming <= MaxHamming)
                  Some(SimDupPair(math.min(kid, id), math.max(kid, id),
                    hamming.toLong))
                else None
              })
            state.update(SimBucketState(
              known.map { case (i, s) => SimBucketDoc(i, s) }, lastMs, seen))
            scheduleEviction(state, lastMs, watermark)
            out.iterator
          }
      }
  }

  /** Streaming PII gate — batch td31's continuous form: every
    * arriving document is tagged with its per-category PII span
    * counts (`c_email`/`c_phone`/`c_ipv4`/`c_ssn` + `pii_any`) by
    * the SAME row-local [[graft.queries.TextPipeline.piiTag]]
    * expressions the batch report aggregates, so a pipeline can
    * route flagged documents to redaction ON INGEST instead of by a
    * later batch sweep. Completely stateless — no watermark, no
    * state store, no shuffle: the regex extractions are codegen'd
    * per-row expressions inside the ingest projection, which is why
    * the per-batch tags fold to the batch td31 report EXACTLY
    * (DocStreamsSpec proves the fold) and why the gate adds no
    * latency class at any scale — bytes stream past the four regex
    * automata once, per arriving row. */
  def piiGate(docs: DataFrame): DataFrame =
    graft.queries.TextPipeline.piiTag(docs)
}
