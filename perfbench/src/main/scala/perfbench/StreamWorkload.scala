package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener, Trigger}

import graft.streaming.{DocStreams, EventStreams}

/** `stream`: Structured Streaming ingest of documents and events that
  * arrive as files in an open loop (a fixed arrival schedule, whatever
  * the engine's speed), then a drain of a pre-staged backlog.
  *
  * Three queries read the arrivals: exact dedup followed by the quality
  * gate, MinHash near-dup detection, and per-window event counts. All
  * three emit in the batch that reads their input. A file's latency
  * runs from its due time to the commit of the last batch, across the
  * three queries, that read it. */
object StreamWorkload {

  /** Files due per second in the open loop, and rows per file. */
  val FilesPerSecond = 5
  val DocsPerFile = 10
  val EventsPerFile = 400
  /** Backlog drained at full speed after the open loop. */
  val DrainFiles = 24
  val DrainDocsPerFile = 100
  val DrainEventsPerFile = 2500

  val DocSchema = "doc_id LONG, lang STRING, source STRING, text STRING, ingest_ts TIMESTAMP"
  val EventSchema = "event_id LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING, ts TIMESTAMP"

  /** The payload of one arrival: a docs file and an events file. */
  final case class Arrival(seq: Int, docs: Seq[String], events: Seq[String])

  /** A set of running queries over one pair of input directories. */
  final case class Live(name: String, docsDir: Path, eventsDir: Path, queries: Seq[StreamingQuery]) {
    def stop(): Unit = queries.foreach(_.stop())
  }

  /** Progress of one batch: the commit time in epoch ms and the
    * engine's own phase durations. */
  final case class Batch(query: String, batchId: Long, commitMs: Long, inputRows: Long,
      durations: Map[String, Long], stateRows: Long, stateBytes: Long)

  final class ProgressLog extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[Batch]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      batches.add(Batch(p.name, p.batchId, start + d.getOrElse("triggerExecution", 0L),
        p.numInputRows, d, p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  private val mapper = new ObjectMapper()

  /** Arrivals delivered before the open loop, so that its first
    * batches do not pay the queries' one-time code generation. */
  val WarmFiles = 4

  /** JSON lines of the seeded documents and events, as three arrival
    * lists: warm-up, open loop (`nLive`) and backlog. Events keep their
    * time order across the three, so none is ever late for the
    * watermark. Every arrival but the first of each list re-delivers
    * the last document of the arrival before it, so the exact-dedup
    * check has duplicates to catch. */
  private def payload(data: Path, seed: Long, nLive: Int): (Seq[Arrival], Seq[Arrival], Seq[Arrival]) = {
    def lines(file: String) = Files.readAllLines(data.resolve(file)).asScala.toVector
    val rnd = new Random(seed)
    val docs = rnd.shuffle(lines("documents.jsonl"))
    val nEvents = (WarmFiles + nLive) * EventsPerFile + DrainFiles * DrainEventsPerFile
    // a time-ordered window of the events
    val all = lines("events.jsonl")
    val e0 = rnd.nextInt(all.size - nEvents)
    val events = all.slice(e0, e0 + nEvents)
    // event time of documents: one second per arrival from a fixed
    // origin, so every document sits inside the dedup watermark
    val origin = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def docJson(doc: String, seq: Int) = {
      val node = mapper.readTree(doc).asInstanceOf[ObjectNode]
      node.put("ingest_ts", java.time.Instant.ofEpochMilli(origin + seq * 1000L).toString)
      mapper.writeValueAsString(node)
    }
    var d = 0
    var e = 0
    def take(seq: Int, nd: Int, ne: Int, again: Seq[String]): Arrival = {
      val fresh = docs.slice(d, d + nd)
      val a = Arrival(seq, (fresh ++ again).map(docJson(_, seq)), events.slice(e, e + ne))
      d += nd; e += ne
      a
    }
    var seq = -1
    def arrivals(n: Int, nd: Int, ne: Int) = (1 to n).map { i =>
      seq += 1
      val again = if (i == 1) Nil else docs.slice(d - 1, d)
      take(seq, nd, ne, again)
    }
    val warm = arrivals(WarmFiles, DocsPerFile, EventsPerFile)
    val live = arrivals(nLive, DocsPerFile, EventsPerFile)
    (warm, live, arrivals(DrainFiles, DrainDocsPerFile, DrainEventsPerFile))
  }

  /** Write one arrival atomically: to a staging file, then renamed into
    * the watched directory. */
  private def deliver(a: Arrival, docsDir: Path, eventsDir: Path, staging: Path): Unit = {
    def put(lines: Seq[String], dir: Path): Unit = {
      val tmp = staging.resolve(s"${dir.getFileName}-${a.seq}.json")
      Files.writeString(tmp, lines.mkString("", "\n", "\n"))
      Files.move(tmp, dir.resolve(f"part-${a.seq}%05d.json"), StandardCopyOption.ATOMIC_MOVE)
    }
    put(a.docs, docsDir)
    put(a.events, eventsDir)
  }

  private def inputDirs(work: Path, name: String): (Path, Path) =
    (Files.createDirectories(work.resolve(s"in-$name/docs")),
      Files.createDirectories(work.resolve(s"in-$name/events")))

  /** Start the three queries over the named input directories. */
  private def start(spark: SparkSession, work: Path, name: String, trigger: Trigger): Live = {
    val (docsDir, eventsDir) = inputDirs(work, name)
    val docs = spark.readStream.schema(DocSchema).json(docsDir.toString)
    val events = spark.readStream.schema(EventSchema).json(eventsDir.toString)
    def sink(df: DataFrame, q: String, mode: OutputMode) =
      df.writeStream.format("memory").queryName(s"${q}_$name").outputMode(mode).trigger(trigger)
        .option("checkpointLocation", work.resolve(s"ckpt/${q}_$name").toString).start()
    Live(name, docsDir, eventsDir, Seq(
      sink(DocStreams.qualityFilter(DocStreams.dedupExact(docs)), "admitted", OutputMode.Append),
      sink(DocStreams.nearDupMinHash(docs, maxBucketDocs = 1000).toDF(), "neardup", OutputMode.Append),
      sink(EventStreams.windowedCounts(events), "windows", OutputMode.Update)))
  }

  /** Which source files each batch of a query read, from the file
    * source's own log in the checkpoint: file name → batch id. */
  private def batchOfFile(work: Path, query: String): Map[String, Long] = {
    val dir = work.resolve(s"ckpt/$query/sources/0")
    Files.list(dir).iterator().asScala.toVector
      .filter(f => f.getFileName.toString.matches("\\d+(\\.compact)?")).flatMap { f =>
      scala.io.Source.fromFile(f.toFile).getLines().drop(1).map { l =>
        val n = mapper.readTree(l)
        java.nio.file.Paths.get(new java.net.URI(n.path("path").asText())).getFileName.toString ->
          n.path("batchId").asLong()
      }
    }.toMap
  }

  def run(ctx: Ctx): (Double, Outcome) = {
    val args = ctx.args
    val work = args.work.resolve("stream")
    val staging = Files.createDirectories(work.resolve("staging"))
    val nLive = FilesPerSecond * math.max(2, args.seconds * 3 / 4)
    val progress = new ProgressLog
    var rep = 0
    // the arrivals are the benchmark's input, made before set-up
    val (warm, live0, backlog) = payload(args.data, args.seed, nLive)
    val ((spark, live), setupS) = Main.medianSetup(3) { () =>
      rep += 1
      val s = ctx.freshSession()
      s.streams.addListener(progress)
      (s, start(s, work, s"live$rep", Trigger.ProcessingTime(0L)))
    } { case (s, l) => l.stop(); s.streams.removeListener(progress) }
    // warm-up, counted in set-up time: a few arrivals before the open
    // loop, so that its first batches do not pay code generation
    val warmT0 = System.nanoTime()
    warm.foreach(deliver(_, live.docsDir, live.eventsDir, staging))
    live.queries.foreach(_.processAllAvailable())
    val warmS = (System.nanoTime() - warmT0) / 1e9

    ctx.startMeasuring()
    // ---- open loop: arrival i is due at t0 + i / FilesPerSecond
    val intervalMs = 1000L / FilesPerSecond
    val t0 = System.currentTimeMillis() + 200
    val dueMs = live0.indices.map(i => t0 + i * intervalMs)
    val lagMs = live0.indices.map { i =>
      val wait = dueMs(i) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      ctx.tracer.span(spark, "streaming", "deliver", i + 1L) {
        deliver(live0(i), live.docsDir, live.eventsDir, staging)
      }
      (System.currentTimeMillis() - dueMs(i)).toDouble
    }
    live.queries.foreach(_.processAllAvailable())
    val loopS = (System.currentTimeMillis() - t0) / 1000.0
    ctx.drainListeners()
    Thread.sleep(300)
    val liveBatches = progress.batches.asScala.toVector.filter(_.query.endsWith(live.name))

    // latency of each arrival: due time → commit of the last batch
    // (over the three queries) that read its files
    val commit = liveBatches.map(b => (b.query, b.batchId) -> b.commitMs).toMap
    val perQuery = live.queries.map(q => q.name -> batchOfFile(work, q.name))
    val latencyMs = live0.indices.map { i =>
      val file = f"part-${live0(i).seq}%05d.json"
      perQuery.map { case (q, files) => commit((q, files(file))) }.max - dueMs(i).toDouble
    }
    val backlogMax = liveBatches.map { b =>
      latencyMs.indices.count(i => dueMs(i) <= b.commitMs && dueMs(i) + latencyMs(i) > b.commitMs)
    }.maxOption.getOrElse(0)
    live.stop()

    // ---- drain: the backlog is staged first, then read at full speed
    val (bDocs, bEvents) = inputDirs(work, "drain")
    backlog.foreach(deliver(_, bDocs, bEvents, staging))
    val drainT0 = System.nanoTime()
    val drain = ctx.tracer.span(spark, "streaming", "drain") {
      val d = start(spark, work, "drain", Trigger.AvailableNow())
      d.queries.foreach(_.awaitTermination())
      d
    }
    val drainWallS = (System.nanoTime() - drainT0) / 1e9
    Thread.sleep(300)
    // throughput over the batches themselves: first trigger start to
    // last commit across the three queries, without query start-up
    val drainBatches = progress.batches.asScala.toVector
      .filter(b => b.query.endsWith(drain.name) && b.inputRows > 0)
    val drainS = (drainBatches.map(_.commitMs).max -
      drainBatches.map(b => b.commitMs - b.durations.getOrElse("triggerExecution", 0L)).min) / 1000.0
    val drainRows = backlog.map(a => a.docs.size + a.events.size).sum

    // the engine figures cover the open loop and the drain, not the checks
    ctx.drainListeners()
    val engine = if (args.trace) Main.engineLayers(ctx, spark) else Map.empty[String, Double]
    // the near-dup twin is the costliest check: it runs on the open
    // loop's output only
    val checks = check(spark, work, live, nearDup = true) ++ check(spark, work, drain, nearDup = false)
    val failures = checks.collect { case (false, msg) => msg }
    val data = liveBatches.filter(_.inputRows > 0)
    def med(k: String) = Stats.median(data.map(_.durations.getOrElse(k, 0L).toDouble)).getOrElse(0.0)
    val last = liveBatches.groupBy(_.query).values.map(_.maxBy(_.batchId)).toSeq
    val layers = engine ++ Map(
      "streaming.trigger_ms" -> med("triggerExecution"), "streaming.add_batch_ms" -> med("addBatch"),
      "streaming.planning_ms" -> med("queryPlanning"), "streaming.wal_ms" -> med("walCommit"),
      "streaming.state_rows" -> last.map(_.stateRows).sum.toDouble,
      "streaming.state_bytes" -> last.map(_.stateBytes).sum.toDouble,
      "streaming.gen_lag_ms" -> lagMs.max, "streaming.backlog_max" -> backlogMax.toDouble)
    (setupS + warmS, Outcome(
      // every arrival, plus the checks
      attempted = live0.size + backlog.size + checks.size, failures = failures,
      timedS = loopS + drainWallS,
      e2e = Map("throughput_per_s" -> drainRows / drainS,
        "mean_ms" -> Stats.mean(latencyMs).get, "tail_ms" -> Stats.tailMean(latencyMs).get),
      named = Map("stream_rows_per_s" -> (drainRows / drainS, "1/s"),
        "file_samples" -> (latencyMs.size.toDouble, "count"),
        "batch_p50_ms" -> (Stats.median(latencyMs).get, "ms"),
        "batch_p90_ms" -> (Stats.percentile(latencyMs, 90).get, "ms")),
      layers = layers))
  }

  /** Compare what a set of queries emitted with its batch twin over the
    * same input files: the admitted documents, the final count of every
    * event window and, with `nearDup`, the near-dup pairs of the batch
    * MinHash query (td07). The admitted documents are compared as a
    * multiset of content hashes with `qualityFilter` over the input with
    * duplicate texts dropped, so an admitted duplicate fails the check.
    * Outside the clock; returns each check's verdict and message. */
  private def check(spark: SparkSession, work: Path, live: Live,
      nearDup: Boolean): Seq[(Boolean, String)] = {
    val n = live.name
    val docs = spark.read.schema(DocSchema).json(live.docsDir.toString)
    val events = spark.read.schema(EventSchema).json(live.eventsDir.toString)
    def hashes(df: DataFrame) = df.groupBy(md5(col("text"))).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val admitted = hashes(spark.table(s"admitted_$n"))
    val admittedTwin = hashes(DocStreams.qualityFilter(docs.dropDuplicates("text")))
    val duplicates = DocStreams.qualityFilter(docs).count() - admittedTwin.values.sum

    // the batch query reads a data directory: give it one holding
    // exactly the streamed documents
    def nearCheck = {
      val twinDir = work.resolve(s"twin-$n")
      docs.withColumn("n_chars", length(col("text")).cast("long")).drop("ingest_ts")
        .write.mode("overwrite").parquet(twinDir.resolve("documents.parquet").toString)
      def pairs(df: DataFrame, a: String, b: String) =
        df.select(col(a), col(b)).distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val near = pairs(spark.table(s"neardup_$n"), "docA", "docB")
      val nearTwin = pairs(graft.queries.TextPipeline.dedupMinHash(spark, twinDir.toString), "doc_a", "doc_b")
      (near == nearTwin) -> s"$n: ${near.size} near-dup pairs, batch td07 finds ${nearTwin.size}"
    }

    val windows = spark.table(s"windows_$n").groupBy("window_start", "event_type")
      .agg(max("n_events").as("n")).collect().map(r => (r.get(0), r.get(1)) -> r.getLong(2)).toMap
    val windowsTwin = events.groupBy(window(col("ts"), "1 hour").getField("start"), col("event_type"))
      .count().collect().map(r => (r.get(0), r.get(1)) -> r.getLong(2)).toMap

    Seq(
      (admitted == admittedTwin) ->
        s"$n: ${admitted.values.sum} admitted docs, batch twin admits ${admittedTwin.values.sum}",
      admitted.nonEmpty -> s"$n: no document admitted",
      (duplicates > 0) -> s"$n: no admissible duplicate in the input, the dedup check cannot fail",
      (windows == windowsTwin) -> s"$n: ${windows.size} event windows, batch twin has ${windowsTwin.size}",
      (windows.values.sum == events.count()) -> s"$n: event windows do not sum to the events read"
    ) ++ (if (nearDup) Seq(nearCheck) else Nil)
  }
}
