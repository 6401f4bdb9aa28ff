package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see README.md). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: Path, work: Path, pins: Path, writePins: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("data")).toAbsolutePath, Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("pins")).toAbsolutePath, kv.get("write-pins").contains("1"))
  }
}

/** What every workload hands back. `timedS` is the wall time of the
  * measured phase; `e2e` holds the workload's end-to-end figures and
  * `layers` the per-layer ones it measured (the rest print as 0). */
final case class Outcome(attempted: Long, failures: Seq[String], timedS: Double,
    e2e: Map[String, Double], named: Map[String, (Double, String)],
    layers: Map[String, Double])

/** Shared state of one run: the session factory, tracer and listeners. */
final class Ctx(val args: Args) {
  val cpus = 4
  val tracer = new Tracer(args.trace)
  val engine = new EngineListener
  val phases = new PhaseListener
  private var root: SparkSession = _

  /** A session on the one local SparkContext, configured the way
    * `graft.Bench` configures its own. The first call starts the
    * context; later calls return a fresh session (own temp views,
    * own session-keyed caches) on it. */
  def freshSession(): SparkSession = {
    val spark =
      if (root != null) root.newSession()
      else {
        val work = args.work
        root = graft.InputTuning.configure(
          graft.LocalSpark.hardened(SparkSession.builder())
            .config("spark.sql.shuffle.partitions", cpus.toString),
          args.data.toString, cpus)
          .master(s"local[$cpus]")
          .appName(s"perfbench-${args.workload}")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
          .config("spark.local.dir", work.resolve("spark-local").toString)
          .getOrCreate()
        root.sparkContext.setLogLevel("ERROR")
        if (args.trace) root.sparkContext.addSparkListener(engine)
        root
      }
    if (args.trace) spark.listenerManager.register(phases)
    spark
  }

  /** Give Spark's asynchronous listener bus time to deliver the last
    * events before counters are read. */
  def drainListeners(): Unit = if (args.trace) Thread.sleep(1500)

  /** Start the engine counters afresh: they cover the measured phase
    * (and, on serve, the replay), not set-up or warm-up. */
  def startMeasuring(): Unit = if (args.trace) {
    drainListeners()
    engine.reset()
    phases.reset()
  }
}

object Main {

  val mapper = new ObjectMapper()

  /** A JSON object that keeps its fields in the order given. */
  def jsonObject(fields: Seq[(String, Any)]): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    fields.foreach { case (k, v) => m.put(k, v) }
    m
  }

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "mean_ms" -> "ms",
    "tail_ms" -> "ms", "retained_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "http.health_p50_ms" -> "ms") ++
    Seq("chat", "chat_agent", "dq_profile", "dq_check", "schema", "dbt_preview", "metrics", "upload")
      .map(r => s"http.route_p50_ms.$r" -> "ms") ++ Seq(
    "http.self_ms" -> "ms",
    "serve.write_p50_ms" -> "ms", "serve.write_p95_ms" -> "ms",
    "sql.guard_ms" -> "ms", "sql.run_ms" -> "ms", "sql.refused" -> "count",
    "sql.analysis_ms" -> "ms", "sql.optimization_ms" -> "ms", "sql.planning_ms" -> "ms",
    "sql.exec_ms" -> "ms", "sql.jobs_per_run" -> "count",
    "chat.plan_ms" -> "ms", "chat.gen_ms" -> "ms", "chat.agent_steps" -> "count",
    "chat.answered_frac" -> "ratio",
    "dq.profile_ms" -> "ms", "dq.check_ms" -> "ms", "dq.jobs_per_request" -> "count",
    "catalog.create_ms" -> "ms", "catalog.ingest_ms" -> "ms", "catalog.delete_ms" -> "ms",
    "catalog.schema_docs_ms" -> "ms",
    "metrics.export_ms" -> "ms", "metrics.hist_samples" -> "count",
    "queries.relational_s" -> "s", "queries.dq_s" -> "s", "queries.text_s" -> "s",
    "queries.vector_s" -> "s", "queries.event_s" -> "s", "queries.max_s" -> "s",
    "sources.scan_bytes" -> "bytes", "sources.scan_rows" -> "count",
    "cache.entries" -> "count", "cache.bytes" -> "bytes", "cache.scan_frac" -> "ratio",
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.planning_ms" -> "ms", "streaming.wal_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_bytes" -> "bytes",
    "streaming.gen_lag_ms" -> "ms", "streaming.backlog_max" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_records" -> "count", "spark.spill_bytes" -> "bytes",
    "spark.task_ms" -> "ms", "spark.gc_ms" -> "ms", "spark.stage_skew" -> "ratio",
    "error_frac" -> "ratio", "trace.timed_s" -> "s")

  /** Run `setup` `reps` times and return the last result with the
    * median set-up time. */
  def medianSetup[A](reps: Int)(setup: () => A)(discard: A => Unit): (A, Double) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[A] = None
    for (_ <- 1 to reps) {
      last.foreach(discard)
      val t0 = System.nanoTime()
      last = Some(setup())
      times += (System.nanoTime() - t0) / 1e9
    }
    (last.get, Stats.median(times.toSeq).get)
  }

  /** Heap in use after a full collection, in MB. */
  def retainedMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Spark counters and cache occupancy: the layer metrics every
    * workload reports. */
  def engineLayers(ctx: Ctx, spark: SparkSession): Map[String, Double] = {
    val t = ctx.engine.total
    val sc = spark.sparkContext
    val ph = ctx.phases.all
    val leafScans = ph.map(_.leafScans).sum
    Map(
      "spark.jobs" -> t.jobs.toDouble, "spark.stages" -> t.stages.toDouble,
      "spark.tasks" -> t.tasks.toDouble,
      "spark.shuffle_write_bytes" -> t.shuffleWriteBytes.toDouble,
      "spark.shuffle_read_bytes" -> t.shuffleReadBytes.toDouble,
      "spark.shuffle_records" -> t.shuffleRecords.toDouble,
      "spark.spill_bytes" -> t.spillBytes.toDouble, "spark.task_ms" -> t.taskMs.toDouble,
      "spark.gc_ms" -> t.gcMs.toDouble, "spark.stage_skew" -> t.stageSkew,
      "sources.scan_bytes" -> t.scanBytes.toDouble, "sources.scan_rows" -> t.scanRows.toDouble,
      "cache.entries" -> sc.getPersistentRDDs.size.toDouble,
      "cache.bytes" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble,
      "cache.scan_frac" -> (if (leafScans == 0) 0.0 else ph.map(_.cachedScans).sum.toDouble / leafScans))
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val args = Args.parse(argv)
    Files.createDirectories(args.work)
    val ctx = new Ctx(args)
    // the SparkContext boot is paid once per process; it is part of
    // set-up time alongside the workload's own (median) set-up
    val boot = ctx.freshSession()
    val bootS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val (setupS, outcome) = args.workload match {
      case "serve" => ServeWorkload.run(ctx)
      case "pipeline" => PipelineWorkload.run(ctx)
      case "stream" => StreamWorkload.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    ctx.drainListeners()
    val errorFrac = outcome.failures.size.toDouble / math.max(1L, outcome.attempted)
    // a workload's own engine figures (taken before its checks) win
    val layers = (if (args.trace) engineLayers(ctx, boot) else Map.empty[String, Double]) ++ outcome.layers +
      ("error_frac" -> errorFrac) + ("trace.timed_s" -> outcome.timedS)
    val e2e = outcome.e2e + ("setup_s" -> (bootS + setupS)) + ("retained_mb" -> retainedMb())
    val metrics =
      if (args.trace) PerLayer.map { case (k, u) => k -> (layers.getOrElse(k, 0.0), u) }
      else EndToEnd.map { case (k, u) => k -> (e2e(k), u) }
    val spans = ctx.tracer.all
    val spansFile = args.work.resolve(s"spans-${args.workload}-${args.seed}.jsonl")
    if (args.trace) Files.writeString(spansFile, Spans.toJsonLines(spans))
    // where the traced time went: each layer's spans minus their children
    val self = Spans.selfNs(spans)
    val selfByLayer = spans.groupBy(_.layer).toSeq.sortBy(_._1).map { case (l, ss) =>
      l -> ss.map(s => self(s.id)).sum / 1e6
    }
    def m(k: String, v: Double, u: String) = k -> jsonObject(Seq("value" -> v, "unit" -> u))
    val named = outcome.named.toSeq.sortBy(_._1).map { case (k, (v, u)) => m(k, v, u) }
    println(mapper.writeValueAsString(jsonObject(Seq(
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> (if (args.trace) 1 else 0),
      "correct" -> outcome.failures.isEmpty,
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failures.size,
      "failures" -> outcome.failures.asJava,
      "timed_s" -> outcome.timedS, "boot_s" -> bootS,
      "metrics" -> jsonObject(metrics.map { case (k, (v, u)) => m(k, v, u) }),
      "named" -> jsonObject(named :+ m("setup_s", e2e("setup_s"), "s") :+
        m("retained_mb", e2e("retained_mb"), "MB") :+
        m("error_frac", errorFrac, "ratio")),
      "self_ms_by_layer" -> jsonObject(selfByLayer),
      "spans_file" -> (if (args.trace) spansFile.toString else null)))))
    System.out.flush()
    boot.stop()
    sys.exit(0)
  }
}
