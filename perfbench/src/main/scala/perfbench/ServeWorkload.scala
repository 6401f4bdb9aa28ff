package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.catalog.{Catalog, SchemaDocs}
import graft.chat.{Agent, Planner, StubNlToSql}
import graft.dq.{DqEngine, NotNullRule, Profiler, RangeRule, Rule, UniqueRule}
import graft.http.HttpFacade
import graft.metrics.Metrics
import graft.sql.{QueryRunner, SqlGuard}

/** `serve`: a closed loop of four JDK `HttpClient` clients over loopback
  * to an `HttpFacade`, sending a fixed, seeded list of operations. */
object ServeWorkload {

  /** Requests per second of `--seconds` the seeded plan holds. The
    * count is fixed by the arguments, not by how fast the server is. */
  val OpsPerSecond = 4
  val Clients = 4

  private val mapper = new ObjectMapper()

  /** One planned read request. `check` judges the response. */
  final case class Req(route: String, method: String, path: String, body: String,
      check: (Int, JsonNode) => Option[String])

  /** One operation: a single request, or the write chain, whose later
    * steps need ids from earlier responses. */
  sealed trait Op
  final case class Single(req: Req) extends Op
  final case class WriteChain(id: Int, csv: Path, rows: Int) extends Op

  final case class Sample(route: String, write: Boolean, ms: Double, error: Option[String])

  // ------------------------------------------------------------ the plan

  val RevenueQuestion = "top nations by revenue in 1995"
  val CountQuestion = "how many orders are there"
  val UnsafeQuestions = Seq(
    "drop the orders table", "delete every customer row", "please DROP lineitem now")

  private def status(want: Int)(code: Int, body: JsonNode): Option[String] =
    if (code == want) None else Some(s"status $code, want $want: ${body.toString.take(200)}")

  private def okWith(f: JsonNode => Option[String])(code: Int, body: JsonNode): Option[String] =
    status(200)(code, body).orElse(f(body))

  private val dqTables = Seq(
    ("orders", "o_orderkey", "o_totalprice", "o_totalprice > %d", 100000),
    ("lineitem", "l_orderkey", "l_quantity", "l_quantity > %d", 20),
    ("customer", "c_custkey", "c_acctbal", "c_acctbal > %d", 4000),
    ("part", "p_partkey", "p_retailprice", "p_retailprice > %d", 1200))

  /** Share of each operation kind in the plan. The plan holds these
    * kinds in exactly these proportions; the seed orders them and draws
    * their parameters, so every seed asks for the same mix of work.
    *
    * No record of real traffic exists to weigh them by, so the mix is
    * an assumption: equal shares over the ten kinds of work the service
    * offers (read routes, the planted unsafe questions and the write
    * chain), with the `/chat` share split evenly between its two
    * questions. */
  val Mix: Seq[(String, Int)] = Seq(
    "health" -> 2, "chat_revenue" -> 1, "chat_count" -> 1, "unsafe" -> 2,
    "chat_agent" -> 2, "dq_profile" -> 2, "dq_check" -> 2, "schema" -> 2,
    "dbt_preview" -> 2, "metrics" -> 2, "write" -> 2)

  def plan(seed: Long, n: Int, pins: ServePins, csvs: IndexedSeq[(Path, Int)]): Vector[Op] = {
    val rnd = new Random(seed)
    val total = Mix.map(_._2).sum
    val kinds = rnd.shuffle(Mix.flatMap { case (k, w) => Seq.fill(math.max(1, n * w / total))(k) })
    val nth = mutable.Map.empty[String, Int].withDefaultValue(0)
    kinds.toVector.map { kind =>
      val i = nth(kind)
      nth(kind) = i + 1
      def post(route: String, path: String, body: String)(check: (Int, JsonNode) => Option[String]) =
        Single(Req(route, "POST", path, body, check))
      kind match {
        case "health" => Single(Req("health", "GET", "/health", "",
          okWith(b => if (b.path("status").asText() == "ok") None else Some("health not ok"))))
        case "chat_revenue" => post("chat", "/chat", question(RevenueQuestion))(
          okWith(b => pins.check("chat_revenue", rowsOf(b))))
        case "chat_count" => post("chat", "/chat", question(CountQuestion))(
          okWith(b => pins.check("chat_count", rowsOf(b))))
        case "unsafe" => post("chat", "/chat",
          question(UnsafeQuestions(i % UnsafeQuestions.size)))(status(400))
        case "chat_agent" => post("chat_agent", "/chat/agent", question(CountQuestion))(
          okWith(b => pins.check("chat_count", rowsOf(b))))
        case "dq_profile" =>
          val (t, _, _, where, hi) = dqTables(i % dqTables.size)
          val limit = 200 + rnd.nextInt(800)
          val body = s"""{"table":"$t","limit":$limit,"where":"${where.format(rnd.nextInt(hi))}"}"""
          post("dq_profile", "/dq/profile", body)(okWith { b =>
            val p = b.path("profile")
            if (p.size() == 0) Some("empty profile")
            else if (p.elements().next().path("count").asLong() > limit) Some("profile over limit")
            else None
          })
        case "dq_check" =>
          val (t, key, num, _, hi) = dqTables(i % dqTables.size)
          val limit = 200 + rnd.nextInt(800)
          val body = s"""{"table":"$t","sample_limit":$limit,"rules":[""" +
            s"""{"type":"not_null","column":"$key"},{"type":"unique","column":"$key"},""" +
            s"""{"type":"range","column":"$num","min":0,"max":${hi * 10 + rnd.nextInt(hi)}}]}"""
          post("dq_check", "/dq/check", body)(okWith(b =>
            if (b.path("results").size() == 3) None else Some("dq check lost a rule")))
        case "schema" => Single(Req("schema", "GET", "/schema", "",
          okWith(b => if (b.toString.contains("lineitem")) None else Some("schema lacks lineitem"))))
        case "dbt_preview" =>
          val lim = 10 + rnd.nextInt(90)
          val body = s"""{"model_sql":"SELECT o_orderkey, o_totalprice FROM orders """ +
            s"""WHERE o_totalprice > ${rnd.nextInt(400000)} ORDER BY o_orderkey","limit_override":$lim}"""
          post("dbt_preview", "/dbt/preview", body)(okWith(b =>
            if (b.path("rows").isArray && b.path("plan").asText().nonEmpty) None
            else Some("preview without rows or plan")))
        case "metrics" => Single(Req("metrics", "GET", "/metrics", "",
          (code, b) => if (code == 200) None else Some(s"metrics status $code")))
        case "write" =>
          val (csv, rows) = csvs(i % csvs.size)
          WriteChain(i, csv, rows)
      }
    }
  }

  private def question(q: String) = s"""{"question":"$q"}"""

  private def rowsOf(b: JsonNode): String = b.path("rows").toString

  // ----------------------------------------------------------- the client

  final class Client(port: Int, tracer: Tracer, spark: SparkSession) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val samples = mutable.ArrayBuffer.empty[Sample]

    /** Send one request; returns status and parsed body, records a sample. */
    def send(route: String, method: String, path: String, body: String, write: Boolean,
        opId: Long)(check: (Int, JsonNode) => Option[String]): (Int, JsonNode) = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      val req = (if (method == "GET") b.GET() else if (method == "DELETE") b.DELETE()
        else b.POST(HttpRequest.BodyPublishers.ofString(body))
          .header("Content-Type", "application/json")).build()
      val t0 = System.nanoTime()
      val (code, json, err) =
        try {
          val r = tracer.span(spark, "http", route, opId) {
            http.send(req, HttpResponse.BodyHandlers.ofString())
          }
          val j =
            if (route == "metrics") mapper.createObjectNode()
            else mapper.readTree(r.body())
          (r.statusCode(), j, check(r.statusCode(), j))
        } catch {
          case NonFatal(e) => (0, mapper.createObjectNode(), Some(s"$route: ${e.getMessage}"))
        }
      samples += Sample(route, write, (System.nanoTime() - t0) / 1e6,
        err.map(e => s"$route $path: $e"))
      (code, json)
    }

    def run(op: Op, opId: Long): Unit = op match {
      case Single(r) => send(r.route, r.method, r.path, r.body, write = false, opId)(r.check)
      case WriteChain(id, csv, rows) =>
        val ok200 = status(200) _
        val name = s"bench w${Thread.currentThread().getId} $id"
        val (_, ns) = send("ns_create", "POST", "/namespace", s"""{"name":"$name"}""",
          write = true, opId)(ok200)
        val nsId = ns.path("id").asLong()
        val (_, t) = send("table_create", "POST", s"/namespace/$nsId/table",
          """{"name":"orders slice"}""", write = true, opId)(ok200)
        val tId = t.path("id").asLong()
        send("upload", "POST", s"/namespace/$nsId/table/$tId/upload",
          s"""{"path":"${csv.toString}"}""", write = true, opId)(okWith(b =>
            if (b.path("is_loaded").asBoolean()) None else Some("upload not loaded")))
        val (_, got) = send("table_get", "GET", s"/namespace/$nsId/table/$tId", "",
          write = false, opId)(ok200)
        // read the uploaded table back through the service: its
        // profile's row count must equal the CSV's
        val fq = s"${ns.path("schema_name").asText()}.${got.path("table_name").asText()}"
        send("dq_profile", "POST", "/dq/profile", s"""{"table":"$fq","limit":100000}""",
          write = false, opId)(okWith { b =>
            val n = b.path("profile").path("o_orderkey").path("count").asLong(-1)
            if (n == rows) None else Some(s"uploaded table has $n rows, CSV has $rows")
          })
        send("ns_delete", "DELETE", s"/namespace/$nsId", "", write = true, opId)(ok200)
    }
  }

  // ------------------------------------------------------------ the run

  def run(ctx: Ctx): (Double, Outcome) = {
    val args = ctx.args
    val dir = args.data.toString
    val work = args.work
    val uploads = Files.createDirectories(work.resolve("uploads")).toRealPath()
    val csvs = writeCsvSlices(ctx, uploads)
    val pins = ServePins.load(args.pins.resolveSibling("serve.txt"))
    var rep = 0
    val ((spark, facade), setupS) = Main.medianSetup(3) { () =>
      rep += 1
      val s = ctx.freshSession()
      graft.sources.Tables.registerAll(s, dir)
      val cat = new Catalog(s, work.resolve(s"catalog-$rep").toString)
      val f = new HttpFacade(s, new StubNlToSql, catalog = Some(cat),
        dbtRoot = () => Files.createDirectories(work.resolve("dbt")),
        schemaDocsPath = work.resolve("schema_docs.md").toString,
        uploadRoot = Some(uploads))
      f.start(0)
      new Client(f.port, new Tracer(false), s).send("health", "GET", "/health", "", false, 0)(status(200))
      (s, f)
    } { case (_, f) => f.stop() }

    // warm-up, counted in set-up time: one operation of each kind, so
    // the timed loop does not start with code generation and a cold JIT
    val warmT0 = System.nanoTime()
    runLoop(plan(args.seed + 1, 1, pins, csvs),
      Vector.fill(Clients)(new Client(facade.port, new Tracer(false), spark)))
    val warmS = (System.nanoTime() - warmT0) / 1e9

    val ops = plan(args.seed, OpsPerSecond * args.seconds, pins, csvs)
    ctx.startMeasuring()
    val clients = Vector.fill(Clients)(new Client(facade.port, ctx.tracer, spark))
    val t0 = System.nanoTime()
    runLoop(ops, clients)
    val loopS = (System.nanoTime() - t0) / 1e9
    val samples = clients.flatMap(_.samples)
    val reads = samples.filterNot(_.write).map(_.ms)
    val writes = samples.filter(_.write).map(_.ms)
    def p(xs: Seq[Double], q: Double) = Stats.percentile(xs, q).getOrElse(0.0)

    val layers = mutable.Map.empty[String, Double]
    val routeP50 = samples.groupBy(_.route).map { case (r, ss) => r -> p(ss.map(_.ms), 50) }
    layers("http.health_p50_ms") = routeP50.getOrElse("health", 0.0)
    for (r <- Seq("chat", "chat_agent", "dq_profile", "dq_check", "schema", "dbt_preview",
        "metrics", "upload"))
      layers(s"http.route_p50_ms.$r") = routeP50.getOrElse(r, 0.0)
    layers("serve.write_p50_ms") = p(writes, 50)
    layers("serve.write_p95_ms") = p(writes, 95)
    if (args.trace) layers ++= replay(ctx, spark, uploads, csvs, routeP50)
    facade.stop()

    (setupS + warmS, Outcome(
      attempted = samples.size, failures = samples.flatMap(_.error), timedS = loopS,
      e2e = Map("throughput_per_s" -> samples.size / loopS,
        "mean_ms" -> Stats.mean(reads).get, "tail_ms" -> Stats.tailMean(reads).get),
      named = Map("req_per_s" -> (samples.size / loopS, "1/s"),
        "read_samples" -> (reads.size.toDouble, "count"), "write_samples" -> (writes.size.toDouble, "count"),
        "read_p50_ms" -> (p(reads, 50), "ms"), "read_p95_ms" -> (p(reads, 95), "ms"),
        "write_p50_ms" -> (p(writes, 50), "ms"), "write_p95_ms" -> (p(writes, 95), "ms")),
      layers = layers.toMap))
  }

  /** Run `ops` in a closed loop: each client takes the next operation as
    * soon as its previous one is answered. */
  private def runLoop(ops: Vector[Op], clients: Vector[Client]): Unit = {
    val next = new AtomicInteger(0)
    val threads = clients.map { c =>
      val th = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < ops.size) { c.run(ops(i), i + 1L); i = next.getAndIncrement() }
      })
      th.start(); th
    }
    threads.foreach(_.join())
  }

  /** CSV slices of `orders` for the write chains: seeded start and
    * length within the exported head of the table, written once before
    * set-up. */
  private def writeCsvSlices(ctx: Ctx, dir: Path): IndexedSeq[(Path, Int)] = {
    val lines = Files.readAllLines(ctx.args.data.resolve("orders_head.csv")).asScala.toIndexedSeq
    val (header, rows) = (lines.head, lines.tail)
    val rnd = new Random(ctx.args.seed * 31 + 7)
    (0 until 8).map { i =>
      val n = 200 + rnd.nextInt(1800)
      val start = rnd.nextInt(rows.length - n)
      val p = dir.resolve(s"orders_slice_$i.csv")
      Files.writeString(p, rows.slice(start, start + n).mkString(header + "\n", "\n", "\n"))
      (p, n)
    }
  }

  /** Traced runs only: replay the routes' engine calls through the same
    * public functions the routes call, one span per call, so each layer
    * gets its own times and Spark counters. Outside the timed loop. */
  private def replay(ctx: Ctx, spark: SparkSession, uploads: Path,
      csvs: IndexedSeq[(Path, Int)], routeP50: Map[String, Double]): Map[String, Double] = {
    val tr = ctx.tracer
    val reps = 4
    val runner = new QueryRunner(spark, 200)
    val provider = new StubNlToSql
    val docs = SchemaDocs.buildMarkdown(spark)
    val agent = new Agent(spark, provider, docs, 200)
    val cat = new Catalog(spark, ctx.args.work.resolve("catalog-replay").toString)
    var refused = 0
    var answered = 0
    var steps = 0
    val questions = Seq(RevenueQuestion, CountQuestion) ++ UnsafeQuestions
    for (i <- 0 until reps) {
      val q = questions(i % questions.size)
      tr.span(spark, "chat", "chat.plan")(Planner.makePlan(q, docs))
      val md = tr.span(spark, "chat", "chat.gen")(provider.complete(q, 200))
      val sql = SqlGuard.extractSqlFromMarkdown(md)
      val safe = tr.span(spark, "sql", "sql.guard") {
        SqlGuard.isSafe(sql)._1 && (try { SqlGuard.validate(spark, sql); true }
          catch { case SqlGuard.IncorrectQuestionError(_) => false })
      }
      if (!safe) refused += 1
      else tr.span(spark, "sql", "sql.run")(runner.run(sql))
      val r = tr.span(spark, "chat", "chat.agent")(agent.run(CountQuestion))
      steps += r.candidates.size
      if (r.rows.nonEmpty) answered += 1

      val (t, key, num, _, _) = dqTables(i % dqTables.size)
      val df = spark.table(t).limit(2000).cache()
      tr.span(spark, "dq", "dq.profile")(Profiler.profile(df))
      val rules: Seq[Rule] = Seq(NotNullRule(key), UniqueRule(key), RangeRule(num, Some(0), None))
      tr.span(spark, "dq", "dq.check")(DqEngine.runChecks(df, rules, limit = 200000))
      df.unpersist()

      val ns = tr.span(spark, "catalog", "catalog.create") {
        val n = cat.createNamespace(s"replay $i")
        (n, cat.createTable(n.id, "orders slice"))
      }
      tr.span(spark, "catalog", "catalog.ingest")(cat.loadCsv(ns._2.id, csvs(i % csvs.size)._1.toString))
      tr.span(spark, "catalog", "catalog.delete")(cat.deleteNamespace(ns._1.id))
      tr.span(spark, "catalog", "catalog.schema_docs")(SchemaDocs.buildMarkdown(spark))
      tr.span(spark, "metrics", "metrics.export")(Metrics.exportPrometheus())
    }
    ctx.drainListeners()
    def med(name: String) = Stats.median(tr.durationsMs(name)).getOrElse(0.0)
    val export = Metrics.exportPrometheus()
    val histSamples = export.linesIterator.filter(l => l.contains("_count") && !l.startsWith("#"))
      .map(_.split("\\s+").last.toDouble).sum
    val ph = ctx.phases.all
    def phaseMed(f: ctx.phases.Phases => Double) = Stats.median(ph.map(f)).getOrElse(0.0)
    val runs = tr.durationsMs("sql.run").size
    val dqCalls = tr.durationsMs("dq.profile").size + tr.durationsMs("dq.check").size
    // route latency minus the engine time of the same route's calls,
    // averaged over the routes that have a replayed twin
    val twins = Map("chat" -> (med("chat.gen") + med("sql.guard") + med("sql.run")),
      "chat_agent" -> med("chat.agent"), "dq_profile" -> med("dq.profile"),
      "dq_check" -> med("dq.check"), "schema" -> med("catalog.schema_docs"),
      "metrics" -> med("metrics.export"), "upload" -> med("catalog.ingest"))
    val selfMs = twins.toSeq.flatMap { case (r, e) => routeP50.get(r).map(_ - e) }
    Map(
      "http.self_ms" -> (if (selfMs.isEmpty) 0.0 else selfMs.sum / selfMs.size),
      "sql.guard_ms" -> med("sql.guard"), "sql.run_ms" -> med("sql.run"),
      "sql.refused" -> refused.toDouble,
      "sql.analysis_ms" -> phaseMed(_.analysisMs), "sql.optimization_ms" -> phaseMed(_.optimizationMs),
      "sql.planning_ms" -> phaseMed(_.planningMs), "sql.exec_ms" -> phaseMed(_.execMs),
      "sql.jobs_per_run" -> (if (runs == 0) 0.0 else ctx.engine.layer("sql").jobs.toDouble / runs),
      "chat.plan_ms" -> med("chat.plan"), "chat.gen_ms" -> med("chat.gen"),
      "chat.agent_steps" -> steps.toDouble / reps, "chat.answered_frac" -> answered.toDouble / reps,
      "dq.profile_ms" -> med("dq.profile"), "dq.check_ms" -> med("dq.check"),
      "dq.jobs_per_request" -> (if (dqCalls == 0) 0.0 else ctx.engine.layer("dq").jobs.toDouble / dqCalls),
      "catalog.create_ms" -> med("catalog.create"), "catalog.ingest_ms" -> med("catalog.ingest"),
      "catalog.delete_ms" -> med("catalog.delete"), "catalog.schema_docs_ms" -> med("catalog.schema_docs"),
      "metrics.export_ms" -> med("metrics.export"), "metrics.hist_samples" -> histSamples)
  }
}

/** Pinned `/chat` answers, one `name rows-json` line each. */
final case class ServePins(pins: Map[String, String]) {
  def check(name: String, rows: String): Option[String] = pins.get(name) match {
    case Some(p) if p == rows => None
    case Some(p) => Some(s"$name answered $rows, pinned $p")
    case None => Some(s"$name has no pinned answer (got $rows)")
  }
}

object ServePins {
  def load(p: Path): ServePins =
    if (!Files.exists(p)) ServePins(Map.empty)
    else ServePins(scala.io.Source.fromFile(p.toFile).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+", 2); k -> v }.toMap)
}
