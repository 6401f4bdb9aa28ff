package graft.http

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, GlobalLimitExec, LocalLimitExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.dq.{NotNullRule, RangeRule, UniqueRule}

/** What the DQ routes cost per request: which plans they run over
  * their table, and on which session, how many classes they compile
  * and how many Spark jobs they start. Own session, with the
  * static-plan settings serve runs under (`InputTuning`'s small-input
  * regime: AQE off). */
class DqServingSpec extends SparkSpec with BeforeAndAfterAll {

  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  private lazy val session = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    graft.sources.Tables.registerAll(s, "/root/testdata/sf0.001")
    s
  }

  private lazy val facade: HttpFacade = {
    val f = new HttpFacade(session)
    f.start()
    f
  }

  private def post(path: String, json: String, on: HttpFacade = facade): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${on.port}$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(json)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def check(where: String, anomaly: Boolean = false, max: Int = 300000,
      limit: Int = 400, on: HttpFacade = facade): HttpResponse[String] = {
    val extra = if (anomaly) """,{"type":"anomaly","column":"o_totalprice","sigma":1}""" else ""
    post("/dq/check",
      s"""{"table":"orders","sample_limit":$limit,"where":"$where","rules":[
         |{"type":"not_null","column":"o_orderkey"},{"type":"unique","column":"o_custkey"},
         |{"type":"range","column":"o_totalprice","min":0,"max":$max}$extra]}""".stripMargin, on)
  }

  /** Executed plans of the queries `body` runs on `on`. */
  private def plansOf(on: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    on.listenerManager.register(listener)
    try {
      body
      flushListeners(on)
    } finally on.listenerManager.unregister(listener)
    plans.toArray(Array.empty[SparkPlan]).toSeq
  }

  private val helper = new AdaptiveSparkPlanHelper {}

  private def overTable(plans: Seq[SparkPlan]): Seq[SparkPlan] =
    plans.filter(p => helper.collect(p) { case s: FileSourceScanExec => s }.nonEmpty)

  private def codegenStages(p: SparkPlan): Seq[WholeStageCodegenExec] =
    helper.collect(p) { case w: WholeStageCodegenExec => w }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** A check and a profile over `orders`, both with row cap `cap`. */
  private def checkAndProfile(cap: Int): Unit = {
    assert(check("o_totalprice > 1000", anomaly = true, limit = cap).statusCode() === 200)
    assert(post("/dq/profile",
      s"""{"table":"orders","limit":$cap,"where":"o_orderstatus = 'F'"}""").statusCode() === 200)
  }

  test("a DQ route runs one plan, with no limit inside a codegen stage") {
    // a sample capped above HttpFacade.InterpretedMaxRows keeps
    // generated code, on the facade's own session
    val plans = overTable(plansOf(session)(checkAndProfile(HttpFacade.InterpretedMaxRows + 1)))
    // the check's collect, then the profile's
    assert(plans.size === 2, plans.map(_.treeString).mkString("\n"))
    // the sample's projection is fused; the limit collects it
    assert(plans.forall(codegenStages(_).nonEmpty), plans.map(_.treeString).mkString("\n"))
    plans.foreach { p =>
      val fusedLimits = codegenStages(p)
        .flatMap(_.collect { case l: GlobalLimitExec => l; case l: LocalLimitExec => l })
      assert(fusedLimits.isEmpty, p.treeString)
    }
  }

  test("a DQ sample of at most 2 000 rows runs on the interpreted session, without codegen stages") {
    var onFacadeSession = Seq.empty[SparkPlan]
    val plans = overTable(plansOf(facade.dqSession) {
      onFacadeSession = overTable(plansOf(session)(checkAndProfile(HttpFacade.InterpretedMaxRows)))
    })
    assert(onFacadeSession.isEmpty, onFacadeSession.map(_.treeString).mkString("\n"))
    assert(plans.size === 2, plans.map(_.treeString).mkString("\n"))
    plans.foreach(p => assert(codegenStages(p).isEmpty, p.treeString))
  }

  test("after one warm request, a /dq/check with new literals compiles no class") {
    assert(check("o_totalprice > 1000", anomaly = true).statusCode() === 200)
    val before = compiles
    val r = check("o_totalprice > 2000", max = 250000)
    assert(compiles - before === 0)
    assert(check("o_totalprice > 2500", anomaly = true, max = 260000).statusCode() === 200)
    assert(compiles - before === 0)
    assert(r.statusCode() === 200, r.body())
    // the same answer as the generated-code path on the facade's session
    val sample = session.table("orders").where("o_totalprice > 2000").limit(400).cache()
    try {
      val want = graft.dq.DqEngine.runChecks(sample, Seq(NotNullRule("o_orderkey"),
        UniqueRule("o_custkey"), RangeRule("o_totalprice", Some(0), Some(250000))), limit = 200000)
      val got = mapper.readTree(r.body())
      assert(got.get("passed").asBoolean() === want.passed)
      assert(got.get("markdown_report").asText() === want.markdown)
      assert(got.get("sample_rows") ===
        mapper.readTree(graft.sql.QueryRunner.jsonRows(sample, 50).mkString("[", ",", "]")))
    } finally sample.unpersist()
  }

  test("a table's first small /dq/check compiles at most 3 classes") {
    val before = compiles
    val r = post("/dq/check",
      """{"table":"part","sample_limit":500,"where":"p_retailprice > 1000","rules":[
        |{"type":"not_null","column":"p_partkey"},{"type":"unique","column":"p_partkey"},
        |{"type":"range","column":"p_retailprice","min":0,"max":12000}]}""".stripMargin)
    assert(r.statusCode() === 200, r.body())
    assert(compiles - before <= 3)
  }

  test("/dq/check and /dq/profile each run one job, an anomaly rule included") {
    assert(check("o_totalprice > 3000").statusCode() === 200)
    // the sample's collect: profile, rules and sample rows fold over it
    assert(jobsOf(assert(check("o_totalprice > 4000").statusCode() === 200)) === 1)
    assert(jobsOf(assert(check("o_totalprice > 5000", anomaly = true).statusCode() === 200)) === 1)
    for (cap <- Seq(HttpFacade.InterpretedMaxRows, HttpFacade.InterpretedMaxRows + 1))
      assert(jobsOf(assert(post("/dq/profile",
        s"""{"table":"orders","limit":$cap,"where":"o_orderstatus = 'O'"}""")
        .statusCode() === 200)) === 1)
  }

  test("the interpreted session keeps the facade session's runtime AQE and time zone") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    graft.sources.Tables.registerAll(s, "/root/testdata/sf0.001")
    val f = new HttpFacade(s)
    f.start()
    try {
      assert(check("o_totalprice > 3000", on = f).statusCode() === 200)
      assert(jobsOf(assert(check("o_totalprice > 4000", on = f).statusCode() === 200)) === 1)
      assert(jobsOf(assert(check("o_totalprice > 5000", anomaly = true, on = f)
        .statusCode() === 200)) === 1)
      // registered after the interpreted session was cloned: the
      // sample is resolved on the facade's session
      s.sql("SELECT k, timestamp_seconds(1700000000 + k * 7919) AS ts FROM range(300) AS r(k)")
        .createOrReplaceTempView("stamps")
      val r = post("/dq/profile", """{"table":"stamps","limit":300}""", f)
      assert(r.statusCode() === 200, r.body())
      val ts = mapper.readTree(r.body()).path("profile").path("ts").path("timestamp")
      val sample = s.table("stamps").limit(300)
      val want = graft.dq.Profiler.profile(sample).find(_.column == "ts").get.timestamp.get
      assert(ts.path("min").asText() === want.min)
      assert(ts.path("max").asText() === want.max)
      // and the zone is not UTC's
      s.conf.set("spark.sql.session.timeZone", "UTC")
      val utc = graft.dq.Profiler.profile(sample).find(_.column == "ts").get.timestamp.get
      assert(utc.min !== want.min)
    } finally f.stop()
  }

  test("a rule on a missing column is a 400") {
    for (rule <- Seq("unique", "not_null", "range", "anomaly")) {
      val r = post("/dq/check",
        s"""{"table":"orders","rules":[{"type":"$rule","column":"no_such_column","min":0}]}""")
      assert(r.statusCode() === 400, r.body())
      assert(mapper.readTree(r.body()).get("detail").asText().contains("no_such_column"))
    }
  }

  override def afterAll(): Unit = {
    try facade.stop() finally super.afterAll()
  }
}
