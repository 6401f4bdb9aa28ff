package graft.http

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec

/** What the DQ routes cost per request: which plans they run over
  * their cached sample, how many classes they compile and how many
  * Spark jobs they start. Own session, with the static-plan settings
  * serve runs under (`InputTuning`'s small-input regime: AQE off). */
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

  private def post(path: String, json: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${facade.port}$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(json)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def check(where: String, anomaly: Boolean = false): HttpResponse[String] = {
    val extra = if (anomaly) """,{"type":"anomaly","column":"o_totalprice","sigma":1}""" else ""
    post("/dq/check",
      s"""{"table":"orders","sample_limit":400,"where":"$where","rules":[
         |{"type":"not_null","column":"o_orderkey"},{"type":"unique","column":"o_custkey"},
         |{"type":"range","column":"o_totalprice","min":0,"max":300000}$extra]}""".stripMargin)
  }

  /** Executed plans of the queries `body` runs on [[session]]. */
  private def plansOf(body: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    session.listenerManager.register(listener)
    try {
      body
      flushListeners(session)
    } finally session.listenerManager.unregister(listener)
    plans.toArray(Array.empty[SparkPlan]).toSeq
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("plans over a DQ route's cached sample hold no limit inside a codegen stage") {
    val helper = new AdaptiveSparkPlanHelper {}
    val plans = plansOf {
      assert(check("o_totalprice > 1000", anomaly = true).statusCode() === 200)
      assert(post("/dq/profile",
        """{"table":"orders","limit":300,"where":"o_orderstatus = 'F'"}""").statusCode() === 200)
    }
    val overSample = plans.filter(p =>
      helper.collect(p) { case s: InMemoryTableScanExec => s }.nonEmpty)
    // check: profile pass 1 (with the rules), pass 2, outliers, sample
    // rows; profile: pass 1, pass 2, sample rows
    assert(overSample.size === 7, plans.map(_.treeString).mkString("\n"))
    overSample.foreach { p =>
      val fusedLimits = helper.collect(p) { case w: WholeStageCodegenExec => w }
        .flatMap(_.collect { case l: GlobalLimitExec => l; case l: LocalLimitExec => l })
      assert(fusedLimits.isEmpty, p.treeString)
    }
  }

  test("a repeated /dq/check compiles only its sample-build stages") {
    assert(check("o_totalprice > 1000").statusCode() === 200)
    assert(check("o_totalprice > 1000").statusCode() === 200)
    val before = compiles
    assert(check("o_totalprice > 2000").statusCode() === 200)
    // the new literal changes the scan-filter-limit stage and the
    // global-limit stage that build the cached sample; every query
    // over the sample reuses the classes of the requests before
    assert(compiles - before <= 2)
  }

  test("/dq/check runs three jobs, four with an anomaly rule") {
    assert(check("o_totalprice > 3000").statusCode() === 200)
    // profile pass 1 carrying the rules, profile pass 2, sample rows
    assert(jobsOf(assert(check("o_totalprice > 4000").statusCode() === 200)) === 3)
    // plus the outlier count
    assert(jobsOf(assert(check("o_totalprice > 5000", anomaly = true).statusCode() === 200)) === 4)
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
