package graft.sql

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.{CollectLimitExec, FormattedMode, GlobalLimitExec, LocalLimitExec, QueryExecution, SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** [[QueryRunner.jsonRows]] previews without a generated limit and
  * must give the same strings as `df.limit(n).toJSON.collect()`; a
  * frame built from the guarded plan answers and plans as the frame
  * `spark.sql` built from the text did. */
class QueryRunnerPreviewSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  // four partitions; nulls, decimals, timestamps, escapes, nesting
  private lazy val fx = {
    val df = spark.range(0, 40, 1, 4).selectExpr(
      "id",
      "IF(id % 5 = 0, NULL, CAST(id * 1.25 AS DECIMAL(10, 2))) AS dec",
      "IF(id % 6 = 0, NULL, timestamp_seconds(1700000000 + id * 3601)) AS ts",
      "IF(id % 7 = 0, NULL, concat('s\"', CAST(id AS STRING), '\\\\é\\n')) AS s",
      "CAST(id AS DOUBLE) / 3 AS d",
      "array(id, NULL) AS arr",
      "named_struct('a', id, 'b', CAST(NULL AS STRING)) AS st",
      "map('k', IF(id % 2 = 0, NULL, id)) AS m",
      "date_add(DATE'2024-02-28', CAST(id AS INT)) AS day")
    df.createOrReplaceTempView("preview_fx")
    df
  }

  private val rowLimit = 200
  private val previewRows = 20

  /** The frame the runner ran before it built frames from the guarded
    * plan: `spark.sql` of the text, auto-limited by `df.limit`. */
  private def autoLimited(sql: String): DataFrame = {
    val parsed = spark.sessionState.sqlParser.parsePlan(sql)
    val base = spark.sql(sql)
    if (new AutoLimitRule(rowLimit)(parsed) eq parsed) base else base.limit(rowLimit)
  }

  /** The preview the runner gave before: the auto-limited frame's
    * `limit(previewRows).toJSON.collect()`. */
  private def before(sql: String): Seq[String] =
    autoLimited(sql).limit(previewRows).toJSON.collect().toSeq

  /** Formatted plan text with expression and exchange ids masked. */
  private def masked(plan: String): String =
    plan.replaceAll("#\\d+", "#n").replaceAll("plan_id=\\d+", "plan_id=n")

  private def executed(body: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 30000000000L
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[SparkPlan]).toSeq
  }

  private val queries = Seq(
    // auto-limited aggregates
    "SELECT count(*) AS n, sum(dec) AS total, max(ts) AS last, min(s) AS first_s FROM preview_fx",
    "SELECT id % 4 AS k, count(dec) AS n, avg(d) AS mean FROM preview_fx GROUP BY id % 4 ORDER BY k",
    // user limits, ordered and not
    "SELECT * FROM preview_fx ORDER BY id DESC LIMIT 7",
    "SELECT * FROM preview_fx WHERE id < 10 LIMIT 3",
    "SELECT * FROM preview_fx WHERE id < 10 LIMIT 30",
    // auto-limited rows with nulls, decimals and timestamps
    "SELECT * FROM preview_fx ORDER BY id",
    "SELECT s, dec, ts FROM preview_fx WHERE id = -1")

  test("preview rows equal the auto-limited frame's limit + toJSON") {
    fx
    val runner = new QueryRunner(spark, rowLimit, previewRows)
    for (q <- queries) assert(runner.run(q).rows === before(q), q)
  }

  test("jsonRows equals limit + toJSON on every type, short and long") {
    val ordered = fx.orderBy("id")
    for (n <- Seq(1, 20, 40, 100))
      assert(QueryRunner.jsonRows(ordered, n) === ordered.limit(n).toJSON.collect().toSeq)
    val nothing = fx.where("id < 0")
    assert(QueryRunner.jsonRows(nothing, 5).isEmpty)
  }

  test("previews run as a collect limit, or a top-k over a sort, never a fused limit") {
    fx
    val runner = new QueryRunner(spark, rowLimit, previewRows)
    def previewPlan(q: String): SparkPlan = {
      val ps = executed(runner.run(q))
      assert(ps.size === 1, q)
      stripAQEPlan(ps.head)
    }
    def limits(p: SparkPlan) =
      collect(p) { case l: GlobalLimitExec => l; case l: LocalLimitExec => l }
    // ORDER BY without LIMIT: the auto-limit makes it a top-k, not a sort
    val sorted = previewPlan("SELECT * FROM preview_fx ORDER BY id")
    assert(sorted.isInstanceOf[TakeOrderedAndProjectExec], sorted.treeString)
    assert(collect(sorted) { case s: SortExec => s }.isEmpty, sorted.treeString)
    val user = previewPlan("SELECT id FROM preview_fx LIMIT 5")
    assert(user.isInstanceOf[CollectLimitExec], user.treeString)
    // an aggregate's limit is a collect limit, or gone once adaptive
    // execution sees that the groups fit under it
    val agg = previewPlan("SELECT id % 4 AS k, count(*) AS n FROM preview_fx GROUP BY id % 4")
    Seq(sorted, user, agg).foreach(p => assert(limits(p).isEmpty, p.treeString))
  }

  test("the guarded plan answers and plans as spark.sql of the rewritten text did") {
    graft.sources.Tables.registerAll(spark, "/root/testdata/sf0.001")
    val runner = new QueryRunner(spark, rowLimit, previewRows = 1000)
    def check(got: QueryResult, parent: DataFrame, what: String): Unit = {
      assert(got.rows === QueryRunner.jsonRows(parent, 1000), what)
      assert(masked(got.plan) === masked(parent.queryExecution.explainString(FormattedMode)), what)
    }
    // serve's /dbt/preview model under three overrides, against the
    // text the V7 rewrite appended
    val model = "SELECT o_orderkey, o_totalprice FROM orders " +
      "WHERE o_totalprice > 150000 ORDER BY o_orderkey"
    for (n <- Seq(10, 37, 99)) {
      val got = runner.run(model, Some(n))
      assert(got.rows.size === n)
      check(got, spark.sql(model + "\nLIMIT " + n), s"LIMIT $n")
    }
    // serve's two /chat answers, a user LIMIT and an auto-limited count
    val stub = new graft.chat.StubNlToSql
    for (q <- Seq("top nations by revenue in 1995", "how many orders are there")) {
      val sql = SqlGuard.extractSqlFromMarkdown(stub.complete(q, rowLimit))
      check(runner.run(sql), autoLimited(sql), q)
    }
  }
}
