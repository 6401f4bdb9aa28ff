package graft.sql

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, LocalLimitExec, QueryExecution, SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** [[QueryRunner.jsonRows]] previews without a generated limit and
  * must give the same strings as `df.limit(n).toJSON.collect()`. */
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

  /** The preview the runner gave before: the auto-limited frame's
    * `limit(previewRows).toJSON.collect()`. */
  private def before(sql: String): Seq[String] = {
    val parsed = spark.sessionState.sqlParser.parsePlan(sql)
    val base = spark.sql(sql)
    val df = if (new AutoLimitRule(rowLimit)(parsed) eq parsed) base else base.limit(rowLimit)
    df.limit(previewRows).toJSON.collect().toSeq
  }

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
}
