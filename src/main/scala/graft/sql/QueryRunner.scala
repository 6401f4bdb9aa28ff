package graft.sql

import java.io.CharArrayWriter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonGenerator}
import org.apache.spark.sql.execution.FormattedMode
import graft.metrics.Metrics

/** Validated query execution (SURVEY.md §2.1 S5/S6 + §3.1 step 4;
  * reference `src/sql_runner.py:54-63`): guard → execute → formatted
  * plan + bounded row preview. One long-lived SparkSession replaces
  * the reference's per-query DuckDB reconnect; resource caps (V8) are
  * fixed at session build (master threads, shuffle partitions, driver
  * memory) instead of per-connection SETs.
  */
class QueryRunner(
    spark: SparkSession,
    rowLimit: Int = 200,
    previewRows: Int = 20,
    queryTimeoutMs: Long = 0) {

  /** Raised when [[queryTimeoutMs]] elapses mid-query. The reference
    * CONFIGURED `sql.query_timeout_ms` (8000) but never enforced it
    * (`src/config.py:92` has no call site); here enforcement is real:
    * the query runs under a job group that a watchdog cancels. Carries
    * the underlying exception as its cause — a genuine analysis or
    * execution error racing the timer must stay diagnosable, not be
    * masked by the timeout wrapper. */
  final case class QueryTimeoutError(ms: Long, underlying: Throwable)
      extends Exception(s"query exceeded ${ms}ms and was cancelled", underlying)

  private val autoLimit = new AutoLimitRule(rowLimit)

  /** Run validated SQL: returns the executed SQL, the formatted plan,
    * and up to [[previewRows]] JSON rows. Auto-limit: the
    * [[AutoLimitRule]] is applied to the PARSED statement plan; when
    * it decides a cap is needed (no user limit anywhere), the
    * equivalent `df.limit(rowLimit)` is applied to the executed frame.
    */
  def run(markdownOrSql: String): QueryResult = {
    val sql = SqlGuard.extractSqlFromMarkdown(markdownOrSql)
    SqlGuard.validate(spark, sql)
    val t0 = System.nanoTime()
    val (planText, rows) = withTimeout {
      val parsed = spark.sessionState.sqlParser.parsePlan(sql)
      val base = spark.sql(sql)
      val df = if (autoLimit(parsed) eq parsed) base else base.limit(rowLimit)
      val plan = df.queryExecution.explainString(FormattedMode)
      (plan, preview(df))
    }
    val ms = (System.nanoTime() - t0) / 1000000
    // NB: no metrics here — the agent route aggregates and observes
    // ai_sql_exec_ms once per request (reference `chat.py:173`);
    // observing per-query too would double-count.
    QueryResult(sql, planText, rows, ms)
  }

  /** Enforce [[queryTimeoutMs]] (0 = unlimited) by running the body
    * under a cancellable job group watched by a timer thread — Spark's
    * cooperative cancellation path, so executors stop doing work
    * rather than being abandoned. */
  private def withTimeout[A](body: => A): A = {
    if (queryTimeoutMs <= 0) return body
    val group = s"graft-query-${java.util.UUID.randomUUID()}"
    val sc = spark.sparkContext
    sc.setJobGroup(group, "guarded query", interruptOnCancel = true)
    val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
    val watchdog = new java.util.Timer("graft-query-watchdog", true)
    watchdog.schedule(new java.util.TimerTask {
      override def run(): Unit = {
        timedOut.set(true)
        // ...AndFutureJobs: plain cancelJobGroup cancels only jobs
        // already RUNNING, so a timeout firing during parse/analysis/
        // planning (or between a query's jobs) would be a silent
        // no-op and the collect() submitted afterwards would run
        // unbounded. The group is a fresh UUID per call, so "future"
        // can never leak onto another query.
        sc.cancelJobGroupAndFutureJobs(group)
      }
    }, queryTimeoutMs)
    try body
    catch {
      case e: Exception if timedOut.get() =>
        throw QueryTimeoutError(queryTimeoutMs, e)
    } finally {
      watchdog.cancel()
      sc.clearJobGroup()
    }
  }

  /** Head-N preview as JSON rows (reference head-20 `to_dict`). */
  def preview(df: DataFrame): Seq[String] = QueryRunner.jsonRows(df, previewRows)

}

object QueryRunner {

  /** The first `n` rows of `df` as JSON strings, each written as
    * `df.limit(n).toJSON.collect()` writes it, without the generated
    * class that expression compiles on every call. Which `n` rows a
    * frame with no total order yields is up to Spark either way.
    *
    * Under `toJSON` the limit is not the plan's root, so Spark plans it
    * as `GlobalLimitExec`/`LocalLimitExec` fused into a whole-stage
    * codegen stage, and each limit names its counter from a JVM-wide
    * sequence (see [[graft.LocalSpark]]): the stage's source differs
    * on every call and Janino compiles it again. With the limit at the
    * root, `collect` plans it as `CollectLimitExec`, or as
    * `TakeOrderedAndProjectExec` over a sort, neither of which is
    * generated code. The rows are then written on the driver the way
    * `toJSON` writes them: through the frame's row encoder into a
    * `JacksonGenerator` with default JSON options in the session time
    * zone. */
  def jsonRows(df: DataFrame, n: Int): Seq[String] = {
    val limited = df.limit(n)
    val rows = limited.collect()
    val schema = limited.schema
    val toRow = ExpressionEncoder(schema).createSerializer()
    val writer = new CharArrayWriter()
    val gen = new JacksonGenerator(schema, writer, new JSONOptions(Map.empty[String, String],
      df.sparkSession.sessionState.conf.sessionLocalTimeZone))
    try rows.toSeq.map { r =>
      gen.write(toRow(r))
      gen.flush()
      val json = writer.toString
      writer.reset()
      json
    } finally gen.close()
  }
}

/** §3.1 response shape (`{sql, plan, rows}` + timing). */
final case class QueryResult(
    sql: String,
    plan: String,
    rows: Seq[String],
    execMs: Long)
