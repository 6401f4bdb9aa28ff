package graft.sql

import java.io.CharArrayWriter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonGenerator}
import org.apache.spark.sql.catalyst.plans.logical.{Limit, LimitAll, LogicalPlan, UnresolvedWith}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftshim.PlanFrame
import org.apache.spark.sql.types.StructType

/** Validated query execution (SURVEY.md §2.1 S5/S6 + §3.1 step 4;
  * reference `src/sql_runner.py:54-63`): guard → rewrite → execute →
  * formatted plan + bounded row preview. The statement is parsed once,
  * by [[SqlGuard.validate]]; its limit rewrite (V3 or V7) is applied to
  * that plan, and the frame is built from the rewritten plan. One
  * long-lived SparkSession replaces the reference's per-query DuckDB
  * reconnect; resource caps (V8) are fixed at session build (master
  * threads, shuffle partitions, driver memory) instead of
  * per-connection SETs.
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

  /** Run validated SQL: returns the SQL, the formatted plan, and up
    * to [[previewRows]] JSON rows. Without `limitOverride` the parsed
    * plan gets the auto-limit ([[AutoLimitRule]], V3); with one (the
    * dbt preview's V7; a non-positive value is ignored) the
    * statement's own root limit is set to it ([[QueryRunner.limitTo]]).
    */
  def run(markdownOrSql: String, limitOverride: Option[Int] = None): QueryResult = {
    val sql = SqlGuard.extractSqlFromMarkdown(markdownOrSql)
    val parsed = SqlGuard.validate(spark, sql)
    val plan = limitOverride.filter(_ > 0) match {
      case Some(n) => QueryRunner.limitTo(parsed, n)
      case None => autoLimit(parsed)
    }
    val t0 = System.nanoTime()
    val (planText, rows) = withTimeout {
      val df = PlanFrame.ofRows(spark, plan)
      (df.queryExecution.explainString(FormattedMode), preview(df))
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

  /** V7 on the parsed plan: the statement's root limit (a
    * `GlobalLimit`/`LocalLimit` pair or a `LIMIT ALL`, under a `WITH`
    * at most) becomes `LIMIT n`, keeping an `OFFSET` beneath it; a
    * statement without one is wrapped in `LIMIT n`. A limit anywhere
    * else bounds only its subtree and stays. */
  def limitTo(plan: LogicalPlan, n: Int): LogicalPlan = plan match {
    case w: UnresolvedWith => w.withNewChildren(Seq(limitTo(w.child, n)))
    case Limit(_, child) => Limit(Literal(n), child)
    case LimitAll(child) => Limit(Literal(n), child)
    case p => Limit(Literal(n), p)
  }

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
    * generated code. The collected internal rows are then written on
    * the driver, as `toJSON` writes them. */
  def jsonRows(df: DataFrame, n: Int): Seq[String] = {
    val limited = df.limit(n)
    jsonRows(limited.schema, PlanFrame.collectInternal(limited).toSeq,
      df.sparkSession.sessionState.conf.sessionLocalTimeZone)
  }

  /** `rows` of `schema` as JSON strings, written by a `JacksonGenerator`
    * with default JSON options in `timeZone`, as `toJSON` writes them. */
  def jsonRows(schema: StructType, rows: Seq[InternalRow], timeZone: String): Seq[String] = {
    val writer = new CharArrayWriter()
    val gen = new JacksonGenerator(schema, writer,
      new JSONOptions(Map.empty[String, String], timeZone))
    try rows.map { r =>
      gen.write(r)
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
