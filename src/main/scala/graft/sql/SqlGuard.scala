package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan}

/** SQL safety layer (SURVEY.md §2.5 V1–V7; reference
  * `src/sql_runner.py:7-51`, `src/route/chat.py:230-234`).
  *
  * Keeps the reference's lexical gates for behavioral parity (they are
  * stricter than necessary by design — e.g. the word "create" inside a
  * string literal is blocked), and ADDS a parse-level read-only check:
  * any statement whose parsed `LogicalPlan` is a `Command` (DDL, DML,
  * SET, EXPLAIN, …) is rejected — strictly stronger than regexes.
  *
  * [[validate]] parses each guarded statement exactly once and returns
  * that plan; [[QueryRunner]] rewrites and executes it. The reference's
  * two text rewrites are plan rewrites here: auto-LIMIT (V3) is
  * [[AutoLimitRule]], and the preview's LIMIT override (V7) replaces
  * the plan's root limit, so neither can ever produce a second LIMIT.
  */
object SqlGuard {

  /** Raised for unsafe/non-SELECT input (reference
    * `IncorrectQuestionError`). */
  final case class IncorrectQuestionError(message: String)
      extends Exception(message)

  // Accepts a leading WITH as well as SELECT: CTEs are a legal
  // read-only shape LLM providers commonly emit, and the parse-level
  // Command rejection below (stronger than any prefix regex) is what
  // actually guarantees read-only-ness. The reference's SELECT-only
  // prefix gate would burn agent refine steps on safe CTE SQL.
  private val SelectOnly = "(?is)^\\s*(SELECT|WITH)\\b".r
  private val Forbidden =
    "(?i)\\b(INSERT|UPDATE|DELETE|CREATE|DROP|ALTER|ATTACH|COPY|PRAGMA|EXPORT|IMPORT)\\b".r
  private val SqlBlock = "(?is)```sql(.*?)```".r
  private val BlockComment = "(?s)/\\*.*\\*/".r

  /** V6: pull the first ```sql fenced block, else the whole string. */
  def extractSqlFromMarkdown(s: String): String =
    SqlBlock.findFirstMatchIn(s).map(_.group(1).trim).getOrElse(s.trim)

  /** V1/V2 lexical gates + parse-level read-only check; throws
    * [[IncorrectQuestionError]] on violation, else returns the parsed
    * statement plan (the only parse of the statement). */
  def validate(spark: SparkSession, sql: String): LogicalPlan = {
    if (SelectOnly.findFirstIn(sql).isEmpty)
      throw IncorrectQuestionError("Question asked for incorrect output")
    if (Forbidden.findFirstIn(sql).isDefined)
      throw IncorrectQuestionError("Statement contains forbidden keywords")
    val plan =
      try spark.sessionState.sqlParser.parsePlan(sql)
      catch {
        case e: Exception =>
          throw IncorrectQuestionError(s"SQL does not parse: ${e.getMessage}")
      }
    if (plan.isInstanceOf[Command])
      throw IncorrectQuestionError("Only queries are allowed")
    plan
  }

  /** V1/V2/V4/V5 non-throwing safety check (reference `is_safe`):
    * (ok, reason). */
  def isSafe(sql: String): (Boolean, String) = {
    if (sql == null || sql.isEmpty) return (false, "empty")
    val body = sql.trim.replaceAll("^`+|`+$", "")
    if (Forbidden.findFirstIn(body).isDefined) return (false, "forbidden keyword")
    if (SelectOnly.findFirstIn(body).isEmpty) return (false, "only SELECT allowed")
    val noTrailing = body.trim.replaceAll(";+$", "")
    if (noTrailing.contains(";")) return (false, "multiple statements")
    if (BlockComment.findFirstIn(body).isDefined)
      return (false, "block comments not allowed")
    (true, "ok")
  }
}
