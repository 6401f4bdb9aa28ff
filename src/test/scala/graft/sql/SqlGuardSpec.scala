package graft.sql

import graft.SparkSpec
import graft.sql.SqlGuard.IncorrectQuestionError
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LogicalPlan}

class SqlGuardSpec extends SparkSpec {

  test("extract pulls the first sql fence, else whole string") {
    assert(SqlGuard.extractSqlFromMarkdown("```sql\nSELECT 1\n```") === "SELECT 1")
    assert(SqlGuard.extractSqlFromMarkdown("pre ```sql SELECT 2 ``` post") === "SELECT 2")
    assert(SqlGuard.extractSqlFromMarkdown("  SELECT 3  ") === "SELECT 3")
  }

  test("validate accepts plain SELECT and CTE queries") {
    // and returns the statement's parsed plan, the only parse it gets
    def tree(p: LogicalPlan) = p.treeString.replaceAll("#\\d+", "#n")
    for (q <- Seq("SELECT 1 AS x", "select x from (select 1 as x)",
        "WITH x AS (SELECT 1 AS a) SELECT a FROM x"))
      assert(tree(SqlGuard.validate(spark, q)) === tree(spark.sessionState.sqlParser.parsePlan(q)), q)
  }

  test("validate rejects non-SELECT and forbidden keywords") {
    intercept[IncorrectQuestionError](SqlGuard.validate(spark, "DROP TABLE t"))
    intercept[IncorrectQuestionError](SqlGuard.validate(spark, "SHOW TABLES"))
    // the reference's lexical gate blocks 'create' even inside a literal
    intercept[IncorrectQuestionError](
      SqlGuard.validate(spark, "SELECT 'create' AS word"))
    intercept[IncorrectQuestionError](
      SqlGuard.validate(spark, "SELECT 1; DROP TABLE t"))
  }

  test("isSafe mirrors the reference gates (query.http malicious case)") {
    assert(SqlGuard.isSafe("SELECT * FROM t")._1)
    assert(SqlGuard.isSafe("DELETE FROM t") === (false, "forbidden keyword"))
    // Deliberate deviation from the reference's ^SELECT anchor: CTEs
    // are read-only and common LLM output; the parse-level Command
    // rejection (validate) is what enforces safety.
    assert(SqlGuard.isSafe("WITH x AS (SELECT 1) SELECT * FROM x")._1)
    assert(SqlGuard.isSafe("WITH x AS (SELECT 1) DELETE FROM t")
      === (false, "forbidden keyword"))
    assert(SqlGuard.isSafe("SELECT 1; SELECT 2") === (false, "multiple statements"))
    assert(SqlGuard.isSafe("SELECT 1 /* DROP */") === (false, "forbidden keyword"))
    assert(SqlGuard.isSafe("SELECT 1 /* hidden */") === (false, "block comments not allowed"))
    assert(SqlGuard.isSafe("SELECT 1;")._1) // trailing semicolon ok
    assert(SqlGuard.isSafe("") === (false, "empty"))
    assert(SqlGuard.isSafe("```SELECT 1```")._1) // backticks stripped
  }

  /** The V7 override is [[QueryRunner.limitTo]] on the guarded parse:
    * overriding `sql` with `n` must give the parse of `expected`, the
    * SQL text that carries the override (expression ids masked). */
  private def assertOverride(sql: String, n: Int, expected: String): Unit = {
    def tree(p: LogicalPlan) = p.treeString.replaceAll("#\\d+", "#n")
    assert(tree(QueryRunner.limitTo(SqlGuard.validate(spark, sql), n))
      === tree(spark.sessionState.sqlParser.parsePlan(expected)), sql)
  }

  test("overrideLimit replaces a trailing LIMIT or appends one") {
    assertOverride("SELECT * FROM t LIMIT 200", 5, "SELECT * FROM t LIMIT 5")
    assertOverride("SELECT * FROM t", 5, "SELECT * FROM t\nLIMIT 5")
  }

  test("overrideLimit handles OFFSET tails and comment-trapped LIMITs") {
    // a trailing OFFSET belongs to the limit clause: replace the
    // count, keep the offset
    assertOverride("SELECT * FROM t LIMIT 10 OFFSET 5", 50,
      "SELECT * FROM t LIMIT 50 OFFSET 5")
    // 'LIMIT 10' inside a trailing line comment is no limit at all
    assertOverride("SELECT * FROM t -- cap LIMIT 10", 50,
      "SELECT * FROM t -- cap LIMIT 10\nLIMIT 50")
    // '--' inside a literal of any quote form, or inside a backtick
    // identifier, is not a comment: the trailing LIMIT is replaced
    for (where <- Seq("tag = 'a--b'", "s = 'it''s--x'", "s = 'a\n-- b'",
        "c = \"a--b\"", "s = 'it\\'s--x'"))
      assertOverride(s"SELECT * FROM t WHERE $where LIMIT 10", 50,
        s"SELECT * FROM t WHERE $where LIMIT 50")
    assertOverride("SELECT `x--y` FROM t LIMIT 10", 50, "SELECT `x--y` FROM t LIMIT 50")
    // a comment on an earlier line ends at its newline
    assertOverride("SELECT * FROM t -- note\nLIMIT 10", 50,
      "SELECT * FROM t -- note\nLIMIT 50")
    // a backslash inside backticks is literal, so the comment is real
    assertOverride("SELECT `a\\` FROM t -- LIMIT 10", 50,
      "SELECT `a\\` FROM t -- LIMIT 10\nLIMIT 50")
    // block comments, nested ones and a quote inside one hide nothing
    for (comment <- Seq("/* -- note */", "/* a /* -- b */ c */", "/* don't */"))
      assertOverride(s"SELECT * FROM t $comment LIMIT 10", 50,
        s"SELECT * FROM t $comment LIMIT 50")
  }

  test("overrideLimit appends cleanly after trailing semicolons/whitespace") {
    assertOverride("SELECT 1;\n", 50, "SELECT 1\nLIMIT 50")
    assertOverride("SELECT 1;;", 50, "SELECT 1\nLIMIT 50")
  }

  test("AutoLimitRule wraps unlimited parsed plans, leaves limited/command plans") {
    val rule = new AutoLimitRule(7)
    def parsed(sql: String) = spark.sessionState.sqlParser.parsePlan(sql)
    val unlimited = parsed("SELECT * FROM t")
    assert(rule(unlimited).isInstanceOf[GlobalLimit])
    val limited = parsed("SELECT * FROM t LIMIT 900")
    assert(rule(limited) eq limited)
    // "limit" as an identifier/inside a literal must not count
    assert(rule(parsed("SELECT 'limit 5' AS s FROM t")).isInstanceOf[GlobalLimit])
    val cmd = parsed("DROP TABLE t")
    assert(rule(cmd) eq cmd)
    // a LIMIT that bounds only a subtree must NOT suppress the cap on
    // an unbounded outer query
    assert(rule(parsed("SELECT * FROM t WHERE id IN (SELECT id FROM u LIMIT 1)"))
      .isInstanceOf[GlobalLimit])
    assert(rule(parsed("SELECT * FROM (SELECT * FROM t LIMIT 5) d"))
      .isInstanceOf[GlobalLimit])
    assert(rule(parsed("WITH c AS (SELECT * FROM t LIMIT 5) SELECT * FROM c"))
      .isInstanceOf[GlobalLimit])
    // root-adjacent user limits (under ORDER BY / WITH main branch) hold
    val sorted = parsed("SELECT * FROM t ORDER BY x LIMIT 9")
    assert(rule(sorted) eq sorted)
    val cteLimited = parsed("WITH c AS (SELECT * FROM t) SELECT * FROM c LIMIT 3")
    assert(rule(cteLimited) eq cteLimited)
  }

  test("QueryRunner caps unlimited queries, respects user limits and subqueries") {
    spark.range(1000).createOrReplaceTempView("autolimit_src")
    spark.range(50).createOrReplaceTempView("al_u")
    val runner = new QueryRunner(spark, rowLimit = 7, previewRows = 1000)
    assert(runner.run("SELECT id FROM autolimit_src").rows.length === 7)
    // explicit limit respected, not re-capped
    assert(runner.run("SELECT id FROM autolimit_src LIMIT 900").rows.length === 900)
    // IN-subquery queries execute (optimizer-phase injection crashed here)
    assert(runner.run(
      "SELECT id FROM autolimit_src WHERE id IN (SELECT id FROM al_u)")
      .rows.length === 7)
    // explicit LIMIT that EliminateLimits would erase still wins
    assert(runner.run("SELECT id FROM al_u LIMIT 100000").rows.length === 50)
  }

  test("query timeout cancels the job group and leaves the session usable") {
    val runner = new QueryRunner(spark, queryTimeoutMs = 1500)
    // cartesian square of 300M rows: cannot finish in 1.5s on local[4]
    spark.range(300L * 1000 * 1000).createOrReplaceTempView("slow_src")
    val err = intercept[Exception] {
      runner.run("SELECT COUNT(*) AS n FROM slow_src a, slow_src b")
    }
    assert(err.getMessage.contains("1500ms"))
    // the session must keep serving queries after the cancellation
    assert(new QueryRunner(spark).run("SELECT 1 AS x").rows.length === 1)
  }

  test("QueryRunner returns plan + bounded preview and records metrics") {
    spark.range(100).createOrReplaceTempView("qr_src")
    val before = graft.metrics.Metrics.counter("ai_requests_total",
      Map("route" -> "chat"))
    val runner = new QueryRunner(spark, rowLimit = 50, previewRows = 20)
    val res = runner.run("```sql\nSELECT id FROM qr_src\n```")
    assert(res.sql === "SELECT id FROM qr_src")
    assert(res.plan.contains("Physical Plan"))
    assert(res.rows.length === 20)
    assert(res.rows.head.startsWith("{\"id\":"))
    assert(before >= 0) // registry accessible
  }
}
