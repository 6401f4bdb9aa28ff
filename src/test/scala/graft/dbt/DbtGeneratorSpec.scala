package graft.dbt

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.Limit

import graft.SparkSpec
import graft.dbt.DbtGenerator.DbtGenerationError
import graft.sql.{QueryRunner, SqlGuard}

/** dbt generation + preview (reference `src/dbt_generator.py`,
  * `src/route/chat.py:189-260`, `query.http:85-97`): golden output of
  * the deterministic generator, the reference's name
  * sanitization/injection edge cases, atomic materialization, and the
  * E2E preview flow (a model through the guarded runner with the
  * limit override, as `/dbt/preview` runs it).
  */
class DbtGeneratorSpec extends SparkSpec {

  private val gen = new StubDbtModelGen

  test("golden: retention request produces the canonical model + schema.yml") {
    // the reference's own dbt example (`query.http:85-88`)
    val m = DbtGenerator.generate(gen,
      "Build user retention by 2024 signup cohorts with weekly buckets and metric retention_7d",
      modelName = Some("mart_user_retention"))
    assert(m.modelName === "mart_user_retention")
    assert(m.files.keySet === Set("models/mart_user_retention.sql", "models/schema.yml"))
    val expectedSql =
      """SELECT date_trunc('week', signup_ts) AS cohort_week,
        |       count(DISTINCT user_id) AS cohort_users,
        |       count(DISTINCT CASE WHEN retained THEN user_id END) AS retained_users,
        |       round(count(DISTINCT CASE WHEN retained THEN user_id END)
        |             / count(DISTINCT user_id), 4) AS retention_7d
        |FROM (
        |  SELECT e.user_id,
        |         s.signup_ts,
        |         max(e.ts < s.signup_ts + INTERVAL 7 DAYS AND e.ts > s.signup_ts) AS retained
        |  FROM events e
        |  JOIN (SELECT user_id, min(ts) AS signup_ts FROM events GROUP BY user_id) s
        |    ON e.user_id = s.user_id
        |  WHERE s.signup_ts >= '2024-01-01' AND s.signup_ts < '2025-01-01'
        |  GROUP BY e.user_id, s.signup_ts
        |) cohorts
        |GROUP BY cohort_week
        |ORDER BY cohort_week""".stripMargin
    assert(m.modelSql === expectedSql)
    val expectedYaml =
      """version: 2
        |models:
        |  - name: mart_user_retention
        |    description: Generated by graft's deterministic dbt generator.
        |    columns:
        |      - name: cohort_week
        |        tests: [not_null, unique]
        |      - name: cohort_users
        |        tests: [not_null]
        |      - name: retained_users
        |        tests: [not_null]
        |      - name: retention_7d
        |        tests: [not_null]""".stripMargin
    assert(m.schemaYml === expectedYaml)
  }

  test("model name is sanitized like the reference") {
    assert(DbtGenerator.sanitizeModelName(" My Model! ") === "my_model")
    assert(DbtGenerator.sanitizeModelName("__a__b__") === "a_b")
    assert(DbtGenerator.sanitizeModelName("") === "generated_model")
    assert(DbtGenerator.sanitizeModelName("Модель***") === "generated_model")
    // no explicit name → derived from the (normalized) question
    val m = DbtGenerator.generate(gen, "  Total   revenue by nation  ")
    assert(m.modelName === "mart_total_revenue_by_nation")
  }

  test("final model name is injected into a drifting yaml") {
    val drifting = new DbtModelGen {
      def complete(q: String, docs: String, name: String): String =
        "```sql\nSELECT 1 AS x\n```\n" +
          "```yaml\nversion: 2\nmodels:\n  - name: wrong_name\n    columns: []\n```"
    }
    val m = DbtGenerator.generate(drifting, "anything", Some("right_name"))
    assert(m.schemaYml.contains("name: right_name"))
    assert(!m.schemaYml.contains("wrong_name"))
  }

  test("yaml without a recognizable models entry becomes the minimal stanza alone") {
    val headerless = new DbtModelGen {
      def complete(q: String, docs: String, name: String): String =
        "```sql\nSELECT 1 AS x\n```\n```yaml\n# just a comment\n```"
    }
    val m = DbtGenerator.generate(headerless, "anything", Some("fallback_case"))
    assert(m.schemaYml.startsWith("version: 2"))
    assert(m.schemaYml.contains("name: fallback_case"))
    // the reference prepends its stanza ON TOP of the provider yaml
    // (dbt_generator.py:111-117), yielding duplicate version/models
    // keys dbt cannot parse — the fallback must be a VALID document
    assert(!m.schemaYml.contains("# just a comment"))
    assert("version:".r.findAllIn(m.schemaYml).size === 1)
  }

  test("a PREFIX-drifted name is renamed, not substring-false-passed") {
    // 'name: retention_7d' CONTAINS 'name: retention' — the
    // reference's substring check skips the rename here and ships a
    // schema.yml naming a model the .sql file does not have
    val prefixDrift = new DbtModelGen {
      def complete(q: String, docs: String, name: String): String =
        "```sql\nSELECT 1 AS x\n```\n" +
          "```yaml\nversion: 2\nmodels:\n  - name: retention_7d\n    columns: []\n```"
    }
    val m = DbtGenerator.generate(prefixDrift, "anything", Some("retention"))
    assert(m.schemaYml.contains("name: retention\n"))
    assert(!m.schemaYml.contains("retention_7d"))
    // a QUOTED drifted name is renamed in place too (the reference
    // regex misses it and falls into the duplicate-stanza path)
    val quoted = new DbtModelGen {
      def complete(q: String, docs: String, name: String): String =
        "```sql\nSELECT 1 AS x\n```\n" +
          "```yaml\nversion: 2\nmodels:\n  - name: \"other\"\n    columns: []\n```"
    }
    val mq = DbtGenerator.generate(quoted, "anything", Some("wanted"))
    assert(mq.schemaYml.contains("name: wanted"))
    assert(!mq.schemaYml.contains("other"))
    assert(mq.schemaYml.contains("columns: []"), "provider yaml body kept")
    // a CORRECTLY-named entry with a trailing same-line comment must
    // pass the drift check unchanged — a false-fail would discard the
    // provider's whole yaml (column docs) for the minimal stub
    val commented = new DbtModelGen {
      def complete(q: String, docs: String, name: String): String =
        "```sql\nSELECT 1 AS x\n```\n" +
          "```yaml\nversion: 2\nmodels:\n  - name: keeper # weekly\n" +
          "    description: real docs\n    columns: []\n```"
    }
    val mc = DbtGenerator.generate(commented, "anything", Some("keeper"))
    assert(mc.schemaYml.contains("description: real docs"),
      "provider yaml must be kept verbatim")
  }

  test("a response violating the two-block contract raises DbtGenerationError") {
    val broken = new DbtModelGen {
      def complete(q: String, docs: String, name: String): String =
        "```sql\nSELECT 1\n```" // no yaml block
    }
    intercept[DbtGenerationError](
      DbtGenerator.generate(broken, "anything", Some("x")))
  }

  test("materialize writes model files atomically and overwrites cleanly") {
    val root = Files.createTempDirectory("graft-dbt")
    val m = DbtGenerator.generate(gen, "revenue mart", Some("mart_rev"))
    val written = DbtGenerator.materialize(root, m)
    assert(written.keySet === Set("models/mart_rev.sql", "models/schema.yml"))
    written.foreach { case (rel, abs) =>
      assert(Files.readString(Paths.get(abs)) === m.files(rel))
    }
    // overwrite (reference re-generates into the same dbt dir)
    val again = DbtGenerator.materialize(root, m)
    assert(again === written)
    // no temp-file litter left behind
    val stray = Files.list(root.resolve("models")).toArray.map(_.toString)
      .filter(_.endsWith(".tmp"))
    assert(stray.isEmpty)
  }

  test("E2E preview mirrors query.http:92-97: plan + rows with limit override") {
    val res = new QueryRunner(spark).run("SELECT 1 AS x", Some(10))
    // the override is a plan rewrite: the model SQL is returned as is
    // and the statement's plan carries the limit
    assert(res.sql === "SELECT 1 AS x")
    QueryRunner.limitTo(SqlGuard.validate(spark, res.sql), 10) match {
      case Limit(Literal(10, _), _) =>
      case p => fail(s"no LIMIT 10 at the plan root:\n$p")
    }
    assert(res.plan.contains("Physical Plan"))
    assert(res.rows === Seq("""{"x":1}"""))
    // unsafe model SQL is rejected by the guard, like /dbt/preview
    intercept[SqlGuard.IncorrectQuestionError](
      new QueryRunner(spark).run("DROP TABLE t"))
  }

  test("E2E: generated retention model executes over the testdata events table") {
    graft.sources.Tables.registerAll(spark, "/root/testdata/sf0.001")
    val m = DbtGenerator.generate(gen,
      "retention cohorts", Some("mart_user_retention"))
    val res = new QueryRunner(spark).run(m.modelSql, Some(50))
    assert(res.plan.contains("Physical Plan"))
    // testdata events span 2024, so cohorts must materialize
    assert(res.rows.nonEmpty)
  }
}
