package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.catalog.Names
import graft.sql.SqlGuard

/** ScalaCheck properties (SURVEY.md §5.4): invariants that must hold
  * for arbitrary inputs, not just the unit-test corpus. Run natively
  * by sbt's ScalaCheck framework. */
object GuardProperties extends Properties("graft") {

  private val anyString: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '-', '!', '_', 'é', 'д')))
      .map(_.mkString)

  property("normalizeSchemaName yields a valid identifier, idempotently") =
    forAll(anyString.suchThat(_.nonEmpty)) { s =>
      val n = Names.normalizeSchemaName(s)
      Prop.all(
        Prop(n.nonEmpty && n.length <= Names.MaxLength) :| "bounded",
        Prop(n.matches("[a-z_][a-z0-9_]*")) :| s"identifier: $n",
        Prop(!n.contains("__")) :| "no collapsed runs",
        Prop(Names.normalizeSchemaName(n) == n) :| "idempotent")
    }

  property("isSafe never passes a forbidden keyword") = {
    val keywords = Gen.oneOf("INSERT", "UPDATE", "DELETE", "CREATE", "DROP",
      "ALTER", "ATTACH", "COPY", "PRAGMA", "EXPORT", "IMPORT")
    forAll(anyString, keywords, anyString) { (pre, kw, post) =>
      !SqlGuard.isSafe(s"$pre $kw $post")._1
    }
  }

  property("dbt model names sanitize to valid snake_case, idempotently") =
    forAll(anyString) { s =>
      val n = graft.dbt.DbtGenerator.sanitizeModelName(s)
      Prop.all(
        Prop(n.nonEmpty) :| "nonempty",
        Prop(n.matches("[a-z0-9]([a-z0-9_]*[a-z0-9])?|[a-z0-9]") ||
          n == "generated_model") :| s"snake_case: $n",
        Prop(!n.contains("__")) :| "no collapsed runs",
        Prop(graft.dbt.DbtGenerator.sanitizeModelName(n) == n) :| "idempotent")
    }

  property("extractBlock finds exactly what a two-block response contains") =
    forAll(
      Gen.alphaNumStr.suchThat(_.nonEmpty),
      Gen.alphaNumStr.suchThat(_.nonEmpty)) { (sqlBody, yamlBody) =>
      val md = s"```sql\n$sqlBody\n```\nprose\n```yaml\n$yamlBody\n```"
      graft.dbt.DbtGenerator.extractBlock(md, "sql").contains(sqlBody) &&
        graft.dbt.DbtGenerator.extractBlock(md, "yaml").contains(yamlBody) &&
        graft.dbt.DbtGenerator.extractBlock(sqlBody, "sql").isEmpty
    }

  property("config round-trips every dotted override through fromMap") =
    forAll(Gen.choose(1, 100000), Gen.choose(1, 100000)) { (a, b) =>
      val c = GraftConfig.fromMap(Map(
        "sql.row_limit" -> a.toString,
        "data_quality.max_limit" -> b.toString))
      c.sql.rowLimit == a && c.dataQuality.maxLimit == b
    }
}
