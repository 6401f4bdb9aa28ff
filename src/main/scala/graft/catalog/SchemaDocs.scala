package graft.catalog

import java.nio.charset.StandardCharsets
import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructField

/** Schema introspection → markdown docs (SURVEY.md §2.1 S7; reference
  * `src/schema_docs.py:26-66`, golden format `db/schema_docs.md`).
  * Used as retrieval context by the chat planner. Table listing comes
  * from `spark.catalog`; pk/not_null render from field nullability
  * (Spark has no PK) and per-column descriptions are caller-supplied.
  */
object SchemaDocs {

  /** Spark type → the DuckDB-style names the reference emits.
    * (LongType.sql is already "BIGINT"; only STRING needs renaming.) */
  private def typeName(f: StructField): String = f.dataType.sql match {
    case "STRING" => "VARCHAR"
    case other => other
  }

  /** Build the markdown for all tables in `db` (default database:
    * temp views included, mirroring the reference's schema `main`). */
  def buildMarkdown(
      spark: SparkSession,
      db: String = "default",
      descriptions: Map[String, Map[String, String]] = Map.empty): String = {
    val sb = new StringBuilder
    sb.append("# Data Warehouse Schema (auto-generated)\n\n")
    // Resolve through the listed table's own database — an unqualified
    // spark.table(name) would read from the CURRENT database instead
    // of `db`. Temp views have no database and stay unqualified.
    val tables = spark.catalog.listTables(db).collect()
      .map(t => t.name ->
        Option(t.database).filter(_.nonEmpty)
          .map(d => s"`$d`.`${t.name}`").getOrElse(t.name))
      .sortBy(_._1)
    for ((t, qualified) <- tables) {
      sb.append(s"## $t\n\n")
      sb.append("| column | type | pk | not_null | description |\n")
      sb.append("|---|---|---:|---:|---|\n")
      val schema = spark.table(qualified).schema
      for (f <- schema.fields) {
        val nn = if (!f.nullable) "1" else ""
        val descr = descriptions.getOrElse(t, Map.empty).getOrElse(f.name, "")
        sb.append(s"| ${f.name} | ${typeName(f)} |  | $nn | $descr |\n")
      }
      sb.append("\n")
    }
    sb.toString.stripTrailing() + "\n"
  }

  /** S8: write atomically ([[AtomicFile.replace]]). */
  def writeSchemaDocs(spark: SparkSession, path: String,
      db: String = "default",
      descriptions: Map[String, Map[String, String]] = Map.empty): String = {
    val md = buildMarkdown(spark, db, descriptions)
    val target = Paths.get(path)
    AtomicFile.replace(target, md.getBytes(StandardCharsets.UTF_8))
    target.toString
  }
}

/** Refresh-gated holder for the schema-docs markdown — the
  * reference's lru_cache'd `load_schema_docs` + `cache_clear`
  * (`route/chat.py:353`) as one injectable object, so the facade's
  * planner surface and an LLM provider's system prompt SHARE one
  * cache and can never disagree about which tables exist (and an LLM
  * call never re-walks the whole catalog per request). */
final class SchemaDocsCache(spark: org.apache.spark.sql.SparkSession) {
  @volatile private var cached: String = null
  def get: String = {
    var d = cached
    if (d == null) { d = SchemaDocs.buildMarkdown(spark); cached = d }
    d
  }
  def clear(): Unit = cached = null
}
