package graft.dbt

import java.nio.file.{Files, Path, StandardCopyOption}

/** dbt model generation + preview (reference
  * `src/dbt_generator.py:52-132`, routes `src/route/chat.py:189-260`,
  * examples `query.http:85-97`): a business request becomes one dbt
  * model SELECT plus a minimal `schema.yml` with tests. The preview
  * (`/dbt/preview`) runs the model through the façade's guarded
  * [[graft.sql.QueryRunner]] with its limit override (V7).
  *
  * The LLM call is behind [[DbtModelGen]] (network providers are out
  * of scope here, like [[graft.chat.NlToSql]]); everything around it —
  * strict two-block extraction, model-name sanitization, name
  * injection into the yaml, atomic file materialization —
  * is the reference's engine-side behavior, deterministic and tested.
  */
trait DbtModelGen {

  /** Return MARKDOWN with exactly two fenced blocks: a ```sql model
    * SELECT and a ```yaml schema (the reference's strict output
    * format, `src/dbt_generator.py:17-31`). */
  def complete(question: String, schemaDocs: String, modelName: String): String
}

/** Deterministic no-network generator: serves the reference's
  * canonical dbt request (the 2024 weekly-cohort `retention_7d` model,
  * `query.http:85-88`) and a revenue-mart shape over the testdata
  * schema; anything else becomes a smoke model. Output follows the
  * reference's strict two-block contract so the extraction path is
  * exercised end-to-end. */
class StubDbtModelGen extends DbtModelGen {

  override def complete(question: String, schemaDocs: String,
      modelName: String): String = {
    val q = question.toLowerCase
    val (sql, columns) =
      if (q.contains("retention"))
        ("""SELECT date_trunc('week', signup_ts) AS cohort_week,
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
           |ORDER BY cohort_week""".stripMargin,
          Seq("cohort_week" -> Seq("not_null", "unique"),
            "cohort_users" -> Seq("not_null"),
            "retained_users" -> Seq("not_null"),
            "retention_7d" -> Seq("not_null")))
      else if (q.contains("revenue"))
        ("""SELECT n_name AS nation,
           |       round(sum(o_totalprice), 2) AS revenue
           |FROM orders
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |GROUP BY n_name
           |ORDER BY revenue DESC""".stripMargin,
          Seq("nation" -> Seq("not_null", "unique"),
            "revenue" -> Seq("not_null")))
      else
        ("SELECT 1 AS x", Seq("x" -> Seq("not_null")))

    val yamlCols = columns.map { case (c, tests) =>
      s"""      - name: $c
         |        tests: [${tests.mkString(", ")}]""".stripMargin
    }.mkString("\n")
    val yaml =
      s"""version: 2
         |models:
         |  - name: $modelName
         |    description: Generated by graft's deterministic dbt generator.
         |    columns:
         |$yamlCols""".stripMargin

    s"```sql\n$sql\n```\n\n```yaml\n$yaml\n```"
  }
}

/** [[DbtModelGen]] backed by a real LLM provider (reference
  * `src/dbt_generator.py:76-132` calling `src/provider.py:103-110`):
  * the reference's dbt system prompt with schema docs, question and
  * suggested model name interpolated, dispatched through the same
  * chat-completions adapters as [[graft.chat.ProviderNlToSql]]. The
  * two-block contract is enforced downstream by
  * [[DbtGenerator.generate]]. */
class ProviderDbtModelGen(
    config: graft.chat.Providers.LlmConfig,
    transport: graft.net.HttpTransport) extends DbtModelGen {

  /** Reference `SYSTEM_PROMPT_DBT` (`src/dbt_generator.py:10-49`).
    * Schema docs / question / model name are concatenated AFTER
    * stripMargin — markdown schema lines start with `|`, which
    * stripMargin would eat (same trap as the NL→SQL prompt). */
  def systemPrompt(schemaDocs: String, question: String,
      modelName: String): String =
    """You are a senior Analytics Engineer who writes dbt models and tests.
      |
      |Goal:
      |- Convert a business request into a single dbt model SELECT (no DML/DDL) and a minimal schema.yml with tests.
      |- Model must be idempotent and read-only.
      |
      |Strict output format:
      |- Output exactly two fenced code blocks: 1) ```sql (the model SELECT), 2) ```yaml (version: 2 models: with name/description/columns/tests).
      |- Do NOT add any prose between blocks.
      |
      |Rules:
      |- SELECT only. FORBIDDEN: INSERT/UPDATE/DELETE/DDL/ATTACH/COPY.
      |- Prefer explicit column lists, stable aliases, and deterministic ordering when relevant.
      |- For year filters use BETWEEN y-01-01 AND (y+1)-01-01 (ISO timestamps).
      |- Use snake_case for columns and model names.
      |
      |Schema docs:
      |""".stripMargin + schemaDocs +
      "\n\nHints:\n- Business request: \"" + question + "\"\n" +
      "- Suggested model_name: \"" + modelName + "\"\n" +
      "- If the request implies keys or natural primary keys (e.g., id), add 'unique' test for that column.\n"

  override def complete(question: String, schemaDocs: String,
      modelName: String): String =
    graft.chat.Providers.complete(config, transport,
      systemPrompt(schemaDocs, question, modelName),
      "Produce the dbt model SELECT and schema.yml exactly as specified.")
}

final case class DbtModel(modelName: String, modelSql: String, schemaYml: String) {

  /** Repo-relative file map, the reference's response shape
    * (`src/route/chat.py:205-209`). NOTE: `models/schema.yml` is
    * written WHOLESALE per generation — the reference's exact file
    * map (`materialize_files_to_disk`) and the regenerate semantics
    * the facade builds on; a project holding several generated models
    * keeps only the LAST model's schema entry, so multi-model
    * projects should version the dbt root (the /dbt/pr flow does). */
  def files: Map[String, String] = Map(
    s"models/$modelName.sql" -> modelSql,
    "models/schema.yml" -> schemaYml)
}

object DbtGenerator {

  /** Raised when the generator violates the two-block contract
    * (reference `src/dbt_generator.py:98-100`). */
  final case class DbtGenerationError(message: String) extends Exception(message)

  private def blockRe(lang: String) =
    ("(?is)```" + lang + "\\s*(.*?)```").r

  /** First fenced block of `lang`, trimmed (reference `_extract_block`). */
  def extractBlock(text: String, lang: String): Option[String] =
    blockRe(lang).findFirstMatchIn(text).map(_.group(1).trim)

  /** Reference `_sanitize_model_name`: lowercase, non-word → `_`,
    * collapse repeats, trim edges, fallback `generated_model`. */
  def sanitizeModelName(name: String): String = {
    val cleaned = name.trim.toLowerCase
      .replaceAll("[^a-z0-9_]+", "_")
      .replaceAll("_+", "_")
      .replaceAll("^_|_$", "")
    if (cleaned.isEmpty) "generated_model" else cleaned
  }

  // accepts an optionally-quoted provider name so a drifted
  // `name: "my_model"` can still be renamed in place
  private val ModelNameLine =
    "(?s)(models:\\s*-\\s*name:\\s*)\"?([a-zA-Z0-9_\\-]+)\"?".r

  /** Whether the yaml's MODEL entry names `suggested` exactly. The
    * reference's `f"name: {suggested}" in yaml` substring test
    * (`src/dbt_generator.py:103`) false-passes on a PREFIX drift
    * (`name: retention_7d` contains `name: retention`) and on a
    * COLUMN that happens to carry the model's name — either way the
    * rename is skipped and schema.yml declares a model the written
    * `.sql` file does not have. Anchor on the models-list head and
    * require the name to END at a word boundary. */
  private def namesModel(yaml: String, suggested: String): Boolean =
    // trailing same-line `# comment` allowed: a correctly-named entry
    // must never false-fail and get its whole yaml (column docs)
    // discarded for the minimal stub
    ("(?s)models:\\s*-\\s*name:\\s*\"?" +
      java.util.regex.Pattern.quote(suggested) +
      "\"?[ \\t]*(#[^\\n]*)?(\\n|$)").r
      .findFirstIn(yaml).isDefined

  /** Generate a model from a business request: sanitize the target
    * name, call the provider, enforce the two-block contract, and
    * inject the final name into the yaml when the provider drifted
    * (reference `generate_dbt_model`, `src/dbt_generator.py:76-119`).
    */
  def generate(gen: DbtModelGen, question: String,
      modelName: Option[String] = None, schemaDocs: String = ""): DbtModel = {
    val qn = graft.chat.Planner.normalizeQuestion(question)
    val suggested = sanitizeModelName(
      modelName.getOrElse("mart_" + qn.take(32)))
    val out = gen.complete(qn, schemaDocs, suggested)
    val sqlBlock = extractBlock(out, "sql")
      .getOrElse(throw DbtGenerationError("generator did not return a sql block"))
    val yamlBlock0 = extractBlock(out, "yaml")
      .getOrElse(throw DbtGenerationError("generator did not return a yaml block"))

    val yamlBlock =
      if (namesModel(yamlBlock0, suggested)) yamlBlock0
      else {
        val renamed =
          ModelNameLine.replaceFirstIn(yamlBlock0, "$1" + suggested)
        if (namesModel(renamed, suggested)) renamed
        // Rename impossible (no recognizable models/name head): emit
        // the minimal stanza ALONE. The reference prepends it on top
        // of the provider yaml (`src/dbt_generator.py:111-117`), but
        // that concatenation duplicates the `version`/`models`
        // top-level keys — a document dbt cannot parse — so a valid
        // minimal schema beats preserving unparseable drift.
        else
          s"""version: 2
             |models:
             |  - name: $suggested
             |    description: Generated model
             |    columns: []
             |""".stripMargin
      }
    DbtModel(suggested, sqlBlock, yamlBlock)
  }

  /** S8-style atomic materialization of the model files under
    * `dbtRoot` (reference `materialize_files_to_disk` +
    * `io_utils.write_files_atomic`): each file written to a temp
    * sibling then atomically moved, so a crash never leaves a
    * half-written model in the dbt project. Returns path → absolute
    * written location. */
  def materialize(dbtRoot: Path, model: DbtModel): Map[String, String] =
    model.files.map { case (rel, body) =>
      val target = dbtRoot.resolve(rel)
      Files.createDirectories(target.getParent)
      val tmp = Files.createTempFile(target.getParent, "." + target.getFileName, ".tmp")
      Files.writeString(tmp, body)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      rel -> target.toAbsolutePath.toString
    }
}
