package graft.http

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.CodegenObjectFactoryMode
import org.apache.spark.sql.graftshim.{PlanFrame, SessionClone}
import org.apache.spark.sql.internal.SQLConf

import graft.catalog.{Catalog, SchemaDocs}
import graft.chat.{Agent, NlToSql, StubNlToSql}
import graft.dbt.{DbtGenerator, DbtModelGen, StubDbtModelGen}
import graft.dq.{AnomalyRule, DqEngine, FreshnessRule, NotNullRule, RangeRule, Rule, UniqueRule, UnknownRule}
import graft.metrics.Metrics
import graft.sql.QueryRunner
import graft.sql.SqlGuard.IncorrectQuestionError

/** Thin HTTP façade over the engine services (reference
  * `src/main.py:28-50`, `src/route/chat.py:41-341`,
  * `src/route/namespace.py:28-85`): same endpoints, same response
  * shapes (`{sql, plan, rows}`, `{passed, results, markdown_report,
  * sample_rows}`, …), no framework — the JDK's built-in
  * `com.sun.net.httpserver` plus the Jackson that already ships with
  * Spark, so the parity surface stays visible without any new
  * dependency or network egress. Heavy lifting all happens in the
  * engine classes this wraps; handlers only translate JSON ↔ calls.
  *
  * The reference features that need the network are injected: the
  * LLM provider ([[NlToSql]]), the GitHub client behind `/dbt/pr`
  * ([[graft.git.GitHubClient]]) and the Prefect-style orchestrator
  * behind `/orchestrate/run` and `/orchestrate/status/{id}`
  * ([[graft.orchestrate.Orchestrator]]). A route whose client is not
  * configured answers 400.
  */
class HttpFacade(
    spark: SparkSession,
    provider: NlToSql = new StubNlToSql,
    dbtGen: DbtModelGen = new StubDbtModelGen,
    catalog: Option[Catalog] = None,
    github: Option[graft.git.GitHubClient] = None,
    orchestrator: Option[graft.orchestrate.Orchestrator] = None,
    dbtRoot: () => Path = () => Files.createTempDirectory("graft-dbt"),
    schemaDocsPath: String = "db/schema_docs.md",
    demoDataDir: String = "demo_data",
    uploadRoot: Option[Path] = None,
    rowLimit: Int = 200,
    queryTimeoutMs: Long = 0,
    bindHost: String = "127.0.0.1",
    dq: graft.DataQualityConfig = graft.DataQualityConfig(),
    // Schema docs for the planner/dbt surfaces: cached like the
    // reference's lru_cache'd load_schema_docs and cleared ONLY by
    // POST /schema/refresh (`route/chat.py:353` cache_clear) — a
    // plain lazy val would hand /chat and /dbt/generate the
    // pre-refresh markdown for the facade's lifetime while GET
    // /schema recomputes fresh. Injectable so an externally-built
    // LLM provider (GraftConfig.buildFacade) can SHARE the same
    // refresh-gated cache instead of freezing its own copy or
    // re-walking the catalog per call.
    docsCache: graft.catalog.SchemaDocsCache = null) {

  private val mapper = new ObjectMapper()
  private val docs: graft.catalog.SchemaDocsCache =
    Option(docsCache).getOrElse(new graft.catalog.SchemaDocsCache(spark))
  private def schemaDocs: String = docs.get
  private lazy val agent =
    new Agent(spark, provider, schemaDocs, rowLimit, queryTimeoutMs)
  /** Where the DQ routes evaluate a sample of at most
    * [[HttpFacade.InterpretedMaxRows]] rows: [[HttpFacade.interpreted]]
    * of [[spark]], cloned on the first such request, so it keeps the
    * settings and views the session had then. */
  private[http] lazy val dqSession: SparkSession = HttpFacade.interpreted(spark)
  // Both SQL-executing routes (/chat* via the agent's runner, and
  // /dbt/preview via this one) carry the configured V8 timeout. The
  // DQ routes are bounded differently: their scans are row-clamped by
  // sampled() to dq.maxLimit before any work runs.
  private lazy val previewRunner =
    new QueryRunner(spark, rowLimit, queryTimeoutMs = queryTimeoutMs)
  // One dbt project root per facade (resolved once): repeated
  // /dbt/generate writes must overwrite into the SAME project, the
  // reference's regenerate semantics — not scatter one temp dir per
  // request.
  private lazy val resolvedDbtRoot: Path = dbtRoot()

  private var server: HttpServer = _
  private var executor: java.util.concurrent.ExecutorService = _

  /** Bound port after [[start]] (useful with port=0 in tests). */
  def port: Int = server.getAddress.getPort

  /** Bind [[bindHost]] (reference `server.host`, default loopback here
    * — binding wider is an explicit config decision, `main.py` runs
    * uvicorn on `settings.server.host`). */
  def start(portWanted: Int = 0): Unit = synchronized {
    require(server == null, "already started")
    server = HttpServer.create(new InetSocketAddress(bindHost, portWanted), 0)
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    // Small fixed pool, NOT the calling thread: the reference's single
    // granian worker is an async worker that serves requests
    // concurrently — serializing behind one thread would let any slow
    // profile/preview block /health and /metrics for its full
    // duration. SparkSession is thread-safe for concurrent queries.
    executor = java.util.concurrent.Executors.newFixedThreadPool(8)
    server.setExecutor(executor)
    server.start()
  }

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null }
    if (executor != null) { executor.shutdown(); executor = null }
    // The facade's stop is its session's end of life: drop every
    // session cache with it — otherwise the cached/persisted frames
    // (shingle index, pair graph, candidate intersections, ANN
    // signatures, media hash frames, relation handles) pin the stopped
    // session's memory until JVM exit. A facade sharing a session
    // with a longer-lived one should run on `spark.newSession()`.
    graft.SessionCache.invalidate(spark)
  }

  // ------------------------------------------------------------ dispatch

  private def handle(ex: HttpExchange): Unit = {
    // Handler threads are the pool's, not the session's: without this,
    // Spark code that reads `SQLConf.get` outside a Dataset action sees
    // default settings instead of this session's. That includes the
    // JVM-wide code cache, which takes its size from the first thread
    // that generates code (see graft.LocalSpark).
    SparkSession.setActiveSession(spark)
    val method = ex.getRequestMethod
    val path = ex.getRequestURI.getPath.stripSuffix("/") match {
      case "" => "/"
      case p => p
    }
    val body =
      try new String(ex.getRequestBody.readAllBytes(), UTF_8)
      catch { case NonFatal(_) => "" }
    val (status, contentType, payload) =
      try route(method, path, body)
      catch {
        case IncorrectQuestionError(m) => (400, "application/json", detail(m))
        // reference maps GitHubError to 400 (`chat.py:277-278`)
        case graft.git.GitHubClient.GitHubError(m) =>
          (400, "application/json", detail(m))
        case e: IllegalArgumentException =>
          (400, "application/json", detail(Option(e.getMessage).getOrElse("bad request")))
        // a nonexistent table name or unparseable predicate in a DQ
        // body is a CALLER error like any other malformed request —
        // Spark just reports it as AnalysisException, which must not
        // fall through to the 500 branch
        case e: org.apache.spark.sql.AnalysisException =>
          (400, "application/json", detail(e.getMessage))
        // lost race with concurrent traffic (demo load vs namespace
        // delete) — the request was well-formed, so 409 not 400/500
        case graft.catalog.Catalog.ConcurrentModification(m) =>
          (409, "application/json", detail(m))
        case NonFatal(e) =>
          (500, "application/json",
            detail(Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
      }
    val bytes = payload.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private val NamespaceId = "^/namespace/(\\d+)$".r
  private val NamespaceTables = "^/namespace/(\\d+)/table$".r
  private val NamespaceTable = "^/namespace/(\\d+)/table/(\\d+)$".r
  private val TableUpload = "^/namespace/(\\d+)/table/(\\d+)/upload$".r
  private val OrchestrateStatus = "^/orchestrate/status/([^/]+)$".r

  private def route(method: String, path: String,
      body: String): (Int, String, String) = (method, path) match {
    case ("GET", "/health") => okJson(obj("status" -> "ok"))
    case ("GET", "/description") =>
      okJson(obj("message" -> "Here will be a description of database"))
    case ("GET", "/schema") =>
      okJson(obj("schema_markdown" -> SchemaDocs.buildMarkdown(spark)))
    case ("POST", "/schema/refresh") =>
      val written = SchemaDocs.writeSchemaDocs(spark, schemaDocsPath)
      docs.clear() // the reference's cache_clear (chat.py:353)
      okJson(obj(
        "schema_docs_path" -> written,
        "size_bytes" -> Files.size(java.nio.file.Paths.get(written))))
    case ("GET", "/metrics") =>
      (200, "text/plain; version=0.0.4; charset=utf-8", Metrics.exportPrometheus())
    case ("POST", "/chat") => chat(parse(body))
    case ("POST", "/chat/agent") => chatAgent(parse(body))
    case ("POST", "/dq/profile") => dqProfile(parse(body))
    case ("POST", "/dq/check") => dqCheck(parse(body))
    case ("POST", "/dbt/generate") => dbtGenerate(parse(body))
    case ("POST", "/dbt/preview") => dbtPreview(parse(body))
    case ("POST", "/dbt/pr") => dbtPr(parse(body))
    case ("POST", "/orchestrate/run") => orchestrateRun(parse(body))
    case ("GET", OrchestrateStatus(id)) => orchestrateStatus(id)
    case ("GET", "/namespace") => nsList()
    case ("POST", "/namespace") => nsCreate(parse(body))
    case ("POST", "/namespace/demo-upload") => demoUpload()
    case ("GET", NamespaceId(id)) => nsGet(id.toLong)
    case ("PUT", NamespaceId(id)) => nsUpdate(id.toLong, parse(body))
    case ("DELETE", NamespaceId(id)) => nsDelete(id.toLong)
    case ("GET", NamespaceTables(id)) => nsTables(id.toLong)
    case ("POST", NamespaceTables(id)) => nsCreateTable(id.toLong, parse(body))
    case ("GET", NamespaceTable(ns, t)) => tblGet(ns.toLong, t.toLong)
    case ("PUT", NamespaceTable(ns, t)) => tblUpdate(ns.toLong, t.toLong, parse(body))
    case ("DELETE", NamespaceTable(ns, t)) => tblDelete(ns.toLong, t.toLong)
    case ("POST", TableUpload(ns, tid)) =>
      tableUpload(ns.toLong, tid.toLong, parse(body))
    case _ => (404, "application/json", detail("Not Found"))
  }

  // ------------------------------------------------------------- handlers

  /** `POST /chat` → `{sql, plan, rows}` (reference `chat.py:41-53`). */
  private def chat(in: JsonNode): (Int, String, String) = {
    val res = agent.chat(reqString(in, "question"))
    okJson(obj("sql" -> res.sql, "plan" -> res.plan,
      "rows" -> rawRows(res.rows)))
  }

  /** `POST /chat/agent` → `{plan, candidates, chosen_sql, rows,
    * explain, telemetry}` (reference `chat.py:75-184`). */
  private def chatAgent(in: JsonNode): (Int, String, String) = {
    val maxSteps = optInt(in, "max_steps").getOrElse(2)
    val r = agent.run(reqString(in, "question"), maxSteps)
    val cands = arr(r.candidates.map(c => obj("sql" -> c.sql, "reason" -> c.reason)))
    val telemetry = obj(r.telemetry.toSeq.sortBy(_._1).map {
      case (k, v) => k -> (v: Any)
    }: _*)
    r.lastError.foreach(e => telemetry.put("last_error", e))
    okJson(obj(
      "plan" -> r.plan, "candidates" -> cands, "chosen_sql" -> r.chosenSql,
      "rows" -> rawRows(r.rows), "explain" -> r.explain,
      "telemetry" -> telemetry))
  }

  /** Resolve + sample a table like the reference's S4 scan
    * (`src/dq.py:18-28`): `table` is a catalog/view identifier, the
    * optional predicate and clamped limit bound the scan. The sample is
    * resolved on [[spark]], so it sees the tables and views the session
    * has now; one capped at [[HttpFacade.InterpretedMaxRows]] rows then
    * runs on [[dqSession]], without generated code. */
  private def sampled(in: JsonNode, limitField: String): DataFrame = {
    val table = reqString(in, "table")
    val limit = optInt(in, limitField).getOrElse(dq.defaultLimit)
    val clamped = math.max(1, math.min(limit, dq.maxLimit))
    val base = spark.table(table)
    val df = optString(in, "where").foldLeft(base)((d, p) => d.where(p)).limit(clamped)
    if (clamped > HttpFacade.InterpretedMaxRows) df
    else PlanFrame.ofRows(dqSession, df.queryExecution.analyzed)
  }

  /** `POST /dq/profile` → `{profile, sample_rows}` (reference
    * `chat.py:289-297`). */
  private def dqProfile(in: JsonNode): (Int, String, String) = {
    Metrics.inc("dq_requests_total", Map("route" -> "profile"))
    val df = sampled(in, "limit").cache()
    try {
      val prof = graft.dq.Profiler.profile(df)
      okJson(obj(
        "profile" -> obj(prof.map(p => p.column -> (profileJson(p): Any)): _*),
        "sample_rows" -> rawRows(QueryRunner.jsonRows(df, 20))))
    } finally df.unpersist()
  }

  /** `POST /dq/check` → `{passed, results, markdown_report,
    * sample_rows}` (reference `chat.py:323-341`). */
  private def dqCheck(in: JsonNode): (Int, String, String) = {
    val rules = Option(in.get("rules")).map(_.elements())
      .map(it => Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq)
      .getOrElse(Nil)
      .map(parseRule)
    // Cache for the whole request: the rule evaluation and the
    // returned sample_rows must come from the SAME materialized sample
    // — an uncached limit() over a multi-file table returns whichever
    // partitions answer first, so a second scan could hand back rows
    // that were never checked.
    val df = sampled(in, "sample_limit").cache()
    try {
      val report = DqEngine.runChecks(df, rules, limit = dq.maxLimit)
      val results = arr(report.results.map(r => obj(
        "rule" -> r.rule, "column" -> r.column, "passed" -> r.passed,
        "details" -> obj(r.details.toSeq.sortBy(_._1).map {
          case (k, v) => k -> (v: Any)
        }: _*))))
      okJson(obj(
        "passed" -> report.passed, "results" -> results,
        "markdown_report" -> report.markdown,
        "sample_rows" -> rawRows(QueryRunner.jsonRows(df, 50))))
    } finally df.unpersist()
  }

  /** Reference `DQRule` dict → [[Rule]] ADT (`src/dq.py:159-170`). */
  private def parseRule(n: JsonNode): Rule = {
    val col = optString(n, "column").getOrElse("")
    optString(n, "type").getOrElse("") match {
      case "not_null" => NotNullRule(col)
      case "unique" => UniqueRule(col)
      case "range" =>
        RangeRule(col, optDouble(n, "min"), optDouble(n, "max"))
      case "freshness" =>
        FreshnessRule(col, optDouble(n, "max_age_hours").getOrElse(24.0))
      case "anomaly" =>
        AnomalyRule(col, optDouble(n, "sigma").getOrElse(dq.defaultSigma))
      case other => UnknownRule(other, col)
    }
  }

  /** `POST /dbt/generate` → `{model_name, files, written_paths}`
    * (reference `chat.py:199-222`). */
  private def dbtGenerate(in: JsonNode): (Int, String, String) = {
    val model = DbtGenerator.generate(dbtGen, reqString(in, "question"),
      optString(in, "model_name"), schemaDocs)
    val out = obj(
      "model_name" -> model.modelName,
      "files" -> obj(model.files.toSeq.map { case (k, v) => k -> (v: Any) }: _*))
    if (optBool(in, "write").getOrElse(false)) {
      val written = DbtGenerator.materialize(resolvedDbtRoot, model)
      out.set[ObjectNode]("written_paths",
        obj(written.toSeq.map { case (k, v) => k -> (v: Any) }: _*))
    } else out.putNull("written_paths")
    okJson(out)
  }

  /** `POST /dbt/preview` → `{plan, rows}` (reference `chat.py:226-236`). */
  private def dbtPreview(in: JsonNode): (Int, String, String) = {
    val res = previewRunner.run(reqString(in, "model_sql"), optInt(in, "limit_override"))
    okJson(obj("plan" -> res.plan, "rows" -> rawRows(res.rows)))
  }

  /** `POST /dbt/pr` → `{branch, files_committed, pr_url}` (reference
    * `chat.py:255-278`): create/reuse the branch, upsert every file
    * with the reference's commit message, open the PR. */
  private def dbtPr(in: JsonNode): (Int, String, String) = {
    val gh = github.getOrElse(
      throw new IllegalArgumentException("github client not configured"))
    val branch = reqString(in, "branch")
    val base = optString(in, "base")
    gh.createBranch(branch, base)
    val files = Option(in.get("files")).filter(_.isObject).getOrElse(
      throw new IllegalArgumentException("missing required field 'files'"))
    val committed = obj()
    files.properties().forEach { e =>
      val r = gh.upsertFile(e.getKey, e.getValue.asText(), branch,
        s"chore(dbt): add/update ${e.getKey}")
      committed.put(e.getKey,
        Option(r.path("content").path("sha").asText(null)).getOrElse("ok"))
    }
    val pr = gh.createPullRequest(reqString(in, "title"), head = branch,
      base = base, body = Some("Automated PR from the data copilot"))
    okJson(obj(
      "branch" -> branch, "files_committed" -> committed,
      "pr_url" -> pr.path("html_url").asText("")))
  }

  /** `POST /orchestrate/run` → `{run_id, details}` (reference
    * `chat.py:361-377`). */
  private def orchestrateRun(in: JsonNode): (Int, String, String) = {
    val orch = orchestrator.getOrElse(
      throw new IllegalArgumentException("orchestrator not configured"))
    val params = Option(in.get("params")).filter(_.isObject).map { p =>
      p.properties().toArray.map { e0 =>
        val e = e0.asInstanceOf[java.util.Map.Entry[String, JsonNode]]
        e.getKey -> (e.getValue match {
          case v if v.isInt => v.asInt(): Any
          case v if v.isIntegralNumber => v.asLong(): Any
          case v if v.isBoolean => v.asBoolean(): Any
          case v if v.isFloatingPointNumber => v.asDouble(): Any
          case v => v.asText(): Any
        })
      }.toMap
    }.getOrElse(Map.empty[String, Any])
    val res = orch.runFlow(reqString(in, "flow_name"),
      optString(in, "deployment_name"), params)
    okJson(obj("run_id" -> res.path("id").asText(""), "details" -> res))
  }

  /** `GET /orchestrate/status/{run_id}` → `{run_id, state, details}`
    * (reference `chat.py:380-385`). */
  private def orchestrateStatus(runId: String): (Int, String, String) = {
    val orch = orchestrator.getOrElse(
      throw new IllegalArgumentException("orchestrator not configured"))
    val res = orch.getStatus(runId)
    okJson(obj(
      "run_id" -> runId,
      "state" -> res.path("state").path("type").asText("unknown"),
      "details" -> res))
  }

  // ------------------------------------------------- namespace CRUD (C1-C4)

  private def cat: Catalog = catalog.getOrElse(
    throw new IllegalArgumentException("catalog not configured"))

  private def nsJson(ns: graft.catalog.Namespace): ObjectNode = obj(
    "id" -> ns.id, "name" -> ns.name, "schema_name" -> ns.schemaName,
    "description" -> ns.description,
    "created_at" -> ns.createdAt.toString, "updated_at" -> ns.updatedAt.toString)

  private def tblJson(t: graft.catalog.TableEntry): ObjectNode = obj(
    "id" -> t.id, "namespace_id" -> t.namespaceId, "name" -> t.name,
    "table_name" -> t.tableName, "file_name" -> t.fileName,
    "file_size" -> t.fileSize, "is_loaded" -> t.isLoaded)

  private def nsList(): (Int, String, String) = {
    val all = cat.listNamespaces()
    okJson(obj(
      "message" -> (if (all.nonEmpty) "OK" else "No namespaces created"),
      "namespaces" -> arr(all.map(nsJson))))
  }

  private def nsCreate(in: JsonNode): (Int, String, String) =
    okJson(nsJson(cat.createNamespace(
      reqString(in, "name"), optString(in, "description").getOrElse(""))))

  private def nsGet(id: Long): (Int, String, String) =
    cat.getNamespace(id) match {
      case Some(ns) => okJson(nsJson(ns))
      case None => (404, "application/json", detail(s"namespace $id not found"))
    }

  /** `PUT /namespace/{id}` (reference `namespace.py:63-74`): edit the
    * display name/description; an unchanged body returns the existing
    * row without touching updatedAt, the reference's equality
    * short-circuit. The schema_name stays fixed — it backs a real
    * database. */
  private def nsUpdate(id: Long, in: JsonNode): (Int, String, String) =
    cat.getNamespace(id) match {
      case None => (404, "application/json", detail(s"namespace $id not found"))
      case Some(ns) =>
        val name = reqString(in, "name")
        val desc = optString(in, "description")
        if (name == ns.name && desc.forall(_ == ns.description)) okJson(nsJson(ns))
        // re-check under the catalog's own lock: a concurrent DELETE
        // between the read above and this write must 404, not 500
        else cat.updateNamespace(id, Some(name), desc) match {
          case Some(updated) => okJson(nsJson(updated))
          case None =>
            (404, "application/json", detail(s"namespace $id not found"))
        }
    }

  private def nsDelete(id: Long): (Int, String, String) =
    if (cat.deleteNamespace(id)) okJson(obj("message" -> "OK"))
    else (404, "application/json", detail(s"namespace $id not found"))

  private def nsTables(id: Long): (Int, String, String) = {
    val ts = cat.listTables(id)
    okJson(obj(
      "message" -> (if (ts.nonEmpty) "OK" else "No tables created"),
      "tables" -> arr(ts.map(tblJson))))
  }

  private def nsCreateTable(id: Long, in: JsonNode): (Int, String, String) =
    okJson(tblJson(cat.createTable(id, reqString(in, "name"))))

  /** Namespace-scoped table lookup: 404 when the namespace is missing
    * or the table does not belong to it (reference
    * `get_table_depends`, `namespace_table.py:33-46`). */
  private def scopedTable(nsId: Long, tableId: Long)
      : Either[(Int, String, String), graft.catalog.TableEntry] =
    if (cat.getNamespace(nsId).isEmpty)
      Left((404, "application/json", detail(s"namespace $nsId not found")))
    else cat.getTable(tableId).filter(_.namespaceId == nsId) match {
      case Some(t) => Right(t)
      case None =>
        Left((404, "application/json", detail(s"table $tableId not found")))
    }

  /** `GET /namespace/{id}/table/{table_id}` — the reference route
    * (`namespace_table.py:117-120`) returns the namespace by mistake;
    * implemented as its intent: the table row. */
  private def tblGet(nsId: Long, tableId: Long): (Int, String, String) =
    scopedTable(nsId, tableId).fold(identity, t => okJson(tblJson(t)))

  /** `PUT .../table/{table_id}` intent (`namespace_table.py:123-135`):
    * edit the display name; unchanged body short-circuits. */
  private def tblUpdate(nsId: Long, tableId: Long,
      in: JsonNode): (Int, String, String) =
    scopedTable(nsId, tableId).fold(identity, { t =>
      val name = reqString(in, "name")
      if (name == t.name) okJson(tblJson(t))
      // same concurrent-delete race as nsUpdate: None here means the
      // row vanished between the scoped lookup and the write
      else cat.updateTable(tableId, Some(name)) match {
        case Some(updated) => okJson(tblJson(updated))
        case None =>
          (404, "application/json", detail(s"table $tableId not found"))
      }
    })

  /** `DELETE .../table/{table_id}` intent (`namespace_table.py:138-144`
    * deletes by the wrong id): drop the physical table + metadata row,
    * return the reference's Message shape. */
  private def tblDelete(nsId: Long, tableId: Long): (Int, String, String) =
    scopedTable(nsId, tableId).fold(identity, { t =>
      cat.deleteTable(t.id)
      okJson(obj("message" -> s"The table:ID:${t.id} is removed"))
    })

  /** `POST /namespace/demo-upload` (reference `namespace.py:95-192`):
    * bulk-load every CSV under [[demoDataDir]] into the "Demo Dataset"
    * namespace (replace), mirroring the DemoUploadResponse shape. */
  private def demoUpload(): (Int, String, String) = {
    val dir = java.nio.file.Paths.get(demoDataDir)
    if (!Files.isDirectory(dir))
      return (404, "application/json",
        detail(s"Demo data directory not found: $demoDataDir"))
    val csvStream = Files.list(dir)
    val hasCsv =
      try csvStream.anyMatch(p => p.toString.endsWith(".csv"))
      finally csvStream.close()
    if (!hasCsv)
      return (404, "application/json", detail(s"No CSV files found in $demoDataDir"))
    val (ns, ts) = cat.loadDemoDataset(demoDataDir)
    okJson(obj(
      "message" ->
        s"Successfully uploaded ${ts.length} demo tables to namespace '${ns.name}'",
      "namespace" -> nsJson(ns),
      "tables" -> arr(ts.map(tblJson)),
      "files_processed" -> ts.length))
  }

  /** C5/S1 over HTTP (reference uploads multipart bytes,
    * `namespace_table.py:88-114`): two ingestion modes, both through
    * the same validate→ingest→stamp path.
    *
    *  - `{file_name, content}` — content in the request body like the
    *    reference; spooled to a private temp file, ingested, removed.
    *  - `{path}` — server-local file, ONLY under the configured
    *    [[uploadRoot]] (resolved real path, prefix-checked). Without a
    *    root this mode is rejected: an unrestricted path parameter is
    *    an arbitrary-file-read primitive the moment the facade binds
    *    beyond loopback.
    */
  private def tableUpload(nsId: Long, tableId: Long,
      in: JsonNode): (Int, String, String) = scopedTable(nsId, tableId) match {
    // same namespace-membership 404s as the sibling table routes
    // (reference validates both dependencies on upload too,
    // `namespace_table.py:90-93`)
    case Left(notFound) => notFound
    case Right(_) => optString(in, "content") match {
      case Some(content) =>
        val fileName = reqString(in, "file_name")
        if (fileName.isEmpty || fileName == "." || fileName == ".." ||
            fileName.contains("/") || fileName.contains("\\"))
          throw new IllegalArgumentException("file_name must be a bare file name")
        val tmpDir = Files.createTempDirectory("graft-upload")
        val tmp = tmpDir.resolve(fileName)
        try {
          Files.writeString(tmp, content)
          okJson(tblJson(ingestByExt(tableId, tmp.toString)))
        } finally {
          Files.deleteIfExists(tmp)
          Files.deleteIfExists(tmpDir)
        }
      case None =>
        val path = reqString(in, "path")
        val root = uploadRoot.getOrElse(throw new IllegalArgumentException(
          "path-based upload requires a configured upload root; " +
            "send {file_name, content} instead"))
        val real =
          try java.nio.file.Paths.get(path).toRealPath()
          catch {
            case _: java.io.IOException =>
              throw new IllegalArgumentException(s"no such file: $path")
          }
        if (!real.startsWith(root.toRealPath()))
          throw new IllegalArgumentException(
            s"upload path must be under the configured upload root")
        okJson(tblJson(ingestByExt(tableId, real.toString)))
    }
  }

  private def ingestByExt(tableId: Long, path: String): graft.catalog.TableEntry =
    if (path.endsWith(".jsonl") || path.endsWith(".json"))
      cat.loadJson(tableId, path)
    else cat.loadCsv(tableId, path)

  // ---------------------------------------------------------- JSON helpers

  private def parse(body: String): JsonNode =
    try mapper.readTree(if (body.isEmpty) "{}" else body)
    catch {
      case NonFatal(_) =>
        throw new IllegalArgumentException("request body is not valid JSON")
    }

  private def reqString(n: JsonNode, field: String): String =
    optString(n, field).getOrElse(
      throw new IllegalArgumentException(s"missing required field '$field'"))

  private def optString(n: JsonNode, f: String): Option[String] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asText())

  private def optInt(n: JsonNode, f: String): Option[Int] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asInt())

  private def optDouble(n: JsonNode, f: String): Option[Double] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asDouble())

  private def optBool(n: JsonNode, f: String): Option[Boolean] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asBoolean())

  private def obj(fields: (String, Any)*): ObjectNode = {
    val o = mapper.createObjectNode()
    fields.foreach { case (k, v) => put(o, k, v) }
    o
  }

  private def arr(items: Seq[JsonNode]): ArrayNode = {
    val a = mapper.createArrayNode()
    items.foreach(a.add)
    a
  }

  /** Result rows arrive as JSON strings (`toJSON`); re-parse so they
    * embed as objects, not double-encoded strings. */
  private def rawRows(rows: Seq[String]): ArrayNode =
    arr(rows.map(mapper.readTree))

  private def put(o: ObjectNode, k: String, v: Any): Unit = v match {
    case s: String => o.put(k, s)
    case i: Int => o.put(k, i)
    case l: Long => o.put(k, l)
    case d: Double => o.put(k, d)
    case b: Boolean => o.put(k, b)
    case n: JsonNode => o.set[ObjectNode](k, n)
    case null => o.putNull(k)
    case other => o.put(k, other.toString)
  }

  private def profileJson(p: graft.dq.ColumnProfile): ObjectNode = {
    val o = obj("count" -> p.count, "nulls" -> p.nulls, "distinct" -> p.distinct)
    p.numeric.foreach(s => o.set[ObjectNode]("numeric", obj(
      "min" -> s.min, "max" -> s.max, "mean" -> s.mean,
      "std" -> s.stdPop, "p50" -> s.p50, "p95" -> s.p95)))
    p.timestamp.foreach(t =>
      o.set[ObjectNode]("timestamp", obj("min" -> t.min, "max" -> t.max)))
    p.stringLength.foreach(l => o.set[ObjectNode]("string_length", obj(
      "min_len" -> l.minLen, "max_len" -> l.maxLen, "p95_len" -> l.p95Len)))
    o.set[ObjectNode]("top_values",
      arr(p.topValues.map(t => obj("value" -> t.value, "count" -> t.count))))
    o
  }

  private def okJson(n: JsonNode): (Int, String, String) =
    (200, "application/json", mapper.writeValueAsString(n))

  private def detail(msg: String): String =
    mapper.writeValueAsString(obj("detail" -> msg))
}

object HttpFacade {

  /** The largest DQ sample, in rows, that the routes evaluate on
    * [[interpreted]] rather than with generated code. A request's
    * clamped row cap chooses the path, before any row is read.
    *
    * Generated code costs a fixed amount per query: Janino compiles
    * every class whose source the JVM-wide code cache has not seen, and
    * a DQ request's sources change with its table, its `where`
    * constants and its range bounds. The interpreter pays per row
    * instead. Measured warm and single-threaded on a 4-core host, a
    * cached sample through `DqEngine.runChecks` plus its sample rows:
    *
    * | sample rows | interpreted (ms) | generated code (ms) |
    * |---|---|---|
    * | 500 | 229–360 | 276–459 |
    * | 2 000 | 246–343 | 252–369 |
    * | 5 000 | 366–474 | 317–387 |
    * | 200 000 | 3 757–7 280 | 1 577–2 250 |
    *
    * The two are about even at 2 000 rows, and generated code wins
    * from 5 000 on, so the default limit (10 000) and larger samples
    * keep it. */
  val InterpretedMaxRows = 2000

  /** A clone of `spark` ([[SessionClone]]: runtime SQL conf, temp
    * views, functions and listeners as they are now) that plans
    * without whole-stage code generation and evaluates expressions
    * with Spark's interpreted projections, predicates and orderings
    * instead of generating them. */
  private[graft] def interpreted(spark: SparkSession): SparkSession = {
    val twin = SessionClone(spark)
    twin.conf.set(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key, false)
    twin.conf.set(SQLConf.CODEGEN_FACTORY_MODE.key,
      CodegenObjectFactoryMode.NO_CODEGEN.toString)
    twin
  }
}
