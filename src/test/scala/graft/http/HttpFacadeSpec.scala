package graft.http

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkSpec
import graft.catalog.Catalog

/** E2E tests over the HTTP façade: real requests through the JDK http
  * client against the in-process server, asserting the reference's
  * response shapes (`src/main.py`, `src/route/chat.py`,
  * `src/route/namespace.py`, examples `query.http`).
  */
class HttpFacadeSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  private lazy val uploadRootDir = Files.createTempDirectory("graft-upload-root")

  private lazy val facade: HttpFacade = {
    graft.sources.Tables.registerAll(spark, "/root/testdata/sf0.001")
    val metaDir = Files.createTempDirectory("graft-http-meta").toString
    val f = new HttpFacade(spark,
      catalog = Some(new Catalog(spark, metaDir)),
      uploadRoot = Some(uploadRootDir),
      schemaDocsPath =
        Files.createTempDirectory("graft-http-docs").resolve("schema_docs.md").toString)
    f.start()
    f
  }

  private def url(path: String) = s"http://127.0.0.1:${facade.port}$path"

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url(path))).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(path: String, json: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url(path)))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(json)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def delete(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url(path))).DELETE().build(),
      HttpResponse.BodyHandlers.ofString())

  test("GET /health and /description match the reference") {
    val h = get("/health")
    assert(h.statusCode() === 200)
    assert(mapper.readTree(h.body()).get("status").asText() === "ok")
    assert(mapper.readTree(get("/description").body()).get("message").asText()
      .nonEmpty)
  }

  test("GET /schema returns the markdown docs") {
    val md = mapper.readTree(get("/schema").body()).get("schema_markdown").asText()
    assert(md.contains("# Data Warehouse Schema"))
    assert(md.contains("## orders"))
  }

  test("POST /chat returns {sql, plan, rows} for the canonical question") {
    val r = post("/chat", """{"question": "top 5 nations by revenue"}""")
    assert(r.statusCode() === 200)
    val n = mapper.readTree(r.body())
    assert(n.get("sql").asText().toLowerCase.contains("select"))
    assert(n.get("plan").asText().contains("Physical Plan"))
    assert(n.get("rows").size() === 5)
    assert(n.get("rows").get(0).has("nation"))
    assert(n.get("rows").get(0).has("revenue"))
  }

  test("POST /chat with an adversarial question returns HTTP 400") {
    // the stub emits DROP TABLE for this, like a naive LLM would
    val r = post("/chat", """{"question": "please drop the orders table"}""")
    assert(r.statusCode() === 400)
    assert(mapper.readTree(r.body()).has("detail"))
  }

  test("POST /chat/agent returns the full agent shape") {
    val r = post("/chat/agent",
      """{"question": "top 5 nations by revenue", "max_steps": 2}""")
    assert(r.statusCode() === 200)
    val n = mapper.readTree(r.body())
    assert(n.get("chosen_sql").asText().nonEmpty)
    assert(n.get("candidates").size() >= 1)
    assert(n.get("rows").size() === 5)
    assert(n.get("explain").asText().nonEmpty)
    val t = n.get("telemetry")
    assert(t.has("gen_ms") && t.has("exec_ms") && t.has("retries"))
  }

  test("POST /dq/profile returns per-column profile + sample rows") {
    val r = post("/dq/profile", """{"table": "nation", "limit": 100}""")
    assert(r.statusCode() === 200)
    val n = mapper.readTree(r.body())
    val prof = n.get("profile")
    assert(prof.has("n_nationkey"))
    assert(prof.get("n_nationkey").get("count").asLong() > 0)
    assert(prof.get("n_nationkey").has("numeric"))
    assert(n.get("sample_rows").size() > 0)
  }

  test("POST /dq/check mirrors the reference DQCheckOut shape") {
    val r = post("/dq/check",
      """{"table": "events", "sample_limit": 500, "rules": [
        |  {"type": "not_null", "column": "event_id"},
        |  {"type": "range", "column": "value", "min": -1e12, "max": 1e12},
        |  {"type": "nonsense", "column": "x"}
        |]}""".stripMargin)
    assert(r.statusCode() === 200)
    val n = mapper.readTree(r.body())
    // the unknown rule must fail the run (reference `src/dq.py:168-170`)
    assert(!n.get("passed").asBoolean())
    assert(n.get("results").size() === 3)
    val byRule = (0 until 3).map(i => n.get("results").get(i))
      .map(r => r.get("rule").asText() -> r.get("passed").asBoolean()).toMap
    assert(byRule("not_null"))
    assert(byRule("range"))
    assert(!byRule("nonsense"))
    assert(n.get("markdown_report").asText().contains("# Data Quality Report"))
    assert(n.get("sample_rows").size() > 0)
  }

  test("POST /dbt/generate + /dbt/preview mirror query.http:85-97") {
    val gen = post("/dbt/generate",
      """{"question": "user retention cohorts", "model_name": "mart_user_retention", "write": true}""")
    assert(gen.statusCode() === 200)
    val g = mapper.readTree(gen.body())
    assert(g.get("model_name").asText() === "mart_user_retention")
    assert(g.get("files").has("models/mart_user_retention.sql"))
    assert(g.get("files").has("models/schema.yml"))
    assert(g.get("written_paths").has("models/mart_user_retention.sql"))

    val prev = post("/dbt/preview",
      """{"model_sql": "SELECT 1 AS x", "limit_override": 10}""")
    assert(prev.statusCode() === 200)
    val p = mapper.readTree(prev.body())
    assert(p.get("plan").asText().contains("Physical Plan"))
    assert(p.get("rows").get(0).get("x").asInt() === 1)
  }

  test("namespace CRUD over HTTP (C1-C4 shapes)") {
    val created = post("/namespace",
      """{"name": "Facade NS", "description": "e2e"}""")
    assert(created.statusCode() === 200)
    val ns = mapper.readTree(created.body())
    assert(ns.get("schema_name").asText() === "facade_ns")
    val id = ns.get("id").asLong()

    val listed = mapper.readTree(get("/namespace").body())
    assert(listed.get("message").asText() === "OK")
    assert(listed.get("namespaces").size() >= 1)

    assert(mapper.readTree(get(s"/namespace/$id").body())
      .get("schema_name").asText() === "facade_ns")

    val tbl = post(s"/namespace/$id/table", """{"name": "My Table"}""")
    assert(mapper.readTree(tbl.body()).get("table_name").asText() === "my_table")
    assert(mapper.readTree(get(s"/namespace/$id/table").body())
      .get("tables").size() === 1)

    assert(delete(s"/namespace/$id").statusCode() === 200)
    assert(get(s"/namespace/$id").statusCode() === 404)
  }

  private def put(path: String, json: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url(path)))
      .header("Content-Type", "application/json")
      .method("PUT", HttpRequest.BodyPublishers.ofString(json)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("PUT /namespace/{id} edits name+description (reference namespace.py:63-74)") {
    val ns = mapper.readTree(post("/namespace",
      """{"name": "Edit Me", "description": "before"}""").body())
    val id = ns.get("id").asLong()
    val edited = put(s"/namespace/$id",
      """{"name": "Edited", "description": "after"}""")
    assert(edited.statusCode() === 200)
    val e = mapper.readTree(edited.body())
    assert(e.get("name").asText() === "Edited")
    assert(e.get("description").asText() === "after")
    // schema_name backs a real database and must not move on edit
    assert(e.get("schema_name").asText() === "edit_me")
    // unchanged body short-circuits: same updated_at as the last edit
    val same = mapper.readTree(put(s"/namespace/$id",
      """{"name": "Edited", "description": "after"}""").body())
    assert(same.get("updated_at").asText() === e.get("updated_at").asText())
    assert(put("/namespace/999999", """{"name": "x"}""").statusCode() === 404)
    delete(s"/namespace/$id")
  }

  test("GET/PUT/DELETE /namespace/{id}/table/{table_id} (route intent, models unswapped)") {
    val nsId = mapper.readTree(post("/namespace",
      """{"name": "Tbl Routes NS"}""").body()).get("id").asLong()
    val tbl = mapper.readTree(post(s"/namespace/$nsId/table",
      """{"name": "Original"}""").body())
    val tid = tbl.get("id").asLong()

    val got = mapper.readTree(get(s"/namespace/$nsId/table/$tid").body())
    assert(got.get("id").asLong() === tid)
    assert(got.get("table_name").asText() === "original")

    val renamed = mapper.readTree(put(s"/namespace/$nsId/table/$tid",
      """{"name": "Renamed"}""").body())
    assert(renamed.get("name").asText() === "Renamed")
    assert(renamed.get("table_name").asText() === "original")

    // scoping: the table is not reachable through another namespace
    val otherNs = mapper.readTree(post("/namespace",
      """{"name": "Other Scope NS"}""").body()).get("id").asLong()
    assert(get(s"/namespace/$otherNs/table/$tid").statusCode() === 404)
    assert(get(s"/namespace/999999/table/$tid").statusCode() === 404)

    val del = delete(s"/namespace/$nsId/table/$tid")
    assert(del.statusCode() === 200)
    assert(mapper.readTree(del.body()).get("message").asText()
      === s"The table:ID:$tid is removed")
    assert(get(s"/namespace/$nsId/table/$tid").statusCode() === 404)
    delete(s"/namespace/$nsId")
    delete(s"/namespace/$otherNs")
  }

  test("POST /namespace/demo-upload bulk-loads CSVs (DemoUploadResponse shape)") {
    val dir = Files.createTempDirectory("graft-demo-data")
    Files.writeString(dir.resolve("pets.csv"), "id,kind\n1,cat\n2,dog\n")
    Files.writeString(dir.resolve("toys.csv"), "id\n1\n")
    Files.writeString(dir.resolve("notes.txt"), "ignored")
    val metaDir = Files.createTempDirectory("graft-demo-meta").toString
    // own session: each facade's stop() drops only its session's caches
    val s2 = spark.newSession()
    val f2 = new HttpFacade(s2,
      catalog = Some(new Catalog(s2, metaDir)),
      demoDataDir = dir.toString)
    f2.start()
    try {
      def demoPost() = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${f2.port}/namespace/demo-upload"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      val r = demoPost()
      assert(r.statusCode() === 200)
      val n = mapper.readTree(r.body())
      assert(n.get("files_processed").asInt() === 2)
      assert(n.get("namespace").get("schema_name").asText() === "demo_dataset")
      assert(n.get("tables").size() === 2)
      assert(n.get("message").asText().contains("Successfully uploaded 2"))
      assert(s2.table("demo_dataset.pets").count() === 2)
      // replace semantics: run it again, same result, no 400
      assert(demoPost().statusCode() === 200)
      assert(s2.table("demo_dataset.pets").count() === 2)
      // missing demo dir is the reference's 404
      val s3 = spark.newSession()
      val f3 = new HttpFacade(s3,
        catalog = Some(new Catalog(s3, metaDir)),
        demoDataDir = "/nonexistent/demo_data")
      f3.start()
      try assert(client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${f3.port}/namespace/demo-upload"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode() === 404)
      finally f3.stop()
    } finally f2.stop()
  }

  test("table upload over HTTP ingests a server-local CSV (C5/S1 shape)") {
    val ns = mapper.readTree(post("/namespace",
      """{"name": "Upload NS"}""").body())
    val nsId = ns.get("id").asLong()
    val tbl = mapper.readTree(post(s"/namespace/$nsId/table",
      """{"name": "people"}""").body())
    val csv = Files.createTempFile(uploadRootDir, "people_http", ".csv")
    Files.writeString(csv, "id,name\n1,ann\n2,bob\n")
    val up = post(s"/namespace/$nsId/table/${tbl.get("id").asLong()}/upload",
      s"""{"path": "$csv"}""")
    assert(up.statusCode() === 200)
    val n = mapper.readTree(up.body())
    assert(n.get("is_loaded").asBoolean())
    assert(n.get("file_size").asLong() > 0)
    assert(spark.table("upload_ns.people").count() === 2)
    // re-upload of a loaded table is a 400, like the reference
    assert(post(s"/namespace/$nsId/table/${tbl.get("id").asLong()}/upload",
      s"""{"path": "$csv"}""").statusCode() === 400)
    delete(s"/namespace/$nsId")
  }

  test("content-in-body upload spools and ingests like the reference multipart") {
    val nsId = mapper.readTree(post("/namespace",
      """{"name": "Content NS"}""").body()).get("id").asLong()
    val tid = mapper.readTree(post(s"/namespace/$nsId/table",
      """{"name": "inline"}""").body()).get("id").asLong()
    val up = post(s"/namespace/$nsId/table/$tid/upload",
      """{"file_name": "inline.csv", "content": "a,b\n1,x\n2,y\n3,z\n"}""")
    assert(up.statusCode() === 200)
    val n = mapper.readTree(up.body())
    assert(n.get("is_loaded").asBoolean())
    assert(n.get("file_name").asText() === "inline.csv")
    assert(spark.table("content_ns.inline").count() === 3)
    // traversal in file_name is rejected
    val tid2 = mapper.readTree(post(s"/namespace/$nsId/table",
      """{"name": "evil"}""").body()).get("id").asLong()
    assert(post(s"/namespace/$nsId/table/$tid2/upload",
      """{"file_name": "../../etc/x.csv", "content": "a\n1\n"}""").statusCode() === 400)
    // "." / ".." resolve outside (or onto) the private temp dir — they
    // must 400 as malformed names, not surface as a 500 IOException
    assert(post(s"/namespace/$nsId/table/$tid2/upload",
      """{"file_name": "..", "content": "a\n1\n"}""").statusCode() === 400)
    assert(post(s"/namespace/$nsId/table/$tid2/upload",
      """{"file_name": ".", "content": "a\n1\n"}""").statusCode() === 400)
    delete(s"/namespace/$nsId")
  }

  test("path upload outside the upload root is rejected (arbitrary-read guard)") {
    val nsId = mapper.readTree(post("/namespace",
      """{"name": "Guard NS"}""").body()).get("id").asLong()
    val tid = mapper.readTree(post(s"/namespace/$nsId/table",
      """{"name": "guarded"}""").body()).get("id").asLong()
    val outside = Files.createTempFile("outside_root", ".csv")
    Files.writeString(outside, "a\n1\n")
    val r = post(s"/namespace/$nsId/table/$tid/upload",
      s"""{"path": "$outside"}""")
    assert(r.statusCode() === 400)
    assert(mapper.readTree(r.body()).get("detail").asText()
      .contains("upload root"))
    // ../ escape from inside the root is caught by real-path resolution
    val sneaky = uploadRootDir.resolve("..").resolve(outside.getFileName.toString)
    assert(post(s"/namespace/$nsId/table/$tid/upload",
      s"""{"path": "$sneaky"}""").statusCode() === 400)
    // upload is namespace-scoped like the sibling table routes: a
    // wrong or nonexistent namespace in the path 404s before any file
    // handling
    val otherNs = mapper.readTree(post("/namespace",
      """{"name": "Guard Other NS"}""").body()).get("id").asLong()
    assert(post(s"/namespace/$otherNs/table/$tid/upload",
      s"""{"path": "$outside"}""").statusCode() === 404)
    assert(post(s"/namespace/999999/table/$tid/upload",
      s"""{"path": "$outside"}""").statusCode() === 404)
    // a facade with NO upload root rejects path mode entirely
    val s2 = spark.newSession()
    val f2 = new HttpFacade(s2,
      catalog = Some(new Catalog(s2,
        Files.createTempDirectory("graft-noroot-meta").toString)))
    f2.start()
    try {
      def p2(path: String, json: String) = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${f2.port}$path"))
        .POST(HttpRequest.BodyPublishers.ofString(json)).build(),
        HttpResponse.BodyHandlers.ofString())
      val ns2 = mapper.readTree(
        p2("/namespace", """{"name": "NoRoot NS"}""").body()).get("id").asLong()
      val t2 = mapper.readTree(
        p2(s"/namespace/$ns2/table", """{"name": "t"}""").body()).get("id").asLong()
      val inRoot = Files.createTempFile(uploadRootDir, "in_root", ".csv")
      Files.writeString(inRoot, "a\n1\n")
      val resp = p2(s"/namespace/$ns2/table/$t2/upload", s"""{"path": "$inRoot"}""")
      assert(resp.statusCode() === 400)
      assert(mapper.readTree(resp.body()).get("detail").asText()
        .contains("requires a configured upload root"))
    } finally f2.stop()
    delete(s"/namespace/$nsId")
    delete(s"/namespace/$otherNs")
  }

  test("served facade enforces the configured query timeout on /chat (V8)") {
    // provider that emits a cartesian square far too big for 1.5s
    val s2 = spark.newSession()
    s2.range(300L * 1000 * 1000).createOrReplaceTempView("slow_http_src")
    val slowProvider = new graft.chat.NlToSql {
      override def complete(question: String, rowLimit: Int): String =
        "```sql\nSELECT COUNT(*) AS n FROM slow_http_src a, slow_http_src b\n```"
    }
    val f2 = new HttpFacade(s2, provider = slowProvider,
      queryTimeoutMs = 1500)
    f2.start()
    try {
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${f2.port}/chat"))
        .POST(HttpRequest.BodyPublishers.ofString("""{"question": "anything"}"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 500)
      assert(mapper.readTree(r.body()).get("detail").asText()
        .contains("exceeded 1500ms"))
      // the server must keep serving after the cancellation
      val h = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${f2.port}/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(h.statusCode() === 200)
    } finally f2.stop()
  }

  test("requests run with the facade's session active on their thread") {
    // Spark reads SQLConf.get from the thread's active session; on a
    // handler thread without one it falls back to default settings
    val s2 = spark.newSession()
    val seen = new java.util.concurrent.LinkedBlockingQueue[Option[org.apache.spark.sql.SparkSession]]
    val probe = new graft.chat.NlToSql {
      override def complete(question: String, rowLimit: Int): String = {
        seen.put(org.apache.spark.sql.SparkSession.getActiveSession)
        "```sql\nSELECT 1 AS x\n```"
      }
    }
    val f2 = new HttpFacade(s2, provider = probe)
    f2.start()
    try {
      for (_ <- 1 to 3) {
        val r = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${f2.port}/chat"))
          .POST(HttpRequest.BodyPublishers.ofString("""{"question": "anything"}"""))
          .build(), HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() === 200, r.body())
        assert(seen.take().exists(_ eq s2))
      }
    } finally f2.stop()
  }

  test("a slow request does not block /health (concurrent serving)") {
    val s2 = spark.newSession()
    s2.range(200L * 1000 * 1000).createOrReplaceTempView("slow_conc_src")
    val f2 = new HttpFacade(s2, queryTimeoutMs = 15000)
    f2.start()
    try {
      // kick off a multi-second cartesian preview WITHOUT waiting
      val slow = client.sendAsync(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${f2.port}/dbt/preview"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"model_sql": "SELECT COUNT(*) AS n FROM slow_conc_src a, slow_conc_src b"}"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      Thread.sleep(300) // let it reach execution
      val t0 = System.nanoTime()
      val h = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${f2.port}/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val ms = (System.nanoTime() - t0) / 1000000
      assert(h.statusCode() === 200)
      assert(ms < 2000, s"/health took ${ms}ms behind a slow request")
      assert(!slow.isDone, "the slow query should still be running")
      slow.cancel(true)
    } finally f2.stop()
  }

  test("bindHost is honored: 0.0.0.0 serves on loopback too") {
    val f2 = new HttpFacade(spark.newSession(), bindHost = "0.0.0.0")
    f2.start()
    try {
      val h = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${f2.port}/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(h.statusCode() === 200)
    } finally f2.stop()
  }

  test("agent refine loop E2E: recorded provider transcript drives 2 refines") {
    // A recorded LLM transcript (fixture markdown, prose + fences —
    // the shape a real provider returns), replayed in order: a bad
    // column draft, then an over-filtered empty query, then the fix.
    // No egress anywhere: the provider is the transcript itself.
    val transcript = Vector(
      """Looking at the schema, revenue lives on the orders table.
        |
        |```sql
        |SELECT revenue_total FROM orders ORDER BY revenue_total DESC LIMIT 5
        |```
        |""".stripMargin,
      """Apologies — the column is `o_totalprice`. Filtering to paid
        |orders only:
        |
        |```sql
        |SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 0 LIMIT 5
        |```
        |""".stripMargin,
      """Right, prices are always positive here; dropping the filter.
        |
        |```sql
        |SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 5
        |```
        |""".stripMargin)
    val prompts = scala.collection.mutable.ArrayBuffer.empty[String]
    val recorded = new graft.chat.NlToSql {
      private var i = 0
      override def complete(question: String, rowLimit: Int): String =
        synchronized {
          prompts += question
          val md = transcript(math.min(i, transcript.length - 1))
          i += 1
          md
        }
    }
    val s2 = spark.newSession()
    graft.sources.Tables.registerAll(s2, graft.SparkEntry.SmallestSfDir)
    val f2 = new HttpFacade(s2, provider = recorded,
      schemaDocsPath = Files.createTempDirectory("graft-agent-docs")
        .resolve("schema_docs.md").toString)
    f2.start()
    try {
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${f2.port}/chat/agent"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"question": "top 5 orders by revenue", "max_steps": 3}"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 200)
      val n = mapper.readTree(r.body())
      // two full refine iterations: analysis error, then empty result
      assert(n.get("telemetry").get("retries").asInt() === 2)
      val reasons = (0 until n.get("candidates").size())
        .map(i => n.get("candidates").get(i).get("reason").asText())
      assert(reasons.head.startsWith("error:"))
      assert(reasons(1).startsWith("ok:0rows"))
      assert(reasons(2).startsWith("ok:5rows"))
      // the winning SQL is the transcript's third draft, executed
      assert(n.get("chosen_sql").asText()
        .contains("ORDER BY o_totalprice DESC"))
      assert(n.get("rows").size() === 5)
      assert(n.get("rows").get(0).has("o_totalprice"))
      assert(n.get("telemetry").get("last_error").asText() === "empty")
      // the loop threaded each failure back into the next generation
      assert(prompts.length === 3)
      assert(prompts(1).contains("Fix issue"))
      assert(prompts(2).contains("empty result"))
    } finally f2.stop()
  }

  test("GET /metrics exports prometheus text incl. the reference counters") {
    val r = get("/metrics")
    assert(r.statusCode() === 200)
    assert(r.headers().firstValue("Content-Type").get().startsWith("text/plain"))
    // /chat and /chat/agent above incremented these
    assert(r.body().contains("ai_requests_total{route=\"chat\"}"))
    assert(r.body().contains("ai_requests_total{route=\"agent\"}"))
    assert(r.body().contains("dq_requests_total"))
  }

  test("POST /schema/refresh writes the docs file atomically") {
    val r = post("/schema/refresh", "{}")
    assert(r.statusCode() === 200)
    val n = mapper.readTree(r.body())
    assert(Files.exists(java.nio.file.Paths.get(n.get("schema_docs_path").asText())))
    assert(n.get("size_bytes").asLong() > 0)
  }

  test("unknown path is 404, malformed body is 400") {
    assert(get("/nope").statusCode() === 404)
    assert(post("/chat", "{not json").statusCode() === 400)
    assert(post("/chat", "{}").statusCode() === 400) // missing question
  }

  test("POST /dbt/pr runs the branch→upsert→PR flow (DbtPROut shape)") {
    import graft.net.{FakeTransport, HttpReply}
    val t = new FakeTransport(
      HttpReply(200, """{"object":{"sha":"base"}}"""),
      HttpReply(201, """{"object":{"sha":"feat"}}"""),
      HttpReply(404, "{}"),
      HttpReply(201, """{"content":{"sha":"filesha"}}"""),
      HttpReply(201, """{"html_url":"https://github.test/pr/7"}"""))
    val f2 = new HttpFacade(spark.newSession(),
      github = Some(new graft.git.GitHubClient(t, "tok", "owner/repo")))
    f2.start()
    try {
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${f2.port}/dbt/pr"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"title": "add model", "branch": "feat",
            |  "files": {"models/m.sql": "SELECT 1"}}""".stripMargin)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 200)
      val n = mapper.readTree(r.body())
      assert(n.get("branch").asText() === "feat")
      assert(n.get("files_committed").get("models/m.sql").asText() === "filesha")
      assert(n.get("pr_url").asText() === "https://github.test/pr/7")
      assert(t.calls.map(_.method) === Seq("GET", "POST", "GET", "PUT", "POST"))
    } finally f2.stop()
  }

  test("POST /orchestrate/run + GET /orchestrate/status proxy the flow API") {
    import graft.net.{FakeTransport, HttpReply}
    val t = new FakeTransport(
      HttpReply(201, """{"id":"run-9","state":{"type":"SCHEDULED"}}"""),
      HttpReply(200, """{"id":"run-9","state":{"type":"COMPLETED"}}"""))
    val f2 = new HttpFacade(spark.newSession(),
      orchestrator = Some(new graft.orchestrate.Orchestrator(t)))
    f2.start()
    try {
      val run = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${f2.port}/orchestrate/run"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"flow_name": "daily_sales", "deployment_name": "d", "params": {"days_back": 1}}"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(run.statusCode() === 200)
      assert(mapper.readTree(run.body()).get("run_id").asText() === "run-9")
      val st = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${f2.port}/orchestrate/status/run-9"))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
      val sn = mapper.readTree(st.body())
      assert(sn.get("state").asText() === "COMPLETED")
      assert(sn.get("run_id").asText() === "run-9")
    } finally f2.stop()
  }

  test("GitHub errors surface as HTTP 400; unconfigured services too") {
    assert(post("/dbt/pr",
      """{"title": "t", "branch": "b", "files": {}}""").statusCode() === 400)
    assert(post("/orchestrate/run", """{"flow_name": "x"}""").statusCode() === 400)
  }

  test("daily_sales flow runs Spark-native over testdata") {
    val msg = graft.orchestrate.DailySalesFlow.run(
      spark, "/root/testdata/sf0.001", daysBack = 30)
    assert(msg.matches("Loaded \\d+ rows on .+"))
    // transform doubles extract's count (reference flow semantics)
    val p = graft.orchestrate.DailySalesFlow.extract(
      spark, "/root/testdata/sf0.001", 30)
    assert(graft.orchestrate.DailySalesFlow.transform(p).rowsTransformed
      === p.rows * 2)
    assert(p.rows > 0)
  }

  test("POST /schema/refresh makes new tables visible to the agent planner") {
    def keyFields(planJson: String): String =
      mapper.readTree(planJson).get("plan").asText()
        .split(" ; ").find(_.startsWith("Key fields")).getOrElse("")
    // prime the planner's docs cache (the reference's lru_cache'd
    // load_schema_docs) with a first agent call
    assert(post("/chat/agent", """{"question": "orders overview"}""")
      .statusCode() === 200)
    // a table created AFTER the cache was primed
    spark.range(3).selectExpr("id AS signup_bonus")
      .createOrReplaceTempView("freshly_minted_signups")
    try {
      val q = """{"question": "sum signup_bonus from freshly_minted_signups"}"""
      // cached docs predate the view: the matched-fields bullet cannot
      // name it (the goal bullet echoes the question, so check only
      // the Key fields segment)
      assert(!keyFields(post("/chat/agent", q).body())
        .contains("freshly_minted_signups"))
      // the reference's cache_clear: refresh must make it visible
      assert(post("/schema/refresh", "{}").statusCode() === 200)
      assert(keyFields(post("/chat/agent", q).body())
        .contains("freshly_minted_signups"),
        "post-refresh plan must retrieve the new table's docs line")
    } finally spark.catalog.dropTempView("freshly_minted_signups")
  }

  test("DQ routes map a nonexistent table and a bad predicate to 400, not 500") {
    val r = post("/dq/profile", """{"table": "definitely_not_a_table_9q"}""")
    assert(r.statusCode() === 400)
    val w = post("/dq/check",
      """{"table": "orders", "where": "o_orderkey >== banana"}""")
    assert(w.statusCode() === 400)
  }

  test("stop() on a session-owning facade drops the session's media hash frames") {
    import graft.SessionCache
    import graft.pipeline.Multimodal
    import Multimodal.MediaFile
    val s = spark.newSession()
    import s.implicits._
    val im = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    val f = new HttpFacade(s)
    Multimodal.nearDupImages(s.createDataset(Seq(
      MediaFile(1L, "image", bos.toByteArray, Map.empty)))).collect()
    // a fresh session: its count covers exactly this hash frame
    assert(SessionCache.size(s) === 1)
    f.stop()
    assert(SessionCache.size(s) === 0)
  }
}
