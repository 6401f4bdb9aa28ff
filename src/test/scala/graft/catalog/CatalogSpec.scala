package graft.catalog

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec

class NamesSpec extends org.scalatest.funsuite.AnyFunSuite {
  import Names.normalizeSchemaName

  test("reference doctests (src/utils.py:25-31)") {
    assert(normalizeSchemaName("My Schema 2024") === "my_schema_2024")
    assert(normalizeSchemaName("123-test schema!") === "_123_test_schema")
    assert(normalizeSchemaName("Café & Restaurant") === "cafe_restaurant")
  }

  test("cyrillic transliteration, collapsing, truncation, fallback") {
    assert(normalizeSchemaName("Продажи 2024") === "prodazhi_2024")
    assert(normalizeSchemaName("a   b---c") === "a_b_c")
    assert(normalizeSchemaName("!!!") === "schema_default")
    val long = "x" * 100
    assert(normalizeSchemaName(long).length === Names.MaxLength)
    intercept[IllegalArgumentException](normalizeSchemaName(""))
  }

  test("normalization is idempotent") {
    val inputs = Seq("My Schema 2024", "123-test!", "Café", "a__b", "ПРИВЕТ мир")
    for (in <- inputs) {
      val once = normalizeSchemaName(in)
      assert(normalizeSchemaName(once) === once)
    }
  }
}

class CatalogSpec extends SparkSpec {

  private def freshCatalog(): (Catalog, java.nio.file.Path) = {
    val dir = Files.createTempDirectory("graft_meta")
    var tick = 0L
    val clock = () => { tick += 1000; new Timestamp(1700000000000L + tick) }
    (new Catalog(spark, dir.toString, clock), dir)
  }

  test("demo load losing its namespace to a concurrent delete raises ConcurrentModification") {
    val dir = Files.createTempDirectory("graft_meta")
    val demo = Files.createTempDirectory("graft_demo")
    Files.writeString(demo.resolve("t1.csv"), "a,b\n1,2\n")
    // Deterministic race: the injected clock fires a reentrant
    // deleteNamespace on its 2nd call — inside createTable for the
    // first CSV, after createNamespace returned — simulating a
    // concurrent DELETE /namespace/{id} landing mid-load. (The catalog
    // monitor is reentrant, so same-thread delete stands in for the
    // interleaving a second request thread would produce.)
    var cat: Catalog = null
    var calls = 0
    // unique schema name: suites share one Spark session and sbt runs
    // them in parallel, so racing the DEFAULT demo_dataset schema here
    // would yank the database out from under HttpFacadeSpec's
    // demo-upload E2E (observed as its 500-vs-200 flake)
    val clock = () => {
      calls += 1
      if (cat != null && calls == 2)
        cat.listNamespaces().find(_.schemaName == "race_demo_ns")
          .foreach(n => cat.deleteNamespace(n.id))
      new Timestamp(1700000000000L + calls * 1000L)
    }
    cat = new Catalog(spark, dir.toString, clock)
    val e = intercept[Catalog.ConcurrentModification](
      cat.loadDemoDataset(demo.toString, "Race Demo NS"))
    assert(e.getMessage.contains("deleted concurrently"))
  }

  test("namespace CRUD round-trips with RETURNING semantics") {
    val (cat, _) = freshCatalog()
    val ns = cat.createNamespace("My Test NS 1", "demo")
    assert(ns.schemaName === "my_test_ns_1")
    assert(spark.catalog.databaseExists("my_test_ns_1"))
    assert(cat.listNamespaces().map(_.id) === Seq(ns.id))
    val updated = cat.updateNamespace(ns.id, description = Some("new")).get
    assert(updated.description === "new")
    assert(updated.updatedAt.after(ns.updatedAt))
    intercept[IllegalArgumentException](cat.createNamespace("My Test NS 1"))
    assert(cat.deleteNamespace(ns.id))
    assert(!spark.catalog.databaseExists("my_test_ns_1"))
    assert(cat.listNamespaces().isEmpty)
  }

  test("CSV ingest: validation, schema inference, saveAsTable, metadata") {
    val (cat, _) = freshCatalog()
    val ns = cat.createNamespace("Ingest NS")
    val entry = cat.createTable(ns.id, "People")
    assert(!entry.isLoaded)

    val csv = Files.createTempFile("people", ".csv")
    Files.writeString(csv, "id,name,score\n1,ann,9.5\n2,bob,7.25\n")
    val loaded = cat.loadCsv(entry.id, csv.toString)
    assert(loaded.isLoaded && loaded.fileSize > 0)
    val df = spark.table("ingest_ns.people")
    assert(df.count() === 2)
    assert(df.schema("id").dataType.typeName === "integer")
    assert(df.schema("score").dataType.typeName === "double")
    // re-load is rejected (reference blocks already-loaded tables)
    intercept[IllegalArgumentException](cat.loadCsv(entry.id, csv.toString))
    // wrong extension / empty file rejected
    val txt = Files.createTempFile("x", ".txt")
    val e2 = cat.createTable(ns.id, "Other")
    intercept[IllegalArgumentException](cat.loadCsv(e2.id, txt.toString))
    val empty = Files.createTempFile("empty", ".csv")
    intercept[IllegalArgumentException](cat.loadCsv(e2.id, empty.toString))
    cat.deleteNamespace(ns.id)
  }

  test("JSON-lines ingest: inference (incl. nested), validators, metadata") {
    val (cat, _) = freshCatalog()
    val ns = cat.createNamespace("Json NS")
    val entry = cat.createTable(ns.id, "Events J")
    val jl = Files.createTempFile("events", ".jsonl")
    Files.writeString(jl,
      """{"id": 1, "tags": {"k": "a"}, "v": 1.5}
        |{"id": 2, "tags": {"k": "b"}, "v": 2.5}
        |""".stripMargin)
    val loaded = cat.loadJson(entry.id, jl.toString)
    assert(loaded.isLoaded)
    val df = spark.table("json_ns.events_j")
    assert(df.count() === 2)
    assert(df.schema("tags").dataType.typeName === "struct")
    // validators shared with the CSV path
    intercept[IllegalArgumentException](cat.loadJson(entry.id, jl.toString))
    val e2 = cat.createTable(ns.id, "Other J")
    val csv = Files.createTempFile("x", ".csv")
    intercept[IllegalArgumentException](cat.loadJson(e2.id, csv.toString))
    cat.deleteNamespace(ns.id)
  }

  test("metadata persists across catalog instances") {
    val dir = Files.createTempDirectory("graft_meta")
    // every stamp carries sub-millisecond nanos, which must round-trip
    var tick = 0
    val clock = () => {
      tick += 1
      val t = new Timestamp(1700000000000L + tick * 1000L)
      t.setNanos(123456789 + tick)
      t
    }
    val cat = new Catalog(spark, dir.toString, clock)
    val ns = cat.createNamespace("Продажи Persist Café", "say \"hi\",\nthen 'bye' \\ done")
    val gone = cat.createNamespace("Persist Gone NS")
    val people = cat.createTable(ns.id, "Люди People")
    val csv = Files.createTempFile("persist_people", ".csv")
    Files.writeString(csv, "id,name\n1,ann\n")
    cat.loadCsv(people.id, csv.toString)
    cat.createTable(ns.id, "Unloaded")
    cat.createTable(gone.id, "Doomed")
    cat.updateNamespace(ns.id, name = Some("Продажи Persist Café 2"))
    assert(cat.deleteNamespace(gone.id))

    val reopened = new Catalog(spark, dir.toString)
    val nss = cat.listNamespaces()
    assert(nss.map(_.schemaName) === Seq("prodazhi_persist_cafe"))
    assert(reopened.listNamespaces() === nss)
    val tbls = cat.listTables(ns.id)
    assert(tbls.map(_.name) === Seq("Люди People", "Unloaded"))
    assert(reopened.listTables(ns.id) === tbls)
    for (t <- tbls) assert(reopened.getTable(t.id) === Some(t))
    // what deleteNamespace removed stays removed
    assert(reopened.getNamespace(gone.id).isEmpty)
    assert(reopened.listTables(gone.id).isEmpty)

    val back = reopened.getNamespace(ns.id).get
    assert(back.name === "Продажи Persist Café 2")
    assert(back.description === "say \"hi\",\nthen 'bye' \\ done")
    assert(back.createdAt.getNanos % 1000000 !== 0)
    assert(back.updatedAt === cat.getNamespace(ns.id).get.updatedAt)
    val loaded = reopened.getTable(people.id).get
    assert(loaded.isLoaded)
    assert(loaded.fileName === csv.getFileName.toString)
    assert(loaded.fileSize === Files.size(csv))
    reopened.deleteNamespace(ns.id)
  }

  test("a stray temp file in metaDir does not change what a reopened catalog lists") {
    val (cat, dir) = freshCatalog()
    val ns = cat.createNamespace("Stray Tmp NS")
    // what a write cut short between its temp file and its rename
    // leaves behind: a half-written and a complete but unpublished copy
    Files.writeString(dir.resolve(".namespaces.json123.tmp"), "[{\"id\": 7, \"na")
    Files.writeString(dir.resolve(".namespaces.json456.tmp"), "[]")
    Files.writeString(dir.resolve("namespaces.json.tmp"), "[]")
    val reopened = new Catalog(spark, dir.toString)
    assert(reopened.listNamespaces() === Seq(ns))
    reopened.deleteNamespace(ns.id)
  }

  test("catalog readers do not wait behind an ingest that holds the write lock") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = Files.createTempDirectory("graft_meta")
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var blocking = false
    // ingest stamps updatedAt after its saveAsTable, still holding the
    // catalog monitor: an armed clock parks the loading thread there
    val clock = () => {
      if (blocking) { entered.countDown(); release.await(2, TimeUnit.MINUTES) }
      new Timestamp(1700000000000L)
    }
    val cat = new Catalog(spark, dir.toString, clock)
    val ns = cat.createNamespace("Unblocked Readers NS")
    val t = cat.createTable(ns.id, "Rows")
    val csv = Files.createTempFile("unblocked", ".csv")
    Files.writeString(csv, "a\n1\n")
    blocking = true
    val load = Future(cat.loadCsv(t.id, csv.toString))
    try {
      assert(entered.await(2, TimeUnit.MINUTES), "loadCsv never reached the clock")
      def within2s[A](read: => A): A = Await.result(Future(read), 2.seconds)
      assert(within2s(cat.getTable(t.id)) === Some(t))
      assert(within2s(cat.listTables(ns.id)) === Seq(t))
      assert(within2s(cat.getNamespace(ns.id)) === Some(ns))
      assert(within2s(cat.listNamespaces()).contains(ns))
    } finally release.countDown()
    val loaded = Await.result(load, 2.minutes)
    assert(loaded.isLoaded)
    assert(cat.getTable(t.id) === Some(loaded))
    cat.deleteNamespace(ns.id)
  }

  test("metadata edits start no Spark job") {
    val (cat, _) = freshCatalog()
    val jobs = jobsOf {
      val ns = cat.createNamespace("No Job NS")
      val t = cat.createTable(ns.id, "No Job Table")
      cat.updateNamespace(ns.id, description = Some("edited"))
      cat.updateTable(t.id, name = Some("Renamed"))
      assert(cat.deleteTable(t.id))
      assert(cat.deleteNamespace(ns.id))
    }
    assert(jobs === 0)
  }

  test("demo bulk load creates one table per CSV") {
    val (cat, _) = freshCatalog()
    val dir = Files.createTempDirectory("demo_csvs")
    Files.writeString(dir.resolve("aa.csv"), "x\n1\n")
    Files.writeString(dir.resolve("bb.csv"), "y\n2\n")
    val (ns, entries) = cat.loadDemoDataset(dir.toString, "Bulk NS X")
    assert(ns.schemaName === "bulk_ns_x")
    assert(entries.length === 2 && entries.forall(_.isLoaded))
    assert(spark.table("bulk_ns_x.aa").count() === 1)
    // replace semantics: a second load drops and recreates, not errors
    val (ns2, entries2) = cat.loadDemoDataset(dir.toString, "Bulk NS X")
    assert(cat.listNamespaces().count(_.schemaName === "bulk_ns_x") === 1)
    assert(entries2.length === 2)
    assert(spark.table("bulk_ns_x.aa").count() === 1)
    cat.deleteNamespace(ns2.id)
  }

  test("demo load skips per-file failures instead of aborting half-loaded") {
    val (cat, _) = freshCatalog()
    val dir = Files.createTempDirectory("demo_csvs_skip")
    // 'sales report.csv' and 'sales_report.csv' both normalize to table
    // name sales_report — the second must SKIP (per-file continue), not
    // abort with the old namespace already destroyed; the lexically
    // later valid file must still load
    Files.writeString(dir.resolve("sales report.csv"), "x\n1\n")
    Files.writeString(dir.resolve("sales_report.csv"), "y\n2\n3\n")
    Files.writeString(dir.resolve("zz_ok.csv"), "z\n9\n")
    // a file named just '.csv' has an EMPTY basename — pre-filtered
    // out with the size checks BEFORE the destructive replace (a
    // per-file skip would let an all-'.csv' directory destroy the old
    // namespace and then load nothing)
    Files.writeString(dir.resolve(".csv"), "w\n7\n")
    val (ns, entries) = cat.loadDemoDataset(dir.toString, "Bulk NS Skip")
    assert(entries.map(_.tableName).sorted === Seq("sales_report", "zz_ok"))
    assert(entries.forall(_.isLoaded))
    // the FIRST of the colliding pair won (files load in sorted order)
    assert(spark.table("bulk_ns_skip.sales_report").count() === 1)
    assert(spark.table("bulk_ns_skip.zz_ok").count() === 1)
    // no husk entry left behind for the skipped file
    assert(cat.listTables(ns.id).length === 2)
    cat.deleteNamespace(ns.id)
  }

  test("demo load: a failed earlier file releases its name claim to a valid later one") {
    val (cat, _) = freshCatalog()
    val dir = Files.createTempDirectory("demo_csvs_release")
    // 'sales report.csv' sorts first and FAILS content load (blank
    // lines only: the header consumes one, the parser fails the write
    // job on the rest); 'sales_report.csv' is valid and normalizes to
    // the same table name. First SUCCESSFUL file wins: the failed
    // attempt must not shadow the valid one
    Files.writeString(dir.resolve("sales report.csv"), "\n\n")
    Files.writeString(dir.resolve("sales_report.csv"), "y\n2\n")
    val (ns, entries) = cat.loadDemoDataset(dir.toString, "Bulk NS Release")
    assert(entries.map(_.tableName) === Seq("sales_report"))
    assert(entries.forall(_.isLoaded))
    assert(spark.table("bulk_ns_release.sales_report")
      .columns.toSeq === Seq("y"), "the VALID later file must have won")
    assert(cat.listTables(ns.id).length === 1)
    cat.deleteNamespace(ns.id)
  }

  test("demo load refuses an all-invalid directory WITHOUT destroying the old data") {
    val (cat, _) = freshCatalog()
    val good = Files.createTempDirectory("demo_guard_good")
    Files.writeString(good.resolve("t1.csv"), "a\n1\n")
    val (ns1, _) = cat.loadDemoDataset(good.toString, "Bulk NS Guard")
    // every file in the replacement directory fails pre-validation
    // (empty basename): the replace must refuse BEFORE the delete, so
    // the previous demo namespace and its loaded table survive intact
    val bad = Files.createTempDirectory("demo_guard_bad")
    Files.writeString(bad.resolve(".csv"), "w\n7\n")
    intercept[IllegalArgumentException](
      cat.loadDemoDataset(bad.toString, "Bulk NS Guard"))
    assert(cat.getNamespace(ns1.id).nonEmpty,
      "the old namespace must survive a refused replace")
    assert(cat.listTables(ns1.id).length === 1)
    assert(spark.table("bulk_ns_guard.t1").count() === 1)
    cat.deleteNamespace(ns1.id)
  }

  test("concurrent demo bulk loads never race the delete+create") {
    val (cat, _) = freshCatalog()
    val dir = Files.createTempDirectory("demo_csvs_conc")
    Files.writeString(dir.resolve("cc.csv"), "x\n1\n")
    // two simultaneous replace-loads: without the single lock hold
    // across delete+create, both can pass the delete and collide on
    // CREATE DATABASE (or leave duplicate metadata rows)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val loads = (1 to 2).map(_ => Future(
      cat.loadDemoDataset(dir.toString, "Bulk NS Conc")))
    loads.foreach(Await.result(_, 2.minutes))
    assert(cat.listNamespaces().count(_.schemaName === "bulk_ns_conc") === 1)
    cat.listNamespaces().filter(_.schemaName == "bulk_ns_conc")
      .foreach(ns => cat.deleteNamespace(ns.id))
  }

  test("table edit + delete (reference route intent, models unswapped)") {
    val (cat, _) = freshCatalog()
    val ns = cat.createNamespace("Edit NS")
    val t = cat.createTable(ns.id, "People")
    val renamed = cat.updateTable(t.id, name = Some("Folks")).get
    assert(renamed.name === "Folks")
    assert(renamed.tableName === "people") // physical name is stable
    assert(renamed.updatedAt.after(t.updatedAt) || renamed.updatedAt.equals(t.updatedAt))
    assert(cat.updateTable(999L).isEmpty)

    val csv = Files.createTempFile("cat_del", ".csv")
    Files.writeString(csv, "a\n1\n")
    cat.loadCsv(t.id, csv.toString)
    assert(spark.catalog.tableExists("edit_ns.people"))
    assert(cat.deleteTable(t.id))
    assert(!spark.catalog.tableExists("edit_ns.people"))
    assert(cat.getTable(t.id).isEmpty)
    assert(!cat.deleteTable(t.id))
    cat.deleteNamespace(ns.id)
  }
}

class SchemaDocsSpec extends SparkSpec {
  test("markdown matches the reference golden format") {
    spark.range(3).selectExpr("id AS order_id", "CAST(id AS STRING) AS sku")
      .createOrReplaceTempView("docs_items")
    val md = SchemaDocs.buildMarkdown(spark,
      descriptions = Map("docs_items" -> Map("sku" -> "Stock keeping unit")))
    assert(md.startsWith("# Data Warehouse Schema (auto-generated)\n"))
    assert(md.contains("## docs_items"))
    assert(md.contains("| column | type | pk | not_null | description |"))
    assert(md.contains("|---|---|---:|---:|---|"))
    assert(md.contains("| order_id | BIGINT |  | 1 |  |"))
    assert(md.contains("| sku | VARCHAR |  | 1 | Stock keeping unit |"))
    spark.catalog.dropTempView("docs_items")
  }

  test("buildMarkdown resolves tables through their own database") {
    val dbSpark = spark
    dbSpark.sql("CREATE DATABASE IF NOT EXISTS docs_db_x")
    try {
      dbSpark.range(2).selectExpr("id AS k").write
        .mode("overwrite").saveAsTable("docs_db_x.things")
      val md = SchemaDocs.buildMarkdown(dbSpark, db = "docs_db_x")
      assert(md.contains("## things"))
      assert(md.contains("| k | BIGINT |"))
    } finally dbSpark.sql("DROP DATABASE IF EXISTS docs_db_x CASCADE")
  }

  test("writeSchemaDocs writes atomically") {
    val out = Files.createTempDirectory("docs").resolve("schema_docs.md")
    SchemaDocs.writeSchemaDocs(spark, out.toString)
    assert(Files.readString(out).startsWith("# Data Warehouse Schema"))
  }
}
