package graft.catalog

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.time.Instant

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Namespace metadata row (reference `src/database/models.py:20-26`). */
final case class Namespace(
    id: Long,
    name: String,
    schemaName: String,
    description: String,
    createdAt: Timestamp,
    updatedAt: Timestamp)

/** Table metadata row (reference `src/database/models.py:82-91`). */
final case class TableEntry(
    id: Long,
    namespaceId: Long,
    name: String,
    tableName: String,
    fileName: String,
    fileSize: Long,
    isLoaded: Boolean,
    createdAt: Timestamp,
    updatedAt: Timestamp)

object Catalog {
  /** A multi-step catalog operation lost a race with a concurrent
    * delete (e.g. a regular `DELETE /namespace/{id}` yanking the demo
    * namespace out from under an in-flight demo load). Distinct from
    * `IllegalArgumentException` (caller error → 400): the request was
    * well-formed and the conflict is with other traffic, so the facade
    * maps this to 409. */
  final case class ConcurrentModification(message: String)
      extends RuntimeException(message)

  // ------------------------------------------- metadata file format (JSON)

  private val mapper = new ObjectMapper()

  private def load[T](file: Path, row: JsonNode => T): Vector[T] =
    if (Files.exists(file)) mapper.readTree(file.toFile).asScala.map(row).toVector
    else Vector.empty

  private def save[T](file: Path, rows: Seq[T])(json: T => ObjectNode): Unit = {
    val arr = mapper.createArrayNode()
    rows.foreach(r => arr.add(json(r)))
    AtomicFile.replace(file, mapper.writeValueAsBytes(arr))
  }

  private def instant(t: Timestamp): String = t.toInstant.toString
  private def timestamp(j: JsonNode, field: String): Timestamp =
    Timestamp.from(Instant.parse(j.get(field).textValue))

  private def namespaceJson(n: Namespace): ObjectNode = mapper.createObjectNode()
    .put("id", n.id).put("name", n.name).put("schemaName", n.schemaName)
    .put("description", n.description)
    .put("createdAt", instant(n.createdAt)).put("updatedAt", instant(n.updatedAt))

  private def readNamespace(j: JsonNode): Namespace = Namespace(
    j.get("id").asLong, j.get("name").textValue, j.get("schemaName").textValue,
    j.get("description").textValue,
    timestamp(j, "createdAt"), timestamp(j, "updatedAt"))

  private def tableJson(t: TableEntry): ObjectNode = mapper.createObjectNode()
    .put("id", t.id).put("namespaceId", t.namespaceId).put("name", t.name)
    .put("tableName", t.tableName).put("fileName", t.fileName)
    .put("fileSize", t.fileSize).put("isLoaded", t.isLoaded)
    .put("createdAt", instant(t.createdAt)).put("updatedAt", instant(t.updatedAt))

  private def readTable(j: JsonNode): TableEntry = TableEntry(
    j.get("id").asLong, j.get("namespaceId").asLong, j.get("name").textValue,
    j.get("tableName").textValue, j.get("fileName").textValue,
    j.get("fileSize").asLong, j.get("isLoaded").asBoolean,
    timestamp(j, "createdAt"), timestamp(j, "updatedAt"))
}

/** Catalog / metadata layer (SURVEY.md §2.4 C1–C10): namespaces map
  * 1:1 to Spark SQL databases; user tables are parquet-backed catalog
  * tables ingested from CSV with inferred schemas (S1). The metadata
  * rows are this service's own state, as in the reference's
  * one-connection DuckDB model where sequences, RETURNING and cascades
  * are engine features (here: max+1 ids under the monitor,
  * write-then-return rows, explicit child-first deletes).
  *
  * '''Persistence.''' Each collection is one JSON array under `metaDir`,
  * `namespaces.json` and `tables.json`: one object per row, keyed by
  * the case-class field names, timestamps as ISO-8601 instants (so
  * nanoseconds round-trip). An edit rewrites only the file of the
  * collection it touched, through [[AtomicFile.replace]] (temp file,
  * fsync, atomic rename): a reopened catalog sees the previous or the
  * new rows, never none. The rows are a few hundred bytes each, so
  * they are not written through Spark: a Spark write is a job plus a
  * directory swap per edit, tens to hundreds of milliseconds, where
  * the reference pays one sub-millisecond `INSERT … RETURNING`.
  *
  * '''Locking.''' Writers serialise on this object's monitor: each
  * computes the new collection, persists it, then publishes it to a
  * `@volatile` immutable `Vector`. Readers ([[getNamespace]],
  * [[listNamespaces]], [[getTable]], [[listTables]]) take that
  * snapshot without the lock, so a lookup never waits behind a write,
  * not even an ingest that holds the monitor through a `saveAsTable`,
  * and never sees a row that is not yet on disk.
  *
  * The injected `now` clock keeps created/updated stamps testable
  * (never `current_timestamp()` inside declared queries).
  */
class Catalog(
    spark: SparkSession,
    metaDir: String,
    now: () => Timestamp = () => new Timestamp(System.currentTimeMillis())) {
  import Catalog._

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[Catalog])

  val MaxCsvBytes: Long = 50L * 1024 * 1024

  private val nsFile = Paths.get(metaDir, "namespaces.json")
  private val tblFile = Paths.get(metaDir, "tables.json")

  @volatile private var namespaces: Vector[Namespace] = load(nsFile, readNamespace)
  @volatile private var tables: Vector[TableEntry] = load(tblFile, readTable)

  // Persist, then publish: readers never see a row that is not on
  // disk. Callers hold the monitor.
  private def setNamespaces(rows: Vector[Namespace]): Unit = {
    save(nsFile, rows)(namespaceJson); namespaces = rows
  }
  private def setTables(rows: Vector[TableEntry]): Unit = {
    save(tblFile, rows)(tableJson); tables = rows
  }

  private def nextId(ids: Seq[Long]): Long =
    if (ids.isEmpty) 1L else ids.max + 1L

  /** Managed-table hygiene: when the catalog has NO table `schema.table`
    * but its managed warehouse location still holds files (orphans left
    * by a previous session's metastore — the warehouse outlives an
    * ephemeral catalog), `saveAsTable` fails with
    * LOCATION_ALREADY_EXISTS. The catalog is the source of truth, so an
    * unregistered location is garbage: delete it (Hadoop FS API — works
    * for any scheme, local or distributed). */
  private def clearOrphanLocation(schema: String, table: String): Unit =
    if (!spark.catalog.tableExists(s"$schema.$table")) {
      val dbLoc = spark.sessionState.catalog.getDatabaseMetadata(schema).locationUri
      val loc = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(dbLoc), table)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }

  // ------------------------------------------------------------- namespaces

  /** C1: create namespace — normalize display name, `CREATE DATABASE
    * IF NOT EXISTS`, insert + return the metadata row. */
  def createNamespace(displayName: String, description: String = ""): Namespace =
    synchronized {
      val schema = Names.normalizeSchemaName(displayName)
      require(!namespaces.exists(_.schemaName == schema),
        s"namespace '$schema' already exists")
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `$schema`")
      val t = now()
      val ns = Namespace(nextId(namespaces.map(_.id)), displayName, schema,
        description, t, t)
      setNamespaces(namespaces :+ ns)
      ns
    }

  /** C2: list (ORDER BY id) / get / update (stamps updatedAt, returns
    * the full row — RETURNING semantics). */
  def listNamespaces(): Seq[Namespace] = namespaces.sortBy(_.id)

  def getNamespace(id: Long): Option[Namespace] = namespaces.find(_.id == id)

  def updateNamespace(id: Long, name: Option[String] = None,
      description: Option[String] = None): Option[Namespace] = synchronized {
    namespaces.find(_.id == id).map { ns =>
      val updated = ns.copy(
        name = name.getOrElse(ns.name),
        description = description.getOrElse(ns.description),
        updatedAt = now())
      setNamespaces(namespaces.map(n => if (n.id == id) updated else n))
      updated
    }
  }

  /** C3: drop the database CASCADE + delete metadata (children first). */
  def deleteNamespace(id: Long): Boolean = synchronized {
    namespaces.find(_.id == id) match {
      case None => false
      case Some(ns) =>
        spark.sql(s"DROP DATABASE IF EXISTS `${ns.schemaName}` CASCADE")
        val keptNs = namespaces.filterNot(_.id == id)
        val keptTables = tables.filterNot(_.namespaceId == id)
        // namespace file first: a crash in between leaves orphan table
        // rows no route reaches, not a namespace whose database is gone
        save(nsFile, keptNs)(namespaceJson)
        save(tblFile, keptTables)(tableJson)
        // tables first: a reader that sees the namespace gone sees its
        // tables gone too
        tables = keptTables
        namespaces = keptNs
        true
    }
  }

  // ----------------------------------------------------------------- tables

  /** C4: register a table entry (data loaded later via [[loadCsv]]). */
  def createTable(namespaceId: Long, displayName: String): TableEntry =
    synchronized {
      require(namespaces.exists(_.id == namespaceId),
        s"namespace $namespaceId does not exist")
      val tableName = Names.normalizeSchemaName(displayName)
      require(
        !tables.exists(t => t.namespaceId == namespaceId && t.tableName == tableName),
        s"table '$tableName' already exists in namespace $namespaceId")
      val t = now()
      val entry = TableEntry(nextId(tables.map(_.id)), namespaceId, displayName,
        tableName, "", 0L, isLoaded = false, t, t)
      setTables(tables :+ entry)
      entry
    }

  def listTables(namespaceId: Long): Seq[TableEntry] =
    tables.filter(_.namespaceId == namespaceId).sortBy(_.id)

  def getTable(id: Long): Option[TableEntry] = tables.find(_.id == id)

  /** Edit a table's display name (RETURNING semantics, like
    * [[updateNamespace]]). The reference's edit route
    * (`namespace_table.py:124-135`) operates on the wrong model — this
    * is its documented intent. The physical `tableName` is fixed at
    * create time (normalized identifier backing a real Spark table),
    * so only the display name moves. */
  def updateTable(id: Long, name: Option[String] = None): Option[TableEntry] =
    synchronized {
      tables.find(_.id == id).map { t =>
        val updated = t.copy(
          name = name.getOrElse(t.name),
          updatedAt = now())
        setTables(tables.map(x => if (x.id == id) updated else x))
        updated
      }
    }

  /** Delete one table: drop the physical Spark table when loaded, then
    * remove the metadata row (the reference's delete route intent,
    * `namespace_table.py:138-144` — its implementation deletes by
    * namespace id). */
  def deleteTable(id: Long): Boolean = synchronized {
    tables.find(_.id == id) match {
      case None => false
      case Some(t) =>
        if (t.isLoaded)
          namespaces.find(_.id == t.namespaceId).foreach { ns =>
            spark.sql(s"DROP TABLE IF EXISTS `${ns.schemaName}`.`${t.tableName}`")
          }
        setTables(tables.filterNot(_.id == id))
        true
    }
  }

  /** C5 + S1: validate the CSV (`.csv`, ≤50 MB, non-empty, not already
    * loaded), ingest with header + schema inference, save as a
    * parquet-backed catalog table, stamp file metadata. */
  def loadCsv(tableId: Long, csvPath: String): TableEntry =
    ingest(tableId, csvPath, Seq(".csv"), "Only CSV files are allowed",
      p => spark.read
        .option("header", "true")
        .option("inferSchema", "true")
        .csv(p))

  /** JSON-lines variant of [[loadCsv]] (same validators and metadata
    * stamping; schema inferred by the JSON reader — nested fields
    * arrive as struct columns, which Spark tables store natively). */
  def loadJson(tableId: Long, jsonPath: String): TableEntry =
    ingest(tableId, jsonPath, Seq(".json", ".jsonl"),
      "Only JSON-lines files are allowed",
      p => spark.read.json(p))

  private def ingest(tableId: Long, path: String, exts: Seq[String],
      extMessage: String,
      read: String => org.apache.spark.sql.DataFrame): TableEntry =
    synchronized {
      val entry = tables.find(_.id == tableId)
        .getOrElse(throw new IllegalArgumentException(s"table $tableId not found"))
      require(!entry.isLoaded, s"table ${entry.tableName} already loaded")
      require(exts.exists(path.endsWith), extMessage)
      val p = Paths.get(path)
      require(Files.exists(p), s"no such file: $path")
      val size = Files.size(p)
      require(size > 0, "File is empty")
      require(size <= MaxCsvBytes,
        f"File too large: ${size / 1048576.0}%.1f MB. Maximum allowed: 50.0 MB")
      val ns = namespaces.find(_.id == entry.namespaceId).get
      clearOrphanLocation(ns.schemaName, entry.tableName)
      read(path)
        .write.mode(SaveMode.Overwrite)
        .saveAsTable(s"`${ns.schemaName}`.`${entry.tableName}`")
      val updated = entry.copy(
        fileName = p.getFileName.toString, fileSize = size,
        isLoaded = true, updatedAt = now())
      setTables(tables.map(t => if (t.id == tableId) updated else t))
      updated
    }

  /** C6 (documented intent; the reference's implementation has latent
    * NameErrors): bulk-load every CSV in a directory into a
    * `demo_dataset` namespace, one table per file. Replace semantics
    * per the reference route's own description
    * (`namespace.py:95-97` "(replace)"): an existing namespace of the
    * same schema name is dropped first, so re-upload refreshes the
    * demo data instead of erroring. */
  def loadDemoDataset(dir: String,
      namespaceName: String = "Demo Dataset"): (Namespace, Seq[TableEntry]) = {
    // Validate the source BEFORE destroying anything: the replace only
    // begins once the directory exists and holds loadable CSVs, so a
    // bad path or an all-invalid directory cannot cascade away the
    // previous demo data and leave nothing behind. Files that would
    // fail loadCsv's validators (empty, oversized) are skipped — the
    // reference's per-file `continue` — rather than aborting mid-load.
    val p = Paths.get(dir)
    require(Files.isDirectory(p), s"no such demo data directory: $dir")
    val listing = Files.list(p)
    val csvs =
      try listing.toArray.map(_.toString)
      finally listing.close() // Files.list leaks a directory fd until GC
    val loadable = csvs
      .filter(_.endsWith(".csv")).sorted
      .filter { f =>
        val size = Files.size(Paths.get(f))
        // the empty-basename check (a file named just '.csv') belongs
        // HERE, before the destructive replace below: if it were a
        // per-file skip, a directory of only such files would pass
        // `loadable.nonEmpty`, destroy the old demo namespace, skip
        // everything, and abort with nothing left — breaking this
        // function's validate-before-destroying promise
        val base = Paths.get(f).getFileName.toString.stripSuffix(".csv")
        if (base.isEmpty) log.warn(s"demo load skipped '$f': empty basename")
        size > 0 && size <= MaxCsvBytes && base.nonEmpty
      }
    require(loadable.nonEmpty, s"no loadable CSV files in $dir")
    val schema = Names.normalizeSchemaName(namespaceName)
    // Demo replace-loads serialize against EACH OTHER on a dedicated
    // lock: with the facade serving on a thread pool, two concurrent
    // demo-uploads could otherwise both pass the delete and race the
    // CREATE DATABASE — or the second's delete could yank the
    // namespace out from under the first's per-file loads. Regular
    // catalog traffic is not held up: it contends only on the usual
    // short monitor sections inside delete/create/load.
    demoLoadLock.synchronized {
      val ns = synchronized {
        namespaces.find(_.schemaName == schema).foreach(old => deleteNamespace(old.id))
        createNamespace(namespaceName, "bulk-loaded demo data")
      }
      // Expected per-file conditions are PRE-CHECKED here (duplicate
      // normalized names via `seen`; empty basenames in the loadable
      // filter above) rather than caught by matching createTable's
      // exception message — message-substring matching would couple
      // skip-vs-abort behavior to wording in Names.scala, where a
      // reworded require would silently turn an expected skip into a
      // whole-load abort AFTER the old namespace was destroyed.
      val seen = scala.collection.mutable.Set.empty[String]
      val entries = loadable.flatMap { path =>
        val base = Paths.get(path).getFileName.toString.stripSuffix(".csv")
        val tableName = Names.normalizeSchemaName(base)
        if (!seen.add(tableName)) {
          // two file names normalizing to one table: first (sorted) wins
          log.warn(s"demo load skipped '$path': " +
            s"table '$tableName' already loaded from an earlier file")
          None
        } else {
          // The demo lock serializes demo loads against each other, but
          // a concurrent REGULAR deleteNamespace can still remove `ns`
          // between createNamespace above and these per-file calls. That
          // is a conflict with other traffic, not a bad request —
          // surface it as ConcurrentModification (→ 409), not a require
          // failure (createTable's namespace check) or a bare
          // NoSuchElement (ingest's namespace lookup). A file Spark
          // cannot parse as CSV skips (logged) and keeps loading; any
          // OTHER failure from createTable is an unexpected bug and
          // propagates rather than being silently skipped.
          try {
            val entry = createTable(ns.id, base)
            try Some(loadCsv(entry.id, path))
            catch {
              case e @ (_: IllegalArgumentException | _: NoSuchElementException)
                  if getNamespace(ns.id).isEmpty => throw e // outer 409 path
              case NonFatal(e) =>
                // content failed after the entry was created: remove the
                // empty husk so the namespace only lists loaded tables,
                // and RELEASE the name claim — the first SUCCESSFUL
                // file wins, not the first attempted, so a valid later
                // file normalizing to the same table still loads. The
                // claim is released ONLY when the husk actually came
                // out: if deleteTable itself failed (swallowed below),
                // the entry still exists, and a released claim would
                // send the later same-name file into createTable's
                // duplicate `require` — which, with the namespace
                // present, matches no catch and would abort the whole
                // load AFTER the old namespace was destroyed. Keeping
                // the claim degrades that to a logged per-file skip.
                val huskRemoved =
                  try { deleteTable(entry.id); true }
                  catch { case NonFatal(_) => false }
                if (huskRemoved) seen.remove(tableName)
                log.warn(s"demo load skipped '$path': ${e.getMessage}")
                None
            }
          } catch {
            case _ @ (_: IllegalArgumentException | _: NoSuchElementException)
                if getNamespace(ns.id).isEmpty =>
              throw Catalog.ConcurrentModification(
                s"namespace '${ns.schemaName}' was deleted concurrently during demo load")
          }
        }
      }.toSeq
      require(entries.nonEmpty,
        s"no CSV file in $dir survived loading into '$schema'")
      (ns, entries)
    }
  }

  private val demoLoadLock = new Object
}
