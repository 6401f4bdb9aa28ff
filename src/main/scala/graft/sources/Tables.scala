package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet-backed table provider over the driver testdata layout
  * (`/root/testdata/sf{N}/{name}.parquet`, see TESTDATA.md).
  *
  * Reference analogue: the DuckDB catalog the copilot queries
  * (reference `src/database/db_connector.py:54-112`); here every table is
  * a columnar parquet scan, so Catalyst gets predicate pushdown, column
  * pruning and partition-parallel reads for free — at 100 TB the same
  * code reads a partitioned parquet lake, only `dir` changes.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Small dimensions that should always be broadcast in joins. */
  val smallDims: Set[String] = Set("region", "nation")

  // Relation cache: one file-listing + schema-discovery per
  // (session, dir, table) instead of per query — what a real catalog
  // keeps as table state. DataFrames are immutable plan handles, so
  // sharing them across queries is safe.
  private val relations =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    relations.computeIfAbsent((spark, dir, name), { _ =>
      // events.ts has shipped as THREE physical types across testdata
      // generations: TIMESTAMP(NANOS) (which Spark 4 rejects with
      // [PARQUET_TYPE_ILLEGAL] unless read as a raw long), raw int64
      // nanos (ScaleGen-written localdata), and TIMESTAMP(MICROS)
      // without UTC adjustment (current driver testdata → inferred
      // TimestampNTZType). Normalize ALL of them to a microsecond
      // TimestampType so every downstream query sees one stable type:
      //  - long nanos → timestamp_micros(ts div 1000). Integer division
      //    (a double-path division would lose precision: epoch nanos
      //    ~1.7e18 exceed 2^53).
      //  - TimestampNTZ → cast to TimestampType. Under the project-wide
      //    UTC session timezone this is value-preserving (the naive
      //    micros are reinterpreted as UTC micros, same physical value
      //    the nanos path produced).
      // NB deliberate session-wide side effect: the nanosAsLong conf
      // must remain set for the lifetime of this (lazily executed)
      // DataFrame, so it is never restored. It is a no-op for non-nanos
      // files; any OTHER nanos-timestamp source read in the session
      // will also surface as raw longs and needs its own conversion.
      val raw = if (name == "events") {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val r = spark.read.parquet(s"$dir/$name.parquet")
        r.schema("ts").dataType match {
          case LongType =>
            r.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
          case _ => r // TimestampNTZ handled generically below
        }
      } else {
        spark.read.parquet(s"$dir/$name.parquet")
      }
      // Generic: any NTZ timestamp column in any table becomes
      // TimestampType, so a future testdata regeneration that flips a
      // column's UTC-adjustment flag cannot change downstream types.
      raw.schema.fields.foldLeft(raw) { (df, f) =>
        if (f.dataType == TimestampNTZType)
          df.withColumn(f.name, col(f.name).cast(TimestampType))
        else df
      }
    })
  }

  /** Drop this session's cached relation handles only (entries would
    * otherwise pin the session). [[graft.SessionCache.invalidate]]
    * calls this beside dropping the session's cached frames; use that
    * on session stop or an underlying-data change. */
  def invalidate(spark: SparkSession): Unit = {
    val it = relations.entrySet().iterator()
    while (it.hasNext) if (it.next().getKey._1 eq spark) it.remove()
  }

  /** Register every testdata table as a temp view (idempotent). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
}
