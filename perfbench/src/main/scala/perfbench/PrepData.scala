package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The data-prep step after ScaleGen, run once per data set. It prints
  * `{"table": rows, ...}` for every table, which run.py compares with
  * the expected counts, and exports the rows the workloads send as
  * requests and arrivals, so that a run slices text files instead of
  * starting Spark jobs to make its inputs:
  *  - `orders_head.csv`: the first [[PrepData.OrdersHead]] orders by
  *    key, with a header line (serve's CSV uploads);
  *  - `documents.jsonl`: every document by id, without `ingest_ts`,
  *    which each arrival stamps (stream);
  *  - `events.jsonl`: every event in (ts, event_id) order (stream). */
object PrepData {
  val OrdersHead = 20000

  def main(argv: Array[String]): Unit = {
    val dir = argv(0)
    val spark = graft.LocalSpark.hardened(SparkSession.builder())
      .master("local[4]").config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def write(file: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(dir, file), lines.asJava)

    val orders = spark.read.parquet(s"$dir/orders.parquet")
    write("orders_head.csv", orders.columns.mkString(",") +:
      orders.orderBy("o_orderkey").limit(OrdersHead).collect().toSeq
        .map(_.toSeq.map(v => String.valueOf(v)).mkString(",")))
    val tables = graft.sources.Tables
    write("documents.jsonl", tables.table(spark, dir, "documents").orderBy("doc_id")
      .select(to_json(struct("doc_id", "lang", "source", "text"))).collect().toSeq.map(_.getString(0)))
    write("events.jsonl", tables.table(spark, dir, "events").orderBy("ts", "event_id")
      .select(to_json(struct("event_id", "user_id", "event_type", "value", "props", "ts"),
        Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").asJava))
      .collect().toSeq.map(_.getString(0)))

    val counts = tables.names.map(t => t -> spark.read.parquet(s"$dir/$t.parquet").count())
    println(Main.mapper.writeValueAsString(Main.jsonObject(counts)))
    spark.stop()
  }
}
