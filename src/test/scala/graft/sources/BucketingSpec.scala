package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.execution.SimpleMode

/** Bucketed co-located joins: both fact tables written bucketed by the
  * join key must join with NO shuffle exchange on either side — the
  * persistent-layout guarantee a 100 TB lake relies on for its
  * canonical keys.
  */
class BucketingSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("bucketed fact-to-fact join plans without an Exchange") {
    val orders = Tables.table(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val lineitem = Tables.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice")
    Bucketing.writeBucketed(orders, "b_orders", 8, Seq("o_orderkey"))
    Bucketing.writeBucketed(lineitem, "b_lineitem", 8, Seq("l_orderkey"))

    // Disable auto-broadcast so the test exercises the big-big join
    // path (at sf0.001 orders would otherwise broadcast and hide the
    // co-location property this pins).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"),
          spark.table("b_orders")("o_orderkey") ===
            spark.table("b_lineitem")("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")

      // and the result matches the unbucketed join exactly
      val expected = orders.join(lineitem,
        orders("o_orderkey") === lineitem("l_orderkey")).count()
      assert(joined.count() === expected)
      assert(expected > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("hive-partitioned layout prunes to one partition at plan time") {
    import spark.implicits._
    val out = java.nio.file.Files
      .createTempDirectory("graft-partitioned").toString
    val events = Tables.table(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"),
        org.apache.spark.sql.functions.pmod(col("user_id"),
          org.apache.spark.sql.functions.lit(7L)).as("day"))
    Bucketing.writePartitioned(events, out, Seq("day"))

    val q = spark.read.parquet(out).where($"day" === 3L)
    val planned = q.queryExecution.executedPlan.toString
    // the day filter must resolve from the directory listing, not a
    // data filter over a full scan
    assert(planned.contains("PartitionFilters:") &&
      planned.contains("(day#") && planned.contains("= 3)"),
      s"day filter must be a partition filter:\n$planned")
    // execute THIS QueryExecution (count() would plan a fresh one and
    // leave these scan metrics untouched)
    val rows = q.collect()
    val scans = q.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val filesRead = scans.map(_.metrics("numFiles").value).sum
    val filesInDay3 = new java.io.File(s"$out/day=3").listFiles()
      .count(_.getName.endsWith(".parquet")).toLong
    val filesTotal = fileCount(out)
    assert(filesRead === filesInDay3,
      s"scan must read only day=3's files ($filesRead vs $filesInDay3)")
    assert(filesTotal > filesInDay3, "other partitions must exist and be skipped")
    // and the pruned read returns exactly the partition's rows
    assert(rows.length.toLong === events.where($"day" === 3L).count())
  }

  private def fileCount(root: String): Long = {
    val d = new java.io.File(root)
    if (!d.exists()) 0L
    else d.listFiles().map { f =>
      if (f.isDirectory) fileCount(f.getPath)
      else if (f.getName.endsWith(".parquet")) 1L else 0L
    }.sum
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)

  test("aggregation on the bucket key also skips the exchange") {
    val orders = Tables.table(spark, dir, "orders")
      .select("o_orderkey", "o_totalprice")
    Bucketing.writeBucketed(orders, "b_orders_agg", 8, Seq("o_orderkey"))
    try {
      val agg = spark.table("b_orders_agg")
        .groupBy("o_orderkey")
        .agg(org.apache.spark.sql.functions.sum("o_totalprice"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"groupBy on the bucket key must not shuffle:\n$plan")
      assert(agg.count() === spark.table("b_orders_agg").count())
    } finally spark.sql("DROP TABLE IF EXISTS b_orders_agg")
  }

  test("declared q15_bucketed_join: join + groupBy + top-k with zero exchanges") {
    // the DECLARED query (oracle-checked for values at sf0.01) must
    // also carry the layout guarantee: with broadcast disabled — the
    // 100 TB regime, where neither fact side fits an executor — the
    // whole plan (bucketed scan → SMJ → groupBy on the bucket key →
    // ordered limit) contains no Exchange of any kind
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = graft.queries.Relational.bucketedJoin(spark, dir)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"),
        s"big-big bucketed join must be a sort-merge join:\n$plan")
      assert(!plan.contains("Exchange"),
        s"declared bucketed query must plan with zero exchanges:\n$plan")
      assert(plan.contains("TakeOrderedAndProject"),
        "the top-25 must not globally sort")
      assert(q.count() === 25)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q15 bucket sizing: ~16M rows per bucket, pow2 round-up, clamped [8,128]") {
    import graft.queries.Relational.bucketsForRows
    // every test/driver scale factor keeps the 8-bucket layout the
    // plan pins above run on
    assert(bucketsForRows(600000L) === 8)     // sf0.1
    assert(bucketsForRows(6000000L) === 8)    // sf1
    assert(bucketsForRows(60000000L) === 8)   // sf10
    // sf100's 600M rows -> 64 buckets (measured: 15.4s vs 18.5s for
    // 32 — round-up's extra task wave wins, see bucketCountFor)
    assert(bucketsForRows(600000000L) === 64)
    // round-up boundaries and the clamps
    assert(bucketsForRows(16000000L) === 8)    // want 1
    assert(bucketsForRows(256000000L) === 16)  // want 16 exact pow2
    assert(bucketsForRows(256000001L) === 32)  // want 17 -> up
    assert(bucketsForRows(2048000000L) === 128) // want 128 exact
    assert(bucketsForRows(6000000000L) === 128) // cap: single-box ceiling
    assert(bucketsForRows(0L) === 8)
    // astronomically large inputs must hit the 128 cap, not overflow
    // highestOneBit*2 past Int range and invert into the 8 floor
    assert(bucketsForRows(Long.MaxValue) === 128)
    assert(bucketsForRows((1L << 34) * 16000000L) === 128) // want 2^34
  }

  test("q15 layout is written once per context: a rerun and a new session start no write job") {
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().toSeq
    val first = rows(graft.queries.Relational.bucketedJoin(spark, dir))
    // building the frame is where a missing layout gets written, so
    // any job inside jobsOf is a layout write
    for (s <- Seq(spark, spark.newSession())) {
      var q: org.apache.spark.sql.DataFrame = null
      assert(jobsOf { q = graft.queries.Relational.bucketedJoin(s, dir) } === 0,
        "the layout already in the shared catalog must not be rewritten")
      assert(rows(q) === first)
    }
  }
}
