package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The relational query surface the reference copilot emits (SURVEY.md
  * §2.3, Q1–Q14; reference `src/chain.py:17-25`, `query.http:49-155`),
  * transposed onto the driver's TPC-H-ish testdata.
  *
  * Determinism contract (SURVEY.md §4): every declared query carries a
  * total ORDER BY with key tiebreakers; money aggregates go through
  * decimal(18,2) so the sum is exact and order-independent (a plain
  * double sum is not associative — Spark's parallel partial aggregation
  * would diverge from DuckDB's serial sum in the last ulps), then cast
  * back to double so both engines emit the identical value. Testdata
  * money columns are 2-decimal, so the decimal cast is lossless.
  * Integer-valued doubles (l_quantity) sum exactly in binary and need
  * no cast. `events.ts` arrives in several physical parquet forms
  * across testdata generations (see [[graft.sources.Tables]], which
  * normalizes them all to microsecond TimestampType) — any query
  * touching it truncates to seconds on both sides.
  *
  * Scale notes: fact⋈fact joins shuffle on the join key; dimension
  * joins (region 5, nation 25 rows) broadcast explicitly. Filters and
  * projections sit directly on the scans so Catalyst pushes them into
  * the parquet reader (verified via explain: PushedFilters/ReadSchema).
  */
object Relational extends graft.Registry {

  /** Lossless 2-decimal money representation. */
  private def dec(c: String): Column = col(c).cast("decimal(18,2)")

  /** Exact, order-independent money sum: decimal in, double out. */
  private def moneySum(c: String): Column = sum(dec(c)).cast("double")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** Flagship (reference canonical example `src/chain.py:17-25`:
    * "top-5 countries by revenue in <year>"): Q1 projection, Q2 year
    * range filter, Q4/Q5 joins, Q6/Q7 group+sum, Q8 round, Q9 order
    * desc, Q10 limit — in one query. Nation (25 rows) is broadcast;
    * the orders year filter is pushed to the scan.
    */
  def flagship(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .where(col("o_orderdate") >= lit("1995-01-01") &&
             col("o_orderdate") <  lit("1996-01-01"))
      .select("o_custkey", "o_totalprice")
    val customer = t(s, dir, "customer").select("c_custkey", "c_nationkey")
    val nation   = t(s, dir, "nation").select("n_nationkey", "n_name")
    orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(moneySum("o_totalprice").as("revenue"))
      .orderBy(desc("revenue"), col("nation"))
      .limit(5)
  }

  /** Q1: explicit-column projection (`src/chain.py:12,20`). */
  def projection(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
      .limit(200)

  /** Q2: half-open timestamp-range filter (`src/chain.py:13,22`).
    * Seconds-truncated projection keeps ns-vs-µs parquet precision out
    * of the compared output.
    */
  def tsRangeFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .where(col("ts") >= lit("2024-01-10") && col("ts") < lit("2024-01-11"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      // full-row tiebreak: event_id is unique in shipped testdata, but
      // the compare is row-order exact and duplicates are in-domain
      .orderBy("event_id", "user_id", "event_type", "value")

  /** Q3: numeric + categorical conjunctive predicates (`query.http:118,128`). */
  def predFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .where(col("l_quantity") > 45 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  /** Q4: equi-join orders⋈customer (`src/chain.py:21`, `README.md:118`). */
  def equiJoin(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .where(col("o_totalprice") > 400000)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val customer = t(s, dir, "customer").select("c_custkey", "c_name")
    orders.join(customer, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_name", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** Q5: multi-way join lineitem⋈orders⋈customer⋈nation⋈region
    * (`query.http:76-77`): revenue by region for one year. Region and
    * nation broadcast; the two fact tables shuffle-join on o_orderkey.
    */
  def multiJoin(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice")
    val orders = t(s, dir, "orders")
      .where(col("o_orderdate") >= lit("1996-01-01") &&
             col("o_orderdate") <  lit("1997-01-01"))
      .select("o_orderkey", "o_custkey")
    val customer = t(s, dir, "customer").select("c_custkey", "c_nationkey")
    val nation = t(s, dir, "nation").select("n_nationkey", "n_regionkey")
    val region = t(s, dir, "region").select("r_regionkey", "r_name")
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"))
      .agg(moneySum("l_extendedprice").as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy("region")
  }

  /** Q6/Q7: hash aggregation with multiple aggregates (TPC-H Q1 shape;
    * `src/chain.py:20-23`). sum(qty) is integer-valued → exact in
    * double; money goes through decimal; disc_price is computed fully
    * in decimal ((1 - disc) stays exact) before summing.
    */
  def groupAgg(s: SparkSession, dir: String): DataFrame = {
    val one = lit(1).cast("decimal(18,2)")
    t(s, dir, "lineitem")
      .where(col("l_shipdate") <= lit("1998-09-01"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        moneySum("l_extendedprice").as("sum_base_price"),
        sum(dec("l_extendedprice") * (one - dec("l_discount")))
          .cast("double").as("sum_disc_price"),
        (sum(dec("l_extendedprice")).cast("double") / count(lit(1)))
          .as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Q7: frequency count — "most frequently bought items"
    * (`query.http:76`). */
  def frequency(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("total_qty"))
      .orderBy(desc("cnt"), col("l_partkey"))
      .limit(20)

  /** Q8: scalar round on aggregates (`src/chain.py:20`). */
  def roundAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(round(moneySum("c_acctbal"), 2).as("total_acctbal"),
           round(sum(dec("c_acctbal")).cast("double") / count(lit(1)), 2)
             .as("avg_acctbal"),
           count(lit(1)).as("n_customers"))
      .orderBy("segment")

  /** Q9: ORDER BY ... DESC with total tiebreak (`src/chain.py:24`). */
  def orderDesc(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy(desc("c_acctbal"), col("c_custkey"))
      .limit(25)

  /** Q10: top-k limit (`src/chain.py:25`, auto-limit analogue). */
  def topkLimit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .where(col("event_type") === "purchase")
      .select("event_id", "user_id", "value")
      .orderBy(desc("value"), col("event_id"))
      .limit(10)

  /** Q11: top-N per group via window (`query.http:76-78` — "top
    * customers by biggest purchase"): top-3 spenders per nation.
    * Spend is an exact decimal sum, so ranks match the oracle exactly;
    * row_number ties break on c_custkey.
    */
  def topNPerGroup(s: SparkSession, dir: String): DataFrame = {
    val spend = t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(moneySum("o_totalprice").as("spend"))
    val customer = t(s, dir, "customer").select("c_custkey", "c_nationkey")
    val nation = t(s, dir, "nation").select("n_nationkey", "n_name")
    val w = Window.partitionBy("nation")
      .orderBy(desc("spend"), col("c_custkey"))
    spend
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("c_custkey"), col("spend"))
      // long, not int: DuckDB ROW_NUMBER() is BIGINT and the driver
      // hashes typed values, so the rank column must match width
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 3)
      .orderBy("nation", "rn")
  }

  /** Q12: weekly cohort 7-day retention (`query.http:85-88`). Signup =
    * first event per user; retained = any further event within 7 days.
    * All timestamps truncated to seconds on both sides (ns parquet).
    * The events⋈signup self-join shuffles on user_id once; at scale
    * this is one co-partitioned exchange.
    */
  def retention(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("user_id"), date_trunc("second", col("ts")).as("ts"))
    val signup = e.groupBy("user_id").agg(min("ts").as("signup"))
    val retained = signup.join(e, "user_id")
      .groupBy("user_id", "signup")
      .agg(max(when(col("ts") > col("signup") &&
                    col("ts") <= col("signup") + expr("INTERVAL 7 DAY"), 1)
          .otherwise(0)).as("retained"))
    retained
      .groupBy(date_trunc("week", col("signup")).cast("date").as("cohort_week"))
      .agg(count(lit(1)).as("n_users"),
           sum("retained").cast("long").as("n_retained"))
      .withColumn("retention_pct",
        round(lit(100.0) * col("n_retained") / col("n_users"), 4))
      .orderBy("cohort_week")
  }

  /** Q13: view over aggregate — `v_revenue_by_country`
    * (`db/schema_docs.md:43-48`), country = nation name. */
  def viewRevenue(s: SparkSession, dir: String): DataFrame = {
    val v = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("country"))
      .agg(moneySum("o_totalprice").as("revenue"))
    // register the reference's documented view name for the schema
    // surface, but compute the RESULT from the local frame: reading
    // the fixed-name view back races a concurrent viewRevenue on
    // another dir (its replace could land between this create and the
    // read, silently serving the other dir's data)
    v.createOrReplaceTempView("v_revenue_by_country")
    v.orderBy(desc("revenue"), col("country"))
  }

  /** Q14: constant select (`query.http:95-97`). */
  def constant(s: SparkSession, dir: String): DataFrame =
    s.sql("SELECT 1 AS x")

  /** Buckets for the q15 layout: one bucket per ~16 M fact rows
    * (≈ 128 MB of written 2-column parquet at the measured sf100
    * compression), rounded UP to a power of two, floored at 8 (the
    * test-scale layout every existing plan pin runs on) and capped
    * at 128 (a single box's useful ceiling; a real cluster
    * deployment raises the cap with its core count). Rounding up
    * over-provisions bucket count by up to 2× — measured the right
    * side of the trade at sf100 (600 M rows, local[32]): 64 buckets
    * (~75 MB files, two task waves) ran the join in 15.4 s vs
    * 18.5 s for nearest-pow2's 32 (~150 MB files, one task per
    * core) — the extra wave overlaps I/O with compute and amortizes
    * stragglers, worth more than fuller files on the scan side. The
    * row count comes from parquet footers — metadata-only scan,
    * paid once per layout build. */
  private def bucketCountFor(s: SparkSession, dir: String): Int =
    bucketsForRows(t(s, dir, "lineitem").count())

  /** The pure sizing rule (separated for direct unit-testing):
    * ceil(rows / 16 M) rounded up to a power of two, clamped to
    * [8, 128]. */
  private[graft] def bucketsForRows(rows: Long): Int = {
    // Clamp BEFORE the power-of-two round-up: want > 2^30 would
    // overflow highestOneBit*2 to Int.MinValue and invert the cap
    // into the 8-bucket floor — the exact straggler regime this rule
    // exists to avoid — for any table past ~1.7e16 rows.
    val want = math.min(128.0, math.max(1.0, math.ceil(rows / 16e6))).toInt
    val up = if (Integer.bitCount(want) == 1) want
      else Integer.highestOneBit(want) * 2
    math.min(128, math.max(8, up))
  }
  // md5 of the path, not String.hashCode: a 32-bit hash with no
  // collision handling could map two dirs to the same managed table
  // and silently serve one dir's data for the other
  private def bucketedName(dir: String, tbl: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(8)
      .map(b => f"$b%02x").mkString
    s"graft_b15_${tbl}_$digest"
  }
  /** The session catalog is in-memory but the managed-table location
    * under spark.sql.warehouse.dir persists across JVMs — a fresh
    * session's CREATE would refuse the stale directory
    * (LOCATION_ALREADY_EXISTS), so drop both before writing. */
  private def dropStale(s: SparkSession, name: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS `$name`")
    val wh = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), name)
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
  }
  private val layoutLock = new Object
  /** One bucketed orders/lineitem layout per sfDir per Spark context:
    * the managed tables live in the context's in-memory catalog, which
    * every session of the context shares, so the catalog records which
    * dirs have a layout and one lock serializes the builds. The
    * bucket COUNT is sized from the data ([[bucketCountFor]]) because
    * a bucketed scan's parallelism is min(buckets, cores): the
    * round-12 sf100 probe measured the previous fixed 8 buckets
    * turning the zero-Exchange join into an 8-task straggler over
    * 600 M lineitem rows (74 s; 22× for 10× data). The plan property
    * pinned in BucketingSpec is count-independent as long as both
    * sides match — only the parallelism ceiling moves. */
  private def ensureBucketedLayout(s: SparkSession, dir: String): Unit =
    layoutLock.synchronized {
      val orders = bucketedName(dir, "orders")
      val lineitem = bucketedName(dir, "lineitem")
      if (!(s.catalog.tableExists(orders) && s.catalog.tableExists(lineitem))) {
        dropStale(s, orders)
        dropStale(s, lineitem)
        val buckets = bucketCountFor(s, dir)
        graft.sources.Bucketing.writeBucketed(
          t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
          orders, buckets, Seq("o_orderkey"))
        graft.sources.Bucketing.writeBucketed(
          t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice"),
          lineitem, buckets, Seq("l_orderkey"))
      }
    }

  /** Q15: fact⋈fact join from a PERSISTENT bucketed layout
    * ([[graft.sources.Bucketing.writeBucketed]]) — the declared proof
    * of the lake's co-location guarantee. Both sides are written
    * bucketed and per-bucket sorted by the join key with matching
    * bucket counts, so the join AND the follow-on groupBy on the same
    * key plan with ZERO shuffle exchanges (pinned in BucketingSpec
    * with auto-broadcast disabled; at toy scale the planner may
    * broadcast instead — the correct degradation). At 100 TB this
    * turns every recurring orders⋈lineitem run from O(both tables
    * moved per query) into no movement, paid once at write time. The
    * layout is written once per sfDir per Spark context, so repeated
    * runs measure the join, not the one-time layout. Money is quantized
    * per-row to cents BIGINT before the sum (cross-engine
    * determinism: no float accumulation order dependence). */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    ensureBucketedLayout(s, dir)
    val o = s.table(bucketedName(dir, "orders"))
    val l = s.table(bucketedName(dir, "lineitem"))
      .withColumn("l_cents",
        floor(col("l_extendedprice") * 100.0d).cast("long"))
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(o("o_orderkey"))
      .agg(count(lit(1)).as("n_items"), sum("l_cents").as("total_cents"))
      .orderBy(desc("total_cents"), col("o_orderkey"))
      .limit(25)
  }

  /** Q16 — skew-proof fact⋈aggregate join via [[graft.operators.SaltedJoin]].
    * `event_type` has a handful of distinct values, so each key carries
    * ~1/5 of the events table — the textbook hot-key shape where a plain
    * shuffle join sends a key's whole population to ONE reducer. The salt
    * (deterministic `pmod(hash(event_id), 8)`) refines every hot key into
    * 8 shuffle partitions; the 5-row build side is replicated 8×, which
    * costs nothing. Result is provably identical to the unsalted join
    * (SaltedJoinSpec), so the oracle is the plain SQL join. */
  def saltedJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select("event_id", "event_type", "value")
    val perType = t(s, dir, "events")
      .groupBy("event_type").agg(count(lit(1)).as("type_n"))
    graft.operators.SaltedJoin
      .join(ev, perType, Seq("event_type"), salts = 8, saltBy = Seq("event_id"))
      .select("event_id", "event_type", "value", "type_n")
      .orderBy("event_id", "event_type", "value")
      .limit(200)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_flagship_revenue_by_nation" -> flagship,
    "q01_projection" -> projection,
    "q02_ts_range_filter" -> tsRangeFilter,
    "q03_pred_filter" -> predFilter,
    "q04_equijoin" -> equiJoin,
    "q05_multiway_join" -> multiJoin,
    "q06_group_agg" -> groupAgg,
    "q07_frequency" -> frequency,
    "q08_round_agg" -> roundAgg,
    "q09_order_desc" -> orderDesc,
    "q10_topk_limit" -> topkLimit,
    "q11_topn_per_group" -> topNPerGroup,
    "q12_retention" -> retention,
    "q13_view_revenue" -> viewRevenue,
    "q14_constant" -> constant,
    "q15_bucketed_join" -> bucketedJoin,
    "q16_salted_join" -> saltedJoin
  )

  def oracleSql: Map[String, String] = Map(
    "q_flagship_revenue_by_nation" ->
      """SELECT n_name AS nation,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1996-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, nation
        |LIMIT 5""".stripMargin,
    "q01_projection" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |ORDER BY c_custkey LIMIT 200""".stripMargin,
    "q02_ts_range_filter" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE ts >= '2024-01-10' AND ts < '2024-01-11'
        |ORDER BY event_id, user_id, event_type, value""".stripMargin,
    "q03_pred_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_quantity > 45 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q04_equijoin" ->
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 400000
        |ORDER BY o_orderkey""".stripMargin,
    "q05_multiway_join" ->
      """SELECT r_name AS region,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
        |GROUP BY r_name
        |ORDER BY region""".stripMargin,
    "q06_group_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       SUM(l_quantity) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q07_frequency" ->
      """SELECT l_partkey, COUNT(*) AS cnt, SUM(l_quantity) AS total_qty
        |FROM lineitem
        |GROUP BY l_partkey
        |ORDER BY cnt DESC, l_partkey
        |LIMIT 20""".stripMargin,
    "q08_round_agg" ->
      """SELECT c_mktsegment AS segment,
        |       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_acctbal,
        |       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 2) AS avg_acctbal,
        |       COUNT(*) AS n_customers
        |FROM customer
        |GROUP BY c_mktsegment
        |ORDER BY segment""".stripMargin,
    "q09_order_desc" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC, c_custkey LIMIT 25""".stripMargin,
    "q10_topk_limit" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'purchase'
        |ORDER BY value DESC, event_id LIMIT 10""".stripMargin,
    "q11_topn_per_group" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |  FROM orders GROUP BY o_custkey)
        |SELECT nation, c_custkey, spend, rn FROM (
        |  SELECT n_name AS nation, c_custkey, spend,
        |         ROW_NUMBER() OVER (PARTITION BY n_name
        |                            ORDER BY spend DESC, c_custkey) AS rn
        |  FROM spend
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey) ranked
        |WHERE rn <= 3
        |ORDER BY nation, rn""".stripMargin,
    "q12_retention" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('second', ts) AS ts FROM events),
        |s AS (SELECT user_id, MIN(ts) AS signup FROM e GROUP BY user_id),
        |r AS (
        |  SELECT s.user_id, s.signup,
        |         MAX(CASE WHEN e.ts > s.signup
        |                   AND e.ts <= s.signup + INTERVAL 7 DAY
        |                  THEN 1 ELSE 0 END) AS retained
        |  FROM s JOIN e ON s.user_id = e.user_id
        |  GROUP BY s.user_id, s.signup)
        |SELECT CAST(date_trunc('week', signup) AS DATE) AS cohort_week,
        |       COUNT(*) AS n_users,
        |       CAST(SUM(retained) AS BIGINT) AS n_retained,
        |       ROUND(CAST(100 AS DOUBLE) * SUM(retained) / COUNT(*), 4) AS retention_pct
        |FROM r
        |GROUP BY 1
        |ORDER BY cohort_week""".stripMargin,
    "q13_view_revenue" ->
      """WITH v_revenue_by_country AS (
        |  SELECT n_name AS country,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name)
        |SELECT country, revenue FROM v_revenue_by_country
        |ORDER BY revenue DESC, country""".stripMargin,
    "q14_constant" -> "SELECT 1 AS x",
    // the bucketed layout is invisible to the result: the oracle
    // computes the same join from the raw parquet
    "q15_bucketed_join" ->
      """SELECT o_orderkey, COUNT(*) AS n_items,
        |       CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT))
        |            AS BIGINT) AS total_cents
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey
        |ORDER BY total_cents DESC, o_orderkey
        |LIMIT 25""".stripMargin,
    "q16_salted_join" ->
      """SELECT event_id, event_type, value, type_n
        |FROM events
        |JOIN (SELECT event_type, COUNT(*) AS type_n
        |      FROM events GROUP BY event_type) USING (event_type)
        |ORDER BY event_id, event_type, value
        |LIMIT 200""".stripMargin
  )
}
