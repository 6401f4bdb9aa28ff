package graft.dq

import graft.SparkSpec
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExpandExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, count_distinct}
import org.apache.spark.sql.util.QueryExecutionListener

class ProfilerSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    (1L, Some(1.0), Some("aa"), Some(Timestamp.valueOf("2024-01-01 00:00:00"))),
    (2L, Some(2.0), Some("bb"), Some(Timestamp.valueOf("2024-06-01 12:30:00"))),
    (3L, Some(3.0), Some("aa"), None),
    (4L, None,      None,       None)
  ).toDF("id", "x", "s", "t")

  private lazy val profs = Profiler.profile(df)
  private def p(name: String): ColumnProfile = profs.find(_.column == name).get

  test("count / nulls / distinct with pandas null conventions") {
    assert(p("id").count == 4 && p("id").nulls == 0 && p("id").distinct == 4)
    assert(p("x").nulls == 1 && p("x").distinct == 3) // null excluded
    assert(p("s").nulls == 1 && p("s").distinct == 2)
  }

  test("numeric stats: min/max/mean/std_pop/percentiles") {
    val n = p("x").numeric.get
    assert(n.min == 1.0 && n.max == 3.0)
    assert(math.abs(n.mean - 2.0) < 1e-12)
    // population std of {1,2,3} = sqrt(2/3)
    assert(math.abs(n.stdPop - math.sqrt(2.0 / 3.0)) < 1e-12)
    assert(n.p50 == 2.0)
    assert(math.abs(n.p95 - 2.9) < 1e-9) // linear interpolation
  }

  test("timestamp stats are ISO formatted") {
    val t = p("t").timestamp.get
    assert(t.min == "2024-01-01 00:00:00")
    assert(t.max == "2024-06-01 12:30:00")
  }

  test("string length stats") {
    val l = p("s").stringLength.get
    assert(l.minLen == 2 && l.maxLen == 2)
  }

  test("top-k excludes nulls, orders count desc then value") {
    val tv = p("s").topValues
    assert(tv.map(_.value) == Seq("aa", "bb"))
    assert(tv.map(_.count) == Seq(2L, 1L))
  }

  test("profile invariants: distinct <= non-null count") {
    profs.foreach { cp =>
      assert(cp.distinct <= cp.count - cp.nulls)
      assert(cp.nulls >= 0 && cp.nulls <= cp.count)
    }
  }

  // Floating zeros of both signs, two NaNs, a null and a value whose
  // float form widens badly (0.1f as a double is 0.10000000149011612);
  // `strs` and `bin` hold values whose string forms coincide.
  private lazy val edgy: DataFrame = spark.sql("""
    SELECT CAST(v AS DOUBLE) AS d, CAST(v AS FLOAT) AS f,
      CAST(dec AS DECIMAL(18, 2)) AS dec, CAST(ts AS TIMESTAMP) AS ts,
      transform(arr, x -> CAST(x AS FLOAT)) AS arr, CAST(NULL AS DOUBLE) AS none,
      strs, bin
    FROM VALUES
      ('-0.0', '1.50', '2024-01-01 00:00:00.000001', array('-0.0', '1'),
        array('a, b'), X'FF'),
      ('0.0', '1.5', '2024-01-01 00:00:00.000002', array('0.0', '1'),
        array('a', 'b'), X'FE'),
      ('NaN', '-0.01', '2024-01-01 00:00:00.000001', array('NaN'),
        CAST(NULL AS ARRAY<STRING>), NULL),
      ('NaN', NULL, '2024-01-01 00:00:00', array('NaN'), array('a, b'), X''),
      (NULL, '2.00', '2024-01-01 00:00:00.000002', NULL,
        CAST(array() AS ARRAY<STRING>), X'FF'),
      ('0.1', '2', '2024-01-01 00:00:00.5', CAST(array() AS ARRAY<STRING>),
        array(CAST(NULL AS STRING)), X'41')
    AS t(v, dec, ts, arr, strs, bin)""")

  private def assertDistinctParity(frame: DataFrame): Unit = {
    val want = frame.agg(count_distinct(col(frame.columns.head)),
      frame.columns.tail.map(c => count_distinct(col(c))): _*).head()
    Profiler.profile(frame).zipWithIndex.foreach { case (cp, i) =>
      assert(cp.distinct === want.getLong(i), s"distinct of ${cp.column}")
    }
  }

  test("distinct equals count_distinct on edge values and an empty frame") {
    assertDistinctParity(edgy)
    assertDistinctParity(edgy.limit(0))
    val none = Profiler.profile(edgy).find(_.column == "none").get
    assert(none.nulls == 6 && none.distinct == 0 && none.topValues.isEmpty)
  }

  test("top-k: -0.0 and 0.0 are one value, floats keep their own string form") {
    val prof = Profiler.profile(edgy, topK = 10)
    def top(c: String) = prof.find(_.column == c).get.topValues
      .map(t => t.value -> t.count).toMap
    // pandas value_counts counts -0.0 and 0.0 as one value too
    assert(top("d") == Map("0.0" -> 2L, "NaN" -> 2L, "0.1" -> 1L))
    assert(top("f") == Map("0.0" -> 2L, "NaN" -> 2L, "0.1" -> 1L))
    assert(top("arr")("[0.0, 1.0]") == 2L)
    assert(top("ts")("2024-01-01 00:00:00.000001") == 2L)
  }

  test("topK = 0 still reports distinct counts") {
    Profiler.profile(df, topK = 0).zip(profs).foreach { case (z, p) =>
      assert(z.topValues.isEmpty && z.distinct == p.distinct)
    }
  }

  test("a zone's repeated hour keeps both instants distinct") {
    val key = "spark.sql.session.timeZone"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try {
      // 05:30Z and 06:30Z both read 01:30 in New York on 2024-11-03
      val ts = Seq(Timestamp.from(java.time.Instant.parse("2024-11-03T05:30:00Z")),
        Timestamp.from(java.time.Instant.parse("2024-11-03T06:30:00Z")))
      assertDistinctParity(ts.toDF("t"))
    } finally spark.conf.set(key, saved)
  }

  test("plan shape: no Expand; the distinct count adds no shuffle") {
    // one query: the sample's collect, with every column's inputs
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        if (!qe.analyzed.output.exists(_.name == "listener_flush_marker")) plans.add(qe.executedPlan)
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Profiler.profile(edgy)
      flushListeners()
    } finally spark.listenerManager.unregister(listener)
    val helper = new AdaptiveSparkPlanHelper {}
    val executed = plans.toArray(Array.empty[SparkPlan]).toSeq
    assert(executed.size === 1, executed.map(_.treeString).mkString("\n"))
    executed.foreach { p =>
      assert(helper.collect(p) { case e: ExpandExec => e }.isEmpty, p.treeString)
      assert(helper.collect(p) { case e: ShuffleExchangeExec => e }.isEmpty, p.treeString)
    }
  }
}
