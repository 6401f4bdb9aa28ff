package graft.dq

import java.time.Instant
import graft.SparkSpec

class DqEngineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    (1L, Some(10.0), Some("a"), Some("2024-01-01 00:00:00")),
    (2L, Some(12.0), Some("b"), Some("2024-01-02 00:00:00")),
    (2L, Some(11.0), Some("a"), Some("2024-01-03 00:00:00")),
    (3L, None,       None,      None),
    (4L, Some(1000.0), Some("a"), Some("2024-01-04 12:00:00"))
  ).toDF("id", "amount", "cat", "ts_str")

  test("not_null fails on nulls with rate pct") {
    val Seq(r) = DqEngine.evaluate(df, Seq(NotNullRule("amount")))
    assert(!r.passed)
    assert(r.details("nulls") == "1")
    assert(r.details("total") == "5")
    assert(r.details("null_rate_pct") == "20.0")
  }

  test("not_null passes on clean column") {
    val Seq(r) = DqEngine.evaluate(df, Seq(NotNullRule("id")))
    assert(r.passed)
  }

  test("unique counts nulls as duplicates (reference formula)") {
    // id has a real dup (2,2); cat has a null → total - distinct(nonnull)
    val Seq(a, b) = DqEngine.evaluate(df,
      Seq(UniqueRule("id"), UniqueRule("cat")))
    assert(!a.passed); assert(a.details("duplicates") == "1")
    assert(!b.passed); assert(b.details("duplicates") == "3") // 5 - 2
  }

  test("range counts below/above on non-null values") {
    val Seq(r) = DqEngine.evaluate(df,
      Seq(RangeRule("amount", Some(11.0), Some(100.0))))
    assert(!r.passed)
    assert(r.details("below_min") == "1") // 10.0
    assert(r.details("above_max") == "1") // 1000.0
  }

  test("freshness with injected clock") {
    val now = Instant.parse("2024-01-05T12:00:00Z")
    val Seq(fresh) = DqEngine.evaluate(df,
      Seq(FreshnessRule("ts_str", maxAgeHours = 25.0)), now)
    assert(fresh.passed) // max ts 2024-01-04 12:00 → age 24h ≤ 25h
    val Seq(stale) = DqEngine.evaluate(df,
      Seq(FreshnessRule("ts_str", maxAgeHours = 23.0)), now)
    assert(!stale.passed)
  }

  test("freshness fails with 'no timestamps' when nothing parses") {
    val bad = Seq("x", "y").toDF("ts_str")
    val Seq(r) = DqEngine.evaluate(bad, Seq(FreshnessRule("ts_str")))
    assert(!r.passed)
    assert(r.details("error") == "no timestamps")
  }

  test("anomaly flags 3-sigma outliers") {
    val vals = (1 to 100).map(_ => 10.0) :+ 10000.0
    val d = vals.toDF("v")
    val Seq(r) = DqEngine.evaluate(d, Seq(AnomalyRule("v")))
    assert(!r.passed)
    assert(r.details("outliers") == "1")
  }

  test("anomaly auto-passes on zero variance and on empty input") {
    val flat = Seq(5.0, 5.0, 5.0).toDF("v")
    assert(DqEngine.evaluate(flat, Seq(AnomalyRule("v"))).head.passed)
    val empty = Seq.empty[Double].toDF("v")
    assert(DqEngine.evaluate(empty, Seq(AnomalyRule("v"))).head.passed)
  }

  test("unknown rule type fails") {
    val Seq(r) = DqEngine.evaluate(df, Seq(UnknownRule("bogus", "id")))
    assert(!r.passed)
    assert(r.details("error").contains("bogus"))
  }

  test("runChecks clamps sample, renders report, aggregates passed") {
    val rep = DqEngine.runChecks(df,
      Seq(NotNullRule("id"), UniqueRule("id")), limit = 1000000)
    assert(!rep.passed)
    assert(rep.markdown.contains("1/2 rules passed"))
    assert(rep.markdown.contains("✅ `not_null(id)`"))
    assert(rep.markdown.contains("❌ `unique(id)`"))
    assert(rep.profile.nonEmpty)
  }
}

/** Edge cases from review: ANSI-safe coercion, decimal columns,
  * hostile column names. */
class DqRobustnessSpec extends graft.SparkSpec {
  import org.apache.spark.sql.functions._

  test("range/anomaly on a string column coerce instead of throwing (ANSI)") {
    import spark.implicits._
    val df = Seq("a", "b", "c").toDF("s")
    val results = DqEngine.evaluate(df,
      Seq(RangeRule("s", Some(0.0), Some(1.0)), AnomalyRule("s")))
    // all values coerce to null -> zero violations / auto-pass,
    // matching pandas to_numeric(errors="coerce") in the reference
    assert(results.forall(_.passed))
  }

  test("profiler handles decimal columns and quoted/dotted names") {
    import spark.implicits._
    val df = Seq((BigDecimal("1.50"), 1), (BigDecimal("2.25"), 2))
      .toDF("amount", "x")
      .select(col("amount").cast("decimal(18,2)").as("amount"),
        col("x").as("weird.na`me"))
    val profiles = Profiler.profile(df)
    val amount = profiles.find(_.column == "amount").get
    assert(amount.numeric.exists(n => math.abs(n.mean - 1.875) < 1e-12))
    val weird = profiles.find(_.column == "weird.na`me").get
    assert(weird.count === 2 && weird.distinct === 2)
  }

  test("evaluate computes totals without a separate count job") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "a"), (2L, null)).toDF("id", "tag")
    val res = DqEngine.evaluate(df,
      Seq(NotNullRule("tag"), UniqueRule("id")))
    assert(res.find(_.rule == "not_null").get.details("total") === "3")
    assert(res.find(_.rule == "unique").get.details("duplicates") === "1")
  }
}

/** [[DqEngine.runChecks]] evaluates its rules inside the profile's
  * first pass and reads `unique` from the profile's distinct count;
  * its results must equal standalone [[DqEngine.evaluate]] on the same
  * sample, for every rule type. */
class DqFoldedRulesSpec extends graft.SparkSpec {
  import org.apache.spark.sql.DataFrame

  private val now = Instant.parse("2024-01-05T00:00:00Z")

  // Nulls, duplicate keys, an all-null column, numeric strings,
  // decimals, timestamps (real and as text) and a dotted name. One
  // partition: the anomaly rule prints mean and std, and a
  // floating-point aggregate merged from several partitions may round
  // differently between two plans.
  private lazy val fx: DataFrame = spark.sql("""
    SELECT CAST(k AS BIGINT) AS k, v, CAST(amt AS DECIMAL(12, 2)) AS amt, numstr,
      CAST(ts AS TIMESTAMP) AS ts, tsstr, CAST(NULL AS DOUBLE) AS allnull,
      grp AS `g.rp`
    FROM VALUES
      (1, 10.0D, '1.50', '10', '2024-01-01 00:00:00', '2024-01-01 00:00:00', 'a'),
      (2, 12.0D, '2.25', '12.5', '2024-01-02 06:00:00', 'not a time', 'b'),
      (2, 11.0D, NULL, 'x', NULL, NULL, 'a'),
      (3, NULL, '-3.00', NULL, '2024-01-03 00:00:00', '2024-01-03 12:00:00', NULL),
      (NULL, 1000.0D, '1000.00', '1e3', '2024-01-04 12:00:00', '2024-01-04', 'a'),
      (5, -0.0D, '0.00', '-7', '2023-12-31 23:59:59', '2024-01-04 23:00:00', 'c'),
      (5, 0.0D, '0.00', '0012', '2024-01-02 00:00:00', '', 'b'),
      (NULL, 11.5D, '99.99', '11', '2024-01-02 00:00:00', '2024-13-01', 'a')
    AS t(k, v, amt, numstr, ts, tsstr, grp)""").coalesce(1)

  private val atomic = Seq("k", "v", "amt", "numstr", "ts", "tsstr", "allnull", "g.rp")

  private val rules: Seq[Rule] = atomic.flatMap(c => Seq(
    NotNullRule(c), UniqueRule(c), RangeRule(c, Some(0.0), Some(100.0)),
    RangeRule(c, None, Some(11.0)), RangeRule(c, Some(1.5), None),
    AnomalyRule(c, sigma = 1.0), AnomalyRule(c))) ++
    Seq("ts", "tsstr", "numstr").flatMap(c =>
      Seq(FreshnessRule(c), FreshnessRule(c, maxAgeHours = 100.0))) ++
    Seq(UnknownRule("bogus", "k"), UniqueRule("K"), NotNullRule("V"))

  private def assertFolded(sample: DataFrame): Unit = {
    val cached = sample.cache()
    try {
      val want = DqEngine.evaluate(cached, rules, now)
      // the façade's path: a clamped, cached sample is checked as it is
      assert(DqEngine.runChecks(cached, rules, limit = 200000, now = now).results === want)
      // the stand-alone path: runChecks limits and caches its own sample
      assert(DqEngine.runChecks(sample, rules, limit = 200000, now = now).results === want)
      assert(want.exists(r => r.rule == "anomaly" && r.details.get("outliers").exists(_ != "0")),
        "no anomaly rule reached the outlier job")
    } finally cached.unpersist()
  }

  test("runChecks equals evaluate for every rule type") {
    assertFolded(fx)
  }

  test("runChecks equals evaluate on an empty frame") {
    val empty = fx.where("k > 1000")
    val cached = empty.cache()
    try {
      val want = DqEngine.evaluate(cached, rules, now)
      assert(DqEngine.runChecks(cached, rules, limit = 200000, now = now).results === want)
      assert(DqEngine.runChecks(empty, rules, limit = 200000, now = now).results === want)
    } finally cached.unpersist()
  }

  test("a rule on a missing column still fails analysis") {
    val cached = fx.cache()
    try for (r <- Seq(UniqueRule("nope"), NotNullRule("nope"), RangeRule("nope", Some(1.0), None)))
      intercept[org.apache.spark.sql.AnalysisException](
        DqEngine.runChecks(cached, Seq(NotNullRule("k"), r), limit = 200000, now = now))
    finally cached.unpersist()
  }
}
