package graft.dq

import java.time.Instant
import graft.SparkSpec

class DqEngineSpec extends SparkSpec {
  import spark.implicits._
  import DqEngineSpec.checked

  private lazy val df = Seq(
    (1L, Some(10.0), Some("a"), Some("2024-01-01 00:00:00")),
    (2L, Some(12.0), Some("b"), Some("2024-01-02 00:00:00")),
    (2L, Some(11.0), Some("a"), Some("2024-01-03 00:00:00")),
    (3L, None,       None,      None),
    (4L, Some(1000.0), Some("a"), Some("2024-01-04 12:00:00"))
  ).toDF("id", "amount", "cat", "ts_str")

  test("not_null fails on nulls with rate pct") {
    val Seq(r) = checked(df, Seq(NotNullRule("amount")))
    assert(!r.passed)
    assert(r.details("nulls") == "1")
    assert(r.details("total") == "5")
    assert(r.details("null_rate_pct") == "20.0")
  }

  test("not_null passes on clean column") {
    val Seq(r) = checked(df, Seq(NotNullRule("id")))
    assert(r.passed)
  }

  test("unique counts nulls as duplicates (reference formula)") {
    // id has a real dup (2,2); cat has a null → total - distinct(nonnull)
    val Seq(a, b) = checked(df,
      Seq(UniqueRule("id"), UniqueRule("cat")))
    assert(!a.passed); assert(a.details("duplicates") == "1")
    assert(!b.passed); assert(b.details("duplicates") == "3") // 5 - 2
  }

  test("range counts below/above on non-null values") {
    val Seq(r) = checked(df,
      Seq(RangeRule("amount", Some(11.0), Some(100.0))))
    assert(!r.passed)
    assert(r.details("below_min") == "1") // 10.0
    assert(r.details("above_max") == "1") // 1000.0
  }

  test("freshness with injected clock") {
    val now = Instant.parse("2024-01-05T12:00:00Z")
    val Seq(fresh) = checked(df,
      Seq(FreshnessRule("ts_str", maxAgeHours = 25.0)), now)
    assert(fresh.passed) // max ts 2024-01-04 12:00 → age 24h ≤ 25h
    val Seq(stale) = checked(df,
      Seq(FreshnessRule("ts_str", maxAgeHours = 23.0)), now)
    assert(!stale.passed)
  }

  test("freshness fails with 'no timestamps' when nothing parses") {
    val bad = Seq("x", "y").toDF("ts_str")
    val Seq(r) = checked(bad, Seq(FreshnessRule("ts_str")))
    assert(!r.passed)
    assert(r.details("error") == "no timestamps")
  }

  test("anomaly flags 3-sigma outliers") {
    val vals = (1 to 100).map(_ => 10.0) :+ 10000.0
    val d = vals.toDF("v")
    val Seq(r) = checked(d, Seq(AnomalyRule("v")))
    assert(!r.passed)
    assert(r.details("outliers") == "1")
  }

  test("anomaly auto-passes on zero variance and on empty input") {
    val flat = Seq(5.0, 5.0, 5.0).toDF("v")
    assert(checked(flat, Seq(AnomalyRule("v"))).head.passed)
    val empty = Seq.empty[Double].toDF("v")
    assert(checked(empty, Seq(AnomalyRule("v"))).head.passed)
  }

  test("unknown rule type fails") {
    val Seq(r) = checked(df, Seq(UnknownRule("bogus", "id")))
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

object DqEngineSpec {
  import org.apache.spark.sql.DataFrame

  /** The rule results of [[DqEngine.runChecks]] over all of `df`. */
  def checked(df: DataFrame, rules: Seq[Rule], now: Instant = Instant.now()): Seq[RuleResult] =
    DqEngine.runChecks(df, rules, limit = 200000, now = now).results
}

/** Edge cases from review: ANSI-safe coercion, decimal columns,
  * hostile column names. */
class DqRobustnessSpec extends graft.SparkSpec {
  import org.apache.spark.sql.functions._
  import DqEngineSpec.checked

  test("range/anomaly on a string column coerce instead of throwing (ANSI)") {
    import spark.implicits._
    val df = Seq("a", "b", "c").toDF("s")
    val results = checked(df,
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
    val res = checked(df,
      Seq(NotNullRule("tag"), UniqueRule("id")))
    assert(res.find(_.rule == "not_null").get.details("total") === "3")
    assert(res.find(_.rule == "unique").get.details("duplicates") === "1")
  }
}

/** [[DqEngine.runChecks]] folds its rules over the collected sample on
  * the driver; its results must equal the same rules run as Spark
  * aggregates ([[SparkRules.evaluate]]) over the same sample, for every
  * rule type. */
class DqFoldedRulesSpec extends graft.SparkSpec {
  import org.apache.spark.sql.DataFrame

  private val now = Instant.parse("2024-01-05T00:00:00Z")

  // One partition: the anomaly rule prints mean and std, and a
  // floating-point aggregate merged from several partitions may round
  // differently from one folded in row order.
  private lazy val fx: DataFrame = ParentDumps.foldedFrame(spark)

  private val rules = ParentDumps.foldedRules

  private def assertFolded(sample: DataFrame): Seq[RuleResult] = {
    val cached = sample.cache()
    try {
      val want = SparkRules.evaluate(cached, rules, now)
      assert(DqEngine.runChecks(cached, rules, limit = 200000, now = now).results === want)
      assert(DqEngine.runChecks(sample, rules, limit = 200000, now = now).results === want)
      want
    } finally cached.unpersist()
  }

  test("runChecks equals evaluate for every rule type") {
    assert(assertFolded(fx).exists(r => r.rule == "anomaly" &&
      r.details.get("outliers").exists(_ != "0")), "no anomaly rule found an outlier")
  }

  test("runChecks equals evaluate on an empty frame") {
    assertFolded(fx.where("k > 1000"))
  }

  test("a rule on a missing column still fails analysis") {
    for (r <- Seq(UniqueRule("nope"), NotNullRule("nope"), RangeRule("nope", Some(1.0), None),
        FreshnessRule("nope"), AnomalyRule("nope")))
      intercept[org.apache.spark.sql.AnalysisException](
        DqEngine.runChecks(fx, Seq(NotNullRule("k"), r), limit = 200000, now = now))
  }
}
