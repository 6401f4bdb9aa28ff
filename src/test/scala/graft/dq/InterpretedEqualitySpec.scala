package graft.dq

import java.lang.Double.doubleToLongBits
import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.PlanFrame

import graft.SparkSpec
import graft.http.HttpFacade

/** The DQ routes evaluate a small sample on [[HttpFacade.interpreted]]
  * instead of their own session. Both must give the same profile and
  * the same rule results, doubles compared bit for bit. */
class InterpretedEqualitySpec extends SparkSpec {

  private lazy val session = {
    val s = spark.newSession()
    graft.sources.Tables.registerAll(s, "/root/testdata/sf0.001")
    s
  }
  private lazy val twin = HttpFacade.interpreted(session)

  private val now = Instant.parse("1998-08-03T00:00:00Z")

  /** A profile with every double replaced by its bits. */
  private def exact(ps: Seq[ColumnProfile]): Seq[Any] = ps.map { p =>
    (p.copy(numeric = None, stringLength = None),
      p.numeric.map(n => Seq(n.min, n.max, n.mean, n.stdPop, n.p50, n.p95).map(doubleToLongBits)),
      p.stringLength.map(l => (l.minLen, l.maxLen, doubleToLongBits(l.p95Len))))
  }

  /** `f` over `df` cached on `on`, as the façade runs it. */
  private def over[T](on: SparkSession, df: DataFrame)(f: DataFrame => T): T = {
    val sample = PlanFrame.ofRows(on, df.queryExecution.analyzed).cache()
    try f(sample) finally sample.unpersist()
  }

  private def assertSame(df: DataFrame, rules: Seq[Rule]): Unit = {
    def both[T](f: DataFrame => T): (T, T) = (over(session, df)(f), over(twin, df)(f))
    val (profiled, profiledTwin) = both(Profiler.profile(_))
    assert(exact(profiledTwin) === exact(profiled))
    val (checked, checkedTwin) = both(DqEngine.runChecks(_, rules, limit = 200000, now = now))
    assert(exact(checkedTwin.profile) === exact(checked.profile))
    assert(checkedTwin.results === checked.results)
    assert(checkedTwin.markdown === checked.markdown)
  }

  test("profile and checks agree on the four serve tables") {
    for ((table, key, num, date) <- Seq(
        ("orders", "o_orderkey", "o_totalprice", Some("o_orderdate")),
        ("lineitem", "l_orderkey", "l_quantity", Some("l_shipdate")),
        ("customer", "c_custkey", "c_acctbal", None),
        ("part", "p_partkey", "p_retailprice", None))) {
      val rules = Seq(NotNullRule(key), UniqueRule(key), RangeRule(num, Some(0), Some(1000)),
        AnomalyRule(num, 2.0)) ++ date.map(FreshnessRule(_, 24.0))
      withClue(table)(assertSame(session.table(table).limit(HttpFacade.InterpretedMaxRows), rules))
    }
  }

  private lazy val edges = session.sql(
    """SELECT * FROM VALUES
      |  (1, CAST(-0.0 AS DOUBLE), CAST(-0.0 AS FLOAT), TIMESTAMP '2024-01-01 00:00:00',
      |   'Zürich', CAST(NULL AS INT)),
      |  (2, CAST('NaN' AS DOUBLE), CAST('NaN' AS FLOAT), TIMESTAMP '2024-03-31 02:30:00',
      |   '東京', NULL),
      |  (3, 0.0D, 0.0F, TIMESTAMP '1969-12-31 23:59:59.999', 'naïve ☃', NULL),
      |  (4, 2.5D, CAST(NULL AS FLOAT), NULL, NULL, NULL),
      |  (4, -1.0D, 1.5F, TIMESTAMP '2024-01-01 00:00:00', 'Zürich', NULL)
      |AS t(k, d, f, ts, s, n)""".stripMargin)

  private val edgeRules = Seq(NotNullRule("n"), UniqueRule("k"), UniqueRule("d"),
    RangeRule("d", Some(0), Some(1)), RangeRule("s", Some(0), None), AnomalyRule("d", 1.0),
    AnomalyRule("n"), FreshnessRule("ts", 1.0), UnknownRule("bogus", "k"))

  test("profile and checks agree on -0.0, NaN, timestamps, non-ASCII strings and an all-null column") {
    assertSame(edges, edgeRules)
  }

  test("profile and checks agree on a single row and an empty sample") {
    assertSame(edges.limit(1), edgeRules)
    assertSame(edges.where("k < 0"), edgeRules)
    assertSame(session.table("orders").where("o_totalprice < 0").limit(500),
      Seq(NotNullRule("o_orderkey"), UniqueRule("o_orderkey"), AnomalyRule("o_totalprice")))
  }
}
