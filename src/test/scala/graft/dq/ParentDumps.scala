package graft.dq

import java.lang.Double.doubleToLongBits
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.http.HttpFacade

/** Fixed DQ requests whose answers are pinned in
  * `src/test/resources/dq-dumps/`: `/dq/profile` and `/dq/check` over
  * the four tables serve samples and over edge frames, and
  * [[Profiler.profile]] plus [[DqEngine.runChecks]] (at a fixed clock)
  * over frames with edge values. [[ParentDumpSpec]] compares the
  * current answers with the pinned ones byte for byte.
  *
  * `main` writes the dumps:
  * `sbt "Test/runMain graft.dq.ParentDumps <out dir>"`. The README
  * beside them names the commit they were taken from. */
object ParentDumps {

  val Now: Instant = Instant.parse("1998-08-03T00:00:00Z")

  private val serveTables = Seq(
    ("orders", "o_orderkey", "o_totalprice", "o_totalprice > 50000", 1000000),
    ("lineitem", "l_orderkey", "l_quantity", "l_quantity > 10", 200),
    ("customer", "c_custkey", "c_acctbal", "c_acctbal > 2000", 40000),
    ("part", "p_partkey", "p_retailprice", "p_retailprice > 1000", 12000))

  // InterpretedEqualitySpec's edge frame
  private val edgesSql =
    """SELECT * FROM VALUES
      |  (1, CAST(-0.0 AS DOUBLE), CAST(-0.0 AS FLOAT), TIMESTAMP '2024-01-01 00:00:00',
      |   'Zürich', CAST(NULL AS INT)),
      |  (2, CAST('NaN' AS DOUBLE), CAST('NaN' AS FLOAT), TIMESTAMP '2024-03-31 02:30:00',
      |   '東京', NULL),
      |  (3, 0.0D, 0.0F, TIMESTAMP '1969-12-31 23:59:59.999', 'naïve ☃', NULL),
      |  (4, 2.5D, CAST(NULL AS FLOAT), NULL, NULL, NULL),
      |  (4, -1.0D, 1.5F, TIMESTAMP '2024-01-01 00:00:00', 'Zürich', NULL)
      |AS t(k, d, f, ts, s, n)""".stripMargin

  private val edgeRules: Seq[Rule] = Seq(NotNullRule("n"), UniqueRule("k"), UniqueRule("d"),
    RangeRule("d", Some(0), Some(1)), RangeRule("s", Some(0), None), AnomalyRule("d", 1.0),
    AnomalyRule("n"), FreshnessRule("s"), UnknownRule("bogus", "k"))

  private def rulesJson(rules: Seq[Rule]): String = rules.map {
    case RangeRule(c, lo, hi) =>
      s"""{"type":"range","column":"$c"""" + lo.fold("")(v => s""","min":$v""") +
        hi.fold("")(v => s""","max":$v""") + "}"
    case FreshnessRule(c, h) => s"""{"type":"freshness","column":"$c","max_age_hours":$h}"""
    case AnomalyRule(c, s) => s"""{"type":"anomaly","column":"$c","sigma":$s}"""
    case r => s"""{"type":"${r.name}","column":"${r.column}"}"""
  }.mkString("[", ",", "]")

  /** (name, route, body): caps of 700 run on the façade's interpreted
    * session, caps of 60 000 with generated code. Freshness rules over
    * parseable timestamps are left out: the routes age them against
    * the wall clock. */
  val routes: Seq[(String, String, String)] = {
    val serve = for {
      cap <- Seq(700, 60000)
      (t, key, num, where, hi) <- serveTables
      r <- Seq(
        (s"profile-$t-$cap", "/dq/profile", s"""{"table":"$t","limit":$cap,"where":"$where"}"""),
        (s"check-$t-$cap", "/dq/check", s"""{"table":"$t","sample_limit":$cap,"rules":""" +
          rulesJson(Seq(NotNullRule(key), UniqueRule(key), RangeRule(num, Some(0), Some(hi)),
            AnomalyRule(num, 2.0))) + "}"))
    } yield r
    val edges = for {
      (name, filter) <- Seq(("edges", ""), ("edges-one", ""), ("edges-empty", ""","where":"k < 0""""))
      cap <- if (name == "edges-one") Seq(1) else Seq(700, 60000)
      r <- Seq(
        (s"profile-$name-$cap", "/dq/profile", s"""{"table":"edges","limit":$cap$filter}"""),
        (s"check-$name-$cap", "/dq/check",
          s"""{"table":"edges","sample_limit":$cap$filter,"rules":${rulesJson(edgeRules)}}"""))
    } yield r
    serve ++ edges ++ Seq(
      ("check-orders-none-500", "/dq/check",
        """{"table":"orders","sample_limit":500,"where":"o_totalprice < 0","rules":""" +
          rulesJson(Seq(NotNullRule("o_orderkey"), UniqueRule("o_orderkey"),
            AnomalyRule("o_totalprice"))) + "}"),
      ("check-missing-column", "/dq/check",
        """{"table":"orders","rules":[{"type":"unique","column":"no_such_column"}]}"""))
  }

  /** (name, frame, rules) for the library calls, on `s` (UTC) and `ny`
    * (a session in America/New_York). */
  def frames(s: SparkSession, ny: SparkSession): Seq[(String, DataFrame, Seq[Rule])] = {
    val orders = s.table("orders")
    Seq(
      ("edges", s.sql(edgesSql), edgeRules :+ FreshnessRule("ts", 1.0)),
      ("orders", orders, Seq(NotNullRule("o_orderkey"), UniqueRule("o_custkey"),
        RangeRule("o_totalprice", Some(1000), Some(300000)), AnomalyRule("o_totalprice"),
        FreshnessRule("o_orderdate", 24.0))),
      // U+FFFD sorts before U+1F600 in UTF-8 bytes, after it in UTF-16
      ("ties", s.sql("""SELECT s, CAST(s AS BINARY) AS b FROM VALUES
        ('x�'), ('x😀'), ('b'), ('x😀'), ('c'), ('x�'), ('d'),
        ('e') AS t(s)"""), Seq(UniqueRule("s"), UniqueRule("b"))),
      // NaN is the largest value; -0.0 and 0.0 are one, the first one seen is kept
      ("zeros", s.sql("""SELECT CAST(a AS DOUBLE) AS d, CAST(a AS FLOAT) AS f,
          CAST(b AS DOUBLE) AS z, CAST(c AS DOUBLE) AS z2, CAST(b AS FLOAT) AS zf
        FROM VALUES ('-0.0', '-0.0', '0.0'), ('1.0', '0.0', '-0.0'), ('NaN', '0.0', '-0.0'),
          ('0.0', '-0.0', '0.0'), ('-2.5', '0.0', NULL) AS t(a, b, c)"""),
        Seq(UniqueRule("d"), UniqueRule("z"), RangeRule("d", Some(-0.0), Some(0.0)),
          RangeRule("z", Some(0.0), Some(-0.0)), AnomalyRule("d", 0.5), AnomalyRule("z"))),
      ("decimals", s.sql("""SELECT CAST(a AS DECIMAL(12, 2)) AS a, CAST(b AS DECIMAL(38, 18)) AS b,
          CAST(c AS DECIMAL(5, 0)) AS c
        FROM VALUES ('1.00', '1.123456789012345678', '7'), ('2.00', '2', '-3'),
          ('2.00', '3.333333333333333333', '1'), (NULL, '-0.000000000000000001', '99999')
        AS t(a, b, c)"""),
        Seq(RangeRule("a", Some(1.5), Some(2.0)), AnomalyRule("b", 1.0), UniqueRule("c"))),
      // strings inside arrays, binary and structs print alike where
      // count_distinct tells them apart
      ("nested", s.sql("""SELECT arr, bin, st FROM VALUES
          (array('a, b'), X'FF', named_struct('x', CAST('-0.0' AS DOUBLE), 'y', 'p')),
          (array('a', 'b'), X'FE', named_struct('x', CAST('0.0' AS DOUBLE), 'y', 'p')),
          (CAST(NULL AS ARRAY<STRING>), NULL, named_struct('x', CAST('NaN' AS DOUBLE), 'y', 'q')),
          (array(CAST(NULL AS STRING)), X'', CAST(NULL AS STRUCT<x: DOUBLE, y: STRING>)),
          (array('a, b'), X'41', named_struct('x', 1.5D, 'y', CAST(NULL AS STRING)))
        AS t(arr, bin, st)"""),
        Seq(UniqueRule("arr"), UniqueRule("bin"), UniqueRule("st"), NotNullRule("st"))),
      ("maps", s.sql("""SELECT m FROM VALUES (map('a', 1)), (map('a', 1)), (map('a', 1, 'b', 2)),
          (map('b', 2, 'a', 1)), (CAST(NULL AS MAP<STRING, INT>)) AS t(m)"""),
        Seq(UniqueRule("m"), NotNullRule("m"))),
      ("collated", s.sql("""SELECT CAST(c AS STRING COLLATE UTF8_LCASE) AS c, c AS raw
        FROM VALUES ('a'), ('A'), ('b'), (NULL), ('B'), ('a') AS t(c)"""),
        Seq(UniqueRule("c"), UniqueRule("raw"))),
      // 05:30Z and 06:30Z both read 01:30 in New York on 2024-11-03
      ("dst", ny.sql("""SELECT CAST(t AS TIMESTAMP) AS t FROM VALUES ('2024-11-03T05:30:00Z'),
        ('2024-11-03T06:30:00Z'), ('2024-11-03T06:30:00Z') AS v(t)"""),
        Seq(UniqueRule("t"), FreshnessRule("t", 1.0e6))),
      ("unparseable", s.sql("""SELECT * FROM VALUES ('x', 'not a time', 5.0D),
        ('y', '2024-13-01', 5.0D) AS t(a, b, flat)"""),
        Seq(FreshnessRule("a"), FreshnessRule("b"), AnomalyRule("flat"),
          RangeRule("a", Some(0), Some(1)))),
      ("empty", s.sql(edgesSql).where("k < 0"), edgeRules :+ FreshnessRule("ts", 1.0)),
      ("folded", foldedFrame(s), foldedRules))
  }

  /** Nulls, duplicate keys, an all-null column, numeric strings,
    * decimals, timestamps (real and as text) and a dotted name, in one
    * partition; with rules of every type over every column. */
  def foldedFrame(s: SparkSession): DataFrame = s.sql("""
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

  val foldedRules: Seq[Rule] = {
    val atomic = Seq("k", "v", "amt", "numstr", "ts", "tsstr", "allnull", "g.rp")
    atomic.flatMap(c => Seq(
      NotNullRule(c), UniqueRule(c), RangeRule(c, Some(0.0), Some(100.0)),
      RangeRule(c, None, Some(11.0)), RangeRule(c, Some(1.5), None),
      AnomalyRule(c, sigma = 1.0), AnomalyRule(c))) ++
      Seq("ts", "tsstr", "numstr").flatMap(c =>
        Seq(FreshnessRule(c), FreshnessRule(c, maxAgeHours = 100.0))) ++
      Seq(UnknownRule("bogus", "k"), UniqueRule("K"), NotNullRule("V"))
  }

  private def d(x: Double): String = s"$x/${java.lang.Long.toHexString(doubleToLongBits(x))}"

  private def render(ps: Seq[ColumnProfile]): String = ps.map { p =>
    Seq(p.column, p.count, p.nulls, p.distinct,
      p.numeric.fold("-")(n => Seq(n.min, n.max, n.mean, n.stdPop, n.p50, n.p95).map(d).mkString(" ")),
      p.timestamp.fold("-")(t => s"${t.min} ${t.max}"),
      p.stringLength.fold("-")(l => s"${l.minLen} ${l.maxLen} ${d(l.p95Len)}"),
      p.topValues.map(t => s"${t.value}=${t.count}").mkString("[", " | ", "]")).mkString("\t")
  }.mkString("", "\n", "\n")

  private def attempt(f: => String): String =
    try f catch { case e: Exception => s"error: ${e.getClass.getSimpleName}\n" }

  /** Every dump, by name. */
  def all(spark: SparkSession): Seq[(String, String)] = {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    graft.sources.Tables.registerAll(s, "/root/testdata/sf0.001")
    s.sql(edgesSql).createOrReplaceTempView("edges")
    val ny = spark.newSession()
    ny.conf.set("spark.sql.session.timeZone", "America/New_York")

    val facade = new HttpFacade(s)
    facade.start()
    val client = HttpClient.newHttpClient()
    val routed = try routes.map { case (name, path, body) =>
      val r = client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${facade.port}$path"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      // an error's message is Spark's own text; only its status is pinned
      s"route-$name" -> (if (r.statusCode() == 200) r.body() + "\n" else s"${r.statusCode()}\n")
    } finally facade.stop()

    val api = frames(s, ny).map { case (name, df, rules) =>
      s"api-$name" -> (attempt(render(Profiler.profile(df))) + "--\n" + attempt {
        val rep = DqEngine.runChecks(df, rules, limit = 200000, now = Now)
        rep.results.map(r => s"${r.rule}(${r.column}) ${r.passed} " +
          r.details.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
          .mkString("", "\n", "\n") + "--\n" + render(rep.profile) + "--\n" + rep.markdown
      })
    }
    routed ++ api
  }

  def main(args: Array[String]): Unit = {
    val out = Paths.get(args(0))
    Files.createDirectories(out)
    val spark = graft.GraftSession.builder(cpus = 4).getOrCreate()
    try all(spark).foreach { case (name, text) => Files.write(out.resolve(s"$name.txt"), text.getBytes(UTF_8)) }
    finally spark.stop()
  }
}

/** The DQ answers equal the pinned dumps, byte for byte. */
class ParentDumpSpec extends graft.SparkSpec {

  private def pinned(name: String): String = {
    val in = getClass.getResourceAsStream(s"/dq-dumps/$name.txt")
    assert(in != null, s"no dump named $name")
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private lazy val current = ParentDumps.all(spark)

  test("DQ route responses equal the pinned dumps") {
    val routes = current.filter(_._1.startsWith("route-"))
    assert(routes.size === ParentDumps.routes.size)
    routes.foreach { case (name, text) => withClue(name)(assert(text === pinned(name))) }
  }

  test("profiles and rule results over edge frames equal the pinned dumps") {
    current.filter(_._1.startsWith("api-")).foreach { case (name, text) =>
      withClue(name)(assert(text === pinned(name)))
    }
  }
}
