package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, when}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.SparkSpec

/** The V7 limit override ([[QueryRunner.run]] with `limitOverride`)
  * judged by what the statement returns: over a 120-row view `t`,
  * every statement yields `min(n, available)` rows, where `available`
  * is what it returns without any limit of its own at the root, and
  * an `OFFSET` still skips its rows. The inputs are the quote, escape,
  * comment, semicolon and `OFFSET` forms a text rewrite of the SQL
  * has to get right, and the tails it got wrong. */
object LimitOverrideFixture {

  val Rows = 120

  /** A session of its own, so the view named `t` is seen by no other
    * suite. `tag` is 'a--b' on even ids (60 rows), `s` is "it's--x"
    * or "a\n-- b" on a third of the ids each (40 rows), `c` is 'a--b'
    * on every fourth id (30 rows). */
  lazy val session: SparkSession = {
    val s = SparkSpec.session.newSession()
    s.range(0, Rows, 1, 1)
      .select(col("id"), (col("id") % 7).as("a"), (col("id") * 2).as("b"),
        when(col("id") % 2 === 0, lit("a--b")).otherwise(lit("z")).as("tag"),
        when(col("id") % 3 === 0, lit("it's--x"))
          .when(col("id") % 3 === 1, lit("a\n-- b")).otherwise(lit("z")).as("s"),
        when(col("id") % 4 === 0, lit("a--b")).otherwise(lit("z")).as("c"),
        col("id").as("x--y"), col("id").as("a\\"))
      .createOrReplaceTempView("t")
    s
  }

  def runner = new QueryRunner(session, rowLimit = 200, previewRows = 1000)

  /** Statement -> rows it returns without a root limit. */
  val Cases: Seq[(String, Int)] = Seq(
    "SELECT * FROM t LIMIT 200" -> 120,
    "SELECT * FROM t" -> 120,
    "SELECT a, b FROM t ORDER BY a" -> 120,
    "SELECT * FROM t LIMIT 5;" -> 120,
    // quote forms around a '--'
    "SELECT * FROM t WHERE tag = 'a--b' LIMIT 10" -> 60,
    "SELECT * FROM t WHERE s = 'it''s--x' LIMIT 10" -> 40,
    "SELECT * FROM t WHERE s = 'it\\'s--x' LIMIT 10" -> 40,
    "SELECT * FROM t WHERE s = 'a\n-- b' LIMIT 10" -> 40,
    "SELECT * FROM t WHERE c = \"a--b\" LIMIT 10" -> 30,
    "SELECT `x--y` FROM t LIMIT 10" -> 120,
    // comments: line, block, nested, with a quote inside
    "SELECT * FROM t -- cap LIMIT 10" -> 120,
    "SELECT * FROM t -- note\nLIMIT 10" -> 120,
    "SELECT `a\\` FROM t -- LIMIT 10" -> 120,
    "SELECT * FROM t /* -- note */ LIMIT 10" -> 120,
    "SELECT * FROM t /* a /* -- b */ c */ LIMIT 10" -> 120,
    "SELECT * FROM t /* don't */ LIMIT 10" -> 120,
    // trailing semicolons and whitespace
    "SELECT 1;\n" -> 1,
    "SELECT 1;;" -> 1,
    // tails after the LIMIT, and limits that are not a literal count
    "SELECT * FROM t LIMIT 10 OFFSET 5" -> 115,
    "SELECT * FROM t LIMIT 5 -- five" -> 120,
    "SELECT * FROM t LIMIT 5 /* five */" -> 120,
    "SELECT * FROM t LIMIT 5; -- five" -> 120,
    "SELECT * FROM t LIMIT ALL" -> 120,
    "SELECT * FROM t OFFSET 5" -> 115,
    "SELECT * FROM t LIMIT 2+3" -> 120,
    "WITH w AS (SELECT * FROM t) SELECT * FROM w LIMIT 3" -> 120,
    // a limit below the root bounds only its subtree and stays
    "SELECT * FROM (SELECT * FROM t LIMIT 7) d" -> 7,
    "SELECT * FROM t WHERE id IN (SELECT id FROM t LIMIT 3)" -> 3)
}

class LimitOverrideSpec extends SparkSpec {
  import LimitOverrideFixture._

  test("an override leaves min(n, available) rows for every statement form") {
    val r = runner
    for ((sql, available) <- Cases; n <- Seq(5, 50, 500))
      assert(r.run(sql, Some(n)).rows.length === math.min(n, available), s"n=$n: $sql")
  }

  test("an override keeps the rows an OFFSET skips") {
    val r = runner
    def ids(sql: String, n: Int) =
      r.run(sql, Some(n)).rows.map(_.stripPrefix("{\"id\":").stripSuffix("}").toLong)
    for (n <- Seq(5, 50, 500)) {
      val want = (5L until math.min(5L + n, Rows.toLong)).toSeq
      assert(ids("SELECT id FROM t ORDER BY id LIMIT 10 OFFSET 5", n) === want, n)
      assert(ids("SELECT id FROM t ORDER BY id OFFSET 5", n) === want, n)
      assert(ids("WITH w AS (SELECT id FROM t) SELECT id FROM w ORDER BY id LIMIT 3 OFFSET 5",
        n) === want, n)
    }
  }

  test("no override, or a non-positive one, keeps the auto-limit") {
    val r = new QueryRunner(session, rowLimit = 7, previewRows = 1000)
    for (o <- Seq(None, Some(0), Some(-3))) {
      assert(r.run("SELECT * FROM t", o).rows.length === 7, o)
      assert(r.run("SELECT * FROM t LIMIT 10 OFFSET 5", o).rows.length === 10, o)
    }
  }
}

/** The override over random `n`, on the four statement shapes the
  * text rewrite's property covered. */
object LimitOverrideProperties extends Properties("limit_override") {
  import LimitOverrideFixture._

  property("an override leaves min(n, available) rows") = {
    val shapes = Gen.oneOf(Cases.take(4))
    forAll(shapes, Gen.choose(1, 10000)) { case ((sql, available), n) =>
      val got = runner.run(sql, Some(n)).rows.length
      Prop(got == math.min(n, available)) :| s"n=$n: $sql gave $got rows"
    }
  }
}
