package graft.functions

import graft.SparkSpec
import graft.pipeline.TextPrep
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._

/** Equivalence pins for the native Catalyst expressions: the codegen'd
  * kernels must be bit-identical to the composed Spark forms they
  * replace (which the DuckDB oracles mirror).
  */
class FunctionsSpec extends SparkSpec {

  test("h32/h32b equal the conv(substring(md5)) composed forms") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // adversarial strings: empty, multi-byte UTF-8, long, digest bytes
    // with the high bit set must stay unsigned
    val strs = Seq("", "a", "the quick brown fox", "naïve café 既存",
      "x" * 10000) ++
      (1 to 200).map(_ => rnd.alphanumeric.take(1 + rnd.nextInt(40)).mkString)
    val df = strs.toDF("s").select(
      col("s"),
      expr("h32(s)").as("native0"),
      expr("h32b(s)").as("native1"),
      expr("CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT)").as("composed0"),
      expr("CAST(conv(substring(md5(s), 9, 8), 16, 10) AS BIGINT)").as("composed1"))
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(3), s"h32 mismatch for '${r.getString(0).take(20)}'")
      assert(r.getLong(2) === r.getLong(4), s"h32b mismatch for '${r.getString(0).take(20)}'")
    }
    // the word is unsigned 32-bit: never negative, can exceed Int.Max
    assert(rows.forall(_.getLong(1) >= 0L))
    assert(rows.exists(_.getLong(1) > Int.MaxValue.toLong))
  }

  test("h63 equals the composed h32*2^31 + (h32b >> 1) two-digest form") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val strs = Seq("", "a", "two words", "naïve café 既存", "y" * 5000) ++
      (1 to 200).map(_ => rnd.alphanumeric.take(1 + rnd.nextInt(40)).mkString)
    val rows = strs.toDF("s").select(
      col("s"),
      expr("h63(s)").as("fused"),
      (expr("h32(s)") * lit(2147483648L) +
        shiftright(expr("h32b(s)"), 1)).as("composed"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(2),
        s"h63 mismatch for '${r.getString(0).take(20)}'")
    }
    // 63-bit: never negative, and the high word must actually shift
    assert(rows.forall(_.getLong(1) >= 0L))
    assert(rows.exists(_.getLong(1) > (1L << 60)))
  }

  test("a derived session that is not the active one knows every native function") {
    // no Tables call and no registration step: the session extension
    // alone must make the functions resolve where the query is analyzed
    val s = spark.newSession()
    assert(!SparkSession.getActiveSession.exists(_ eq s))
    val r = s.range(1).select(
      TextPrep.h32(lit("a")), TextPrep.h32b(lit("a")), TextPrep.hashKey63(lit("a")),
      expr("vec_dot(array(1f), array(1f))"),
      expr("CAST(conv(substring(md5('a'), 1, 8), 16, 10) AS BIGINT)"),
      expr("CAST(conv(substring(md5('a'), 9, 8), 16, 10) AS BIGINT)"))
      .collect()(0)
    assert(r.getLong(0) === r.getLong(4))
    assert(r.getLong(1) === r.getLong(5))
    assert(r.getLong(2) === (r.getLong(4) << 31) + (r.getLong(5) >> 1))
    assert(r.getDouble(3) === 1.0)
    // a wrong arity still fails analysis, naming the function
    for ((name, n) <- Seq("vec_dot" -> 2, "nd_band_keys" -> 1, "simhash_pack" -> 2,
        "h32" -> 1, "h32b" -> 1, "h63" -> 1)) {
      val e = intercept[AnalysisException](
        s.range(1).selectExpr(s"$name(${Seq.fill(n + 1)("1").mkString(", ")})"))
      assert(e.getCondition === "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", name)
      assert(e.getMessage.contains(name))
    }
  }

  test("h32 inside a higher-order lambda resolves and matches") {
    import spark.implicits._
    val r = Seq(Seq("aa", "bb", "cc")).toDF("arr")
      .select(expr("transform(arr, x -> h32(x))").as("hs"),
        expr("transform(arr, x -> CAST(conv(substring(md5(x), 1, 8), 16, 10) AS BIGINT))").as("cs"))
      .collect()(0)
    assert(r.getSeq[Long](0) === r.getSeq[Long](1))
  }

  test("native expressions COMPILE under codegen (no silent fallback)") {
    // Whole-stage codegen swallows Janino compile errors and falls
    // back to interpreted eval with only a WARN — the value tests
    // above stay green while the codegen win silently disappears
    // (this bit round 4: Janino rejects `((long)(x)) << n`). Generate
    // a projection directly: it throws on any compile failure.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{ArrayType, FloatType, StringType}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val s = BoundReference(0, StringType, nullable = true)
    val v = BoundReference(1, ArrayType(FloatType, containsNull = false), nullable = true)
    val proj = GenerateUnsafeProjection.generate(Seq(
      Md5Word32(s, 0), Md5Word32(s, 1), Md5Key63(s), FloatVecDot(v, v)))
    val row = proj(InternalRow(
      UTF8String.fromString("hello world"),
      ArrayData.toArrayData(Array(1.0f, 2.0f, 3.0f))))
    assert(row.getLong(0) ===
      Md5Word32(Literal("hello world"), 0).eval(null).asInstanceOf[Long])
    assert(row.getLong(1) ===
      Md5Word32(Literal("hello world"), 1).eval(null).asInstanceOf[Long])
    assert(row.getLong(2) ===
      Md5Key63(Literal("hello world")).eval(null).asInstanceOf[Long])
    assert(row.getLong(2) === (row.getLong(0) << 31) + (row.getLong(1) >> 1))
    assert(row.getDouble(3) === 14.0)
  }

  test("interpreted (non-codegen) eval agrees with codegen") {
    // force the interpreted path through the expression's eval
    val e = Md5Word32(
      org.apache.spark.sql.catalyst.expressions.Literal("hello world"), 0)
    val interpreted = e.eval(null).asInstanceOf[Long]
    import spark.implicits._
    val viaPlan = Seq("hello world").toDF("s")
      .select(expr("h32(s)")).collect()(0).getLong(0)
    assert(interpreted === viaPlan)
  }

  test("vec_dot fails loudly on degenerate inputs, never a truncated dot") {
    import spark.implicits._
    val rows = Seq((1L, Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)))
      .toDF("id", "a", "b")
    assert(rows.selectExpr("vec_dot(a, b) AS d")
      .collect()(0).getDouble(0) === 32.0)
    // length mismatch THROWS (in both codegen and interpreted eval) —
    // a silently-truncated partial dot is a plausible WRONG number in
    // a similarity ranking, and the zip-pad-NULL alternative would
    // silently drop the row from a threshold filter
    val mism = Seq((2L, Seq(1.0f, 2.0f), Seq(4.0f, 5.0f, 6.0f)))
      .toDF("id", "a", "b")
    val e = intercept[Exception] {
      mism.selectExpr("vec_dot(a, b)").collect()
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse(""))).mkString(" | ")
    assert(rootMsg(e).contains("length mismatch"))
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    val at = ArrayType(FloatType, containsNull = true)
    val interp = intercept[IllegalArgumentException] {
      FloatVecDot(
        Literal(new GenericArrayData(Array[Any](1.0f, 2.0f)), at),
        Literal(new GenericArrayData(Array[Any](4.0f, 5.0f, 6.0f)), at))
        .eval(null)
    }
    assert(interp.getMessage.contains("length mismatch"))
    // wrong arity fails analysis with the function named, and extra
    // arguments are never silently dropped
    val one = intercept[org.apache.spark.sql.AnalysisException] {
      rows.selectExpr("vec_dot(a)").collect()
    }
    assert(one.getMessage.contains("vec_dot"))
    val three = intercept[org.apache.spark.sql.AnalysisException] {
      rows.selectExpr("vec_dot(a, b, a)").collect()
    }
    assert(three.getMessage.contains("vec_dot"))
  }
}
