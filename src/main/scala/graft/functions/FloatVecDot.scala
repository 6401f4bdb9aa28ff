package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd dot product of two `array<float>` columns, as a native
  * Catalyst expression (`vec_dot` in SQL).
  *
  * Why not `aggregate(zip_with(...))`: the higher-order-function pair
  * materializes a 64-element intermediate array and evaluates two
  * lambdas per element for every row — ~µs/row. This kernel is a tight
  * primitive loop over the underlying columnar `ArrayData` with zero
  * allocation, inside whole-stage codegen, which is what makes the
  * brute-force all-pairs similarity queries tractable (and is the
  * right shape for a 1000-executor scan at 100 TB).
  *
  * Determinism contract: the result is the ORDERED left fold
  * `0.0 + x₀·y₀ + x₁·y₁ + …` with each float widened to double before
  * the IEEE multiply — bit-identical to DuckDB's
  * `list_reduce(list_prepend(0.0, list_transform(list_zip(a,b), …)))`
  * used by the oracles on equal-length dense inputs.
  *
  * Degenerate inputs — the validation LAYERING is deliberate:
  *  - Length mismatch THROWS (one int compare per row, free). The
  *    oracle's zip-pad-NULL would silently drop the row from a `> τ`
  *    filter; in a curation pipeline a dimension mismatch is data
  *    corruption, and failing the job beats silently losing pairs —
  *    and beats a truncated partial dot (the pre-fix behavior, a
  *    plausible WRONG similarity) most of all.
  *  - Null ELEMENTS are a documented precondition, validated at
  *    ingest (v05_embedding_stats flags zero/non-finite/dim-drift
  *    vectors), NOT per-pair: making this expression nullable threads
  *    null branches through every downstream cosine predicate and
  *    measured +10% on v03's sf10 candidate fold even with the check
  *    as a single 64-bit word probe of the UnsafeArrayData null
  *    bitset (an in-loop isNullAt+break was +56%, 22.3 → 34.9 s).
  *    The fold runs ~10⁴ times per vector at sf10 — per-pair
  *    validation is the wrong layer by that same factor. On unsafe
  *    rows a null slot reads as 0.0f; null ARRAYS still propagate
  *    null via BinaryExpression.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires two array<float> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"vec_dot: length mismatch $n vs ${y.numElements()}")
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "vec_dot: length mismatch " + $n + " vs " + $b.numElements());
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** graft's native SQL functions as a session extension: `vec_dot`,
  * `nd_band_keys`, `simhash_pack`, `h32`, `h32b` and `h63` are
  * injected into the function registry of every session graft builds
  * ([[graft.LocalSpark.hardened]] installs this hook with
  * `withExtensions`), and of every session derived from one
  * (`newSession` passes the extensions on, a streaming query's cloned
  * session copies the registry). */
object Functions extends (SparkSessionExtensions => Unit) {
  def apply(ext: SparkSessionExtensions): Unit = {
    // arity-checked builders: user SQL reaches these through /chat, and
    // a wrong argument count must surface as an AnalysisException
    // naming the function, not an IndexOutOfBounds from exprs(1) — and
    // never silently IGNORE extra arguments (vec_dot(a, b, c)
    // returning dot(a,b) would be a plausible wrong number)
    def inject(name: String, cls: Class[_], n: Int)(
        build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), (exprs: Seq[Expression]) => {
          if (exprs.length != n)
            throw new AnalysisException(
              errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
              messageParameters = Map(
                "functionName" -> name,
                "expectedNum" -> n.toString,
                "actualNum" -> exprs.length.toString,
                "docroot" -> "https://spark.apache.org/docs/latest"))
          build(exprs)
        }))
    inject("vec_dot", classOf[FloatVecDot], 2)(e => FloatVecDot(e.head, e(1)))
    inject("nd_band_keys", classOf[LshBandKeys], 1)(e => LshBandKeys(e.head))
    inject("simhash_pack", classOf[SimHashPack], 2)(e => SimHashPack(e.head, e(1)))
    inject("h32", classOf[Md5Word32], 1)(e => Md5Word32(e.head, 0))
    inject("h32b", classOf[Md5Word32], 1)(e => Md5Word32(e.head, 1))
    inject("h63", classOf[Md5Key63], 1)(e => Md5Key63(e.head))
  }
}
