package graft.dq

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, BoundReference, DateFormatClass, Expression, Length, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, Percentile}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.{ArrayData, DateTimeUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.PlanFrame
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Column profiler (reference `src/dq.py:39-79`): count, nulls,
  * distinct, type-specific stats and top-k of every column, over a
  * sample collected in ONE Spark job ([[Sample]]) and folded on the
  * driver. The reference profiles a bounded local sample in pandas;
  * the DQ samples here hold at most `data_quality.max_limit` rows.
  *
  * Spark computes what is per row in that job, with its own semantics:
  * each column's string form `CAST(positiveZero(c) AS STRING)` for the
  * top-k, and for a column whose string form can merge values
  * `count_distinct` tells apart (see [[printsApart]]), the key Spark
  * groups that column by. The folds then follow Spark's aggregates,
  * over the partitions Spark would aggregate (one for a sample taken
  * with `limit`), each in row order:
  *
  *  - min/max keep the first of equal values under Spark's ordering
  *    (NaN is the largest value, -0.0 equals 0.0), then cast to double;
  *  - mean is a sequential double sum ÷ n, and over decimals
  *    `Average`'s own decimal evaluation of the exact sum;
  *  - std is the population std of `stddev_pop`: the Welford `m2`
  *    update in row order, the partitions' buffers merged in order,
  *    then `sqrt(m2/n)` ([[Moments]]);
  *  - p50/p95 are Spark's exact `percentile`, run on the driver;
  *  - distinct and top-k count values by their UTF-8 bytes, which gives
  *    Spark's equality and, for ties in count, its binary order.
  *
  * Pandas-parity semantics: nulls are excluded from distinct, stats
  * and top-k (`dropna()` throughout the reference); `-0.0` and `0.0`
  * are one value, as in `value_counts`; std is population std
  * (`ddof=0`, `src/dq.py:56`); exact percentiles interpolate linearly
  * (pandas default = DuckDB `quantile_cont` = Spark `percentile`).
  */
object Profiler {

  /** For float/double values at any array depth: the rewrite that
    * replaces `-0.0` by `0.0` of the same type (a bare `IF(c = 0, 0, c)`
    * would widen float to double and print `0.1f` as
    * `0.10000000149011612`). None for every other type. */
  private def positiveZero(dt: DataType): Option[Column => Column] = dt match {
    case FloatType | DoubleType => Some(c => when(c === 0, lit(0).cast(dt)).otherwise(c))
    case ArrayType(et, _) => positiveZero(et).map(f => c => transform(c, f))
    case _ => None
  }

  /** Whether `CAST(... AS STRING)` of [[positiveZero]]'d values maps
    * the values `count_distinct` tells apart to distinct strings. It
    * does not for strings inside arrays (`["a, b"]` and `["a", "b"]` print
    * alike), collated strings, binary (invalid UTF-8 decodes to
    * U+FFFD), structs and maps (not normalised), or timestamps in a
    * zone whose clocks repeat an hour. */
  private def printsApart(dt: DataType, fixedOffset: Boolean): Boolean = dt match {
    case s: StringType => s == StringType
    case ArrayType(_: StringType, _) => false
    case ArrayType(et, _) => printsApart(et, fixedOffset)
    case TimestampType => fixedOffset
    case BinaryType | _: StructType | _: MapType => false
    case _ => true
  }

  def profile(df: DataFrame, topK: Int = 5): Seq[ColumnProfile] = profileSample(df, topK)._1

  /** [[profile]] and the sample it folded. */
  private[graft] def profileSample(df: DataFrame, topK: Int = 5): (Seq[ColumnProfile], Sample) = {
    val (inputs, fold) = folds(df, topK)
    val sample = Sample.collect(df, inputs)
    (fold(sample), sample)
  }

  /** The inputs the profile of `df` needs beside its columns, and the
    * fold over a [[Sample]] collected with them first. */
  private[dq] def folds(df: DataFrame, topK: Int): (Seq[Column], Sample => Seq[ColumnProfile]) = {
    val fields = df.schema.fields.toSeq
    val zone = df.sparkSession.sessionState.conf.sessionLocalTimeZone
    val fixedOffset = DateTimeUtils.getZoneId(zone).getRules.isFixedOffset
    val attrs = df.queryExecution.analyzed.output
    val inputs = ArrayBuffer.empty[Column]
    def input(c: Column): Int = { inputs += c; fields.size + inputs.size - 1 }
    // per column: the field of its string form, and of its distinct key
    val layout = fields.zipWithIndex.map { case (f, i) =>
      val c = Sample.quoted(f.name)
      val text = f.dataType match {
        case _: StringType => i
        case dt => input(positiveZero(dt).fold(c)(_(c)).cast(StringType))
      }
      val key =
        if (printsApart(f.dataType, fixedOffset)) None
        else Some(input(struct(PlanFrame.distinctKey(attrs(i)))))
      (text, key)
    }
    (inputs.toSeq, sample => fields.indices.map { i =>
      val (text, key) = layout(i)
      fold(fields(i), i, text, key, sample, topK, zone)
    })
  }

  private def fold(f: StructField, i: Int, text: Int, key: Option[Int],
      sample: Sample, topK: Int, zone: String): ColumnProfile = {
    val dt = f.dataType
    val (rows, parts) = (sample.rows, sample.parts)
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    val keys = new java.util.HashSet[InternalRow]()
    var nulls = 0L
    rows.foreach { r =>
      if (r.isNullAt(i)) nulls += 1
      else {
        counts.computeIfAbsent(r.getUTF8String(text), _ => Array(0L))(0) += 1
        key.foreach(k => keys.add(r.getStruct(k, 1)))
      }
    }
    val top = Array.newBuilder[(UTF8String, Long)]
    counts.forEach((v, n) => top += v -> n(0))
    ColumnProfile(
      column = f.name,
      count = rows.length,
      nulls = nulls,
      distinct = if (key.isEmpty) counts.size else keys.size,
      numeric = dt match {
        case _: NumericType => Some(numeric(dt, i, parts))
        case _ => None
      },
      timestamp = dt match {
        case TimestampType =>
          val ts = rows.iterator.filterNot(_.isNullAt(i)).map(_.getLong(i)).toSeq
          def format(micros: Long) = DateFormatClass(Literal(micros, TimestampType),
            Literal("yyyy-MM-dd HH:mm:ss"), Some(zone)).eval().toString
          if (ts.isEmpty) None else Some(TimestampStats(format(ts.min), format(ts.max)))
        case _ => None
      },
      stringLength = dt match {
        case _: StringType =>
          val lens = rows.iterator.filterNot(_.isNullAt(i)).map(_.getUTF8String(i).numChars).toSeq
          if (lens.isEmpty) None
          else Some(StringLengthStats(lens.min, lens.max,
            percentiles(Length(BoundReference(i, dt, nullable = true)), parts)(1)))
        case _ => None
      },
      topValues = top.result()
        .sortWith { case ((v1, n1), (v2, n2)) => n1 > n2 || (n1 == n2 && v1.binaryCompare(v2) < 0) }
        .take(math.max(topK, 0)).map { case (v, n) => TopValue(v.toString, n) }.toSeq)
  }

  /** Spark's `percentile` at 0.5 and 0.95 of `child`, NaN for none:
    * one buffer per partition, updated in row order, then passed on as
    * Spark passes partial buffers to the final aggregate (each rebuilt,
    * then merged in partition order), since the hash map's order
    * decides between tied keys such as -0.0 and 0.0. */
  private def percentiles(child: Expression, parts: Array[Array[InternalRow]]): Seq[Double] = {
    val p = new Percentile(child, Literal(Array(0.5, 0.95)))
    val merged = p.createAggregationBuffer()
    parts.foreach { rows =>
      val partial = p.createAggregationBuffer()
      rows.foreach(p.update(partial, _))
      p.merge(merged, p.merge(p.createAggregationBuffer(), partial))
    }
    p.eval(merged) match {
      case a: ArrayData => a.toDoubleArray().toSeq
      case _ => Seq(Double.NaN, Double.NaN)
    }
  }

  private def numeric(dt: DataType, i: Int, parts: Array[Array[InternalRow]]): NumericStats = {
    val ord = PhysicalDataType.ordering(dt)
    def toDouble(v: Any): Double = v match {
      case d: Decimal => d.toDouble
      case n: java.lang.Number => n.doubleValue
    }
    var min, max: Any = null
    var decimalSum = java.math.BigDecimal.ZERO
    val moments = Moments.of(parts.map(_.iterator.filterNot(_.isNullAt(i)).map { r =>
      val v = r.get(i, dt)
      if (min == null || ord.lt(v, min)) min = v
      if (max == null || ord.gt(v, max)) max = v
      v match {
        case d: Decimal => decimalSum = decimalSum.add(d.toJavaBigDecimal)
        case _ =>
      }
      toDouble(v)
    }))
    val mean = dt match {
      case _: DecimalType if moments.n > 0 =>
        val a = Average(BoundReference(0, dt, nullable = true))
        Option(BindReferences.bindReference(a.evaluateExpression, a.aggBufferAttributes)
          .eval(InternalRow(Decimal(decimalSum), moments.n.toLong))).fold(Double.NaN)(toDouble)
      case _ => moments.mean
    }
    val Seq(p50, p95) = percentiles(BoundReference(i, dt, nullable = true), parts)
    NumericStats(
      if (min == null) Double.NaN else toDouble(min),
      if (max == null) Double.NaN else toDouble(max),
      mean, moments.std, p50, p95)
  }
}

/** `avg` and `stddev_pop` of doubles as Spark aggregates them: per
  * partition, the sum from 0.0 and `CentralMomentAgg`'s Welford update
  * in row order; the partitions' buffers then merged, in order, into an
  * empty one (`Average` and `CentralMomentAgg` merge expressions). */
private[dq] final class Moments {
  var n = 0.0
  private var sum, avg, m2 = 0.0

  def add(x: Double): Unit = {
    sum += x
    n += 1.0
    val delta = x - avg
    val deltaN = delta / n
    avg += deltaN
    m2 += delta * (delta - deltaN)
  }

  def merge(o: Moments): Unit = {
    val newN = n + o.n
    val delta = o.avg - avg
    val deltaN = if (newN == 0.0) 0.0 else delta / newN
    sum += o.sum
    m2 = m2 + o.m2 + delta * deltaN * n * o.n
    avg += deltaN * o.n
    n = newN
  }

  def mean: Double = if (n == 0.0) Double.NaN else sum / n

  def std: Double = if (n == 0.0) Double.NaN else math.sqrt(m2 / n)
}

private[dq] object Moments {

  /** The merged moments of `parts`, one iterator of non-null values per
    * partition. */
  def of(parts: Iterable[Iterator[Double]]): Moments = {
    val total = new Moments
    parts.foreach { values =>
      val partial = new Moments
      values.foreach(partial.add)
      total.merge(partial)
    }
    total
  }
}
