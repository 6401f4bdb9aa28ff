package graft.dq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column profiler (reference `src/dq.py:39-79`), batched for scale
  * into two passes:
  *
  *  - Pass 1, ONE wide aggregation: count, nulls and the type-specific
  *    stats of every column in a single job (the reference does pandas
  *    passes per column over a local sample). It holds no DISTINCT
  *    aggregate: exact distincts would make Catalyst Expand every row
  *    (N+1)× and run the percentile buffers once per (column, value)
  *    group.
  *  - Pass 2, ONE melt → groupBy → window pass over ALL columns: every
  *    non-null (column, value) group with its count. Per column, the
  *    groups ranked by count give the top-k, and the number of groups
  *    is the exact distinct count; both windows share the one
  *    partitioning by column.
  *
  * Pass 2 groups values by their string form, so `distinct` equals
  * `count_distinct` only where that form is one-to-one. Float and
  * double `-0.0` is first normalised to `0.0` (Spark's grouping treats
  * them as one value, their strings differ) and NaN always prints as
  * `NaN`. Columns whose string form can merge distinct values (see
  * [[printsApart]]) keep an exact `count_distinct` in pass 1.
  *
  * Two percentile modes (the 100 TB cliff SURVEY §2.8 flags):
  *
  *  - `exact = true` (default; what [[DqEngine.runChecks]] uses on its
  *    BOUNDED ≤ 200 000-row samples and what the oracle queries pin):
  *    exact interpolated `percentile`, which buffers every value per
  *    partition — fine at sample scale, the first thing to break on a
  *    full table.
  *  - `exact = false` ([[profileFull]]): sketch-based
  *    `approx_percentile` (rank error ≤ 1/accuracy of the row count,
  *    so the default 10 000 bounds p50/p95 to ±0.01% of ranks; returns
  *    an actual data value, not an interpolation), memory O(accuracy)
  *    per column instead of O(rows). Distinct counts stay exact: pass
  *    2 groups the full table anyway.
  *
  * Pandas-parity semantics: nulls are excluded from distinct, stats
  * and top-k (`dropna()` throughout the reference); `-0.0` and `0.0`
  * are one value, as in `value_counts`; std is population std
  * (`ddof=0`, `src/dq.py:56`); exact percentiles interpolate linearly
  * (pandas default = DuckDB `quantile_cont` = Spark `percentile`).
  */
object Profiler {

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _ => false
  }

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

  /** Full-table profiling entry point: sketch percentiles (see the
    * object doc for the error bound), exact everything else. */
  def profileFull(df: DataFrame, topK: Int = 5,
      accuracy: Int = 10000): Seq[ColumnProfile] =
    profile(df, topK, exact = false, accuracy)

  def profile(df: DataFrame, topK: Int = 5, exact: Boolean = true,
      accuracy: Int = 10000): Seq[ColumnProfile] = {
    val fields = df.schema.fields.toSeq
    val fixedOffset = DateTimeUtils.getZoneId(
      df.sparkSession.conf.get("spark.sql.session.timeZone")).getRules.isFixedOffset

    def pctl(c: Column, p: Double) =
      if (exact) percentile(c, lit(p))
      else approx_percentile(c, lit(p), lit(accuracy))

    def quoted(name: String) = "`" + name.replace("`", "``") + "`"

    // Pass 1: one wide agg — null count + type stats per column.
    val aggs = fields.flatMap { f =>
      val c = col(quoted(f.name))
      val base = sum(c.isNull.cast("long")).as(s"nulls__${f.name}") +: (
        if (printsApart(f.dataType, fixedOffset)) Nil
        else Seq(count_distinct(c).as(s"distinct__${f.name}")))
      val typed = f.dataType match {
        case dt if isNumeric(dt) => Seq(
          min(c).cast("double").as(s"min__${f.name}"),
          max(c).cast("double").as(s"max__${f.name}"),
          // cast: avg/percentile of a DECIMAL column return Decimal,
          // which would CCE on the Double read-back below
          avg(c).cast("double").as(s"mean__${f.name}"),
          stddev_pop(c).as(s"std__${f.name}"),
          pctl(c, 0.5).cast("double").as(s"p50__${f.name}"),
          pctl(c, 0.95).cast("double").as(s"p95__${f.name}"))
        case _: TimestampType => Seq(
          date_format(min(c), "yyyy-MM-dd HH:mm:ss").as(s"tsmin__${f.name}"),
          date_format(max(c), "yyyy-MM-dd HH:mm:ss").as(s"tsmax__${f.name}"))
        case _: StringType => Seq(
          min(length(c)).cast("long").as(s"lmin__${f.name}"),
          max(length(c)).cast("long").as(s"lmax__${f.name}"),
          pctl(length(c), 0.95).cast("double").as(s"lp95__${f.name}"))
        case _ => Nil
      }
      base ++ typed
    }
    val row = df.agg(count(lit(1)).as("n"), aggs: _*).collect()(0)
    val total = row.getAs[Long]("n")
    def opt[T](name: String): Option[T] =
      if (row.schema.fieldNames.contains(name) && !row.isNullAt(row.fieldIndex(name)))
        Some(row.getAs[T](name))
      else None

    // Pass 2: melt to (column index, value as string), null-excluded;
    // one row per (column, value) group. Columns are stacked by
    // position, so no column name reaches the SQL text.
    val melted = df.select(fields.zipWithIndex.map { case (f, i) =>
      val c = col(quoted(f.name))
      positiveZero(f.dataType).fold(c)(_(c)).as(s"c$i")
    }: _*)
      .selectExpr(s"stack(${fields.size}, " +
        fields.indices.map(i => s"$i, CAST(c$i AS STRING)").mkString(", ") +
        ") AS (column, value)")
    val byColumn = Window.partitionBy("column")
    val groups = melted
      .where(col("value").isNotNull)
      .groupBy("column", "value").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(byColumn.orderBy(desc("cnt"), col("value"))))
      .withColumn("ndist", count(lit(1)).over(byColumn))
      // rank 1 survives even at topK <= 0: it carries the distinct count
      .where(col("rn") <= math.max(topK, 1))
      .collect()
      .groupBy(_.getAs[Int]("column"))
    def distinctOf(i: Int): Option[Long] =
      groups.get(i).map(_.head.getAs[Long]("ndist"))
    def topOf(i: Int): Seq[TopValue] =
      groups.getOrElse(i, Array.empty).toSeq
        .filter(_.getAs[Int]("rn") <= topK).sortBy(_.getAs[Int]("rn"))
        .map(r => TopValue(r.getAs[String]("value"), r.getAs[Long]("cnt")))

    fields.zipWithIndex.map { case (f, i) =>
      ColumnProfile(
        column = f.name,
        count = total,
        nulls = opt[Long](s"nulls__${f.name}").getOrElse(0L),
        distinct = opt[Long](s"distinct__${f.name}").orElse(distinctOf(i)).getOrElse(0L),
        numeric =
          if (isNumeric(f.dataType))
            Some(NumericStats(
              opt[Double](s"min__${f.name}").getOrElse(Double.NaN),
              opt[Double](s"max__${f.name}").getOrElse(Double.NaN),
              opt[Double](s"mean__${f.name}").getOrElse(Double.NaN),
              opt[Double](s"std__${f.name}").getOrElse(Double.NaN),
              opt[Double](s"p50__${f.name}").getOrElse(Double.NaN),
              opt[Double](s"p95__${f.name}").getOrElse(Double.NaN)))
          else None,
        timestamp = opt[String](s"tsmin__${f.name}").map(mn =>
          TimestampStats(mn, opt[String](s"tsmax__${f.name}").getOrElse(mn))),
        stringLength = opt[Long](s"lmin__${f.name}").map(mn =>
          StringLengthStats(mn,
            opt[Long](s"lmax__${f.name}").getOrElse(mn),
            opt[Double](s"lp95__${f.name}").getOrElse(mn.toDouble))),
        topValues = topOf(i))
    }
  }
}
