package graft.dq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.PlanFrame
import org.apache.spark.sql.types.StructType

/** A DQ sample collected in one Spark job: per row, the sample's own
  * columns (`schema`), then the derived `inputs` the profile and rule
  * folds read, which Spark computed with its own per-row semantics.
  * Rows stay in Spark's compact `UnsafeRow` form, grouped in `parts` as
  * Spark's aggregates would read them ([[PlanFrame.collectPartitions]]). */
private[graft] final class Sample private (
    val schema: StructType, val parts: Array[Array[InternalRow]], timeZone: String) {

  val rows: Array[InternalRow] = parts.flatten

  /** The first `n` rows' own columns as JSON, written as `toJSON`
    * writes them. */
  def jsonRows(n: Int): Seq[String] = {
    val types = schema.fields.map(_.dataType)
    graft.sql.QueryRunner.jsonRows(schema, rows.iterator.take(n).map(r =>
      new GenericInternalRow(Array.tabulate[Any](types.length)(i => r.get(i, types(i))))).toSeq,
      timeZone)
  }
}

private[graft] object Sample {

  def quoted(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** Collect `df` with `inputs` beside its columns: input `j` is field
    * `df.schema.size + j` of each row. */
  def collect(df: DataFrame, inputs: Seq[Column]): Sample = {
    val projected = df.select(df.schema.fieldNames.map(quoted).toSeq ++ inputs: _*)
    new Sample(df.schema, PlanFrame.collectPartitions(projected),
      df.sparkSession.sessionState.conf.sessionLocalTimeZone)
  }
}
