package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CollationKey, Expression}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LogicalPlan, Project}
import org.apache.spark.sql.execution.SQLExecution

/** A frame over a logical plan that is already built, made the way
  * `spark.sql` makes one after it parses. `classic.Dataset.ofRows` is
  * `private[sql]`, hence this package. */
object PlanFrame {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    session.withActive(classic.Dataset.ofRows(session, plan))
  }

  /** `df`'s rows in Spark's internal form, one array per partition of
    * what Spark would aggregate them in, from one tracked SQL execution.
    * A frame whose optimized plan ends in a limit is collected as
    * `collect` collects it (the first rows, in partition order) and
    * makes one partition, as a limit's output is before an aggregate;
    * any other keeps its partitions. Rows are `UnsafeRow`s, one compact
    * byte array each. */
  def collectPartitions(df: DataFrame): Array[Array[InternalRow]] = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      val plan = qe.executedPlan
      plan.resetMetrics()
      def limited(p: LogicalPlan): Boolean = p match {
        case _: GlobalLimit => true
        case Project(_, child) => limited(child)
        case _ => false
      }
      if (limited(qe.optimizedPlan)) Array(plan.executeCollect())
      else qe.sparkSession.sparkContext.runJob(plan.execute(),
        (rows: Iterator[InternalRow]) => rows.map(_.copy()).toArray)
    }
  }

  /** `df.collect()` without the conversion to `Row`: the same job, run
    * as the same tracked SQL execution. */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan.resetMetrics()
      qe.executedPlan.executeCollect()
    }
  }

  /** The value `count_distinct` groups `e` by: floats normalised at
    * any depth (`NormalizeFloatingNumbers.normalize` is `private[sql]`),
    * collated strings by their collation key. */
  def distinctKey(e: Expression): Column = classic.ExpressionUtils.column(
    CollationKey.injectCollationKey(NormalizeFloatingNumbers.normalize(e)))
}
