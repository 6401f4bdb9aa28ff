package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** A frame over a logical plan that is already built, made the way
  * `spark.sql` makes one after it parses. `classic.Dataset.ofRows` is
  * `private[sql]`, hence this package. */
object PlanFrame {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    session.withActive(classic.Dataset.ofRows(session, plan))
  }
}
