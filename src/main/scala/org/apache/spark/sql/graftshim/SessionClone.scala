package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{SparkSession, classic}

/** A copy of a session as it stands: its runtime SQL conf, temp views,
  * functions and query listeners, on the same SparkContext and shared
  * state (the cache manager among them). Unlike `newSession()`, which
  * starts from the static conf, a setting made with `conf.set` carries
  * over. `classic.SparkSession.cloneSession` is `private[sql]`, hence
  * this package. */
object SessionClone {

  def apply(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()
}
