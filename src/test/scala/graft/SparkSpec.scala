package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, Test/fork). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Spark jobs started while `body` runs, on any session of the
    * shared context. */
  def jobsOf(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      flushListeners()
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  /** Wait until the listener bus has delivered every event posted so
    * far: the bus is ordered, so once a marker query's own event
    * arrives on `session`, every earlier one has too. */
  def flushListeners(session: SparkSession = spark): Unit = {
    val seen = new CountDownLatch(1)
    val marker = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == "listener_flush_marker")) seen.countDown()
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    session.listenerManager.register(marker)
    try {
      // a local relation: the marker query starts no job of its own
      session.sql("SELECT * FROM VALUES (1) AS t(listener_flush_marker)").collect()
      assert(seen.await(30, TimeUnit.SECONDS), "listener bus did not drain")
    } finally session.listenerManager.unregister(marker)
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.builder(cpus = 4).getOrCreate()
}
