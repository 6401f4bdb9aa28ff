package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** [[Plans.render]], the plan dump behind `PLANS.md`, on sf0.001. */
class PlansSpec extends SparkSpec {
  private val dir = SparkEntry.SmallestSfDir

  test("render gives each named query exactly one plan section") {
    val names = Seq("q01_projection", "td01_token_stats")
    val md = Plans.render(spark, dir, names, exec = false)
    for (name <- names)
      assert(s"(?m)^## $name$$".r.findAllMatchIn(md).size === 1, name)
    assert("(?m)^## ".r.findAllMatchIn(md).size === names.size)
    assert(!md.contains("NOT PLANNED"))
  }

  test("an unknown name is rejected before any query is planned") {
    // exec = true runs every query it plans, and a listener on a fresh
    // session sees every query that runs there: a name check made only
    // after q01 was planned would have run q01 first
    val s = spark.newSession()
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]
    @volatile var marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
        val cols = qe.analyzed.output.map(_.name).mkString(",")
        if (cols == "plans_spec_marker") marker.countDown() else ran.add(cols)
      }
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
        ran.add(s"failed: ${e.getMessage}")
    }
    // queries that ran so far; the bus is ordered, so once a marker
    // query's own event arrives, every earlier one has too
    def drained(): Seq[String] = {
      marker = new java.util.concurrent.CountDownLatch(1)
      s.sql("SELECT * FROM VALUES (1) AS t(plans_spec_marker)").collect()
      assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not drain")
      val all = ran.toArray(Array.empty[String]).toSeq
      ran.clear()
      all
    }
    s.listenerManager.register(listener)
    try {
      val e = intercept[IllegalArgumentException](
        Plans.render(s, dir, Seq("q01_projection", "q00_no_such_query"), exec = true))
      assert(e.getMessage.contains("q00_no_such_query"))
      assert(!e.getMessage.contains("q01_projection"))
      assert(drained() === Nil)
      Plans.render(s, dir, Seq("q01_projection"), exec = true)
      assert(drained().size === 1, "the listener sees a query that ran")
    } finally s.listenerManager.unregister(listener)
  }
}
