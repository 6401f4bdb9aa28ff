package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-evidence harness for [[graft.operators.SaltedJoin]] (q16):
  * times the SAME hot-key fact⋈aggregate join salted and unsalted on
  * one dir and reports, for each variant, wall seconds and the
  * max/median task-time ratio of its longest stage — the number that
  * shows WHERE the unsalted join's time goes (one straggler reducer
  * owning a hot key's whole population) and that the salt actually
  * spreads it.
  *
  * Broadcast is disabled for BOTH variants: the operator exists for
  * the big⋈big case where the build side cannot broadcast (at toy
  * scale Catalyst would otherwise broadcast the 5-row build side and
  * measure nothing). The unsalted variant is therefore exactly the
  * plan a 100 TB deployment would get with a non-broadcastable build
  * side; identical results are asserted, not assumed.
  *
  * Usage: runMain graft.tools.SkewBench <dir> [salts]
  * Prints one JSON line:
  * {"dir":…,"salts":N,"unsalted":{"wall_sec":…,"max_task_sec":…,
  *  "median_task_sec":…,"spread":…},"salted":{…},"rows":N}
  */
object SkewBench {

  /** Collects per-task run times, keyed by stage. */
  private class TaskTimes extends SparkListener {
    val byStage = new java.util.concurrent.ConcurrentHashMap[
      Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      if (t.taskInfo != null && t.taskInfo.successful) {
        byStage.computeIfAbsent(t.stageId,
          _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
          .add(t.taskInfo.duration)
      }
    }
    /** (max, median, taskCount) of the stage with the LARGEST max task
      * time — the straggler's stage, wherever the planner put the
      * join. */
    def worstStage(): (Double, Double, Int) = {
      import scala.jdk.CollectionConverters._
      val stages = byStage.asScala.values.map { q =>
        val ts = q.asScala.toSeq.sorted
        (ts.last / 1e3, ts(ts.size / 2) / 1e3, ts.size)
      }
      if (stages.isEmpty) (0.0, 0.0, 0)
      else stages.maxBy(_._1)
    }
  }

  private def timeIt(spark: SparkSession, df: => DataFrame)
      : (Double, Double, Double, Int) = {
    val listener = new TaskTimes
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    // noop sink (not count()): count would let Catalyst prune the
    // payload columns and under-measure the join.
    df.write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    // The listener bus is async; give queued TaskEnd events a moment
    // to drain before reading (measurement tool, not product code).
    Thread.sleep(1000)
    spark.sparkContext.removeSparkListener(listener)
    val (mx, med, tasks) = listener.worstStage()
    (wall, mx, med, tasks)
  }

  /** Order-free VALUE fingerprint (count + 64-bit row-hash sum): the
    * identity assertion the docstring promises — a count-only check
    * cannot see a salted join attaching the wrong payload to a row. */
  private def fingerprint(df: org.apache.spark.sql.DataFrame): (Long, String) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.sorted.map(col): _*).cast("decimal(38,0)")))
      .collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toString)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val salts = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = graft.GraftSession.builder()
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def ev = graft.sources.Tables.table(spark, dir, "events")
      .select("event_id", "event_type", "value")
    def perType = graft.sources.Tables.table(spark, dir, "events")
      .groupBy("event_type").agg(count(lit(1)).as("type_n"))

    def unsalted = ev.join(perType, Seq("event_type"))
    def salted = graft.operators.SaltedJoin
      .join(ev, perType, Seq("event_type"), salts, saltBy = Seq("event_id"))

    // Warm both paths once (codegen, file index), outside the clock.
    unsalted.write.format("noop").mode("overwrite").save()
    salted.write.format("noop").mode("overwrite").save()

    val (uw, umx, umed, utasks) = timeIt(spark, unsalted)
    val (sw, smx, smed, stasks) = timeIt(spark, salted)
    // asserted identical BY VALUE (once, outside the clocks — same
    // number of extra executions as the old per-variant counts)
    val ufp = fingerprint(unsalted)
    val sfp = fingerprint(salted)
    require(ufp == sfp,
      s"salted join changed the result: count/sum $ufp vs $sfp")
    val un = ufp._1

    def j(w: Double, mx: Double, med: Double, tasks: Int): String =
      f"""{"wall_sec":$w%.3f,"max_task_sec":$mx%.3f,"median_task_sec":$med%.3f,"spread":${if (med > 0) mx / med else 0.0}%.1f,"tasks":$tasks}"""
    println(
      s"""{"dir":"$dir","salts":$salts,"rows":$un,""" +
        s""""unsalted":${j(uw, umx, umed, utasks)},""" +
        s""""salted":${j(sw, smx, smed, stasks)}}""")
    spark.stop()
  }
}
