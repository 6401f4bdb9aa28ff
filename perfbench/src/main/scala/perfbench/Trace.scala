package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the id of the enclosing
  * span (0 at top level); `request` ties the spans of one benchmark
  * operation together. Times are nanoseconds since the trace began. */
final case class Span(id: Long, parent: Long, request: Long, name: String,
    layer: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Spans {

  /** Self time of each span: its duration minus the durations of its
    * direct children, never below zero (children that ran in parallel
    * can sum past their parent). */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    spans.map(s => s.id -> math.max(0L, s.durNs - childSum.getOrElse(s.id, 0L))).toMap
  }

  def toJsonLines(spans: Seq[Span]): String =
    spans.sortBy(_.id).map { s =>
      Main.mapper.writeValueAsString(Main.jsonObject(Seq("id" -> s.id, "parent" -> s.parent,
        "request" -> s.request, "name" -> s.name, "layer" -> s.layer,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    }.mkString("", "\n", "\n")
}

/** Records spans around the benchmark's calls into the program, and
  * attributes Spark work to the layer that caused it. The layer is set
  * as a Spark job-local property on the calling thread, so jobs from
  * concurrent threads are counted against the right layer. When
  * tracing is off every call runs bare and nothing is recorded. */
final class Tracer(val enabled: Boolean) {
  val LayerProp = "perfbench.layer"
  private val t0 = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]()

  /** Time `body` as a span of `layer`. With a session, Spark jobs the
    * body starts on this thread carry the layer as a local property. */
  def span[A](spark: SparkSession, layer: String, name: String, request: Long = 0L)(body: => A): A =
    if (!enabled) body
    else {
      val sc = Option(spark).map(_.sparkContext)
      val parent = Option(current.get())
      val prevLayer = sc.map(_.getLocalProperty(LayerProp)).orNull
      val s0 = Span(ids.incrementAndGet(), parent.map(_.id).getOrElse(0L),
        if (request != 0L) request else parent.map(_.request).getOrElse(0L),
        name, layer, System.nanoTime() - t0, 0L)
      current.set(s0)
      sc.foreach(_.setLocalProperty(LayerProp, layer))
      try body
      finally {
        spans.add(s0.copy(endNs = System.nanoTime() - t0))
        sc.foreach(_.setLocalProperty(LayerProp, prevLayer))
        parent match {
          case Some(p) => current.set(p)
          case None => current.remove()
        }
      }
    }

  def all: Seq[Span] = spans.asScala.toVector

  def durationsMs(name: String): Seq[Double] =
    all.filter(_.name == name).map(_.durNs / 1e6)
}

/** Spark engine counters, kept per layer (the job-local property set by
  * [[Tracer]]; jobs without one count as `unattributed`). */
final class EngineListener extends SparkListener {
  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L; var shuffleRecords = 0L
    var spillBytes = 0L; var taskMs = 0L; var gcMs = 0L
    var scanBytes = 0L; var scanRows = 0L
    /** worst max/median task-time ratio over stages with ≥ 2 tasks */
    var stageSkew = 0.0
  }

  private val byLayer = mutable.Map.empty[String, Counters]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private def layerOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("perfbench.layer"))).getOrElse("unattributed")

  private def c(layer: String) = byLayer.getOrElseUpdate(layer, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val l = layerOf(e.properties)
    c(l).jobs += 1
    e.stageIds.foreach(stageLayer(_) = l)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val l = layerOf(e.properties)
    stageLayer(e.stageInfo.stageId) = l
    c(l).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val l = stageLayer.getOrElse(e.stageId, "unattributed")
    val k = c(l)
    k.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      k.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      k.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      k.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      k.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      k.taskMs += m.executorRunTime
      k.gcMs += m.jvmGCTime
      k.scanBytes += m.inputMetrics.bytesRead
      k.scanRows += m.inputMetrics.recordsRead
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageTaskMs.remove(id).foreach { ts =>
      if (ts.length >= 2) {
        val med = Stats.median(ts.map(_.toDouble).toSeq).get
        val skew = if (med > 0) ts.max / med else 1.0
        val k = c(stageLayer.getOrElse(id, "unattributed"))
        k.stageSkew = math.max(k.stageSkew, skew)
      }
    }
  }

  def layer(l: String): Counters = synchronized(c(l))

  def reset(): Unit = synchronized { byLayer.clear(); stageLayer.clear(); stageTaskMs.clear() }

  /** Counters summed over every layer (skew: the worst). */
  def total: Counters = synchronized {
    val t = new Counters
    byLayer.values.foreach { k =>
      t.jobs += k.jobs; t.stages += k.stages; t.tasks += k.tasks
      t.shuffleWriteBytes += k.shuffleWriteBytes; t.shuffleReadBytes += k.shuffleReadBytes
      t.shuffleRecords += k.shuffleRecords; t.spillBytes += k.spillBytes
      t.taskMs += k.taskMs; t.gcMs += k.gcMs
      t.scanBytes += k.scanBytes; t.scanRows += k.scanRows
      t.stageSkew = math.max(t.stageSkew, k.stageSkew)
    }
    t
  }
}

/** Per-query phase times from `QueryExecution.tracker`, and the share of
  * executed-plan leaf scans served from the in-memory cache. Callbacks
  * arrive on Spark's listener thread, so these are per session, not
  * per layer. */
final class PhaseListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  final case class Phases(analysisMs: Double, optimizationMs: Double,
      planningMs: Double, execMs: Double, leafScans: Int, cachedScans: Int)

  private val seen = new ConcurrentLinkedQueue[Phases]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
    val leaves = collectLeaves(qe.executedPlan)
    seen.add(Phases(ms("analysis"), ms("optimization"), ms("planning"),
      durationNs / 1e6, leaves.size, leaves.count(_.isInstanceOf[InMemoryTableScanExec])))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def all: Seq[Phases] = seen.asScala.toVector

  def reset(): Unit = seen.clear()
}
