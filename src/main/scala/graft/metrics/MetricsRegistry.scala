package graft.metrics

import scala.collection.mutable

/** In-process labeled metrics registry (SURVEY.md §2.7 M1–M5;
  * reference `src/metrics.py:5-68`): counters, raw-ms histograms, and
  * a Prometheus text export where each histogram emits `_sum`,
  * `_count` and `_p95` (p95 uses the reference's INDEX formula
  * `sorted[max(0, int(0.95·n) − 1)]`, not interpolation). An optional
  * external exporter's dump is concatenated ahead of local lines.
  *
  * Histograms are bounded: each key keeps only its latest
  * [[MetricsRegistry.Window]] samples. `_sum` and `_count` stay
  * cumulative over every observation, while `_p95` is the index
  * formula over the retained window (n = window size once it is
  * full), so after more than `Window` observations it describes the
  * recent ones. The reference keeps every sample and ranks them all,
  * which grows without limit under sustained traffic.
  *
  * Key identity = (name, labels sorted by key); thread-safe via a
  * single lock, matching the reference's `threading.Lock`. Insertion
  * order of first appearance is preserved in the export.
  */
class MetricsRegistry {
  private type Key = (String, Seq[(String, String)])
  private val counters = mutable.LinkedHashMap.empty[Key, Long]
  private val histMs = mutable.LinkedHashMap.empty[Key, MetricsRegistry.Hist]
  private var externalExporter: Option[() => String] = None

  private def key(name: String, labels: Map[String, String]): Key =
    (name, labels.toSeq.sortBy(_._1))

  def setExternalExporter(exporter: () => String): Unit = synchronized {
    externalExporter = Some(exporter)
  }

  def inc(name: String, labels: Map[String, String] = Map.empty,
      value: Long = 1L): Unit = synchronized {
    val k = key(name, labels)
    counters.update(k, counters.getOrElse(k, 0L) + value)
  }

  def observeMs(name: String, valueMs: Long,
      labels: Map[String, String] = Map.empty): Unit = synchronized {
    histMs.getOrElseUpdate(key(name, labels), new MetricsRegistry.Hist).add(valueMs)
  }

  /** Samples a histogram currently retains (test/introspection helper). */
  def retained(name: String, labels: Map[String, String] = Map.empty): Int =
    synchronized(histMs.get(key(name, labels)).fold(0)(_.recent.length))

  /** Snapshot counter value (test/introspection helper). */
  def counter(name: String, labels: Map[String, String] = Map.empty): Long =
    synchronized(counters.getOrElse(key(name, labels), 0L))

  private def labelStr(labels: Seq[(String, String)]): String =
    if (labels.isEmpty) ""
    else labels.map { case (k, v) =>
      // Prometheus exposition escaping (\\, \", \n): one unescaped
      // quote or newline in a label VALUE makes the whole /metrics
      // page unparseable, dropping every metric from the scrape
      val escaped = v.replace("\\", "\\\\")
        .replace("\"", "\\\"").replace("\n", "\\n")
      s"""$k="$escaped""""
    }.mkString("{", ",", "}")

  private def exportLocal(): String = {
    val lines = mutable.ArrayBuffer.empty[String]
    for (((name, labels), v) <- counters)
      lines += s"$name${labelStr(labels)} $v"
    for (((name, labels), h) <- histMs if h.count > 0) {
      val lbl = labelStr(labels)
      val sorted = h.recent.sorted
      val p95 = sorted(math.max(0, (0.95 * sorted.length).toInt - 1))
      lines += s"${name}_sum$lbl ${h.sum}"
      lines += s"${name}_count$lbl ${h.count}"
      lines += s"${name}_p95$lbl $p95"
    }
    lines.mkString("", "\n", "\n")
  }

  def exportPrometheus(): String = {
    // invoke the external exporter OUTSIDE the registry lock: it is an
    // arbitrary callback (possibly doing I/O), and holding the lock
    // for its duration would stall every inc/observeMs on the request
    // hot path — and deadlock outright if the callback's thread ever
    // re-enters this registry
    val exporter = synchronized(externalExporter)
    val external =
      exporter.map(e => try e() catch { case _: Exception => "" })
        .getOrElse("")
    val local = synchronized(exportLocal())
    if (external.trim.isEmpty) local
    else external.replaceAll("\\s+$", "") + "\n" + local
  }

  def reset(): Unit = synchronized {
    counters.clear(); histMs.clear()
  }
}

object MetricsRegistry {

  /** Samples each histogram key retains for its `_p95`. */
  val Window = 1024

  /** One histogram: the latest [[Window]] samples in a ring, plus the
    * cumulative sum and count. */
  private final class Hist {
    val recent = mutable.ArrayBuffer.empty[Long]
    var sum = 0L
    var count = 0L

    def add(v: Long): Unit = {
      if (recent.length < Window) recent += v
      else recent((count % Window).toInt) = v
      sum += v
      count += 1
    }
  }
}

/** Process-wide default registry (reference `PrometheusLocalRegistry`). */
object Metrics extends MetricsRegistry
