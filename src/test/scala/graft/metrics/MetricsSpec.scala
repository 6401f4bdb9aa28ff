package graft.metrics

import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  test("counters export with sorted labels; histograms emit sum/count/p95") {
    val m = new MetricsRegistry
    m.inc("ai_requests_total", Map("route" -> "chat"))
    m.inc("ai_requests_total", Map("route" -> "chat"))
    m.inc("dq_checks_total", Map("passed" -> "true"), value = 3)
    (1L to 100L).foreach(v => m.observeMs("ai_sql_exec_ms", v))
    val out = m.exportPrometheus()
    assert(out.contains("ai_requests_total{route=\"chat\"} 2"))
    assert(out.contains("dq_checks_total{passed=\"true\"} 3"))
    assert(out.contains("ai_sql_exec_ms_sum 5050"))
    assert(out.contains("ai_sql_exec_ms_count 100"))
    // reference p95 index formula: sorted[max(0, int(0.95*100) - 1)] = sorted[94] = 95
    assert(out.contains("ai_sql_exec_ms_p95 95"))
  }

  test("single observation p95 uses index 0") {
    val m = new MetricsRegistry
    m.observeMs("t_ms", 42)
    assert(m.exportPrometheus().contains("t_ms_p95 42"))
  }

  test("external exporter output is prepended; failures are swallowed") {
    val m = new MetricsRegistry
    m.inc("c")
    m.setExternalExporter(() => "external_metric 1\n")
    val out = m.exportPrometheus()
    assert(out.startsWith("external_metric 1\n"))
    assert(out.contains("c 1"))
    m.setExternalExporter(() => throw new RuntimeException("boom"))
    assert(m.exportPrometheus().contains("c 1"))
  }

  test("label values are exposition-escaped; exporter runs outside the lock") {
    val m = new MetricsRegistry
    // one raw quote/backslash/newline in a label value makes the whole
    // /metrics page unparseable for a Prometheus scrape
    m.inc("errs_total", Map("msg" -> "say \"hi\"\\path\nnext"))
    val out = m.exportPrometheus()
    assert(out.contains("""errs_total{msg="say \"hi\"\\path\nnext"} 1"""))
    // an exporter that re-enters the registry must not deadlock (it
    // used to run INSIDE the synchronized block)
    val m2 = new MetricsRegistry
    m2.inc("self")
    m2.setExternalExporter(() => { m2.inc("from_exporter"); "ext 1\n" })
    val done = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => { m2.exportPrometheus(); done.countDown() })
    t.start()
    assert(done.await(10, java.util.concurrent.TimeUnit.SECONDS),
      "exportPrometheus deadlocked on a re-entrant exporter")
    assert(m2.counter("from_exporter") === 1L)
  }

  test("histograms keep a bounded window; sum and count stay cumulative") {
    val m = new MetricsRegistry
    val n = 1000000L
    (1L to n).foreach(v => m.observeMs("load_ms", v))
    val w = MetricsRegistry.Window
    assert(m.retained("load_ms") <= w)
    val out = m.exportPrometheus()
    assert(out.contains(s"load_ms_sum ${n * (n + 1) / 2}"))
    assert(out.contains(s"load_ms_count $n"))
    // the index formula over the window, which holds the latest w
    // values n-w+1 .. n
    assert(out.contains(s"load_ms_p95 ${n - w + (0.95 * w).toInt}"))
  }
}
