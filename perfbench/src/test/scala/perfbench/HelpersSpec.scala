package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("percentile interpolates linearly between ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0).contains(1.0))
    assert(Stats.percentile(xs, 100).contains(4.0))
    assert(Stats.median(xs).contains(2.5))
    // rank 0.95 * 3 = 2.85: 3 + 0.85 * (4 - 3)
    assert(math.abs(Stats.percentile(xs, 95).get - 3.85) < 1e-12)
  }

  test("percentile of one sample is that sample; of none, nothing") {
    assert(Stats.percentile(Seq(7.0), 90).contains(7.0))
    assert(Stats.percentile(Nil, 50).isEmpty)
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }

  test("percentile agrees with Python's inclusive quantiles") {
    // statistics.quantiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10], n=4,
    //                      method='inclusive') == [3.25, 5.5, 7.75]
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 25).contains(3.25))
    assert(Stats.percentile(xs, 50).contains(5.5))
    assert(Stats.percentile(xs, 75).contains(7.75))
  }

  test("tail mean averages the slowest share, at least one sample") {
    val xs = (1 to 20).map(_.toDouble)
    assert(Stats.mean(xs).contains(10.5))
    assert(Stats.tailMean(xs, 0.1).contains(19.5))
    assert(Stats.tailMean(Seq(3.0, 1.0, 2.0), 0.1).contains(3.0))
    assert(Stats.tailMean(Nil).isEmpty)
  }

  test("digest ignores row order but not row content or multiplicity") {
    val rows = Seq(Seq[Any](1L, "a", 0.5), Seq[Any](2L, "b", null), Seq[Any](3L, "c", 1.5))
    val d = Digest.of(rows)
    assert(d == Digest.of(rows.reverse))
    assert(d.rows == 3)
    assert(d != Digest.of(rows.updated(0, Seq[Any](1L, "a", 0.5000000000000001))))
    assert(d != Digest.of(rows :+ rows.head))
    // a swapped pair of fields is a different row
    assert(Digest.rowHash(Seq(1L, 2L)) != Digest.rowHash(Seq(2L, 1L)))
  }

  test("digest tells null from the string null and -0.0 from 0.0") {
    assert(Digest.rowHash(Seq(null)) != Digest.rowHash(Seq("null")))
    assert(Digest.rowHash(Seq(-0.0)) != Digest.rowHash(Seq(0.0)))
    assert(Digest.rowHash(Seq(Seq(1, 2))) != Digest.rowHash(Seq(Seq(2, 1))))
  }

  test("digest pins round-trip through their text form") {
    val d = Digest(42, -1234567890123L)
    assert(java.lang.Long.parseUnsignedLong(d.hex, 16) == d.hash)
  }

  test("span self time subtracts direct children only") {
    val spans = Seq(
      Span(1, 0, 1, "request", "http", 0, 100),
      Span(2, 1, 1, "guard", "sql", 10, 20),
      Span(3, 1, 1, "run", "sql", 20, 80),
      Span(4, 3, 1, "job", "spark", 30, 70))
    val self = Spans.selfNs(spans)
    assert(self(1) == 100 - 10 - 60)
    assert(self(2) == 10)
    assert(self(3) == 60 - 40)
    assert(self(4) == 40)
  }

  test("span self time never goes below zero for overlapping children") {
    val spans = Seq(
      Span(1, 0, 1, "fan-out", "http", 0, 10),
      Span(2, 1, 1, "a", "sql", 0, 10),
      Span(3, 1, 1, "b", "sql", 0, 10))
    assert(Spans.selfNs(spans)(1) == 0)
  }

  test("tracer nests spans, inherits the request id, and records nothing when off") {
    val on = new Tracer(true)
    on.span(null, "http", "request", request = 7) {
      on.span(null, "sql", "run")(())
    }
    val byName = on.all.map(s => s.name -> s).toMap
    assert(byName("run").parent == byName("request").id)
    assert(byName("run").request == 7)
    assert(byName("request").parent == 0)
    assert(byName("request").durNs >= byName("run").durNs)
    val off = new Tracer(false)
    assert(off.span(null, "x", "y")(41 + 1) == 42)
    assert(off.all.isEmpty)
  }
}
