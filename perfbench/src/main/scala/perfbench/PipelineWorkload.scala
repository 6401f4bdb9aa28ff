package perfbench

import java.nio.file.Files

import scala.util.control.NonFatal

import graft.SparkEntry

/** `pipeline`: one pass over a fixed tenth of the declared queries on
  * a fresh session, so every session-scoped cache starts empty. The JVM
  * is fresh too: the pass pays code generation and JIT compilation, as
  * a newly started service would. The order is fixed (registry by
  * registry, by name) and the seed does not change it: in a cold pass
  * the order decides which query pays each shared start-up cost, and a
  * seeded order spread the per-query figures by 20-30 % across seeds.
  * The clock times each query materialised through the `noop` sink.
  * After the pass every query runs again and its result is digested
  * and checked against the pins, outside the clock.
  *
  * Fixed work in a timed pass makes `throughput_per_s` (queries per
  * second of the pass) equal to `1000 / mean_ms` by construction. */
object PipelineWorkload {

  /** Registry of each query, for the per-registry layer times. */
  private val registries: Seq[(String, graft.Registry)] = Seq(
    "relational" -> graft.queries.Relational, "dq" -> graft.queries.DqQueries,
    "text" -> graft.queries.TextPipeline, "vector" -> graft.queries.VectorPipeline,
    "event" -> graft.queries.EventPipeline)

  /** The measured queries: every tenth declared query of each
    * registry, by name (12 of 91). A cold pass over all 91 takes about
    * 86 s on 4 cores, more than one run can spend. */
  private def selected(all: Boolean): Seq[(String, Vector[String])] = registries.map {
    case (r, m) => r -> m.queries.keys.toVector.sorted.zipWithIndex
      .collect { case (n, i) if all || i % 10 == 0 => n }
  }

  def registryOf(name: String): String =
    registries.collectFirst { case (r, m) if m.queries.contains(name) => r }.getOrElse("other")

  def run(ctx: Ctx): (Double, Outcome) = {
    val args = ctx.args
    val dir = args.data.toString
    val queries = SparkEntry.queries
    val order = selected(args.writePins).flatMap(_._2)

    val (spark, setupS) = Main.medianSetup(3) { () =>
      val s = ctx.freshSession()
      // open every table's relation handle, as a serving process would
      graft.sources.Tables.names.foreach(n => graft.sources.Tables.table(s, dir, n).schema)
      s
    }(s => graft.sources.Tables.invalidate(s))

    ctx.startMeasuring()
    val timed = order.map { name =>
      val t0 = System.nanoTime()
      val err =
        try {
          ctx.tracer.span(spark, "queries." + registryOf(name), name) {
            queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
          }
          None
        } catch { case NonFatal(e) => Some(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      (name, (System.nanoTime() - t0) / 1e9, err)
    }
    val passS = timed.map(_._2).sum
    // the engine figures cover the timed pass only, not the checks
    ctx.drainListeners()
    val engine = if (args.trace) Main.engineLayers(ctx, spark) else Map.empty[String, Double]

    // the correctness gate, after the clock: each query that ran is run
    // again on the same session and its result digested
    val results = timed.map { case (name, s, err) =>
      (name, s, err.toLeft(()).flatMap { _ =>
        try Right(Digest.materialise(queries(name)(spark, dir)))
        catch { case NonFatal(e) => Left(s"$name (check): ${e.getClass.getSimpleName}: ${e.getMessage}") }
      })
    }
    if (args.writePins)
      Pins.save(args.pins, results.collect { case (n, _, Right(d)) => n -> d }.toMap)
    val pins = Pins.load(args.pins)
    val failures = results.flatMap {
      case (_, _, Left(err)) => Some(err)
      case (n, _, Right(d)) => pins.get(n) match {
        case None => Some(s"$n: no pinned digest")
        case Some(p) if p != d =>
          Some(s"$n: rows ${d.rows} digest ${d.hex}, pinned rows ${p.rows} digest ${p.hex}")
        case _ => None
      }
    }
    val secs = results.map(_._2 * 1000)
    val byReg = results.groupBy(r => registryOf(r._1)).map { case (k, v) => k -> v.map(_._2).sum }
    val layers = engine ++ Map(
      "queries.relational_s" -> byReg.getOrElse("relational", 0.0),
      "queries.dq_s" -> byReg.getOrElse("dq", 0.0),
      "queries.text_s" -> byReg.getOrElse("text", 0.0),
      "queries.vector_s" -> byReg.getOrElse("vector", 0.0),
      "queries.event_s" -> byReg.getOrElse("event", 0.0),
      "queries.max_s" -> results.map(_._2).max)
    if (args.trace)
      Files.writeString(args.work.resolve(s"pipeline-queries-${args.seed}.tsv"),
        results.map { case (n, s, _) => f"$n\t$s%.4f" }.mkString("", "\n", "\n"))
    (setupS, Outcome(
      attempted = results.size, failures = failures, timedS = passS,
      e2e = Map(
        "throughput_per_s" -> results.size / passS,
        "mean_ms" -> Stats.mean(secs).get,
        "tail_ms" -> Stats.tailMean(secs).get),
      named = Map("cold_pass_s" -> (passS, "s"), "query_samples" -> (secs.size.toDouble, "count"),
        "query_p50_ms" -> (Stats.median(secs).get, "ms"),
        "query_p95_ms" -> (Stats.percentile(secs, 95).get, "ms")),
      layers = layers))
  }
}

/** Pinned (rows, digest) per query, one `name rows hex` line each. */
object Pins {
  def load(p: java.nio.file.Path): Map[String, Digest] =
    if (!Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, hex) = l.split("\\s+")
        n -> Digest(rows.toLong, java.lang.Long.parseUnsignedLong(hex, 16))
      }.toMap

  def save(p: java.nio.file.Path, pins: Map[String, Digest]): Unit =
    Files.writeString(p, pins.toSeq.sortBy(_._1)
      .map { case (n, d) => s"$n ${d.rows} ${d.hex}" }.mkString("", "\n", "\n"))
}
