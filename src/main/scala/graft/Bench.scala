package graft

/** Benchmark main (driver contract): times every declared query on
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line.
  *
  * Measurement discipline: a warmup pass first touches each testdata
  * table and runs one trivial query, so one-time session costs (Hadoop
  * FS init, codegen bootstrap, file-index build) are not charged to
  * whichever query happens to run first. Each query executes through
  * the `noop` sink — unlike `count()`, which lets Catalyst prune every
  * column, noop materializes the full result rows, so the timing
  * covers real decode + compute + output width.
  */
object Bench {

  /** Start-of-run host-contention stamp, carried into every artifact
    * as `concurrent_load`: 1-minute loadavg plus the other live JVMs'
    * pids and command heads (a concurrently running `sbt test` once
    * contaminated a timed sf100 pass and the artifact could not show
    * it — the r18 verdict's bench-hygiene item). Sampled BEFORE the
    * session boots so our own executors don't register; this JVM is
    * excluded by pid. Read-only /proc scan; any failure degrades to
    * `null` fields rather than aborting a bench run. */
  private[graft] def concurrentLoadJson(): String = {
    val self = ProcessHandle.current().pid()
    val load =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0)
      catch { case scala.util.control.NonFatal(_) => "null" }
    // Hypervisor CPU-steal fraction over a 250 ms sample: this sandbox
    // is a guest on a shared host, and steal bursts (measured this
    // round: identical back-to-back runs of one query at 16 s and
    // 185 s with zero in-VM IO/memory pressure) are invisible to the
    // loadavg/other-JVM stamps — a scale artifact from a stolen-CPU
    // window needs to carry the evidence, same rationale as the r18
    // concurrent-JVM guard. Fields 1-8 of /proc/stat's cpu line are
    // user..steal in USER_HZ ticks; fraction = Δsteal / Δtotal.
    val steal =
      try {
        def sample(): Array[Long] = java.nio.file.Files
          .readString(java.nio.file.Paths.get("/proc/stat"))
          .linesIterator.next().split("\\s+").drop(1).map(_.toLong)
        val a = sample(); Thread.sleep(250L); val b = sample()
        val d = b.zip(a).map { case (x, y) => x - y }
        // denominator = user..steal (first 8 fields) only: guest and
        // guest_nice are already accounted inside user/nice, so
        // including them double-counts guest ticks and understates
        // the fraction (r19 advice)
        val total = d.take(8).sum.toDouble
        if (total <= 0 || d.length < 8) "null"
        else f"${d(7) / total}%.4f"
      } catch { case scala.util.control.NonFatal(_) => "null" }
    val jvms =
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(java.nio.file.Paths.get("/proc"))
          .iterator().asScala
          .filter(_.getFileName.toString.forall(_.isDigit))
          .filter(_.getFileName.toString.toLong != self)
          .flatMap { p =>
            try {
              val cmd = java.nio.file.Files
                .readString(p.resolve("cmdline")).split('\u0000')
              if (cmd.headOption.exists(c =>
                    c.endsWith("java") || c.contains("/java ")))
                // name the JVM by its main class / jar (last
                // non-option arg head), the human-readable part
                Some(p.getFileName.toString + ":" +
                  cmd.drop(1).filterNot(_.startsWith("-"))
                    .headOption.getOrElse("java").takeRight(80))
              else None
            } catch { case scala.util.control.NonFatal(_) => None }
          }.toVector.sorted
      } catch { case scala.util.control.NonFatal(_) => Vector("null") }
    val jvmsJson = jvms.map(s => "\"" +
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
                  case c if c < ' ' => "";  case c => c.toString } + "\"")
      .mkString("[", ",", "]")
    s"""{"loadavg1":$load,"steal_frac":$steal,"other_jvms":${jvms.size},"other_jvm_cmds":$jvmsJson}"""
  }

  def main(args: Array[String]): Unit = {
    // sampled first: the stamp must reflect the host BEFORE this run's
    // own session adds load
    val concurrentLoad = concurrentLoadJson()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Execution knobs whose right value depends on input size (AQE,
    // shuffle compression, locality wait) are chosen by measuring the
    // input — see InputTuning for the rationale and threshold.
    val spark = GraftSession.sized(sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Optional comma-separated query filter for local iteration on a
    // single operator; unset, the bench times the full surface.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

    // Warmup, outside the clock (standard JVM benchmarking): session
    // bootstrap, file-index build, then one run of EVERY query at the
    // smallest scale factor so janino-compiled codegen classes and JIT
    // profiles exist before timing. Index/relation caches are keyed by
    // data dir, so the timed pass still performs all real data work.
    spark.sql("SELECT 1").collect()
    graft.sources.Tables.names.foreach { t =>
      try graft.sources.Tables.table(spark, sfDir, t).limit(1).collect()
      catch { case _: Throwable => () }
    }
    val warmDir = new java.io.File(SparkEntry.SmallestSfDir)
    val sameDir =
      warmDir.isDirectory && new java.io.File(sfDir).isDirectory &&
        warmDir.getCanonicalPath == new java.io.File(sfDir).getCanonicalPath
    // Skip query warmup only when bench runs ON the smallest SF itself
    // (warming there would pre-cache the timed dataset); the first
    // timed query then absorbs codegen, which is the lesser distortion.
    // warm only what will be timed: with SPARK_GRAFT_BENCH_ONLY set
    // (the single-operator fast loop), warming the other ~88 queries
    // is tens of wasted seconds per iteration. CAVEAT: this makes solo
    // numbers JIT-colder than full-surface numbers for the same query
    // (~+0.2 s on sub-second driver-bound queries — measured in the
    // round-13 drift audit, where the gap bisected to this very
    // change, not to any operator). Compare solo-vs-solo or
    // full-vs-full, never across the modes.
    if (warmDir.isDirectory && !sameDir)
      SparkEntry.queries
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .foreach { case (_, fn) =>
          try fn(spark, warmDir.getPath).write.format("noop").mode("overwrite").save()
          catch { case scala.util.control.NonFatal(_) => () }
        }
    // Drop warmup-cached blocks so the timed pass doesn't compete with
    // them for executor memory (sfDir cache entries don't exist yet).
    spark.catalog.clearCache()

    // Per-query MINIMUM of `Runs` back-to-back executions: the work per
    // run is fixed, so the minimum is the run least contaminated by
    // host noise (GC, noisy neighbors) — the standard noise-robust
    // estimator for fixed workloads. Median-of-3 fails here in
    // practice: a host stall spanning two of three runs (observed:
    // td03 [3.19, 3.9, 14.34] s on an untouched binary) drags the
    // median 6× while the minimum stays honest. The median is still
    // reported per-total (`total_median`) and per-run arrays go to the
    // detail file, so contention remains diagnosable. A query that
    // throws is retried no further, reported as null in the per-query
    // map, listed in errors, and EXCLUDED from the total — a fast
    // crash must not deflate (nor a slow one inflate) the headline.
    val Runs = 3
    var errors = Vector.empty[String]
    // Per-query failure diagnostics (exception class + message + top
    // frame), carried in the partial/detail/mirror artifacts: the r17
    // sf100 run recorded td23 as an error whose stderr was lost to a
    // pipe, leaving the failure un-diagnosable — a scale-bench error
    // must carry its exception in the artifact itself, not only on a
    // stream something else may swallow.
    var errorDetail = Map.empty[String, String]
    // ASCII-only output (everything outside [0x20, 0x7e] goes to
    // \\uXXXX) so the artifact write can never fail on encoding, and
    // the 500-char truncation backs off one char rather than split a
    // surrogate pair — a malformed diagnostics string must not be the
    // reason the diagnostics are lost.
    def jstr(s: String): String = {
      val cut =
        if (s.length > 500 && Character.isHighSurrogate(s.charAt(499))) 499
        else math.min(s.length, 500)
      "\"" + s.substring(0, cut).flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' || c >= 0x7f => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    }
    def errDetailJson: String = errorDetail.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    val timed = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Output-sibling resolver shared by the detail, and partial files:
    // named after SPARK_GRAFT_BENCH_OUT's stem when set (so two scale
    // runs into one directory never clobber each other), else a fixed
    // CWD default for bare local runs.
    def outSibling(suffix: String, default: String): java.nio.file.Path =
      sys.env.get("SPARK_GRAFT_BENCH_OUT") match {
        case Some(p) =>
          val abs = java.nio.file.Paths.get(p).toAbsolutePath
          val stem = abs.getFileName.toString.replaceAll("\\.json$", "")
          val parent = abs.getParent
          (if (parent == null) java.nio.file.Paths.get("")
           else parent).resolve(s"$stem$suffix.json")
        case None => java.nio.file.Paths.get(default).toAbsolutePath
      }
    // Scale-session hygiene, the lesson of the round-14 sf100 run
    // (4.6 h of in-memory timings lost to a mid-run ENOSPC): results
    // are CHECKPOINTED after every query — a one-line partial file
    // plus a stderr progress line — so an interrupted multi-hour pass
    // still yields every completed measurement. The partial file is
    // deleted on a clean finish; its presence afterwards means the
    // run died mid-pass.
    val partialPath = outSibling("_partial", "BENCH_PARTIAL.json")
    val done =
      scala.collection.mutable.ArrayBuffer.empty[(String, Option[Double])]
    def writePartial(): Unit = {
      val qs = done
        .map { case (k, v) => "\"" + k + "\":" + v.fold("null")(_.toString) }
        .mkString("{", ",", "}")
      val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
      val line = s"""{"partial":true,"done":${done.size},"of":${timed.size},""" +
        s""""queries":$qs,"errors":$errs,"error_detail":$errDetailJson,""" +
        s""""concurrent_load":$concurrentLoad,""" +
        s""""sf":"$sfDir"}"""
      try java.nio.file.Files.writeString(partialPath, line + "\n")
      catch { case scala.util.control.NonFatal(_) => () }
    }
    val results = timed.map { case (name, fn) =>
      var failed = false
      val times = (1 to Runs).flatMap { _ =>
        if (failed) None
        else {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            Some((System.nanoTime() - t0) / 1e9)
          } catch {
            case scala.util.control.NonFatal(e) =>
              failed = true
              errors :+= name
              errorDetail += name -> (e.getClass.getName + ": " +
                String.valueOf(e.getMessage) +
                e.getStackTrace.headOption.fold("")(f => s" at $f"))
              System.err.println(s"[bench] $name FAILED: $e")
              e.printStackTrace()
              None
          }
        }
      }
      val minOpt = if (failed) None else Some(times.min)
      done += ((name, minOpt))
      System.err.println(
        s"[bench] ${done.size}/${timed.size} $name " +
          minOpt.fold("FAILED")(m => f"min=$m%.3f s") +
          times.map(t => f"$t%.3f").mkString(" runs=[", ",", "]"))
      writePartial()
      (name, minOpt, times)
    }
    // The driver scrapes the contract line from the LAST 2000 chars of
    // build output, and sbt appends its own "[success] Total time: …"
    // line (~75 chars) after ours — so the whole stdout line must stay
    // under ~1900 chars or its FRONT (metric/value) is cut and the
    // driver records parsed:null. That is exactly what happened in
    // rounds 7 (mass-error arrays) and 8 (69 per-query entries at 3
    // decimals): both tails are 2000 chars with the line's head
    // missing. Two formats therefore exist below: the stdout line
    // carries only the required contract fields with per-query values
    // at 2 decimals (~1700 chars at 69 queries, headroom for the
    // capped error list), while the mirror file (no scrape window) and
    // the detail file carry every field at full precision.
    def ms(x: Double): String = String.format(java.util.Locale.ROOT, "%.3f", x)
    def cs(x: Double): String = String.format(java.util.Locale.ROOT, "%.2f", x)
    val qs = results
      .map { case (k, v, _) => "\"" + k + "\":" + v.fold("null")(ms) }
      .mkString("{", ",", "}")
    val qsShort = results
      .map { case (k, v, _) => "\"" + k + "\":" + v.fold("null")(cs) }
      .mkString("{", ",", "}")
    // `value` (and the per-query map) = sum of per-query MINIMA.
    val total = results.flatMap(_._2).sum
    // Median total kept alongside for cross-round comparability with
    // pre-round-6 artifacts whose headline was median-based.
    def median(ts: Seq[Double]): Double = ts.sorted.apply(ts.size / 2)
    val totalMedian = results.collect {
      case (_, Some(_), ts) if ts.nonEmpty => median(ts)
    }.sum
    val firstRunTotal = results.collect {
      case (_, Some(_), ts) if ts.nonEmpty => ts.head
    }.sum
    // Variance summary as two scalars (min/max of per-pass totals):
    // enough to tell regression from host contention without blowing
    // the line length. Full per-run arrays go to the detail file below.
    val passTotals = (0 until Runs).map { i =>
      results.collect { case (_, Some(_), ts) if ts.size > i => ts(i) }.sum
    }.sorted
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The stdout contract line must stay inside the driver's ~2KB log
    // scrape window (see `ms` above). Round 7 proved a mass failure
    // (20 erroring queries) pushes the full errors array past it and
    // the driver parses null — exactly when the signal matters most.
    // stdout carries a CAPPED errors list + the true count; the full
    // array still goes to the detail file (and the mirror file is
    // written regardless, which the driver can always read whole).
    val errJsonCapped =
      (errors.take(3).map("\"" + _ + "\"") ++
        (if (errors.size > 3) Seq("\"+" + (errors.size - 3) + " more\"")
         else Nil)).mkString("[", ",", "]")
    // Full-precision per-run arrays: a single noisy run on a shared
    // host swings ±30%+, and point estimates alone cannot show whether
    // a cross-round delta is regression or contention. Written to a
    // file (not stdout) so the contract line stays scrape-able. The
    // path is resolved against SPARK_GRAFT_BENCH_OUT's directory when
    // set (the one location the driver certainly reads), else the
    // forked JVM's CWD; on write failure the contract line reports
    // `"detail":null` instead of advertising a stale or missing file.
    val runsJson = results
      .map { case (k, _, ts) =>
        "\"" + k + "\":" + ts.map(_.toString).mkString("[", ",", "]")
      }
      .mkString("{", ",", "}")
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$runsJson,"total_median":$totalMedian,"first_run_total":$firstRunTotal,"errors":$errJson,"error_detail":$errDetailJson,"runs_per_query":$Runs,"concurrent_load":$concurrentLoad,"sf":"$sfDir"}"""
    // named after the mirror file, not a fixed sibling
    // BENCH_DETAIL.json: two BENCH_OUT runs into one directory
    // (e.g. the per-round sf10 + sf100 scale passes) would
    // otherwise clobber each other's per-run arrays, leaving a
    // committed scale file whose own "detail" pointer shows a
    // DIFFERENT run's data (the round-13 review finding)
    val detailPath = outSibling("_detail", "BENCH_DETAIL.json")
    val detailWritten =
      try { java.nio.file.Files.writeString(detailPath, detail + "\n"); true }
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] detail write failed ($detailPath): $e")
          false
      }
    val detailJson = if (detailWritten) "\"" + detailPath + "\"" else "null"
    // stdout: the minimal scrape-safe contract line (see the length
    // budget at `cs` above) — required fields + capped errors only.
    // If the surface grows past the budget anyway, degrade per-query
    // precision to 1 decimal before sacrificing parseability (full
    // precision always survives in the mirror + detail files).
    def contractLine(q: String, extra: String = ""): String =
      s"""{"metric":"total","value":${cs(total)},"unit":"sec","queries":$q,$extra"errors":$errJsonCapped,"errors_count":${errors.size},"detail":$detailJson,"sf":"$sfDir"}"""
    val qsCoarse = results
      .map { case (k, v, _) =>
        "\"" + k + "\":" + v.fold("null")(x =>
          String.format(java.util.Locale.ROOT, "%.1f", x))
      }
      .mkString("{", ",", "}")
    // Last degrade tier (round 8 proved the first two are not enough:
    // at 69+ queries even the 1-decimal map overflows the window, the
    // tail cut the line's HEAD, and the driver recorded parsed:null —
    // the whole line must PARSE, not just exist): keep only the
    // slowest queries' entries, largest first, until the line fits,
    // and report how many were dropped. The dropped ones are the
    // interchangeable sub-0.x floor cohort; full per-query data
    // always survives in the mirror + detail files.
    def fittedLine(budget: Int): String = {
      val entries = results
        .sortBy { case (_, v, _) => -v.getOrElse(0.0) }
        .map { case (k, v, _) =>
          "\"" + k + "\":" + v.fold("null")(x =>
            String.format(java.util.Locale.ROOT, "%.1f", x))
        }
      val omittedField = s""""queries_omitted":${entries.size},"""
      val fixedLen = contractLine("{}", omittedField).length
      var used = 0
      val kept = entries.takeWhile { e =>
        val ok = used + e.length + 1 <= budget - fixedLen
        if (ok) used += e.length + 1
        ok
      }
      contractLine(kept.mkString("{", ",", "}"),
        s""""queries_omitted":${entries.size - kept.size},""")
    }
    // Budget 1750, not 1900: the scrape window is the LAST 2000 chars
    // of build output and sbt's own "[success] Total time: …" trailer
    // (~76 chars, more under warnings) lands after our line — at 1891
    // chars the measured margin was only ~33 chars.
    val line = {
      val l = contractLine(qsShort)
      if (l.length <= 1750) l
      else {
        val l1 = contractLine(qsCoarse)
        if (l1.length <= 1750) l1 else fittedLine(1750)
      }
    }
    println(line)
    // Mirror file (SPARK_GRAFT_BENCH_OUT): no scrape window, so it
    // carries every field at full precision and the FULL errors array.
    val mirrorLine =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qs,"total_median":${ms(totalMedian)},"first_run_total":${ms(firstRunTotal)},"pass_total_min":${ms(passTotals.head)},"pass_total_max":${ms(passTotals.last)},"errors":$errJson,"errors_count":${errors.size},"error_detail":$errDetailJson,"runs_per_query":$Runs,"estimator":"min_of_runs","concurrent_load":$concurrentLoad,"detail":$detailJson,"sf":"$sfDir"}"""
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      // guarded like the detail write above: an unwritable mirror path
      // must not stack-trace AFTER the contract line and push its head
      // out of the driver's last-2000-chars scrape window (the exact
      // round-7/8 failure mode), nor skip spark.stop()
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p), mirrorLine + "\n")
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"mirror write failed: $p: ${e.getMessage}")
      }
    }
    // A clean finish removes the per-query checkpoint: its presence
    // after the JVM exits is the signal that a pass died mid-run (and
    // holds everything measured up to that point).
    try java.nio.file.Files.deleteIfExists(partialPath)
    catch { case scala.util.control.NonFatal(_) => () }
    spark.stop()
  }
}
