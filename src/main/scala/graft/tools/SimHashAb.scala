package graft.tools

import org.apache.spark.sql.functions._

import graft.pipeline.TextPrep
import graft.queries.TextPipeline

/** td08 regime A/B + scheme-equivalence at scale: times the block-pair
  * JOIN form vs the Manku sorted-run SCAN form on one data dir and
  * proves their pair sets identical (count + order-free checksum over
  * (doc_a, doc_b, hamming)). This is the measurement behind
  * [[graft.queries.TextPipeline.MankuMinDocs]] and the sf1/sf10/sf100
  * equivalence evidence in BASELINE.md.
  *
  * Usage: runMain graft.tools.SimHashAb <dir> [join|scan|both] [runs]
  */
object SimHashAb {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mode = if (args.length > 1) args(1) else "both"
    // validate, don't default: a typo'd mode ("Scan") silently ran
    // BOTH variants — including the multi-minute sf100 join the
    // caller was trying to skip
    require(Set("join", "scan", "both").contains(mode),
      s"mode must be join|scan|both, got '$mode'")
    val runs = if (args.length > 2) args(2).toInt else 1
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // the SHARED product-path construction (TextPipeline.simhashSigOf):
    // a local re-build here could silently drift from the operator the
    // equivalence evidence claims to describe
    val sig = TextPipeline.simhashSigOf(spark, dir)
    val n = sig.count()
    println(s"docs=$n dir=$dir")

    // Order-free fingerprint of a pair frame: count + sum of a 64-bit
    // row hash — collision-safe enough for an A/B gate, exact on count.
    def gate(df: org.apache.spark.sql.DataFrame): (Long, String) = {
      val r = df
        .agg(count(lit(1)), sum(xxhash64(col("doc_a"), col("doc_b"),
          col("hamming")).cast("decimal(38,0)")))
        .collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toString)
    }
    def time[A](label: String)(f: => A): A = {
      // single-run quick mode gets one untimed warm-up: without it the
      // FIRST-timed variant absorbs the process's one-time JIT/codegen/
      // shuffle init (an ordering bias in the very ratio this tool
      // exists to measure). With runs > 1 the min-of-runs already
      // hides cold start, so the extra pass would only double the
      // wall-clock of multi-minute sf100 measurements
      if (runs == 1) f
      var best = Long.MaxValue; var out: Option[A] = None
      for (_ <- 1 to runs) {
        val t0 = System.nanoTime()
        val v = f
        val dt = System.nanoTime() - t0
        if (dt < best) best = dt
        if (out.isEmpty) out = Some(v)
      }
      println(f"$label%-6s ${best / 1e9}%.2f s (min of $runs" +
        (if (runs == 1) ", warmed)" else ")"))
      out.get
    }

    val join =
      if (mode != "scan")
        Some(time("join")(gate(
          TextPipeline.dedupSimHashBanded(sig, blockPairs = true))))
      else None
    val scan =
      if (mode != "join")
        Some(time("scan")(gate(TextPipeline.dedupSimHashManku(sig))))
      else None
    for (j <- join; s <- scan) {
      println(s"join pairs=${j._1} sum=${j._2}")
      println(s"scan pairs=${s._1} sum=${s._2}")
      println(if (j == s) "EQUIVALENT" else "MISMATCH")
      if (j != s) sys.exit(1)
    }
    spark.stop()
  }
}
