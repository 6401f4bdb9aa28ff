package graft.queries

import graft.SparkSpec
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}

/** Pins the round-16/17 codegen-JIT finding: no declared-query stage
  * may compile to a whole-stage method past HotSpot's 8 000-bytecode
  * JIT refusal. With `hugeMethodLimit` aligned to 8 000
  * (LocalSpark.hardened), such a stage logs "Found too long
  * generated codes…" at INFO and falls back to per-expression
  * dispatch — tolerable, but the round-16 inventory showed the two
  * offenders (v03/v17's 64-plane signature at 17 800 bytecodes, td08's
  * SimHash aggregate at 9 140) were worth fusing into kernels
  * (`nd_band_keys`, packed lanes + `simhash_pack`). This spec keeps
  * them fused: it captures the fallback log over the historically
  * offending queries and asserts silence. Method bytecode size is a
  * function of the expression tree, not the data, so sf0.001 proves
  * the property at any scale.
  */
class CodegenJitSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private final class Capture extends AbstractAppender(
      "jit-capture", null, null, true, Property.EMPTY_ARRAY) {
    val messages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def append(e: LogEvent): Unit =
      messages.add(e.getMessage.getFormattedMessage)
  }

  test("historically JIT-refused stages stay under the 8000-byte limit") {
    assert(spark.conf.get("spark.sql.codegen.hugeMethodLimit") === "8000")
    val loggerName = "org.apache.spark.sql.execution.WholeStageCodegenExec"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    Configurator.setLevel(loggerName, Level.INFO)
    val capture = new Capture
    capture.start()
    val lc = ctx.getConfiguration.getLoggerConfig(loggerName)
    assert(lc.getName === loggerName,
      "Configurator.setLevel should have materialized the logger config")
    lc.addAppender(capture, Level.INFO, null)
    ctx.updateLoggers()
    def tooLong() = capture.messages.toArray.map(_.toString)
      .filter(_.contains("Found too long generated codes"))
    try {
      // positive control — the capture itself must work: the RETIRED
      // 64-sum signature tree compiled to 9 140 bytecodes and must
      // trip the fallback log (if it ever stops tripping, the pin
      // below is vacuous and this spec must be rethought)
      import org.apache.spark.sql.functions.col
      TextPipeline.simhashSigVotes(
        graft.pipeline.TextPrep.shingleIndex(spark, dir)
          .withColumn("h2", graft.pipeline.TextPrep.h32b(col("shingle"))))
        .collect()
      assert(tooLong().nonEmpty,
        "retired 64-sum tree no longer trips the fallback log — " +
          "capture may be broken (vacuous pin)")
      capture.messages.clear()
      // the two round-16 offenders' full declared plans, end-to-end
      TextPipeline.queries("td08_dedup_simhash")(spark, dir).collect()
      VectorPipeline.queries("v17_index_health")(spark, dir).collect()
      VectorPipeline.queries("v03_embedding_neardup")(spark, dir).collect()
      // the sorted-run scan on a bare signature frame — method size is
      // data-independent, so tiny data proves the property for the
      // sf100 plans (round-17 finding: the Manku banding stage was a
      // fallback the sf0.1 inventory never saw, costing 3× warm at
      // sf100)
      import org.apache.spark.sql.functions.col
      val sigSmall = TextPipeline.simhashSig(
        graft.pipeline.TextPrep.shingleIndex(spark, dir)
          .withColumn("h2", graft.pipeline.TextPrep.h32b(col("shingle"))))
      TextPipeline.simHashPairsOf(sigSmall).collect()
      val offenders = tooLong()
      assert(offenders.isEmpty,
        s"whole-stage methods past the JIT limit:\n${offenders.mkString("\n")}")
    } finally {
      lc.removeAppender("jit-capture")
      capture.stop()
      Configurator.setLevel(loggerName, Level.WARN)
      ctx.updateLoggers()
    }
  }
}
