package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

/** Pair-graph disk-cost probe (round-14 evidence tool): measures the
  * ACTUAL bytes the td06/td28 candidate-pair pass moves at a given
  * scale factor, so the 100 TB disk budget for the pair-graph family
  * is a measured constant instead of an extrapolation.
  *
  * What it measures, in phases separated by listener snapshots:
  *   A. materialize the shingle index (its cost is real but charged
  *      separately — a deployment keeps the index beside the corpus);
  *   B. run the full td06 surface (dedupJaccard → noop), which builds
  *      and persists the shared [[graft.queries.TextPipeline
  *      .pairIntersections]] frame — the Σ df² self-join whose shuffle
  *      write is THE disk wall; the phase-B deltas of shuffle
  *      write/read and spill are the measurement;
  *   C. run td28 (containment) and td09 (components), which reuse the
  *      cached pair frame — their deltas show the marginal cost of the
  *      second and third consumers;
  *   D. count the graph's analytic invariants with plain queries:
  *      n_docs, capped-index rows, Σ df·(df−1)/2 (candidate-pair
  *      MULTIPLICITY — the self-join's pre-aggregation output rows)
  *      and distinct candidate pairs.
  *
  * Derived constants printed: `bytes_per_cand` = phase-B shuffle write
  * ÷ pair multiplicity (the linear coefficient of the disk budget) and
  * `shuffle_bytes_per_doc`. Run at two scale factors, the two
  * `bytes_per_cand` values agreeing is the linearity evidence; the
  * per-doc figure then prices any corpus size because the df-cap makes
  * multiplicity linear in docs.
  *
  * Listener caveat: stage-completion events post asynchronously, so
  * each snapshot sleeps a few seconds first. This is a probe, not a
  * bench — absolute wall times here are incidental; byte counters are
  * exact once the bus drains.
  */
object PairGraphProbe {
  private final class Tally extends SparkListener {
    val write = new AtomicLong
    val read = new AtomicLong
    val spillMem = new AtomicLong
    val spillDisk = new AtomicLong
    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
      val m = ev.stageInfo.taskMetrics
      if (m != null) {
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spillMem.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
      }
    }
    def snapshot(): Map[String, Long] = {
      Thread.sleep(4000) // let the listener bus drain (see Scaladoc)
      Map("shuffle_write" -> write.get, "shuffle_read" -> read.get,
        "spill_mem" -> spillMem.get, "spill_disk" -> spillDisk.get)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outPath = args.lift(1)
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tally = new Tally
    spark.sparkContext.addSparkListener(tally)

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      b.map { case (k, v) => k -> (v - a(k)) }

    import graft.queries.TextPipeline
    // A: index (charged separately)
    val t0 = System.nanoTime()
    noop(graft.pipeline.TextPrep.shingleIndex(spark, sfDir))
    val s0 = tally.snapshot()
    // B: the pair graph through the full td06 surface
    val tB = System.nanoTime()
    noop(TextPipeline.dedupJaccard(spark, sfDir))
    val pairSec = (System.nanoTime() - tB) / 1e9
    val s1 = tally.snapshot()
    val pair = delta(s0, s1)
    // cached pair-frame footprint (the MEMORY_AND_DISK persist)
    val storage = spark.sparkContext.getRDDStorageInfo
      .map(i => (i.memSize, i.diskSize))
      .foldLeft((0L, 0L)) { case ((m, d), (m2, d2)) => (m + m2, d + d2) }
    // C: marginal consumers of the cached frame
    noop(TextPipeline.containmentDedup(spark, sfDir))
    val s2 = tally.snapshot()
    noop(TextPipeline.dedupComponents(spark, sfDir))
    val s3 = tally.snapshot()
    // D: analytic invariants at the operators' own df-cap
    val shAll = graft.pipeline.TextPrep.shingleIndex(spark, sfDir)
      .select("doc_id", "shingle")
    val dfs = shAll.groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") <= TextPipeline.MaxShingleDf)
    // coalesce: sum over ZERO rows is SQL null — on a degenerate
    // corpus whose df-capped index is empty, a bare getLong would NPE
    // and crash the probe instead of reporting zeros.
    val stats = dfs.agg(
      count(lit(1)).as("n_shingles"),
      coalesce(sum(col("df")), lit(0L)).as("index_rows"),
      coalesce(sum(expr("df * (df - 1) div 2")), lit(0L))
        .as("cand_multiplicity")).first()
    val nDocs = graft.sources.Tables.table(spark, sfDir, "documents").count()
    val nPairs = TextPipeline
      .pairIntersections(spark, sfDir, TextPipeline.MaxShingleDf).count()

    val candMult = stats.getLong(2)
    def j(m: Map[String, Long]): String =
      m.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val line =
      s"""{"sf_dir":"$sfDir","n_docs":$nDocs,""" +
        s""""index_rows":${stats.getLong(1)},"n_shingles":${stats.getLong(0)},""" +
        s""""cand_multiplicity":$candMult,"n_cand_pairs":$nPairs,""" +
        s""""index_phase":${j(s0)},"pair_phase":${j(pair)},""" +
        s""""containment_delta":${j(delta(s1, s2))},""" +
        s""""components_delta":${j(delta(s2, s3))},""" +
        s""""pair_cache_mem":${storage._1},"pair_cache_disk":${storage._2},""" +
        s""""pair_phase_sec":${"%.1f".format(pairSec)},""" +
        s""""bytes_per_cand":${"%.2f".format(
          pair("shuffle_write").toDouble / math.max(1L, candMult))},""" +
        s""""shuffle_bytes_per_doc":${"%.1f".format(
          pair("shuffle_write").toDouble / math.max(1L, nDocs))}}"""
    println(line)
    outPath.foreach(p => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(p), line + "\n"))
    graft.SessionCache.invalidate(spark)
    spark.stop()
  }
}
