package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Input-size-aware session tuning: pick the execution knobs whose
  * right value DEPENDS on how much data a session is about to read.
  *
  * Adaptive query execution re-plans after every shuffle stage: it
  * materializes the stage, collects map-output statistics, and re-runs
  * the planner before launching the next stage. That feedback loop is
  * what makes 100 TB runs robust — runtime skew splitting, partition
  * coalescing to ~64 MB targets, join-strategy demotion — and each
  * decision amortizes over seconds-to-minutes of stage work. On a
  * small input the same loop is pure fixed cost: every shuffle already
  * fits in ONE partition, no adaptive decision can change the plan,
  * and the per-stage materialize+replan barrier (measured: ~17% of
  * total wall over the 10 heaviest sf0.1 queries) is paid for nothing.
  *
  * So the engine chooses the way a native engine's planner does —
  * by looking at the input: below [[AdaptiveThresholdBytes]] of
  * on-disk source bytes the session runs a static plan (AQE off,
  * shuffle parallelism = cores); at or above it, AQE stays on and
  * sizes shuffle partitions by bytes. The threshold sits where an
  * adaptive decision first has something to decide: ~1 GiB of source
  * parquet is the smallest input whose shuffles can exceed a single
  * healthy (~64 MB) partition by enough for coalescing or skew
  * handling to matter. A 100 TB deployment is five orders of magnitude
  * past the threshold — this rule can only ever disable AQE on inputs
  * where its decisions are provably no-ops.
  */
object InputTuning {

  /** Inputs below this many on-disk bytes run with a static plan. */
  val AdaptiveThresholdBytes: Long = 1L << 30

  /** Total on-disk bytes of regular files under `dir`, recursively
    * (hive-partitioned table dirs count their leaves). Missing dirs
    * are 0 bytes: the caller gets the small-input plan, and the scan
    * itself will report the real error. */
  def inputBytes(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_: Path))
        .mapToLong(Files.size(_: Path)).sum()
      finally s.close()
    }
  }

  def smallInput(dir: String): Boolean =
    inputBytes(dir) < AdaptiveThresholdBytes

  /** Apply the input-sized knobs to a session builder. Builder-time
    * (not `spark.conf.set`) because the shuffle-IO settings are core
    * SparkConf, fixed at context start.
    *
    * Small inputs additionally skip shuffle/broadcast compression —
    * lz4 framing of kilobyte blocks costs more than the bytes it
    * saves, while at scale compression is what keeps shuffle I/O off
    * the disk/network bottleneck — and zero the locality wait, which
    * only exists to trade latency for locality across a real cluster.
    */
  def configure(b: SparkSession.Builder, dir: String,
      cpus: Int): SparkSession.Builder = {
    // walk the tree ONCE: a second walk doubles startup I/O on exactly
    // the many-file layouts that hurt, and two reads racing a
    // concurrent ingest could straddle the threshold and emit an
    // inconsistent knob set
    val bytes = inputBytes(dir)
    settings(bytes < AdaptiveThresholdBytes, cpus, bytes).foldLeft(b) {
      case (bb, (k, v)) => bb.config(k, v)
    }
  }

  /** Static shuffle parallelism for the small-input regime. Below the
    * AQE threshold every post-shuffle partition holds kilobytes, so
    * partition count is purely a parallelism-vs-task-overhead
    * tradeoff — there is no data-size reason to prefer any count.
    * Measured over the full 69-query surface at sf0.1 on local[32]:
    * cores → 21.1 s, cores/2 → 17.4 s (−18%, no query outside noise),
    * cores/4 → 17.3 s total but CPU-bound reduce stages collapse
    * (SimHash block-pair matching 0.72 → 2.31 s at 8 slots). cores/2
    * keeps every reduce stage within 2× of full-machine parallelism
    * while halving per-stage task-launch overhead; the floor guards
    * small `cpus`. Above the threshold AQE sizes partitions by bytes
    * and this value is irrelevant. */
  def staticShufflePartitions(cpus: Int): Int = math.max(8, cpus / 2)

  /** AQE's post-shuffle partition size target. 64 MB (Spark's
    * default) is the right IO-healthy size when parallelism is
    * plentiful — a 100 TB shuffle at 64 MB yields millions of
    * partitions. But when the whole input is barely past the adaptive
    * threshold on one node, a 64 MB target coalesces a CPU-bound
    * shuffle BELOW the core count and serializes it: measured at sf10
    * (1.6 GB input, local[32]) the sessionize window sort coalesced
    * to ~5 partitions and ran 12.9 s; capping the advisory size at
    * `inputBytes / (4 × cores)` (~12 MB there) kept all cores busy
    * and ran the same query in 2.6 s — e01/e03/e05 sped up 2.5–3.5×
    * the same way. The `max(1 MB)` floor keeps tiny inputs from
    * degenerate 1-row partitions; the 64 MB cap means a genuinely
    * large deployment sees exactly Spark's default behavior. */
  def advisoryPartitionBytes(inputBytes: Long, cpus: Int): Long =
    math.min(64L << 20, math.max(1L << 20, inputBytes / (4L * cpus)))

  /** AQE's shuffle START partition count for the large regime. AQE's
    * partition coalescing only ever MERGES post-shuffle partitions
    * down toward the advisory size; it never splits an oversized
    * partition unless the skew handler fires, and the skew handler
    * only targets imbalance — a shuffle whose partitions are all
    * uniformly huge is left alone. So when shuffles start at the
    * session's parallelism floor (= cores), a large input packs
    * `rows / cores` rows of join/agg state into every task no matter
    * how big the input grows: measured at sf100 (600 M lineitem rows,
    * 32 starting partitions), the multiway-join build state hit ~19 M
    * rows per task and spilled — 62.5 s solo, 23×/decade, while the
    * plan itself (pushed filters, broadcast dims) was already right.
    * The fix is the same measured-input philosophy as
    * [[advisoryPartitionBytes]]: start shuffles at `inputBytes /
    * 64 MB` fine-grained partitions and let AQE coalesce DOWN to the
    * advisory target, instead of starting at a fixed count it can
    * never raise. Floored at `cpus` (below one healthy partition per
    * core the start point is the parallelism floor again) and capped
    * at 16384 — past that, map-status bookkeeping (M×R entries per
    * shuffle) costs more on one driver than finer starts can save;
    * a real 100 TB cluster deployment raises the cap with its
    * executor count, and AQE still coalesces whatever excess the
    * start point carries. */
  def initialShufflePartitions(inputBytes: Long, cpus: Int): Int =
    math.max(cpus.toLong,
      math.min(inputBytes / (64L << 20), 16384L)).toInt

  /** The knob values for each regime, as data (unit-tested directly —
    * asserting them through a live session would mutate the suite's
    * shared SparkContext). */
  def settings(small: Boolean, cpus: Int,
      inputBytes: Long = 0L): Seq[(String, String)] =
    if (small) Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> staticShufflePartitions(cpus).toString,
      "spark.shuffle.compress" -> "false",
      "spark.shuffle.spill.compress" -> "false",
      "spark.broadcast.compress" -> "false",
      "spark.locality.wait" -> "0")
    else Seq(
      "spark.sql.adaptive.enabled" -> "true",
      // Runtime Bloom-filter join pruning (guide §3.2): drop
      // definitely-non-matching rows from a join's big side BEFORE
      // its exchange, using a bloom built over the other side's
      // selectively-filtered keys. Spark's machinery is size-gated
      // and on by default, but its default gates are tuned for
      // multi-TB-per-node clusters: the creation side must estimate
      // under 10 MB and the application-side scan over 10 GB, so it
      // never fires between those — measured at sf10, q05 shuffles
      // all 60 M lineitem rows (1.37 GiB) into a sort-merge join
      // whose date-filtered orders side keeps ~15%. Widening the
      // gates to 256 MB each lets mid-size creation sides prune big
      // scans. The filter's size stays capped: a creation side past
      // maxNumItems (4 M) keys still gets a filter, built at the
      // cap with at most maxNumBits (64 Mbit = 8 MB) and a higher
      // false-positive rate, so a 100 TB corpus can never be asked
      // to build a gigabyte bloom. Both caps are Spark's defaults,
      // set here so the bound does not rest on them. numBits sized
      // for 4 M keys (8 bits/key ≈ 3% fpp — false positives only
      // cost shuffle bytes, never correctness).
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" ->
        (256L << 20).toString,
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" ->
        (256L << 20).toString,
      "spark.sql.optimizer.runtime.bloomFilter.expectedNumItems" -> "4000000",
      "spark.sql.optimizer.runtime.bloomFilter.numBits" -> "33554432",
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> "4000000",
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> (64L << 20).toString,
      // Size shuffle partitions by bytes, not the parallelism floor:
      // healthy partitions at scale instead of `cpus` fixed-count
      // ones — but never a coarser target than keeps every core busy
      // on this input (see advisoryPartitionBytes).
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        advisoryPartitionBytes(inputBytes, cpus).toString,
      // Start every shuffle fine-grained and let AQE merge down —
      // coalescing can never SPLIT a uniformly-oversized partition,
      // so a fixed start count turns into per-task state that grows
      // with the input (see initialShufflePartitions).
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        initialShufflePartitions(inputBytes, cpus).toString)
}
