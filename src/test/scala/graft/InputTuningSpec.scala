package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Input-sized session knobs: byte accounting is recursive and
  * missing-dir-safe; the two regimes carry the expected settings. */
class InputTuningSpec extends AnyFunSuite {

  test("inputBytes sums files recursively, 0 for missing dirs") {
    val root = Files.createTempDirectory("graft_tune")
    Files.write(root.resolve("a.parquet"), Array.fill[Byte](100)(1))
    val sub = Files.createDirectories(root.resolve("source=web"))
    Files.write(sub.resolve("part-0.parquet"), Array.fill[Byte](50)(2))
    assert(InputTuning.inputBytes(root.toString) === 150L)
    assert(InputTuning.inputBytes(root.resolve("nope").toString) === 0L)
    assert(InputTuning.smallInput(root.toString))
  }

  test("real testdata is below the adaptive threshold; a 100TB input is not") {
    assert(InputTuning.smallInput("/root/testdata/sf0.1"))
    assert(InputTuning.AdaptiveThresholdBytes === (1L << 30))
  }

  test("small regime: static plan, no shuffle compression, no locality wait") {
    val s = InputTuning.settings(small = true, cpus = 32).toMap
    assert(s("spark.sql.adaptive.enabled") === "false")
    assert(s("spark.shuffle.compress") === "false")
    assert(s("spark.locality.wait") === "0")
    // Static parallelism: cores/2 with a floor of 8 (measured — see
    // staticShufflePartitions scaladoc).
    assert(s("spark.sql.shuffle.partitions") === "16")
    assert(InputTuning.staticShufflePartitions(4) === 8)
    assert(InputTuning.staticShufflePartitions(64) === 32)
  }

  test("large regime: AQE on, partitions sized by bytes") {
    val l = InputTuning.settings(small = false, cpus = 32,
      inputBytes = 1680L << 20).toMap
    assert(l("spark.sql.adaptive.enabled") === "true")
    assert(l("spark.sql.adaptive.coalescePartitions.parallelismFirst") === "false")
    // advisory target = input/(4*cores), clamped to [1 MB, 64 MB]:
    // 1.68 GB / 128 ≈ 13 MB here — small enough that AQE cannot
    // coalesce a CPU-bound shuffle below the core count
    assert(l("spark.sql.adaptive.advisoryPartitionSizeInBytes") ===
      ((1680L << 20) / 128).toString)
    // a genuinely large input sees Spark's default 64 MB target…
    assert(InputTuning.advisoryPartitionBytes(1L << 40, 32) === (64L << 20))
    // …and a just-past-threshold input keeps the 1 MB floor
    assert(InputTuning.advisoryPartitionBytes(1L << 30, 1024) === (1L << 20))
    // and it must NOT carry any of the small-regime degradations
    assert(!l.contains("spark.shuffle.compress"))
    // runtime bloom-filter join pruning: gates widened to 256 MB both
    // sides (Spark's defaults — 10 MB creation / 10 GB application —
    // never fire between single-node toys and multi-TB clusters);
    // an over-cap creation side still builds a filter, capped at
    // maxNumItems keys and maxNumBits bits, so no input scale can be
    // asked to build an unbounded bloom
    assert(l("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      === (256L << 20).toString)
    assert(l(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      === (256L << 20).toString)
    assert(l("spark.sql.optimizer.runtime.bloomFilter.expectedNumItems")
      === "4000000")
    assert(l("spark.sql.optimizer.runtime.bloomFilter.maxNumItems") === "4000000")
    assert(l("spark.sql.optimizer.runtime.bloomFilter.maxNumBits") === "67108864")
    // the small regime must not pay bloom planning on kilobyte joins
    val s = InputTuning.settings(small = true, cpus = 32).toMap
    assert(!s.contains(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"))
  }

  test("large regime: shuffles START at inputBytes/64MB, not the core count") {
    // AQE coalescing merges down but never splits a uniformly-huge
    // partition, so the start count must scale with the input: at
    // sf100 (~16 GB) a 32-partition start packed ~19 M join-state
    // rows per task and spilled (q05, 62.5 s solo). 16 GB / 64 MB
    // = 256 starting partitions; AQE coalesces down to the advisory
    // target from there.
    val l = InputTuning.settings(small = false, cpus = 32,
      inputBytes = 16L << 30).toMap
    assert(l("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      === "256")
    // floor: a just-past-threshold input starts at the parallelism
    // floor (cpus), never below
    assert(InputTuning.initialShufflePartitions(1L << 30, 32) === 32)
    // cap: a 100 TB input starts at 16384, not 1.6 M — map-status
    // bookkeeping is M×R per shuffle
    assert(InputTuning.initialShufflePartitions(100L << 40, 32) === 16384)
  }
}
