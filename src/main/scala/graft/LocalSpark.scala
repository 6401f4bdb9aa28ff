package graft

import org.apache.spark.sql.SparkSession

/** Session hardening for local (single-JVM) Spark.
  *
  * In `local[n]` mode the driver and the one executor share a JVM, so
  * executor-liveness machinery can only ever produce FALSE positives:
  * under heavy load (parallel test suites, multi-GB sort spills) a
  * long GC/CPU stall lets the driver's HeartbeatReceiver expire the
  * in-process executor after `spark.network.timeout` (default 120 s);
  * local mode never re-registers it, every subsequent heartbeat gets
  * "Told to re-register" (a send failure), and after
  * `spark.executor.heartbeat.maxFailures` (60) of those the executor
  * calls `System.exit(56)` (HEARTBEAT_FAILURE) — killing the whole
  * JVM out from under whatever else it was running. Observed killing
  * the forked test JVM mid-suite twice, ~600 s after one early stall.
  *
  * Raising the expiry to an hour and slowing the heartbeat makes the
  * false positive unreachable. graft only builds local sessions
  * ([[GraftSession]]); on a real cluster the same liveness settings
  * would mask genuine executor loss for an hour, so a cluster
  * deployment must build its own session without them.
  */
object LocalSpark {

  /** Liveness settings that make a single-JVM session immune to
    * heartbeat-expiry self-termination (interval must stay well below
    * the timeout — Spark asserts it), plus a codegen fallback aligned
    * with the JVM's JIT refusal threshold.
    *
    * HotSpot never JIT-compiles a method above 8 000 bytecodes
    * (-XX:HugeMethodLimit, `DontCompileHugeMethods` default on), so a
    * generated consume() between Spark's 65 536 default and 8 000
    * stays "codegen'd" but runs INTERPRETED — the worst of both.
    * Measured on the 64-plane LSH signature projection (v03/v17's
    * shared build): 2 M-vector cold build 455.8 s at the default vs
    * ~2.6 s sf10-equivalent once the stage falls back to
    * per-expression codegen (each small, JIT-able); warm timings
    * unchanged across the full surface (8 000 is Spark's own
    * documented `CodeGenerator.DEFAULT_JVM_HUGE_METHOD_LIMIT` for
    * exactly this pairing; threshold adjudication in BASELINE.md).
    * Unlike the liveness settings, this one is deployment-independent:
    * method bytecode size depends on the EXPRESSION TREE, not the data
    * or the master, so a cluster session can keep it. */
  def hardened(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.network.timeout", "3600s")
      .config("spark.executor.heartbeatInterval", "60s")
}
