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
  * deployment must build its own session without them, passing
  * [[graft.functions.Functions]] to `withExtensions` itself.
  */
object LocalSpark {

  /** Liveness settings that make a single-JVM session immune to
    * heartbeat-expiry self-termination (interval must stay well below
    * the timeout — Spark asserts it), plus a codegen fallback aligned
    * with the JVM's JIT refusal threshold and a code cache that holds
    * a served session's classes.
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
    * or the master, so a cluster session can keep it.
    *
    * The code cache cap is deployment-independent too. Spark keeps the
    * classes Janino compiled in one JVM-wide cache keyed by generated
    * source, 100 entries by default. A served request generates the
    * same source as the last one only when its plan has no literal that
    * changed and no fused limit: Spark 4.1 names each limit's counter
    * `_limit_counter_<n>` from a JVM-wide sequence
    * (`BaseLimitExec.newLimitCountTerm`), so a `GlobalLimitExec` or
    * `LocalLimitExec` inside a whole-stage codegen stage makes new
    * source every time. The DQ routes and previews keep limits out of
    * such stages ([[graft.sql.QueryRunner.jsonRows]],
    * [[graft.dq.DqEngine.runChecks]]), and DQ samples of at most
    * [[graft.http.HttpFacade.InterpretedMaxRows]] rows run without
    * query code generation ([[graft.http.HttpFacade.interpreted]]).
    * What is left to reuse must stay cached. In serve's run of
    * perfbench (seed 7, 4 clients, 8 s, 4-core host) the timed loop
    * compiles 17 classes at a cap of 100 and 12 at 150 and at 200. The
    * cap stays at 200, the smallest that evicts nothing when every DQ
    * sample generates code, as one above 2 000 rows does: the loop then
    * compiles 104 classes at 100, 71 at 150 and 57 at 200. The cache is
    * sized by the first thread that generates code, from that thread's
    * session settings, which is why
    * [[graft.http.HttpFacade]] makes its session active on its
    * handler threads.
    *
    * It also installs graft's native SQL functions
    * ([[graft.functions.Functions]]) as a session extension. This
    * builder step is the one every session passes through: the
    * factory ([[GraftSession]]), perfbench's sessions and its data
    * preparation. Sessions derived from it know the functions too:
    * `newSession()` passes the extensions on and a streaming query's
    * cloned session copies the function registry. So a `Column` built
    * with `call_function("h32", ...)` resolves on any of them, with no
    * registration step before the query. The auto-limit
    * ([[graft.sql.AutoLimitRule]]) is not injected here: it stays
    * per-statement, for the reasons in its Scaladoc. */
  def hardened(b: SparkSession.Builder): SparkSession.Builder =
    b.withExtensions(graft.functions.Functions)
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.codegen.cache.maxEntries", "200")
      .config("spark.network.timeout", "3600s")
      .config("spark.executor.heartbeatInterval", "60s")
}
