package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main, tool and the test suite build
  * their session here, so the settings below cannot drift between the
  * sites that measure the engine and the sites that check it.
  *
  * Both functions return a builder, so a caller can still add its own
  * settings before `getOrCreate()`; a later `config` of the same key
  * wins. The one session extension, graft's native SQL functions,
  * comes with [[LocalSpark.hardened]], so sessions that other code
  * builds through that step (perfbench's) get it too. Auto-limit is
  * not an extension: it is applied per-statement by
  * [[graft.sql.QueryRunner]]. */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS` if set, else every core the
    * JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A [[LocalSpark.hardened]] `local[cpus]` session: one shuffle
    * partition per core, UTC session time zone, UI off. */
  def builder(cpus: Int = GraftSession.cpus): SparkSession.Builder =
    LocalSpark.hardened(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** [[builder]] plus the knobs whose right value depends on the bytes
    * under `dir` ([[InputTuning.configure]]). The per-core partition
    * default is set first: the small-input regime overrides it with
    * the measured static value, and in the large regime AQE starts
    * from the input-sized `initialPartitionNum`, so there it is only
    * the non-AQE fallback. */
  def sized(dir: String, cpus: Int = GraftSession.cpus): SparkSession.Builder =
    InputTuning.configure(builder(cpus), dir, cpus)
}
