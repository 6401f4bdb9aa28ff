package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of every session-scoped cached frame (shingle index,
  * pair graph, candidate intersections, operator intermediates, vector
  * signatures, streaming corpus indexes, media hash frames): a derived
  * frame is cached once per (session, key) and dropped when the
  * session ends or its corpus is re-ingested, by the single
  * [[invalidate]] — which also drops the session's
  * [[graft.sources.Tables]] relation handles, so a new cache cannot be
  * left out of invalidation.
  *
  * Why an owner at all: a bare per-invocation `.cache()` has NO owner
  * (ContextCleaner reclaims RDDs, not Dataset cache entries), so each
  * re-run would pin one more cached copy until session stop, and a
  * re-ingested corpus would keep serving the OLD data (Spark's
  * CacheManager substitutes by canonicalized plan).
  *
  * Three key forms share the one map; their keys never compare equal
  * across forms:
  *  - [[apply]]: the frame's canonicalized plan — same source + same
  *    query shape hits the same entry;
  *  - [[keyed]]: (canonicalized input plan, derivation tag), for
  *    frames whose own plan embeds a per-call closure;
  *  - [[named]]: a caller-chosen key, whose `build` runs only on a
  *    miss.
  *
  * Every entry is stored with `Dataset.cache()`, i.e. at
  * MEMORY_AND_DISK (Spark's default cache level): blocks past the
  * storage memory spill to local disk instead of being evicted and
  * recomputed.
  *
  * Spark's CacheManager holds ONE entry per plan for every session of
  * the context (a parquet relation's plan does not name its session),
  * so two sessions caching the same frame share that entry. A dropped
  * slot therefore unpersists its frame only when no other live slot
  * holds a frame with the same result; otherwise ending one session
  * would uncache the other's frame. */
object SessionCache {

  // A slot builds its frame at most once, under its own lock, so a
  // build may itself fill other slots (the pair graph builds the
  // intersections, which build the shingle index) and two threads
  // missing on one key run one build. A dropped slot refuses further
  // builds, so a build racing [[invalidate]] cannot orphan a cached
  // frame outside the map.
  private final class Slot {
    @volatile private var frame: DataFrame = _
    @volatile private var dropped = false

    def get(build: => DataFrame): DataFrame = synchronized {
      if (dropped) null
      else {
        if (frame == null) frame = build.cache()
        frame
      }
    }

    /** The built frame of a slot still in use, read without the lock
      * so a long build in progress never blocks another slot's drop. */
    def live: Option[DataFrame] = if (dropped) None else Option(frame)

    /** Refuse further builds; the frame built so far, if any. */
    def close(): Option[DataFrame] = synchronized {
      dropped = true
      Option(frame)
    }
  }

  private val slots =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, AnyRef), Slot]()

  @scala.annotation.tailrec
  private def cached(key: (SparkSession, AnyRef))(build: => DataFrame): DataFrame = {
    val df = slots.computeIfAbsent(key, _ => new Slot).get(build)
    if (df != null) df else cached(key)(build) // dropped mid-call: use a fresh slot
  }

  /** Close a slot already removed from the map, and unpersist its
    * frame unless another live slot holds a frame with the same result
    * (and so the same CacheManager entry). */
  private def drop(slot: Slot): Unit = slot.close().foreach { df =>
    val plan = df.queryExecution.analyzed
    var shared = false
    slots.values().forEach(other =>
      if (!shared) shared = other.live.exists(_.queryExecution.analyzed.sameResult(plan)))
    if (!shared) df.unpersist()
  }

  /** The cached twin of `df` (materialized lazily by the first
    * action, shared by every later call with the same plan). */
  def apply(df: DataFrame): DataFrame =
    cached((df.sparkSession, df.queryExecution.analyzed.canonicalized))(df)

  /** The cached frame stored under `key` for session `s`; `build` runs
    * only on a miss. The key must name the frame uniquely (e.g.
    * `("shingle_index", dir)`). */
  def named(s: SparkSession, key: AnyRef)(build: => DataFrame): DataFrame =
    cached((s, key))(build)

  /** The cached twin of `build`, keyed on `(key's plan, tag)` rather
    * than on `build`'s own plan — for frames whose plan embeds a
    * per-call closure (e.g. a `mapPartitions` decode stage): closure
    * equality is by reference, so two invocations produce UNEQUAL
    * canonicalized plans and the plain form would never hit — each
    * call re-materializing and pinning one more cached copy until
    * [[invalidate]]. Key on the stable input-corpus plan plus a tag
    * naming the derivation instead.
    *
    * CONTRACT: the tag must name the derivation bijectively — one tag,
    * one build recipe per input plan. Because the hit path returns the
    * first frame cached under `(key plan, tag)`, a call site reusing
    * an existing tag for a DIFFERENT derivation would silently read
    * the wrong cached frame. Partially enforced here: `build`'s plan
    * is constructed on every call (cheap — no action runs) and its
    * schema compared to the cached entry's; a schema mismatch throws
    * instead of serving the wrong frame. Same-schema
    * different-derivation reuse remains the caller's contract to keep
    * (r18 advice). */
  def keyed(key: DataFrame, tag: String)(build: => DataFrame): DataFrame = {
    val built = build
    val hit = cached(
      (key.sparkSession, (key.queryExecution.analyzed.canonicalized, tag)))(built)
    if (hit.schema != built.schema)
      throw new IllegalStateException(
        s"SessionCache tag '$tag' reused for a different derivation: " +
          s"cached schema ${hit.schema.simpleString} vs requested " +
          built.schema.simpleString)
    hit
  }

  /** Unpersist and forget the single entry holding `df`'s plan — for
    * an intermediate whose last consumer has materialized (e.g. the
    * td32 pair relation once the per-doc score frame is built): left
    * pinned, tens of GB of dead columnar cache would contribute to
    * the sf100 disk ceiling (r18 verdict). A later call may re-insert
    * the plan lazily; unmaterialized entries hold no storage. No-op
    * when the plan was never cached. */
  def release(df: DataFrame): Unit = {
    val slot = slots.remove(
      (df.sparkSession, df.queryExecution.analyzed.canonicalized))
    if (slot != null) drop(slot)
  }

  /** Live entry count for `s` — cache-hit observability for specs. */
  def size(s: SparkSession): Int = {
    var n = 0
    slots.forEach((k, _) => if (k._1 eq s) n += 1)
    n
  }

  /** Unpersist and forget every cached frame of `s`, and its relation
    * handles (session stop / corpus re-ingest). Other sessions'
    * entries are untouched. */
  def invalidate(s: SparkSession): Unit = {
    val it = slots.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq s) {
        it.remove()
        drop(e.getValue)
      }
    }
    graft.sources.Tables.invalidate(s)
  }
}
