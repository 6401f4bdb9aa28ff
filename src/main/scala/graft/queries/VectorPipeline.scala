package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SessionCache
import graft.sources.Tables

/** Similarity search over the `embeddings` table (`embedding` is a
  * 64-dim float vector): brute-force cosine top-k as the exactness
  * baseline, a random-hyperplane LSH-bucketed variant as the scale
  * path, and cosine near-duplicate pair detection.
  *
  * Float determinism across Spark/DuckDB: every dot product is an
  * ORDERED left fold — Spark `aggregate(zip_with(...), 0.0D, +)` ≡
  * DuckDB `list_reduce(list_prepend(0.0, list_transform(...)), +)` —
  * over element-wise double products (float→double widening is exact).
  * Same operands, same operation order ⇒ bit-identical IEEE doubles;
  * sqrt and division are correctly-rounded IEEE on both engines. The
  * LSH hyperplanes are fixed integer weight vectors (generated from
  * one frozen formula on both sides), so bucket assignment is exact.
  *
  * Scale notes: fold-based dot products run inside whole-stage codegen
  * on the row's own arrays — no position-explode, no 64× row blowup,
  * no extra shuffle. Brute-force top-k broadcasts the (small) query
  * set and makes one pass over the corpus; at 100 TB the LSH variant
  * replaces the full pass with a bucket-equijoin (shuffle keyed on
  * bucket id), which is the standard distribute-and-prune ANN layout.
  * The declared near-dup pair search is LSH-banded (candidates must
  * collide on one of [[NdBands]] hyperplane-sign bands) so its plan is
  * a bucket equijoin, never a nested-loop cross join; the brute-force
  * all-pairs variant is retained ONLY as a test oracle for recall
  * cross-checks at tiny scale (see PipelineSpec).
  */
object VectorPipeline extends graft.Registry {

  private val TopK = 3
  private[graft] val NumQueries = 10 // vec_id < 10 are the query vectors
  private val NumPlanes = 8
  private val Dim = 64
  private val NumSeeds = 8 // IVF coarse centroids (first 8 vectors)
  private val NProbe = 2 // IVF lists probed per query
  // Near-dup declaration: cos ≥ 0.8 — a TRUE near-duplicate bar. The
  // earlier cos ≥ 0.4 declaration was a weak-similarity search in
  // near-dup clothing: at s = 0.4 a random pair agrees with a
  // hyperplane w.p. ~0.63 per bit, so NO band layout can combine high
  // recall with real pruning (recall ≥ 0.95 there needs ~46 four-bit
  // bands ⇒ ~36% of ALL pairs become candidates — O(n²)). At 0.8 the
  // regime flips: per-plane agreement for a qualifying pair is
  // p = 1 - acos(s)/π ≥ 0.795, an 8-plane band collides w.p. p⁸ ≥
  // 0.16, and 8 bands give recall 1-(1-p⁸)⁸ ≥ 0.75 at the 0.8
  // boundary and ≥ 0.99 for genuine near-dups (cos ≥ 0.95) — while a
  // random pair collides w.p. only 8·2⁻⁸ ≈ 3% (measured < 5% on
  // testdata; asserted by PipelineSpec's candidate-fraction
  // floor). Weak-similarity workloads belong on the IVF route
  // ([[annIvf]]), not on a near-dup pair scan.
  private[queries] val NearDupCos = 0.8
  // 64 hyperplanes in 8 bands of 8. Independence is why [[ndPlane]]
  // hashes: the affine [[plane]] formula has period 11 in p, so 64 of
  // those would collapse to 11 distinct planes with heavily-correlated
  // bands (measured recall 0.55 instead of 0.80 in the 32-plane
  // predecessor).
  private val NdPlanes = 64
  private val NdBands = 8
  private val NdRows = NdPlanes / NdBands

  /** Fixed pseudo-random integer hyperplanes w(p,i) ∈ [-5,5] (the
    * v02 bucket signature; p < 8 stays under the formula's period). */
  private def plane(p: Int): IndexedSeq[Int] =
    (0 until Dim).map(i => ((p * 7 + i * 13) % 11) - 5)

  /** Murmur3-finalizer integer mix (canonical home:
    * [[graft.functions.PlaneFamily]], shared with the codegen'd
    * [[graft.functions.LshBandKeys]] kernel). Frozen — it
    * parameterizes v03 and its oracle. */
  private def mix(x0: Int): Int = graft.functions.PlaneFamily.mix(x0)

  /** Near-dup hyperplanes: [[NdPlanes]] genuinely distinct
    * pseudo-random integer vectors, w(p,i) ∈ [-5,5] — drawn from the
    * shared [[graft.functions.PlaneFamily]] so the SQL-literal oracle
    * builders below and the Spark-side kernel provably agree. */
  private def ndPlane(p: Int): IndexedSeq[Int] =
    graft.functions.PlaneFamily.plane(p, Dim)

  /** Ordered-fold dot product via the codegen'd native expression
    * ([[graft.functions.FloatVecDot]]) — same IEEE fold as the DuckDB
    * oracle's list_reduce, ~100× cheaper than the HOF formulation. */
  private[queries] def dotSql(a: String, b: String): String =
    s"vec_dot($a, $b)"

  /** Same fold in DuckDB (list_prepend(0.0) mirrors Spark's zero). */
  private def dotDuck(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (acc, v) -> acc + v)"

  /** Weighted fold against a constant integer plane (Spark): the
    * plane is ONE array Literal (typedlit), not 64 inlined literal
    * nodes — an expr-string array literal made the analyzed plan tree
    * ~512 leaves larger and cost seconds of fixed planning/codegen
    * time per query. Small integer weights are exact as floats, so
    * vec_dot's float→double widening reproduces the integer product.
    */
  private def projColOf(w: IndexedSeq[Int]): Column =
    call_function("vec_dot", col("embedding"), typedlit(w.map(_.toFloat)))

  private def projCol(p: Int): Column = projColOf(plane(p))

  private def bucketCol: Column =
    (0 until NumPlanes)
      .map(p => when(projCol(p) > 0, 1 << p).otherwise(0))
      .reduce(_ + _)

  private def projDuckOf(w: IndexedSeq[Int]): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(embedding, [${w.mkString(", ")}]), p -> CAST(p[1] AS DOUBLE) * p[2])), (acc, v) -> acc + v)"

  private def projDuck(p: Int): String = projDuckOf(plane(p))

  private def bucketDuck: String =
    (0 until NumPlanes)
      .map(p => s"(CASE WHEN ${projDuck(p)} > 0 THEN ${1 << p} ELSE 0 END)")
      .mkString(" + ")

  /** embeddings + precomputed L2 norm (one codegen'd pass). */
  private[queries] def withNorm(s: SparkSession, dir: String): DataFrame = {
    Tables.table(s, dir, "embeddings")
      .select(
        col("vec_id"), col("embedding"),
        expr(s"sqrt(${dotSql("embedding", "embedding")})").as("nrm"))
  }

  /** The held-out eval set (query vectors) + norms — shared with the
    * streaming decontamination gate ([[graft.streaming.VectorStreams]]). */
  private[graft] def evalSet(s: SparkSession, dir: String): DataFrame =
    withNorm(s, dir).where(col("vec_id") < NumQueries)

  private val normDuckCte: String =
    s"""e AS (
       |  SELECT vec_id, embedding,
       |         sqrt(${dotDuck("embedding", "embedding")}) AS nrm
       |  FROM embeddings)""".stripMargin

  /** Brute-force exact cosine top-k: broadcast the query set, one scan
    * of the corpus, per-query window top-k. */
  def annBrute(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    val q = e.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), col("neighbor_id"))
    e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        (expr(dotSql("qe", "embedding")) / (col("qn") * col("nrm"))).as("cos"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= TopK)
      .select("query_id", "neighbor_id", "rnk", "cos")
      .orderBy("query_id", "rnk")
  }

  /** LSH-bucketed cosine top-k: same queries, but candidates are only
    * vectors whose 8-bit hyperplane signature matches — an equijoin on
    * bucket instead of a full scan per query. Recall is approximate by
    * design; ranking within candidates is exact. */
  /** The stored LSH index: corpus + norm + 8-plane sign bucket.
    * Shared by the batch ANN query and the streaming similarity
    * search ([[graft.streaming.VectorStreams]]). */
  private[graft] def bucketedCorpus(s: SparkSession, dir: String): DataFrame =
    withNorm(s, dir).withColumn("bucket", bucketCol)

  /** Norm + bucket expressions over an `embedding` column, for query
    * frames that are not the stored corpus (e.g. a live query
    * stream). */
  private[graft] def normAndBucket: (Column, Column) =
    (expr(s"sqrt(${dotSql("embedding", "embedding")})"), bucketCol)

  def annLsh(s: SparkSession, dir: String): DataFrame = {
    // Materialize the bucketed index once (at scale this is the
    // stored LSH index build); both the query and corpus sides read
    // it, so the 8 projection folds are evaluated a single time.
    val e = SessionCache(bucketedCorpus(s, dir))
    val q = e.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("bucket").as("qbucket"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), col("neighbor_id"))
    e.join(broadcast(q),
        col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        (expr(dotSql("qe", "embedding")) / (col("qn") * col("nrm"))).as("cos"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= TopK)
      .select("query_id", "neighbor_id", "rnk", "cos")
      .orderBy("query_id", "rnk")
  }

  /** IVF-style ANN: a one-pass deterministic coarse quantizer — the
    * first [[NumSeeds]] vectors act as centroids, every vector joins
    * the inverted list of its nearest centroid (exact cosine, id
    * tiebreak) — then each query probes its [[NProbe]] closest lists
    * and ranks exactly within them. This is the IVF layout (assign
    * once, search few lists) without k-means iterations, which keeps
    * it bit-deterministic for the oracle; at scale the assignment pass
    * is a broadcast join + argmax and the probe is a seed-keyed
    * equijoin, both shuffle-friendly. */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val e = SessionCache(withNorm(s, dir))
    val seeds = e.where(col("vec_id") < NumSeeds)
      .select(col("vec_id").as("seed_id"), col("embedding").as("se"),
        col("nrm").as("sn"))
    // Corpus-side assignment is a ROW-LOCAL argmax (v14's layout): the
    // k seeds collapse to one broadcast collect_list row and
    // array_min over (−cos, seed_id) picks the same winner as the
    // previous row_number()=1 window for finite scores (negation is
    // order-reversing on finite doubles incl. ±0.0, and the seed_id
    // tiebreak is identical) — deleting the N×k crossJoin expansion,
    // its vec_id exchange and the window sort from the corpus path
    // (guide §2.4; plan diff in plans/r19/v04_*.txt).
    // Zero norms are the one unguarded case (r19 advice): cosine
    // against a ZERO-NORM vector divides 0 by 0, which under the
    // engine's default ANSI mode ABORTS the query (and with ANSI off
    // yields NaN — the maximum of the double total order on both
    // sides of a negation, so the old desc-window form picked a
    // zero-norm seed first while array_min picks it last). Zero-norm
    // SEEDS carry no direction (cosine is undefined), so they are
    // excluded from the quantizer outright; a zero-norm CORPUS vector
    // is direction-less too, so it scores 0 against every surviving
    // seed — all candidates tie and the min-seed_id tiebreak decides,
    // with no division ever evaluated on a zero divisor. Pinned on a
    // planted zero-vector corpus in PipelineSpec; no testdata
    // embedding has zero norm, so declared results are unchanged
    // (oracle 91/91).
    // The probe side below keeps the row/window form: it is filtered
    // to the bounded query set before the window, so only ≤ queries×k
    // rows ever reach it.
    // Empty quantizer (no surviving seeds) is guarded on the 1-ROW
    // side: size(cents) > 0 empties the broadcast relation so the
    // crossJoin emits zero rows — the pre-r19 crossJoin(seeds)
    // behavior. (A row-side `dc IS NOT NULL` filter instead gets
    // pushed into the BNLJ as a join condition, which re-evaluates
    // the whole argmin per row AND knocks the join out of whole-stage
    // codegen — measured +35% on v07 at sf10.)
    val cents1 = seeds
      .where(col("sn") > 0d)
      .select(struct(col("se"), col("sn"), col("seed_id")).as("c"))
      .agg(collect_list("c").as("cents"))
      .where(size(col("cents")) > 0)
    val assigned = e.crossJoin(broadcast(cents1))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        expr("array_min(transform(cents, c -> named_struct(" +
          s"'nc', CASE WHEN nrm > 0D THEN " +
          s"-(${dotSql("embedding", "c.se")} / (nrm * c.sn)) " +
          "ELSE 0D END, " +
          "'seed_id', c.seed_id)))").as("dc"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("dc.seed_id").as("seed_id"))
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(desc("scos"), col("seed_id"))
    val probes = e.where(col("vec_id") < NumQueries)
      .crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("seed_id"),
        (expr(dotSql("embedding", "se")) / (col("nrm") * col("sn"))).as("scos"))
      .withColumn("prn", row_number().over(wAssign))
      .where(col("prn") <= NProbe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("seed_id"))
    val wRank = Window.partitionBy("query_id")
      .orderBy(desc("cos"), col("neighbor_id"))
    assigned.join(broadcast(probes),
        Seq("seed_id")).where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (expr(dotSql("qe", "embedding")) / (col("qn") * col("nrm"))).as("cos"))
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .where(col("rnk") <= TopK)
      .select("query_id", "neighbor_id", "rnk", "cos")
      .orderBy("query_id", "rnk")
  }

  /** Sign-band key of near-dup band `j` as an expression TREE —
    * retired from the production path (see [[ndSignatures]]: the
    * 64-fold tree codegens past the JIT's huge-method limit) but kept
    * as the independent formulation the kernel's bit-parity test
    * compares against. */
  private[queries] def ndBandKey(j: Int): Column =
    (0 until NdRows)
      .map(k => when(projColOf(ndPlane(j * NdRows + k)) > 0, 1 << k).otherwise(0))
      .reduce(_ + _)

  /** Same band key in DuckDB SQL. */
  private def ndBandKeyDuck(j: Int): String =
    (0 until NdRows)
      .map(k =>
        s"(CASE WHEN ${projDuckOf(ndPlane(j * NdRows + k))} > 0 THEN ${1 << k} ELSE 0 END)")
      .mkString(" + ")

  /** Signature frame of a norm'd corpus: one row per vector carrying
    * ALL [[NdBands]] band keys (computed once, cached) — the layout
    * that makes cross-band pair dedup a row-local predicate below.
    *
    * Cached once per (session, canonical input plan) in
    * [[graft.SessionCache]], because ndCandidates / nearDupLshOn /
    * indexHealth all start from this frame: a per-invocation
    * `.cache()` with no unpersist would accumulate storage memory in
    * a long-lived session, one orphaned copy per call. */
  private[queries] def ndSignatures(e: DataFrame): DataFrame = {
    // ALL band keys from ONE codegen'd kernel call per row
    // (graft.functions.LshBandKeys; bit-parity with the retired
    // ndBandKey tree pinned in PipelineSpec): the 64-fold expression
    // tree compiled to a ~17 800-bytecode consume() that HotSpot
    // refuses to JIT (r16 finding — 455.8 s interpreted cold build at
    // 2 M vectors). The kernel is one small JIT-able triple loop, and
    // the plane matrix is one shared float[][] reference instead of
    // 64 array literals in the plan.
    //
    // expand to bk columns BEFORE the cache so the cached layout stays
    // 8 plain int columns (the warm-path consumers' join/melt shapes
    // read those directly; caching the packed array instead measured
    // ~8% slower warm from the per-read getItem expansion). The two
    // stacked projections do NOT collapse into 8 kernel calls:
    // CollapseProject only inlines cheap or singly-referenced
    // producers, and `bks` is neither — pinned by the plan test.
    val packed = e.select(col("vec_id"), col("embedding"),
      col("nrm"), expr("nd_band_keys(embedding)").as("bks"))
    SessionCache(packed.select(col("vec_id") +: col("embedding") +: col("nrm") +:
      (0 until NdBands).map(j => col("bks").getItem(j).as(s"bk$j")): _*))
  }

  /** DISTINCT banded candidate pairs with both sides' payloads, each
    * pair emitted EXACTLY once: a pair colliding in bands S surfaces
    * only in band min(S), enforced by requiring `bk_i(a) ≠ bk_i(b)`
    * for every i < j inside band j's join — a row-local predicate on
    * the signature columns both sides already carry.
    *
    * Why not `distinct()`: the candidate multiset is the quadratic
    * bucket-occupancy term banding is sized around, and a distinct()
    * has to SHUFFLE all of it. Measured at sf10 (200k vectors,
    * 8 × 256-bucket bands ⇒ ~6×10⁸ in-bucket pairs): the distinct
    * form's first v17 run took 553 s — the pair explosion exchanged
    * twice (distinct + degree count) and spilled; with first-shared-
    * band dedup the explosion exists only INSIDE the band joins,
    * flows straight into map-side partial aggregation, and nothing
    * pair-sized ever exchanges. Result sets are identical. */
  private def ndDistinctPairs(sig: DataFrame): DataFrame =
    (0 until NdBands).map { j =>
      val cond = (0 until j)
        .map(i => col(s"a.bk$i") =!= col(s"b.bk$i"))
        .foldLeft(col(s"a.bk$j") === col(s"b.bk$j") &&
          col("a.vec_id") < col("b.vec_id"))(_ && _)
      sig.as("a").join(sig.as("b"), cond)
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          col("a.embedding").as("ea"), col("a.nrm").as("na"),
          col("b.embedding").as("eb"), col("b.nrm").as("nb"))
    }.reduce(_ unionAll _)

  /** LSH candidate pairs of a norm'd frame — the distinct band-join
    * output BEFORE the exact-cosine filter, exposed so tests can
    * assert the candidate fraction stays far below all-pairs (the
    * whole point of banding). */
  private[queries] def ndCandidates(e: DataFrame): DataFrame =
    ndDistinctPairs(ndSignatures(e)).select("vec_a", "vec_b")

  /** [[nearDupLsh]] over an arbitrary norm'd `(vec_id, embedding,
    * nrm)` frame — the declared query binds it to the stored corpus;
    * tests bind it to planted near-dup corpora. First-shared-band
    * dedup also means the exact-cosine fold runs ONCE per candidate
    * pair, not once per shared band. */
  private[queries] def nearDupLshOn(e: DataFrame): DataFrame =
    ndDistinctPairs(ndSignatures(e))
      .select(col("vec_a"), col("vec_b"),
        (expr(dotSql("ea", "eb")) / (col("na") * col("nb"))).as("cos"))
      .where(col("cos") > NearDupCos)
      .orderBy("vec_a", "vec_b")

  /** Cosine near-duplicate pairs (cos > 0.8) via banded hyperplane
    * LSH: the signature is computed once per vector (cached), each
    * vector emits one row per band keyed by that band's 8 sign bits,
    * and candidates come from a self-equijoin on (band, bkey) — the
    * shuffle distributes on the band key, so the plan survives any
    * corpus size (no BroadcastNestedLoopJoin; pinned by
    * PlanQualitySpec). Exact cosine is computed inside the join and
    * filtered before the cross-band distinct, so only true near-dups
    * reach the final shuffle. The DRIVER testdata corpus contains no
    * true embedding near-dups (max pairwise cos ≈ 0.51 at sf ≤ 0.1),
    * so the declared result is legitimately empty there; recall and
    * pruning are proven on planted corpora in PipelineSpec, and the
    * ScaleGen-generated sf10 corpus produces a real non-empty pair
    * set (70 190 pairs, oracle-verified) — cross-replica signed
    * rotations of structured vectors do correlate above 0.8.
    *
    * SCALE GUARD: with [[NdBands]] bands over a FIXED 256-bucket key
    * domain, the in-bucket candidate count grows as ~8·n²/256 —
    * measured honest-quadratic at sf100 (1 507.8 s at 2 M vectors,
    * 93×/decade, constant ~0.85 µs·core per pair). That curve is the
    * baseline that motivates [[semDedup]], but nothing about the plan
    * saves a caller who points it at a 100 TB corpus — so the
    * declared query refuses loudly (the td19 certify-or-refuse
    * pattern) above `maxVectors` vectors. The default,
    * [[NdMaxVectors]], admits every measured decade (2 M vectors ≈
    * 25 min of bucket work) and refuses the next one (20 M ≈ 1.7
    * days), pointing at the linear-work alternative. The count is one
    * column-pruned scan; its cost is noise against the pair work it
    * gates. */
  def nearDupLsh(s: SparkSession, dir: String,
      maxVectors: Long = NdMaxVectors): DataFrame = {
    val e = withNorm(s, dir)
    val n = e.count()
    require(n <= maxVectors,
      s"v03_embedding_neardup refused: $n vectors exceed the cap of " +
        s"$maxVectors and the fixed-bucket LSH banding is quadratic in corpus " +
        "size (~8n^2/256 candidate pairs) — use v10_semdedup " +
        "(cluster-scoped near-dup, linear pair work) at this scale, or " +
        "raise the cap for a deliberate small-corpus audit")
    nearDupLshOn(e)
  }

  /** Default corpus-size cap for the declared v03 query (see the
    * guard note on [[nearDupLsh]]). */
  private[queries] val NdMaxVectors = 4L * 1000 * 1000

  /** Brute-force near-dup baseline over an arbitrary norm'd frame:
    * exact fold arithmetic, O(n²) BY DESIGN — the exactness yardstick
    * for [[nearDupLshOn]]'s recall in tests at tiny scale; NOT a
    * declared query (the all-pairs `<` join plans as
    * BroadcastNestedLoopJoin, which does not survive scale). */
  private[queries] def nearDupOn(e: DataFrame): DataFrame = {
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(
        col("vec_a"), col("vec_b"),
        (expr(dotSql("ea", "eb")) / (col("na") * col("nb"))).as("cos"))
      .where(col("cos") > NearDupCos)
      .orderBy("vec_a", "vec_b")
  }

  /** Brute-force near-dup pairs of the stored corpus (test-only). */
  def nearDup(s: SparkSession, dir: String): DataFrame =
    nearDupOn(withNorm(s, dir))

  /** Norm'd frame for an ad-hoc `(vec_id, embedding)` corpus (test
    * entry point for planted near-dup data). */
  private[queries] def normed(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"),
      expr(s"sqrt(${dotSql("embedding", "embedding")})").as("nrm"))

  // ------------------------------------------------------- k-means step

  /** Quantization scale for k-means arithmetic: embedding components
    * are mapped to `floor(x · 2²⁰)` BIGINTs, so every distance,
    * centroid sum and drift below is EXACT integer math — the one way
    * to make an iterative float algorithm bit-reproducible across
    * engines, partitionings and retries (a cross-row double sum is
    * order-dependent on any engine). Range audit: |x| ≤ ~1 ⇒ |q| <
    * 2²¹; a squared-diff fold over 64 dims < 2⁴⁸; centroid sums stay
    * double-exact below 2⁵³/2²¹ ≈ 4×10⁹ rows per cluster — beyond
    * that, swap the mean's floor-div to DECIMAL(38,0) arithmetic. */
  private val KmQ: Long = 1L << 20
  /** Per-cluster quota of the diverse sample (v07). */
  private val SampleQuota = 12

  /** Exact squared L2 distance between two quantized BIGINT vectors
    * (Spark side): an ordered integer fold — overflow-free per the
    * [[KmQ]] range audit. */
  private def qdistSql(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), " +
      s"CAST(0 AS BIGINT), (acc, v) -> acc + v)"

  /** Exact integer dot product between two BIGINT vectors (Spark
    * side): an ordered integer fold, like [[qdistSql]]. */
  private def qdotSql(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), " +
      s"CAST(0 AS BIGINT), (acc, v) -> acc + v)"

  /** Same integer dot fold in DuckDB. */
  private def qdotDuck(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(list_zip($a, $b), p -> p[1] * p[2])), " +
      s"(acc, v) -> acc + v)"

  /** Same integer fold in DuckDB. */
  private def qdistDuck(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(list_zip($a, $b), p -> (p[1] - p[2]) * (p[1] - p[2]))), " +
      s"(acc, v) -> acc + v)"

  /** Corpus with quantized integer vectors (one codegen'd pass). */
  private def quantized(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "embeddings")
      .select(col("vec_id"),
        expr(s"transform(embedding, " +
          s"x -> CAST(floor(CAST(x AS DOUBLE) * $KmQ) AS BIGINT))").as("qv"))

  /** One full Lloyd iteration of k-means (k = [[NumSeeds]], seeds =
    * the first k vectors), distributed and bit-exact:
    * assign → recompute centroids → reassign, reported per cluster as
    * (size, centroid drift, size after the move).
    *
    * Plan shape at scale — the canonical distributed k-means layout
    * (exactly MLlib's iteration): the k current centroids live on the
    * DRIVER as bounded state (k·64 BIGINTs — k is a fixed constant,
    * never corpus-sized) and ship to executors inside the plan, so
    * each assignment pass is ONE corpus scan with a row-local
    * `array_min(transform(centroids, …))` argmin — no join, no
    * shuffle, no N×k row expansion anywhere. The centroid update is
    * the only exchange per half-iteration: a posexplode to (cluster,
    * dim) partial-aggregated map-side, collapsing to k·64 rows before
    * the shuffle, which Lloyd's algorithm then folds back into driver
    * state (the same collect MLlib performs every iteration — it is
    * the algorithm's sync point, not a scalability leak). Distances,
    * means (floor division) and the L1 drift all happen in
    * [[KmQ]]-quantized integer space, so Spark and the DuckDB oracle
    * agree bitwise — see the range audit at [[KmQ]]. */
  def kmeansStep(s: SparkSession, dir: String): DataFrame = {
    val e = SessionCache(quantized(s, dir))
    // Bounded driver state: the k seed vectors (k = NumSeeds, a
    // constant — this is the MLlib centroid sync, not a corpus
    // collect).
    val seeds: Array[(Long, Array[Long])] = e
      .where(col("vec_id") < NumSeeds)
      .select(col("vec_id"), col("qv"))
      .collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Long]](1).toArray))
      .sortBy(_._1)
    // Row-local argmin against a centroid literal:
    // min(struct(dist, cluster)) — structs order lexicographically,
    // so array_min IS the argmin with the cluster-id tiebreak.
    def assignTo(cents: Array[(Long, Array[Long])]): DataFrame = {
      val centArr = array(cents.map { case (c, v) =>
        struct(typedlit(v).as("cv"), lit(c).as("cluster"))
      }: _*)
      e.withColumn("cents", centArr)
        .select(col("vec_id"), col("qv"),
          expr("array_min(transform(cents, c -> named_struct(" +
            s"'qd', ${qdistSql("qv", "c.cv")}, 'cluster', c.cluster)))")
            .as("dc"))
        .select(col("vec_id"), col("qv"), col("dc.cluster").as("cluster"))
    }
    // Integer-mean centroids per (cluster, dim), collected back into
    // driver state (k·64 rows). The floor-division form
    // `floor(sum / n)` is written identically on both engines
    // (neither's native integer division is used — Spark `div`
    // truncates toward zero while DuckDB `//` floors, and they
    // disagree on negative sums); the driver replays the same IEEE
    // double floor-division bit-for-bit.
    val sums: Array[(Long, Int, Long, Long)] = assignTo(seeds)
      .select(col("cluster"), posexplode(col("qv")).as(Seq("d", "v")))
      .groupBy("cluster", "d")
      .agg(sum("v").as("sv"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // (cluster, n_assigned, drift_q, new centroid), cluster-ordered.
    // Iterate over the SEEDS, not the assignment groups: a cluster
    // can receive zero first-assignment rows (two identical seed
    // vectors — the higher-id seed loses its own row to the
    // tie-break) and must still report, per this operator's
    // empty-clusters-still-report contract — zero count, zero drift,
    // centroid unchanged. Grouping by assignments alone silently
    // dropped such a cluster from the report on both engines.
    val sumsByCluster = sums.groupBy(_._1)
    val moved: Array[(Long, Long, Long, Array[Long])] =
      seeds.map { case (cluster, sv) =>
        sumsByCluster.get(cluster) match {
          case Some(rows) =>
            val n = rows.head._4
            val cq = rows.sortBy(_._2)
              .map(t => math.floor(t._3.toDouble / t._4).toLong)
            val drift = cq.zip(sv)
              .map { case (x, y) => math.abs(x - y) }.sum
            (cluster, n, drift, cq)
          case None => (cluster, 0L, 0L, sv)
        }
      }
    val reassigned = assignTo(moved.map(t => (t._1, t._4)))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_reassigned"))
    // Left join: a cluster can legitimately end up empty after the
    // centroid move; it must still report its drift with a zero
    // count. The driver-state side is k rows — broadcast by
    // construction.
    import s.implicits._
    val report = moved.toSeq
      .map(t => (t._1, t._2, t._3))
      .toDF("cluster", "n_assigned", "drift_q")
    report.join(broadcast(reassigned), Seq("cluster"), "left")
      .select(col("cluster"), col("n_assigned"), col("drift_q"),
        coalesce(col("n_reassigned"), lit(0L)).as("n_reassigned"))
      .orderBy("cluster")
  }

  /** Cluster-balanced diverse subset selection (the SemDeDup-style
    * curation step): assign every embedding to its nearest coarse
    * centroid (exact cosine, same quantizer as [[annIvf]]), join the
    * document bodies, and take a fixed per-cluster quota in stable
    * content-hash order — sampling evenly ACROSS embedding clusters
    * instead of uniformly over the corpus, which over-represents
    * dense regions. Hash-order selection keeps the picked set
    * reproducible under any partitioning and engine.
    *
    * Plan shape at scale: broadcast-k assignment (see [[kmeansStep]]),
    * one id-equijoin embeddings↔documents (co-partitionable — both
    * sides key on the document id), and a WindowGroupLimit quota that
    * prunes to ≤ quota rows per cluster BEFORE the final shuffle. */
  def diverseSample(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    // Row-local argmax assignment (same rewrite + equivalence argument
    // as [[annIvf]], including the zero-norm seed/corpus guards and
    // the build-side empty-quantizer guard — see the comment there): one
    // broadcast collect_list row of the k seeds, array_min over
    // (−cos, seed_id) — no N×k crossJoin expansion, no vec_id
    // exchange, no window sort on the corpus path.
    val cents1 = e.where(col("vec_id") < NumSeeds && col("nrm") > 0d)
      .select(struct(col("embedding").as("se"), col("nrm").as("sn"),
        col("vec_id").as("seed_id")).as("c"))
      .agg(collect_list("c").as("cents"))
      .where(size(col("cents")) > 0)
    val assigned = e.crossJoin(broadcast(cents1))
      .select(col("vec_id"),
        expr("array_min(transform(cents, c -> named_struct(" +
          s"'nc', CASE WHEN nrm > 0D THEN " +
          s"-(${dotSql("embedding", "c.se")} / (nrm * c.sn)) " +
          "ELSE 0D END, " +
          "'seed_id', c.seed_id)))").as("dc"))
      .select(col("vec_id"), col("dc.seed_id").as("cluster"))
    val d = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val wPick = Window.partitionBy("cluster").orderBy("pick", "doc_id")
    assigned.join(d, assigned("vec_id") === d("doc_id"))
      .select(col("cluster"), col("doc_id"), col("lang"),
        graft.pipeline.TextPrep.h32(col("text")).as("pick"))
      .withColumn("rk", row_number().over(wPick).cast("long"))
      .where(col("rk") <= SampleQuota)
      .select("cluster", "rk", "doc_id", "lang")
      .orderBy("cluster", "rk")
  }

  /** v08: ANN recall evaluation — recall@k of the two approximate
    * indexes ([[annLsh]], [[annIvf]]) against the exact brute-force
    * baseline ([[annBrute]]), per query: how many of the true top-k
    * neighbors each index returned, with the ratio as integer ppm.
    * This is the eval harness every production ANN deployment runs
    * before trusting an index — recall is THE quality axis traded
    * against the index's pruning.
    *
    * Scale: the corpus-sized work is entirely inside the three
    * underlying operators; everything here joins k-row-per-query
    * result sets keyed on (query_id, neighbor_id), so the eval itself
    * is bounded by the query set, not the corpus. The exact side is
    * consumed EXACTLY ONCE: an earlier shape referenced the brute
    * frame three times (per-index semi-join + the n_true base), which
    * inlined three corpus-scanning brute subtrees into one plan — 3×
    * the baseline's cost at scale (caught by the r15 plan pin). Now
    * the two approx lists union with 0/1 source flags, one left join
    * marks each true neighbor, and a two-level bounded aggregation
    * (per-pair flag max, then per-query counts) yields both recalls
    * from a single pass. Integer hit counts
    * and `div` ppm keep the report bit-identical across engines. */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = annBrute(s, dir).select("query_id", "neighbor_id")
    val approx = annLsh(s, dir)
      .select(col("query_id"), col("neighbor_id"),
        lit(1L).as("is_lsh"), lit(0L).as("is_ivf"))
      .unionByName(annIvf(s, dir)
        .select(col("query_id"), col("neighbor_id"),
          lit(0L).as("is_lsh"), lit(1L).as("is_ivf")))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      // per-pair flags: a true neighbor returned by BOTH indexes joins
      // twice; max collapses it to one row per exact pair
      .groupBy("query_id", "neighbor_id")
      .agg(max(coalesce(col("is_lsh"), lit(0L))).as("lsh_hit"),
        max(coalesce(col("is_ivf"), lit(0L))).as("ivf_hit"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_true"),
        sum(col("lsh_hit")).cast("long").as("lsh_hits"),
        sum(col("ivf_hit")).cast("long").as("ivf_hits"))
      .withColumn("lsh_recall_ppm", expr("lsh_hits * 1000000 div n_true"))
      .withColumn("ivf_recall_ppm", expr("ivf_hits * 1000000 div n_true"))
      .orderBy("query_id")
  }

  /** Vote size for the kNN label-purity audit ([[knnLabelPurity]]). */
  private val KnnK = 5L

  /** v18: kNN label-purity audit — for each held-out query vector,
    * its [[KnnK]] exact-cosine nearest neighbors vote on a label;
    * the report shows the query's own label, the neighborhood's
    * majority label (ties → smaller label id), how many of the K
    * votes agree with the query's label (exact ppm), and a 0/1
    * consistency flag. This is the Confident-Learning-style
    * label-noise screen (Northcutt et al. 2021): a labeled example
    * whose semantic neighborhood votes for a different class is a
    * candidate mislabel — the audit a curation pipeline runs before
    * trusting classifier labels as training supervision.
    *
    * Determinism: cosine ranking reuses v01's exact fold arithmetic
    * (identical IEEE doubles on both engines, id tie-break); the
    * OUTPUT is labels, counts and `div` ppm only — no float column.
    * Majority = lexicographic min of (−votes, label), mirrored in
    * the oracle as `ORDER BY cnt DESC, label`.
    *
    * Scale shape: the bounded query set broadcasts against ONE
    * corpus scan (v01's layout — the only BNLJ is vs the broadcast
    * bounded side); WindowGroupLimit prunes per-query top-K before
    * the exchange, and both vote aggregations run over the
    * ≤ queries × K matrix, never the corpus. At billion-vector scale
    * the same audit swaps the brute scan for the v02/v04 bucketed
    * candidates without touching the vote stages. */
  def knnLabelPurity(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"),
        expr(s"sqrt(${dotSql("embedding", "embedding")})").as("nrm"))
    val q = e.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"),
        col("label").as("query_label"),
        col("embedding").as("qe"), col("nrm").as("qn"))
    val wq = Window.partitionBy("query_id")
      .orderBy(desc("cos"), col("neighbor_id"))
    e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("query_label"),
        col("vec_id").as("neighbor_id"), col("label").as("n_label"),
        (expr(dotSql("qe", "embedding")) / (col("qn") * col("nrm")))
          .as("cos"))
      .withColumn("rnk", row_number().over(wq).cast("long"))
      .where(col("rnk") <= KnnK)
      .groupBy("query_id", "query_label", "n_label")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("query_id", "query_label")
      .agg(
        min(struct((-col("cnt")).as("nc"), col("n_label").as("lb")))
          .as("best"),
        sum(when(col("n_label") === col("query_label"), col("cnt"))
          .otherwise(0L)).cast("long").as("n_agree"),
        // Divide by the ACTUAL vote count, not the K constant: on a
        // corpus with fewer than K+1 vectors (or a future K change)
        // fewer than K neighbors exist, and a /K ppm would understate
        // agreement. Equal to K whenever the corpus is large enough.
        sum(col("cnt")).cast("long").as("n_votes"))
      .select(col("query_id"), col("query_label"),
        col("best.lb").as("majority_label"),
        col("n_agree"),
        expr(s"n_agree * 1000000 div n_votes").as("agree_ppm"),
        when(col("best.lb") === col("query_label"), 1L).otherwise(0L)
          .as("is_consistent"))
      .orderBy("query_id")
  }

  /** PQ geometry: [[PqM]] subspaces of [[PqDsub]] dims each; the
    * first [[PqK]] vectors' subvectors form each subspace's codebook
    * (deterministic init, like v04's IVF seeds and v06's k-means
    * seeds — iterating it is v06 run per subspace). */
  private val PqM = 8
  private val PqDsub = Dim / PqM
  private val PqK = 16

  /** v09: product-quantization assignment — the PQ half of IVF-PQ,
    * THE layout for billion-vector ANN (Jégou et al., TPAMI'11;
    * FAISS): each vector splits into [[PqM]] subvectors, each
    * assigned to its nearest codeword in that subspace's
    * [[PqK]]-entry codebook, compressing a vector to M small codes
    * (here 8 × 4 bits) plus a per-cell quantization error the report
    * surfaces per (subspace, codeword).
    *
    * Scale: ONE corpus scan; the subspace explode is row-local
    * (M rows per vector), the codebook — M × K subvectors, grouped to
    * one bounded row per subspace — always broadcasts, the argmin is
    * v06's ROW-LOCAL `array_min(transform(…))` over the K candidates
    * (no join expansion, no per-(vector, subspace) exchange), and the
    * report aggregate is M × K cells with map-side partials. All distance/error arithmetic is [[KmQ]]-quantized
    * integer (overflow audit: per-subspace qdist < 2⁴⁵; summed over
    * ≤ 10⁶ vectors/cell stays < 2⁶³; beyond that swap the error sum
    * to DECIMAL(38,0)), so the report is bit-identical across
    * engines. */
  def pqAssign(s: SparkSession, dir: String): DataFrame = {
    val subs = quantized(s, dir)
      .select(col("vec_id"),
        explode(array((0 until PqM).map(j =>
          struct(lit(j.toLong).as("sub"),
            expr(s"slice(qv, ${j * PqDsub + 1}, $PqDsub)").as("sv"))): _*))
          .as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
    // Codebook grouped to ONE row per subspace (K bounded entries):
    // the broadcast build side is 8 rows instead of M×K, and — the
    // r19 win — the argmin happens ROW-LOCALLY via array_min over the
    // K candidates instead of a join-expansion (N×M×K rows) followed
    // by groupBy(vec_id, sub).agg(min(struct)). min over a STRUCT is
    // not hash-aggregable, so that form ran as SortAggregate: two full
    // sorts of the expanded relation plus an N×M-row exchange, all
    // deleted here (guide §2.4 / §4 — measured solo at sf0.1
    // 1.08 → 0.98 s and the sibling v19 1.51 → 1.11 s; plan diff in
    // plans/r19/v09_pq_assign_*.txt).
    // array_min over named_struct('qd', …, 'codeword', …) is the SAME
    // lexicographic (qd, codeword) minimum with the same tiebreak, so
    // the result is bit-identical (oracle unchanged).
    val cb = subs.where(col("vec_id") < PqK)
      .select(col("sub"), col("vec_id").as("codeword"), col("sv").as("cv"))
    val cbArr = cb.groupBy("sub")
      .agg(collect_list(struct(col("cv"), col("codeword"))).as("cbs"))
    subs.join(broadcast(cbArr), Seq("sub"))
      .select(col("sub"),
        expr("array_min(transform(cbs, c -> named_struct(" +
          s"'qd', ${qdistSql("sv", "c.cv")}, 'codeword', c.codeword)))")
          .as("dc"))
      .select(col("sub"), col("dc.codeword").as("codeword"),
        col("dc.qd").as("qd"))
      .groupBy("sub", "codeword")
      .agg(count(lit(1)).as("n_assigned"), sum("qd").as("total_err_q"))
      .orderBy("sub", "codeword")
  }

  /** v19: IVF-PQ residual assignment — the COMBINED FAISS IndexIVFPQ
    * layout (Jégou et al. TPAMI'11 §IV): the coarse quantizer
    * (v04/v14's first-[[NumSeeds]] centroids) routes each vector to a
    * cell, and product quantization (v09's geometry) encodes the
    * RESIDUAL `qv − centroid` in [[PqM]] subspaces. Residuals
    * concentrate near zero, so the same K codewords spend their
    * precision on a far smaller ball — the reason billion-vector
    * deployments quantize residuals, not raw vectors. The report is
    * v09's census shape per (subspace, codeword) — occupancy + total
    * integer quantization error — so the residual error drop against
    * v09's raw-vector census is directly readable, which IS the
    * layout's selling point.
    *
    * Determinism: coarse argmin is v14's row-local
    * `array_min(transform(centroids, …))` over one broadcast centroid
    * row with cluster-id tie-break; residuals and subspace distances
    * are exact [[KmQ]]-quantized BIGINT folds; codebooks are the
    * first [[PqK]] NON-SEED vectors' residuals (ids [[NumSeeds]] to
    * NumSeeds+PqK — the seeds' own residuals are identically zero, so
    * including them would waste half the codebook on degenerate
    * codewords; deterministic init like v09's, iterating it per cell
    * is v06 run per subspace).
    *
    * Honest caveat, measured: whether residuals BEAT raw-vector PQ is
    * a property of the corpus, and the side-by-side census is exactly
    * the instrument that decides it. Residual variance per dimension
    * is ≈ 2σ²(1−ρ) for best-centroid correlation ρ, so the layout
    * wins when the corpus clusters (ρ high — real text/image
    * embeddings) and loses on near-isotropic data — the synthetic
    * testdata corpus measures ~1.4× WORSE under residuals (8 coarse
    * cells on near-uniform 64-d vectors: ρ ≈ 0.2), which PipelineSpec
    * pins as documentation-by-test rather than pretending the win is
    * unconditional. The production recipe (train the coarse k with
    * v06 until cells are tight) is what makes ρ large.
    *
    * Scale shape: the centroid row is k·64 ints; assignment +
    * residual is ONE row-local codegen'd projection over one corpus
    * scan (no N×k expansion, no join); the subspace explode is
    * row-local (M rows per vector); the M×K residual codebook always
    * broadcasts as one grouped row per subspace (its build re-reads
    * only the codebook-id rows — pushdown makes that second scan 16
    * rows); the PQ argmin is the row-local `array_min(transform(…))`
    * over the K candidates; the report is M×K cells.
    * Overflow audit: residual components < 2²² ⇒ per-subspace qdist
    * < 2⁴⁷, summed per cell safely below 2⁶³ to ~6×10⁴ rows/cell —
    * beyond that swap the error sum to DECIMAL(38,0). */
  def ivfpqAssign(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    val cents = e.where(col("vec_id") < NumSeeds)
      .select(struct(col("qv").as("sq"), col("vec_id").as("cluster")).as("c"))
      .agg(collect_list("c").as("cents"))
    val resid = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("qv"),
        expr("array_min(transform(cents, c -> named_struct(" +
          s"'qd', ${qdistSql("qv", "c.sq")}, 'cluster', c.cluster, " +
          "'sq', c.sq)))").as("dc"))
      .select(col("vec_id"),
        expr("zip_with(qv, dc.sq, (x, y) -> x - y)").as("rv"))
    val subs = resid
      .select(col("vec_id"),
        explode(array((0 until PqM).map(j =>
          struct(lit(j.toLong).as("sub"),
            expr(s"slice(rv, ${j * PqDsub + 1}, $PqDsub)").as("sv"))): _*))
          .as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
    // Same row-local PQ argmin as [[pqAssign]] (see the comment
    // there): one grouped codebook row per subspace broadcasts, and
    // array_min replaces the join-expansion + SortAggregate form —
    // identical (qd, codeword) lexicographic minimum, bit-identical
    // result, two sorts + one N×M exchange deleted from the plan.
    val cb = subs
      .where(col("vec_id") >= NumSeeds && col("vec_id") < NumSeeds + PqK)
      .select(col("sub"), (col("vec_id") - NumSeeds).as("codeword"),
        col("sv").as("cv"))
    val cbArr = cb.groupBy("sub")
      .agg(collect_list(struct(col("cv"), col("codeword"))).as("cbs"))
    subs.join(broadcast(cbArr), Seq("sub"))
      .select(col("sub"),
        expr("array_min(transform(cbs, c -> named_struct(" +
          s"'qd', ${qdistSql("sv", "c.cv")}, 'codeword', c.codeword)))")
          .as("dc"))
      .select(col("sub"), col("dc.codeword").as("codeword"),
        col("dc.qd").as("qd"))
      .groupBy("sub", "codeword")
      .agg(count(lit(1)).as("n_assigned"), sum("qd").as("total_err_q"))
      .orderBy("sub", "codeword")
  }

  /** Embedding-corpus health stats — the DQ pass a vector corpus gets
    * before any index build: corpus size, dimension bounds (a mixed-dim
    * corpus breaks every downstream kernel), zero-norm and non-finite
    * counts, and the norm distribution (min / exact median / max,
    * non-finite rows excluded). Every output is an integer count or an
    * ORDER-FREE aggregate over per-row deterministic norms — no
    * cross-row float summation anywhere, because a cross-row double
    * SUM depends on aggregation order on any engine and would break
    * both the oracle hash and run-to-run reproducibility at scale.
    * One scan, partial aggregation, a 1-row result. */
  def embeddingStats(s: SparkSession, dir: String): DataFrame = {
    Tables.table(s, dir, "embeddings")
      .select(
        // NULL for a null array (DuckDB len(NULL) semantics) so a
        // NULL-embedding row drops out of MIN/MAX on both engines
        // instead of Spark contributing a sentinel; such rows are
        // counted explicitly as n_null below — a health report that
        // silently buckets broken rows nowhere under-reports exactly
        // what it exists to flag
        when(col("embedding").isNotNull, size(col("embedding")))
          .cast("long").as("dim"),
        col("embedding").isNull.cast("int").as("is_null"),
        expr(s"sqrt(${dotSql("embedding", "embedding")})").as("nrm"),
        expr("CAST(exists(embedding, x -> isnan(x) " +
          "OR x = CAST('Infinity' AS FLOAT) OR x = CAST('-Infinity' AS FLOAT)) AS INT)")
          .as("bad"))
      .agg(
        count(lit(1)).as("n_vecs"),
        min("dim").as("dim_min"),
        max("dim").as("dim_max"),
        sum("is_null").cast("long").as("n_null"),
        sum(expr("CAST(nrm = CAST(0 AS DOUBLE) AS INT)")).cast("long").as("n_zero"),
        sum("bad").cast("long").as("n_nonfinite"),
        min(when(col("bad") === 0, col("nrm"))).as("min_norm"),
        max(when(col("bad") === 0, col("nrm"))).as("max_norm"),
        percentile(when(col("bad") === 0, col("nrm")), lit(0.5)).as("p50_norm"))
  }

  /** v10 calibration: target vectors per semantic cell. The cluster
    * count scales as max(8, n / 512), so the within-cell pairwise
    * work stays ~n·512/2 dot products — LINEAR in corpus size — at
    * every scale factor (8 cells at sf0.01, 39 at sf0.1-equivalent
    * 20k, 390 at 200k). The oracle computes the same count in SQL
    * (`GREATEST(8, COUNT(*) // 512)`; both sides floor non-negative
    * integer division), so the plan stays bit-deterministic. */
  private[queries] val SemCellTarget = 512L
  private[queries] val SemMinClusters = 8L

  /** v10: SemDeDup-style semantic dedup audit (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with a deterministic
    * coarse quantizer (the v04 IVF assignment — first k vectors as
    * centroids, exact-cosine argmax), then search for near-duplicate
    * pairs (cos ≥ [[NearDupCos]]) ONLY within each cluster, and
    * report per-cell totals: vectors, qualifying pairs, and vectors a
    * min-id keep-rule would remove. The cluster scoping is the
    * paper's core trick: semantic duplicates land in the same cell,
    * so the quadratic pair search is bounded by the cell size instead
    * of the corpus — with [[SemCellTarget]]-sized cells the total
    * pair work is linear in n (vs. v03's LSH banding, which prunes by
    * random hyperplane collision rather than semantic locality).
    *
    * Scale shape: assignment is ONE corpus scan doing a row-local
    * argmax fold over the broadcast seed array (n·k ordered folds in
    * codegen, but never n·k ROWS — see the shape note in
    * [[semDedupOn]]); the pair search is a self-equijoin on seed_id
    * — shuffle-partitioned by cell, never a nested-loop over the
    * corpus; the report reuses the cell partitioning. At 100 TB the
    * cluster count grows with the corpus (the formula), and the
    * centroid set would come from a real k-means ([[kmeansStep]])
    * with hierarchical assignment once k outgrows a broadcast —
    * same row-local shape per level, different seed source.
    * Determinism: every cosine is the shared ordered fold, ties
    * break on seed_id / vec_id, outputs are pure counts. */
  def semDedup(s: SparkSession, dir: String): DataFrame = {
    // the zero-norm filter is semDedupOn's; applied here too so the
    // cluster-count formula counts exactly the rows the audit sees.
    // Filter ON TOP of the shared norm'd-corpus cache entry (the one
    // v04 already materializes) — caching the filtered twin would
    // store a second corpus-sized copy for a predicate that keeps
    // essentially every row
    val e = SessionCache(withNorm(s, dir)).where(col("nrm") > 0)
    semDedupOn(e, math.max(SemMinClusters, e.count() / SemCellTarget))
  }

  /** [[semDedup]] over an arbitrary norm'd frame with an explicit
    * cluster count — the declared query binds the stored corpus and
    * the scaling formula; tests bind planted corpora. */
  /** The v10 cell-assignment frame `(vec_id, embedding, nrm,
    * seed_id)` over a norm'd, zero-norm-free corpus: a ROW-LOCAL
    * argmax over the seed set carried as one broadcast array row —
    * the v06/v14/v19 codebook shape. The r15 sf100 run proved the
    * previous crossJoin + row_number form disk-infeasible once k
    * grows with the corpus: WindowGroupLimit caps what SURVIVES the
    * window's sort, not what ENTERS it, so n·k rows (7.8×10⁹ at 2 M
    * vectors, k = 3 906) each carrying a 512-byte embedding hit the
    * per-task local sort → >65 GB of spill → ENOSPC, twice, on two
    * differently-loaded disks. Here no n·k row ever exists: each
    * corpus row folds over the seed array in place (same n·k
    * dot-product COUNT, zero materialization). `array_min` over
    * (−scos, seed_id) structs = max cosine with the smallest-seed
    * tie-break, identical to the window's (scos DESC, seed_id ASC);
    * element order in the collected array is irrelevant to the fold,
    * so collect_list's nondeterministic order is safe. Seed-set size
    * bound: one row of k·(8+520) B — ~2 MB at sf100; past a
    * broadcastable k the production recipe is hierarchical
    * assignment (see [[semDedup]]'s Scaladoc), same row-local shape
    * per level. Cached: the fold pass feeds both pair-join sides and
    * the cell census (at scale this is the materialized IVF
    * assignment table); exposed private[queries] so the sf10
    * invariant gate (PipelineSpec) can recompute the removed/kept
    * partition at the SET level against the declared report. */
  private[queries] def semAssign(e: DataFrame, k: Long): DataFrame = {
    val seeds = e.where(col("vec_id") < k)
      .select(col("vec_id").as("seed_id"), col("embedding").as("se"),
        col("nrm").as("sn"))
    val codebook = seeds
      .agg(collect_list(struct(col("seed_id"), col("se"), col("sn")))
        .as("cents"))
    SessionCache(e.crossJoin(broadcast(codebook))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        expr("array_min(transform(cents, c -> named_struct(" +
          s"'ns', -(${dotSql("embedding", "c.se")}) / (nrm * c.sn), " +
          "'seed_id', c.seed_id)))").as("best"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("best.seed_id").as("seed_id")))
  }

  private[queries] def semDedupOn(e0: DataFrame, k: Long): DataFrame = {
    // Zero-norm rows are EXCLUDED, not just assumed absent: a 0-vector
    // makes every cosine 0/0 = NaN, and NaN ranks LAST in the argmax
    // fold below but FIRST in a SQL window's DESC — so an engine pair
    // computing the same audit would silently disagree on any corpus
    // that violated the no-zero-vector invariant (v05 audits it; the
    // oracle carries the same WHERE). A vector with no direction has
    // no cosine similarity to anything — dropping it is the only
    // self-consistent semantics.
    val e = e0.where(col("nrm") > 0)
    val assigned = semAssign(e, k)
    val a = assigned.select(col("seed_id"), col("vec_id").as("a_id"),
      col("embedding").as("ae"), col("nrm").as("an"))
    val b = assigned.select(col("seed_id"), col("vec_id").as("b_id"),
      col("embedding").as("be"), col("nrm").as("bn"))
    val pairs = a.join(b, Seq("seed_id"))
      .where(col("a_id") < col("b_id") &&
        (expr(dotSql("ae", "be")) / (col("an") * col("bn"))) >= NearDupCos)
    val cells = assigned.groupBy("seed_id")
      .agg(count(lit(1)).as("n_vectors"))
    val dups = pairs.groupBy("seed_id").agg(
      count(lit(1)).as("n_dup_pairs"),
      countDistinct("b_id").as("n_removed"))
    cells.join(dups, Seq("seed_id"), "left")
      .select(col("seed_id"), col("n_vectors"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
      .orderBy("seed_id")
  }

  // Semantic-decontamination flag bar. Random 64-dim vectors have
  // pairwise cosine ≈ N(0, 1/√64 = 0.125), so 0.35 ≈ 2.8σ flags the
  // genuinely-similar tail without drowning the report; a production
  // near-duplicate gate would run the same plan at ~0.9. The value
  // only moves counts, never the plan shape.
  private[graft] val DecontamCos = 0.35

  /** Embedding-space decontamination audit (v11): for every held-out
    * eval vector (`vec_id < NumQueries` — the same external query set
    * the ANN operators use), scan the training corpus (all other
    * vectors) and report how many corpus items are semantically too
    * close (cosine ≥ [[DecontamCos]]) plus the worst offender's
    * cosine. This is the embedding-side complement of td12's n-gram
    * decontamination — the published contamination methodology (e.g.
    * Brown et al. 2020 appendix C's overlap checks; SemDeDup's
    * cosine regime) uses both lexical AND semantic filters, and a
    * training-data engine needs the pair.
    *
    * Plan shape at scale: the eval set is broadcast (eval suites are
    * thousands of rows; the corpus is the big side), the corpus makes
    * ONE scan with the codegen'd ordered-fold dot product, and the
    * per-query count/max aggregate is map-side combinable — each task
    * emits ≤ |eval| partial rows, the exchange carries
    * #partitions × |eval| tiny rows, nothing ever sorts or shuffles
    * corpus rows. At 100 TB this is the same broadcast-audit layout
    * as the DQ rules: cost = one pass, perfectly partition-parallel.
    * Cosines are the bit-deterministic ordered fold shared with
    * v01/v10 (see the object Scaladoc), so count and max match the
    * oracle bitwise. */
  def semanticDecontam(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    val q = e.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    e.where(col("vec_id") >= NumQueries)
      .crossJoin(broadcast(q))
      .select(col("query_id"),
        (expr(dotSql("qe", "embedding")) / (col("qn") * col("nrm"))).as("cos"))
      .groupBy("query_id")
      .agg(
        count(when(col("cos") >= DecontamCos, lit(1))).as("n_contaminated"),
        max("cos").as("max_cos"))
      .orderBy("query_id")
  }

  /** v12 output dimensionality (64 → 8). */
  private[graft] val RpDims = 8

  /** v12 projection vectors: [[RpDims]] further members of the
    * [[ndPlane]] hash family, offset past the near-dup planes so the
    * two sets share no index — independent pseudo-random integer
    * vectors from the same frozen [[mix]] formula, mirrored exactly
    * into the oracle. */
  private def rpPlane(p: Int): IndexedSeq[Int] =
    (0 until Dim).map(i => math.floorMod(mix((NdPlanes + p) * Dim + i), 11) - 5)

  /** v12: random-projection dimensionality reduction (the
    * Johnson–Lindenstrauss / Achlioptas database-friendly variant:
    * fixed sparse integer projection vectors instead of Gaussians —
    * Achlioptas 2003, JCSS 66(4)). Materializes the 64-dim corpus at
    * [[RpDims]] dims: the index-build step that makes downstream
    * distance work 8× narrower (coarse ANN, clustering seeds, dup
    * triage) while approximately preserving relative angles — the
    * preservation quality is pinned by PipelineSpec's rank-correlation
    * test, not assumed.
    *
    * Plan shape at scale: the projection is [[RpDims]] ordered-fold
    * dot products per row against constant array literals — ONE scan,
    * fully codegen'd, zero shuffles (the declared query's ORDER BY +
    * LIMIT plans as TakeOrderedAndProject, a bounded heap, not a
    * global sort). At 100 TB this is a map-only pass writing the
    * narrow index alongside the corpus. Determinism: integer plane
    * weights are exact as floats, the folds are the shared ordered
    * IEEE fold (object Scaladoc), so every projected coordinate is
    * bit-identical across engines. */
  def randomProjection(s: SparkSession, dir: String): DataFrame = {
    Tables.table(s, dir, "embeddings")
      .select(col("vec_id") +:
        (0 until RpDims).map(p => projColOf(rpPlane(p)).as(s"p$p")): _*)
      .orderBy("vec_id")
      .limit(128)
  }

  /** v13 probe vector: one further member of the [[mix]] plane
    * family, offset past the near-dup and projection planes. */
  private def piPlane: IndexedSeq[Int] =
    (0 until Dim).map(i =>
      math.floorMod(mix((NdPlanes + RpDims) * Dim + i), 11) - 5)

  /** v13 scaling shift for the per-row projection (overflow audit at
    * [[pcaPowerStep]]). */
  private val PiShift = 12

  /** v13: one power-iteration step toward the embedding corpus's
    * dominant second-moment direction — the spectral probe (PCA
    * without centering; these embeddings are ~zero-mean, and
    * centering is a one-pass upstream subtraction) that decides
    * whitening/anisotropy questions before index builds: a corpus
    * whose mass concentrates in one direction hurts both LSH and IVF
    * recall. One step, exact, mirroring v06's one-Lloyd-step framing:
    * iterating is running the same plan on the returned vector.
    *
    * v' = Σ_rows qv·(qv·w ≫ [[PiShift]]) over the [[KmQ]]-quantized
    * integer vectors with a frozen integer probe w ([[piPlane]]):
    * every per-row projection is an ordered integer fold, the shift
    * is an arithmetic (floor) shift on BOTH engines (verified:
    * DuckDB `>>` and Spark `shiftright` agree on negatives), and the
    * per-dimension accumulation is a pure integer sum — bit-exact
    * across engines and partitionings, where the textbook float form
    * is order-dependent. Overflow audit: |qv| < 2²¹, |qv·w| <
    * 64·5·2²¹ < 2³¹, shifted < 2¹⁹, per-row product < 2⁴⁰, summed
    * over ≤ 2²³ (8M) rows < 2⁶³; a larger corpus raises the shift or
    * swaps the sum to DECIMAL(38,0).
    *
    * Scale shape: ONE corpus scan; the probe rides as a literal; the
    * row-local posexplode emits (dim, v·t) pairs that partial-sum
    * map-side to ≤ partitions × 64 rows before the ONE tiny
    * exchange; the 64-row report sorts trivially. */
  def pcaPowerStep(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    // The fold stays in its own projection BELOW the explode: listed
    // alongside posexplode, Catalyst extracts the generator and
    // leaves the projection ABOVE it — re-running the 64-element
    // fold once per exploded row (measured 64× the work, 1.2 s vs
    // 0.2 s at sf0.1).
    e.withColumn("w", typedlit(piPlane.map(_.toLong)))
      .select(col("qv"),
        expr(s"shiftright(${qdotSql("qv", "w")}, $PiShift)").as("t_s"))
      .select(col("t_s"), posexplode(col("qv")).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(expr("v * t_s")).as("s_q"),
        sum("t_s").as("sum_t_s"))
      .select(col("dim").cast("long").as("dim"), col("n_vecs"),
        col("s_q"), col("sum_t_s"))
      .orderBy("dim")
  }

  /** Fraction (percent) of each cluster pruned as "too prototypical"
    * by [[prototypePrune]]. */
  private[graft] val PrunePct = 20L

  /** v14: prototypicality pruning — rank every vector inside its
    * cluster by distance to the cluster centroid and mark the closest
    * [[PrunePct]]% for removal. This is the SSL-prototypes data-pruning
    * rule (Sorscher et al. 2022, "Beyond neural scaling laws"): in a
    * big corpus the most prototypical examples are the least
    * informative, so pruning the densest core of each cluster beats
    * random subsampling at equal budget. Complementary to v10
    * (SemDeDup removes near-identical PAIRS; this thins the
    * cluster CORE even where no pair is near-identical).
    *
    * Determinism: distances are exact integer squared-L2 in
    * [[KmQ]]-quantized space ([[qdistSql]] range audit), ranks break
    * ties on vec_id, and the per-cluster prune budget is
    * `n·PrunePct div 100` — all BIGINT.
    *
    * Scale shape: the k centroids collapse to ONE broadcast row
    * (bounded `collect_list` over k = [[NumSeeds]] rows — never a
    * driver collect), assignment is a row-local
    * `array_min(transform(...))` argmin over the broadcast array (no
    * N×k join), and the only corpus shuffle is the per-cluster rank
    * window. At production scale k grows with the corpus (k ∝ √N
    * keeps cluster populations bounded), which is exactly what keeps
    * that window's partitions parallel. */
  def prototypePrune(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)
    val cents = e.where(col("vec_id") < NumSeeds)
      .select(struct(col("qv").as("sq"), col("vec_id").as("cluster")).as("c"))
      .agg(collect_list("c").as("cents"))
    val assigned = e.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        expr("array_min(transform(cents, c -> named_struct(" +
          s"'qd', ${qdistSql("qv", "c.sq")}, 'cluster', c.cluster)))")
          .as("dc"))
      .select(col("vec_id"), col("dc.cluster").as("cluster"),
        col("dc.qd").as("qd"))
    val wRank = Window.partitionBy("cluster").orderBy(col("qd"), col("vec_id"))
    val wN = Window.partitionBy("cluster")
    assigned
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .withColumn("n_cluster", count(lit(1)).over(wN))
      .select(col("vec_id"), col("cluster"), col("qd"), col("rnk"),
        when(col("rnk") <= expr(s"n_cluster * $PrunePct div 100"), 1L)
          .otherwise(0L).as("pruned"))
      .orderBy("cluster", "rnk")
  }

  /** Quantization scale of [[labelDispersion]] — coarser than [[KmQ]]
    * on purpose: the centered second moment sums n·64·(2·2¹⁰)² ≤
    * n·2²⁸, exact in BIGINT to n ≈ 3×10¹⁰ rows per label (KmQ's 2²⁰
    * would cap that at ~32k rows). Dispersion RANKING is insensitive
    * to the extra quantization noise; distances are not reported. */
  private val VdQ: Long = 1L << 10

  /** v15: per-label semantic diversity — the exact within-class
    * inertia Σ‖q − μ_label‖² in [[VdQ]]-quantized integer space, plus
    * its per-row mean. The curation dashboard number behind mixture
    * design: a label (or source, or topic bucket) whose dispersion
    * collapses is boilerplate/templated content even when its volume
    * and dedup rates look healthy, and one whose dispersion explodes
    * is a mislabeled grab-bag. (SemDeDup prunes by pairwise cosine;
    * this is the aggregate, O(N) version of the same signal.)
    *
    * Determinism: integer centroids via the same
    * `floor(CAST(sum AS DOUBLE)/n)` floor-division both engines
    * replay bit-identically (v06's form), then an exact integer
    * squared-L2 fold per row. Two corpus passes, both map-side
    * partial-aggregated; the (label × dim) moment table and the
    * centroid-array frame are bounded by the class domain and
    * broadcast back. */
  def labelDispersion(s: SparkSession, dir: String): DataFrame = {
    val e = SessionCache(Tables.table(s, dir, "embeddings")
      .select(col("label"),
        expr("transform(embedding, " +
          s"x -> CAST(floor(CAST(x AS DOUBLE) * $VdQ) AS BIGINT))").as("qv")))
    val mu = e
      .select(col("label"), posexplode(col("qv")).as(Seq("d", "v")))
      .groupBy("label", "d")
      .agg(sum("v").as("sv"), count(lit(1)).as("n"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(named_struct(" +
        "'d', d, 'm', CAST(floor(CAST(sv AS DOUBLE) / n) AS BIGINT)))), " +
        "x -> x.m)").as("muv"))
    e.join(broadcast(mu), Seq("label"))
      .select(col("label"), expr(qdistSql("qv", "muv")).as("dist"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum("dist").as("inertia_q"))
      .select(col("label"), col("n"), col("inertia_q"),
        expr("inertia_q div n").as("avg_inertia_q"))
      .orderBy("label")
  }

  /** v16: modality-agreement audit — the lang × label contingency
    * lift over the documents⋈embeddings id join, in exact integer
    * basis points: `lift = P(lang, label) / (P(lang)·P(label))`,
    * computed as `n·N·10⁴ / (n_lang·n_label)` through DECIMAL(38,0)
    * (Spark) / HUGEINT (DuckDB) intermediates so the arithmetic is
    * exact at ANY corpus size — no BIGINT range caveat. The
    * cross-modal sanity check a multimodal corpus needs before
    * training: embedding clusters that ignore the text's language
    * (lift ≈ 10⁴ everywhere) mean the encoder — or the id join —
    * is broken; a cell far above 10⁴ is a language-dominated
    * cluster.
    *
    * Scale shape: ONE id-keyed equijoin (both sides corpus-sized —
    * sort-merge at scale, AQE broadcasts if a side fits), compacted
    * map-side by the groupBy to the lang × label domain; margins are
    * windows over that bounded matrix and the total is a 1-row
    * broadcast. */
  def modalityLift(s: SparkSession, dir: String): DataFrame = {
    val cont = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .join(Tables.table(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"), col("label")), Seq("doc_id"))
      .groupBy("lang", "label").agg(count(lit(1)).as("n"))
    val tot = cont.agg(sum("n").as("n_total"))
    val wL = Window.partitionBy("lang")
    val wB = Window.partitionBy("label")
    cont
      .withColumn("n_lang", sum("n").over(wL))
      .withColumn("n_label", sum("n").over(wB))
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("label"), col("n"),
        expr("CAST(CAST(n AS DECIMAL(38,0)) * n_total * 10000 div " +
          "(CAST(n_lang AS DECIMAL(38,0)) * n_label) AS BIGINT)")
          .as("lift_bp"))
      .orderBy("lang", "label")
  }

  /** v17: ANN index health from BUCKET OCCUPANCY — the histogram of
    * each vector's candidate-degree UPPER BOUND, Σ_band (occupancy of
    * the vector's bucket − 1). The index-quality audit run before
    * trusting an ANN layout: a fat tail (hub vectors co-occupying
    * crowded buckets) means the hash family is collapsing on the
    * corpus's density and bucket work will skew; a large mass at
    * degree 0 (every band bucket a singleton) means recall starves.
    * Occupancy — not enumerated pairs — is the right unit because the
    * bound is what sizes the index's WORK, and it is computable in
    * LINEAR time: the r15 sf100 run proved the previous exact-degree
    * variant (kept as [[indexHealthExact]], test-only) unbounded —
    * it enumerated v03's full candidate multiset, which grows as
    * ~8·n²/256 pairs (analytically ≥ v03's measured 1 508 s at 2 M
    * vectors) and straggled on hot buckets (4/32 threads). The bound
    * over-counts a pair once per EXTRA shared band, so it is exact
    * whenever no pair shares two bands (true on the driver corpora at
    * sf ≤ 0.01, asserted in PipelineSpec) and never under-reports
    * work — the safe direction for a health audit.
    *
    * Scale shape (the v10 codebook-fold discipline): band keys have a
    * FIXED domain ([[NdBands]] × 256 sign patterns), so the occupancy
    * table is ≤ 2 048 rows no matter the corpus size. One melt pass
    * (n·8 narrow rows) partial-counts into it map-side; the table
    * folds into a single broadcast map row; and each vector computes
    * its bound ROW-LOCALLY from its own 8 keys — no self-join, no
    * pair materialization, nothing quadratic anywhere. Hot buckets
    * cost nothing extra: a bucket's contribution is one map entry,
    * not occupancy² pair rows, so the r15 straggle is gone
    * structurally rather than salted around. */
  def indexHealth(s: SparkSession, dir: String): DataFrame =
    indexHealthOn(withNorm(s, dir))

  /** [[indexHealth]] over an arbitrary norm'd frame (tests bind
    * planted corpora). */
  private[queries] def indexHealthOn(e: DataFrame): DataFrame = {
    val sig = ndSignatures(e)
    // melt to (band, bkey) in ONE pass (posexplode), not an 8-branch
    // union that would rescan the corpus once per band
    val bands = sig.select(posexplode(
      array((0 until NdBands).map(j => col(s"bk$j")): _*)).as(Seq("band", "bkey")))
    val occ = bands.groupBy("band", "bkey").agg(count(lit(1)).as("c"))
    val occMap = occ.agg(map_from_entries(collect_list(struct(
      (col("band") * lit(256) + col("bkey")).as("k"),
      col("c").as("v")))).as("m"))
    val deg = sig.crossJoin(broadcast(occMap))
      .select(col("vec_id"),
        (0 until NdBands)
          .map(j => element_at(col("m"), lit(j * 256) + col(s"bk$j")) - lit(1L))
          .reduce(_ + _).as("degree_ub"))
    deg.groupBy("degree_ub").agg(count(lit(1)).as("n_vecs"))
      .orderBy("degree_ub")
  }

  /** The r1–r15 exact-degree health audit (degree histogram of the
    * enumerated v03 candidate graph, first-shared-band dedup'd) —
    * RETIRED from the declared surface because enumerating the
    * candidate multiset is quadratic by construction (see
    * [[indexHealth]]); kept as the tiny-scale exactness yardstick the
    * occupancy bound is tested against. */
  private[queries] def indexHealthExact(e: DataFrame): DataFrame = {
    val cand = ndCandidates(e)
    val deg = SessionCache(cand.select(col("vec_a").as("vec_id"))
      .unionAll(cand.select(col("vec_b").as("vec_id")))
      .groupBy("vec_id").agg(count(lit(1)).as("degree")))
    val hist = deg.groupBy("degree").agg(count(lit(1)).as("n_vecs"))
    val zero = e.agg(count(lit(1)).as("n_total"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nonzero"))))
      .select(lit(0L).as("degree"),
        (col("n_total") - col("n_nonzero")).as("n_vecs"))
    hist.unionAll(zero).orderBy("degree")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v19_ivfpq_assign" -> ivfpqAssign,
    "v18_knn_label_purity" -> knnLabelPurity,
    "v17_index_health" -> indexHealth,
    "v16_modality_lift" -> modalityLift,
    "v15_label_dispersion" -> labelDispersion,
    "v14_prototype_prune" -> prototypePrune,
    "v13_pca_power_step" -> pcaPowerStep,
    "v12_random_projection" -> randomProjection,
    "v11_semantic_decontam" -> semanticDecontam,
    "v10_semdedup" -> semDedup,
    "v01_ann_cosine_topk" -> annBrute,
    "v02_ann_lsh_topk" -> annLsh,
    "v03_embedding_neardup" -> ((s, dir) => nearDupLsh(s, dir)),
    "v04_ann_ivf_topk" -> annIvf,
    "v05_embedding_stats" -> embeddingStats,
    "v06_kmeans_step" -> kmeansStep,
    "v07_diverse_sample" -> diverseSample,
    "v08_ann_recall" -> annRecall,
    "v09_pq_assign" -> pqAssign
  )

  def oracleSql: Map[String, String] = Map(
    // Occupancy-bound semantics (round 16): degree_ub = Σ_band
    // (bucket occupancy − 1), linear-time — the exact-degree variant
    // is retired from the declared surface (see indexHealth Scaladoc).
    "v17_index_health" -> {
      val bkCols = (0 until NdBands)
        .map(j => s"${ndBandKeyDuck(j)} AS bk$j").mkString(",\n         ")
      val bandSelects = (0 until NdBands)
        .map(j => s"SELECT vec_id, $j AS band, bk$j AS bkey FROM sig")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH sig AS (
         |  SELECT vec_id,
         |         $bkCols
         |  FROM embeddings),
         |bands AS (
         |  $bandSelects),
         |occ AS (
         |  SELECT band, bkey, COUNT(*) AS c FROM bands
         |  GROUP BY band, bkey),
         |deg AS (
         |  SELECT b.vec_id, CAST(SUM(o.c - 1) AS BIGINT) AS degree_ub
         |  FROM bands b JOIN occ o
         |    ON b.band = o.band AND b.bkey = o.bkey
         |  GROUP BY b.vec_id)
         |SELECT degree_ub, CAST(COUNT(*) AS BIGINT) AS n_vecs
         |FROM deg GROUP BY degree_ub ORDER BY degree_ub""".stripMargin
    },
    "v14_prototype_prune" ->
      s"""WITH qe AS (
         |  SELECT vec_id,
         |         list_transform(embedding,
         |           x -> CAST(floor(CAST(x AS DOUBLE) * $KmQ) AS BIGINT)) AS qv
         |  FROM embeddings),
         |seeds AS (SELECT vec_id AS cluster, qv AS sq
         |          FROM qe WHERE vec_id < $NumSeeds),
         |asg AS (
         |  SELECT vec_id, cluster, qd FROM (
         |    SELECT q.vec_id, s.cluster,
         |           ${qdistDuck("q.qv", "s.sq")} AS qd,
         |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${qdistDuck("q.qv", "s.sq")}, s.cluster) AS arn
         |    FROM qe q CROSS JOIN seeds s) WHERE arn = 1),
         |r AS (
         |  SELECT vec_id, cluster, qd,
         |         ROW_NUMBER() OVER (PARTITION BY cluster
         |                            ORDER BY qd, vec_id) AS rnk,
         |         COUNT(*) OVER (PARTITION BY cluster) AS n_cluster
         |  FROM asg)
         |SELECT vec_id, cluster, qd, CAST(rnk AS BIGINT) AS rnk,
         |       CAST(CASE WHEN rnk <= n_cluster * $PrunePct // 100
         |                 THEN 1 ELSE 0 END AS BIGINT) AS pruned
         |FROM r ORDER BY cluster, rnk""".stripMargin,
    "v15_label_dispersion" ->
      s"""WITH qe AS (
         |  SELECT label,
         |         list_transform(embedding,
         |           x -> CAST(floor(CAST(x AS DOUBLE) * $VdQ) AS BIGINT)) AS qv
         |  FROM embeddings),
         |sums AS (
         |  SELECT label, i AS d, CAST(SUM(qv[i + 1]) AS BIGINT) AS sv,
         |         COUNT(*) AS n
         |  FROM qe, range($Dim) r(i)
         |  GROUP BY label, i),
         |mu AS (
         |  SELECT label,
         |         list(CAST(floor(CAST(sv AS DOUBLE) / n) AS BIGINT)
         |              ORDER BY d) AS muv
         |  FROM sums GROUP BY label),
         |j AS (
         |  SELECT qe.label, ${qdistDuck("qe.qv", "mu.muv")} AS dist
         |  FROM qe JOIN mu ON qe.label = mu.label),
         |g AS (
         |  SELECT label, COUNT(*) AS n, CAST(SUM(dist) AS BIGINT) AS inertia_q
         |  FROM j GROUP BY label)
         |SELECT label, n, inertia_q, inertia_q // n AS avg_inertia_q
         |FROM g ORDER BY label""".stripMargin,
    "v16_modality_lift" ->
      s"""WITH j AS (
         |  SELECT d.lang, e.label
         |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
         |c AS (SELECT lang, label, COUNT(*) AS n FROM j GROUP BY 1, 2),
         |t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM c),
         |w AS (
         |  SELECT lang, label, n,
         |         CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS n_lang,
         |         CAST(SUM(n) OVER (PARTITION BY label) AS BIGINT) AS n_label
         |  FROM c)
         |SELECT lang, label, n,
         |       CAST(CAST(n AS HUGEINT) * n_total * 10000
         |            // (CAST(n_lang AS HUGEINT) * n_label) AS BIGINT)
         |         AS lift_bp
         |FROM w CROSS JOIN t ORDER BY lang, label""".stripMargin,
    "v13_pca_power_step" ->
      s"""WITH qe AS (
         |  SELECT vec_id,
         |         list_transform(embedding,
         |           x -> CAST(floor(CAST(x AS DOUBLE) * $KmQ) AS BIGINT)) AS qv
         |  FROM embeddings),
         |t AS (
         |  SELECT qv,
         |         (${qdotDuck("qv", s"[${piPlane.mkString(", ")}]")})
         |           >> $PiShift AS t_s
         |  FROM qe),
         |x AS (SELECT i AS dim, qv[i + 1] AS v, t_s
         |      FROM t, range($Dim) r(i))
         |SELECT dim, COUNT(*) AS n_vecs,
         |       CAST(SUM(v * t_s) AS BIGINT) AS s_q,
         |       CAST(SUM(t_s) AS BIGINT) AS sum_t_s
         |FROM x GROUP BY dim ORDER BY dim""".stripMargin,
    "v12_random_projection" ->
      s"""SELECT vec_id,
         |       ${(0 until RpDims)
               .map(p => s"${projDuckOf(rpPlane(p))} AS p$p")
               .mkString(",\n       ")}
         |FROM embeddings
         |ORDER BY vec_id LIMIT 128""".stripMargin,
    "v11_semantic_decontam" ->
      s"""WITH $normDuckCte,
         |q AS (
         |  SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
         |  FROM e WHERE vec_id < $NumQueries),
         |scored AS (
         |  SELECT q.query_id,
         |         ${dotDuck("q.qe", "c.embedding")} / (q.qn * c.nrm) AS cos
         |  FROM e c CROSS JOIN q
         |  WHERE c.vec_id >= $NumQueries)
         |SELECT query_id,
         |       COUNT(*) FILTER (WHERE cos >= CAST($DecontamCos AS DOUBLE)) AS n_contaminated,
         |       MAX(cos) AS max_cos
         |FROM scored
         |GROUP BY query_id
         |ORDER BY query_id""".stripMargin,
    "v10_semdedup" ->
      s"""WITH $normDuckCte,
         |ez AS (
         |  -- zero-norm rows carry no cosine; excluded on BOTH engines
         |  -- (see the semDedupOn filter note)
         |  SELECT * FROM e WHERE nrm > 0),
         |seeds AS (
         |  SELECT vec_id AS seed_id, embedding AS se, nrm AS sn
         |  FROM ez
         |  WHERE vec_id < (SELECT GREATEST($SemMinClusters,
         |                                  COUNT(*) // $SemCellTarget)
         |                  FROM ez)),
         |scored AS (
         |  SELECT ez.vec_id, ez.embedding, ez.nrm, s.seed_id,
         |         ROW_NUMBER() OVER (PARTITION BY ez.vec_id
         |             ORDER BY ${dotDuck("ez.embedding", "s.se")} / (ez.nrm * s.sn)
         |                      DESC, s.seed_id) AS arn
         |  FROM ez CROSS JOIN seeds s),
         |assigned AS (
         |  SELECT vec_id, embedding, nrm, seed_id FROM scored WHERE arn = 1),
         |pairs AS (
         |  SELECT a.seed_id, b.vec_id AS b_id
         |  FROM assigned a JOIN assigned b
         |    ON a.seed_id = b.seed_id AND a.vec_id < b.vec_id
         |  WHERE ${dotDuck("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
         |        >= CAST($NearDupCos AS DOUBLE)),
         |cells AS (
         |  SELECT seed_id, COUNT(*) AS n_vectors FROM assigned GROUP BY seed_id),
         |dups AS (
         |  SELECT seed_id, COUNT(*) AS n_dup_pairs,
         |         COUNT(DISTINCT b_id) AS n_removed
         |  FROM pairs GROUP BY seed_id)
         |SELECT c.seed_id, c.n_vectors,
         |       COALESCE(d.n_dup_pairs, CAST(0 AS BIGINT)) AS n_dup_pairs,
         |       COALESCE(d.n_removed, CAST(0 AS BIGINT)) AS n_removed
         |FROM cells c LEFT JOIN dups d ON c.seed_id = d.seed_id
         |ORDER BY c.seed_id""".stripMargin,
    "v05_embedding_stats" ->
      s"""WITH e AS (
         |  SELECT CAST(len(embedding) AS BIGINT) AS dim,
         |         CAST(embedding IS NULL AS INT) AS is_null,
         |         sqrt(${dotDuck("embedding", "embedding")}) AS nrm,
         |         CAST(len(list_filter(embedding,
         |               x -> isnan(x) OR isinf(x))) > 0 AS INT) AS bad
         |  FROM embeddings)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |       MIN(dim) AS dim_min, MAX(dim) AS dim_max,
         |       CAST(SUM(is_null) AS BIGINT) AS n_null,
         |       CAST(SUM(CAST(nrm = CAST(0 AS DOUBLE) AS INT)) AS BIGINT) AS n_zero,
         |       CAST(SUM(bad) AS BIGINT) AS n_nonfinite,
         |       MIN(CASE WHEN bad = 0 THEN nrm END) AS min_norm,
         |       MAX(CASE WHEN bad = 0 THEN nrm END) AS max_norm,
         |       quantile_cont(CASE WHEN bad = 0 THEN nrm END, 0.5) AS p50_norm
         |FROM e""".stripMargin,
    // Same exact-cosine ranking as v01 (identical fold arithmetic),
    // majority via ORDER BY cnt DESC, label — the lexicographic-min
    // mirror of the Spark side's min(struct(-cnt, label)).
    "v18_knn_label_purity" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, label,
         |         sqrt(${dotDuck("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |q AS (SELECT vec_id AS query_id, label AS query_label,
         |             embedding AS qe, nrm AS qn
         |      FROM e WHERE vec_id < $NumQueries),
         |scored AS (
         |  SELECT q.query_id, q.query_label, e.vec_id AS neighbor_id,
         |         e.label AS n_label,
         |         ${dotDuck("q.qe", "e.embedding")} / (q.qn * e.nrm) AS cos
         |  FROM q JOIN e ON e.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT query_id, query_label, neighbor_id, n_label,
         |         ROW_NUMBER() OVER (PARTITION BY query_id
         |                            ORDER BY cos DESC, neighbor_id) AS rnk
         |  FROM scored),
         |votes AS (
         |  SELECT query_id, query_label, n_label,
         |         CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM ranked WHERE rnk <= $KnnK
         |  GROUP BY query_id, query_label, n_label),
         |v2 AS (
         |  SELECT query_id, query_label, n_label, cnt,
         |         ROW_NUMBER() OVER (PARTITION BY query_id
         |                            ORDER BY cnt DESC, n_label) AS r,
         |         CAST(SUM(CASE WHEN n_label = query_label THEN cnt
         |                       ELSE 0 END)
         |              OVER (PARTITION BY query_id) AS BIGINT) AS n_agree,
         |         CAST(SUM(cnt) OVER (PARTITION BY query_id)
         |              AS BIGINT) AS n_votes
         |  FROM votes)
         |SELECT query_id, query_label, n_label AS majority_label,
         |       n_agree, n_agree * 1000000 // n_votes AS agree_ppm,
         |       CAST(CASE WHEN n_label = query_label THEN 1 ELSE 0 END
         |            AS BIGINT) AS is_consistent
         |FROM v2 WHERE r = 1 ORDER BY query_id""".stripMargin,
    "v01_ann_cosine_topk" ->
      s"""WITH $normDuckCte,
         |q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
         |      FROM e WHERE vec_id < $NumQueries),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         ${dotDuck("q.qe", "e.embedding")} / (q.qn * e.nrm) AS cos
         |  FROM q JOIN e ON e.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         ROW_NUMBER() OVER (PARTITION BY query_id
         |                            ORDER BY cos DESC, neighbor_id) AS rnk
         |  FROM scored)
         |SELECT query_id, neighbor_id, rnk, cos
         |FROM ranked WHERE rnk <= $TopK
         |ORDER BY query_id, rnk""".stripMargin,
    "v02_ann_lsh_topk" ->
      s"""WITH $normDuckCte,
         |eb AS (SELECT vec_id, embedding, nrm, $bucketDuck AS bucket FROM e),
         |q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn,
         |             bucket AS qbucket
         |      FROM eb WHERE vec_id < $NumQueries),
         |scored AS (
         |  SELECT q.query_id, eb.vec_id AS neighbor_id,
         |         ${dotDuck("q.qe", "eb.embedding")} / (q.qn * eb.nrm) AS cos
         |  FROM q JOIN eb
         |    ON eb.bucket = q.qbucket AND eb.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         ROW_NUMBER() OVER (PARTITION BY query_id
         |                            ORDER BY cos DESC, neighbor_id) AS rnk
         |  FROM scored)
         |SELECT query_id, neighbor_id, rnk, cos
         |FROM ranked WHERE rnk <= $TopK
         |ORDER BY query_id, rnk""".stripMargin,
    "v03_embedding_neardup" -> {
      val bkCols = (0 until NdBands)
        .map(j => s"${ndBandKeyDuck(j)} AS bk$j").mkString(",\n         ")
      val bandSelects = (0 until NdBands)
        .map(j => s"SELECT vec_id, $j AS band, bk$j AS bkey, embedding, nrm FROM sig")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH $normDuckCte,
         |sig AS (
         |  SELECT vec_id, embedding, nrm,
         |         $bkCols
         |  FROM e),
         |bands AS (
         |  $bandSelects)
         |SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       ${dotDuck("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
         |WHERE ${dotDuck("a.embedding", "b.embedding")} / (a.nrm * b.nrm) > $NearDupCos
         |ORDER BY vec_a, vec_b""".stripMargin
    },
    "v04_ann_ivf_topk" ->
      s"""WITH $normDuckCte,
         |seeds AS (SELECT vec_id AS seed_id, embedding AS se, nrm AS sn
         |          FROM e WHERE vec_id < $NumSeeds),
         |to_seed AS (
         |  SELECT e.vec_id, e.embedding, e.nrm, s.seed_id,
         |         ${dotDuck("e.embedding", "s.se")} / (e.nrm * s.sn) AS scos
         |  FROM e CROSS JOIN seeds s),
         |assigned AS (
         |  SELECT vec_id, embedding, nrm, seed_id FROM (
         |    SELECT vec_id, embedding, nrm, seed_id,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id
         |                              ORDER BY scos DESC, seed_id) AS arn
         |    FROM to_seed) WHERE arn = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, seed_id FROM (
         |    SELECT vec_id, embedding, nrm, seed_id,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id
         |                              ORDER BY scos DESC, seed_id) AS prn
         |    FROM to_seed WHERE vec_id < $NumQueries) WHERE prn <= $NProbe),
         |scored AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id,
         |         ${dotDuck("p.qe", "a.embedding")} / (p.qn * a.nrm) AS cos
         |  FROM assigned a JOIN probes p ON a.seed_id = p.seed_id
         |  WHERE a.vec_id <> p.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         ROW_NUMBER() OVER (PARTITION BY query_id
         |                            ORDER BY cos DESC, neighbor_id) AS rnk
         |  FROM scored)
         |SELECT query_id, neighbor_id, rnk, cos
         |FROM ranked WHERE rnk <= $TopK
         |ORDER BY query_id, rnk""".stripMargin,
    "v06_kmeans_step" ->
      s"""WITH qe AS (
         |  SELECT vec_id,
         |         list_transform(embedding,
         |           x -> CAST(floor(CAST(x AS DOUBLE) * $KmQ) AS BIGINT)) AS qv
         |  FROM embeddings),
         |seeds AS (SELECT vec_id AS cluster, qv AS sq
         |          FROM qe WHERE vec_id < $NumSeeds),
         |asg AS (
         |  SELECT vec_id, qv, cluster FROM (
         |    SELECT q.vec_id, q.qv, s.cluster,
         |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${qdistDuck("q.qv", "s.sq")}, s.cluster) AS arn
         |    FROM qe q CROSS JOIN seeds s) WHERE arn = 1),
         |sums AS (
         |  SELECT cluster, i AS d, SUM(qv[i + 1]) AS sv, COUNT(*) AS n
         |  FROM asg, range($Dim) r(i)
         |  GROUP BY cluster, i),
         |cent AS (
         |  SELECT cluster, CAST(MAX(n) AS BIGINT) AS n_assigned,
         |         list(CAST(floor(CAST(sv AS DOUBLE) / n) AS BIGINT)
         |              ORDER BY d) AS cq
         |  FROM sums GROUP BY cluster),
         |moved AS (
         |  SELECT s.cluster,
         |         CAST(COALESCE(c.n_assigned, 0) AS BIGINT) AS n_assigned,
         |         COALESCE(c.cq, s.sq) AS cq,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list_transform(list_zip(COALESCE(c.cq, s.sq), s.sq),
         |             p -> abs(p[1] - p[2]))), (acc, v) -> acc + v) AS drift_q
         |  FROM seeds s LEFT JOIN cent c ON c.cluster = s.cluster),
         |re AS (
         |  SELECT cluster, COUNT(*) AS n_reassigned FROM (
         |    SELECT q.vec_id, c.cluster,
         |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${qdistDuck("q.qv", "c.cq")}, c.cluster) AS rrn
         |    FROM qe q CROSS JOIN moved c) WHERE rrn = 1
         |  GROUP BY cluster)
         |SELECT m.cluster, m.n_assigned, m.drift_q,
         |       CAST(COALESCE(r.n_reassigned, 0) AS BIGINT) AS n_reassigned
         |FROM moved m LEFT JOIN re r ON r.cluster = m.cluster
         |ORDER BY m.cluster""".stripMargin,
    "v19_ivfpq_assign" ->
      s"""WITH qe AS (
         |  SELECT vec_id,
         |         list_transform(embedding,
         |           x -> CAST(floor(CAST(x AS DOUBLE) * $KmQ) AS BIGINT)) AS qv
         |  FROM embeddings),
         |seeds AS (SELECT vec_id AS cluster, qv AS sq
         |          FROM qe WHERE vec_id < $NumSeeds),
         |asg AS (
         |  SELECT vec_id, qv, sq FROM (
         |    SELECT q.vec_id, q.qv, s.sq,
         |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${qdistDuck("q.qv", "s.sq")}, s.cluster) AS arn
         |    FROM qe q CROSS JOIN seeds s) WHERE arn = 1),
         |resid AS (
         |  SELECT vec_id,
         |         list_transform(list_zip(qv, sq), p -> p[1] - p[2]) AS rv
         |  FROM asg),
         |sub AS (
         |  SELECT vec_id, j AS sub,
         |         rv[j * $PqDsub + 1 : j * $PqDsub + $PqDsub] AS sv
         |  FROM resid, range($PqM) r(j)),
         |cb AS (SELECT sub, vec_id - $NumSeeds AS codeword, sv AS cv
         |       FROM sub
         |       WHERE vec_id >= $NumSeeds
         |         AND vec_id < ${NumSeeds + PqK}),
         |d AS (
         |  SELECT s.vec_id, s.sub, c.codeword,
         |         ${qdistDuck("s.sv", "c.cv")} AS qd
         |  FROM sub s JOIN cb c USING (sub)),
         |a AS (
         |  SELECT vec_id, sub, codeword, qd FROM (
         |    SELECT vec_id, sub, codeword, qd,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |                              ORDER BY qd, codeword) AS rn
         |    FROM d) WHERE rn = 1)
         |SELECT sub, codeword, COUNT(*) AS n_assigned,
         |       CAST(SUM(qd) AS BIGINT) AS total_err_q
         |FROM a GROUP BY sub, codeword ORDER BY sub, codeword""".stripMargin,
    "v09_pq_assign" ->
      s"""WITH qe AS (
         |  SELECT vec_id,
         |         list_transform(embedding,
         |           x -> CAST(floor(CAST(x AS DOUBLE) * $KmQ) AS BIGINT)) AS qv
         |  FROM embeddings),
         |sub AS (
         |  SELECT vec_id, j AS sub,
         |         qv[j * $PqDsub + 1 : j * $PqDsub + $PqDsub] AS sv
         |  FROM qe, range($PqM) r(j)),
         |cb AS (SELECT sub, vec_id AS codeword, sv AS cv
         |       FROM sub WHERE vec_id < $PqK),
         |d AS (
         |  SELECT s.vec_id, s.sub, c.codeword,
         |         ${qdistDuck("s.sv", "c.cv")} AS qd
         |  FROM sub s JOIN cb c USING (sub)),
         |a AS (
         |  SELECT vec_id, sub, codeword, qd FROM (
         |    SELECT vec_id, sub, codeword, qd,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |                              ORDER BY qd, codeword) AS rn
         |    FROM d) WHERE rn = 1)
         |SELECT sub, codeword, COUNT(*) AS n_assigned,
         |       CAST(SUM(qd) AS BIGINT) AS total_err_q
         |FROM a GROUP BY sub, codeword ORDER BY sub, codeword""".stripMargin,
    "v08_ann_recall" ->
      s"""WITH $normDuckCte,
         |q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
         |      FROM e WHERE vec_id < $NumQueries),
         |bt AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.query_id, e.vec_id AS neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY q.query_id
         |             ORDER BY ${dotDuck("q.qe", "e.embedding")} / (q.qn * e.nrm)
         |                        DESC, e.vec_id) AS rnk
         |    FROM q JOIN e ON e.vec_id <> q.query_id) WHERE rnk <= $TopK),
         |eb AS (SELECT vec_id, embedding, nrm, $bucketDuck AS bucket FROM e),
         |lq AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn,
         |              bucket AS qbucket
         |       FROM eb WHERE vec_id < $NumQueries),
         |lt AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT lq.query_id, eb.vec_id AS neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY lq.query_id
         |             ORDER BY ${dotDuck("lq.qe", "eb.embedding")} / (lq.qn * eb.nrm)
         |                        DESC, eb.vec_id) AS rnk
         |    FROM lq JOIN eb
         |      ON eb.bucket = lq.qbucket AND eb.vec_id <> lq.query_id)
         |  WHERE rnk <= $TopK),
         |seeds AS (SELECT vec_id AS seed_id, embedding AS se, nrm AS sn
         |          FROM e WHERE vec_id < $NumSeeds),
         |to_seed AS (
         |  SELECT e.vec_id, e.embedding, e.nrm, s.seed_id,
         |         ${dotDuck("e.embedding", "s.se")} / (e.nrm * s.sn) AS scos
         |  FROM e CROSS JOIN seeds s),
         |assigned AS (
         |  SELECT vec_id, embedding, nrm, seed_id FROM (
         |    SELECT vec_id, embedding, nrm, seed_id,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id
         |                              ORDER BY scos DESC, seed_id) AS arn
         |    FROM to_seed) WHERE arn = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, seed_id FROM (
         |    SELECT vec_id, embedding, nrm, seed_id,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id
         |                              ORDER BY scos DESC, seed_id) AS prn
         |    FROM to_seed WHERE vec_id < $NumQueries) WHERE prn <= $NProbe),
         |it AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT p.query_id, a.vec_id AS neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY p.query_id
         |             ORDER BY ${dotDuck("p.qe", "a.embedding")} / (p.qn * a.nrm)
         |                        DESC, a.vec_id) AS rnk
         |    FROM assigned a JOIN probes p ON a.seed_id = p.seed_id
         |    WHERE a.vec_id <> p.query_id) WHERE rnk <= $TopK),
         |agg AS (
         |  SELECT bt.query_id, COUNT(*) AS n_true,
         |         CAST(COUNT(lt.neighbor_id) AS BIGINT) AS lsh_hits,
         |         CAST(COUNT(it.neighbor_id) AS BIGINT) AS ivf_hits
         |  FROM bt
         |  LEFT JOIN lt ON lt.query_id = bt.query_id
         |              AND lt.neighbor_id = bt.neighbor_id
         |  LEFT JOIN it ON it.query_id = bt.query_id
         |              AND it.neighbor_id = bt.neighbor_id
         |  GROUP BY bt.query_id)
         |SELECT query_id, n_true, lsh_hits, ivf_hits,
         |       lsh_hits * 1000000 // n_true AS lsh_recall_ppm,
         |       ivf_hits * 1000000 // n_true AS ivf_recall_ppm
         |FROM agg ORDER BY query_id""".stripMargin,
    "v07_diverse_sample" -> {
      val h32Text = graft.pipeline.TextPrep.h32Sql("d.text")
      s"""WITH $normDuckCte,
         |seeds AS (SELECT vec_id AS seed_id, embedding AS se, nrm AS sn
         |          FROM e WHERE vec_id < $NumSeeds),
         |asg AS (
         |  SELECT vec_id, seed_id AS cluster FROM (
         |    SELECT e.vec_id, s.seed_id,
         |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${dotDuck("e.embedding", "s.se")} / (e.nrm * s.sn)
         |                        DESC, s.seed_id) AS arn
         |    FROM e CROSS JOIN seeds s) WHERE arn = 1),
         |picked AS (
         |  SELECT cluster, doc_id, lang,
         |         ROW_NUMBER() OVER (PARTITION BY cluster
         |                            ORDER BY pick, doc_id) AS rk
         |  FROM (
         |    SELECT a.cluster, d.doc_id, d.lang, $h32Text AS pick
         |    FROM asg a JOIN documents d ON d.doc_id = a.vec_id))
         |SELECT cluster, rk, doc_id, lang
         |FROM picked WHERE rk <= $SampleQuota
         |ORDER BY cluster, rk""".stripMargin
    }
  )
}
