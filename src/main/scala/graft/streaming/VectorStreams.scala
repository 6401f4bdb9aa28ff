package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.VectorPipeline

/** Streaming similarity search: live query vectors scored against the
  * STORED LSH-bucketed corpus — the online half of the batch v02
  * query, same planes, same buckets, same exact-cosine rescoring.
  *
  * Scale design: this is a stateless stream-static equijoin on the
  * bucket id. The corpus side is the persisted index (cached here;
  * bucketed/partitioned storage at 100 TB), so each arriving query
  * touches only its own bucket's candidates — no per-query corpus
  * scan, no streaming state to manage, and the join parallelizes over
  * whatever partitioning the index has. Candidates are rescored with
  * the exact codegen'd cosine and thresholded before emission.
  */
object VectorStreams {

  final case class QueryVec(queryId: Long, embedding: Seq[Float], ts: Timestamp)

  final case class CandVec(vecId: Long, embedding: Seq[Float], ts: Timestamp)

  /** Score a stream of query vectors (`query_id`, `embedding`, `ts`)
    * against the corpus at `dir`: emits (query_id, neighbor_id, cos,
    * ts) for same-bucket candidates with cos ≥ `minCos`. Works
    * unchanged on a batch frame of queries.
    *
    * Zero-norm vectors are dropped on BOTH sides before the join: a
    * 0-norm query makes every bucket-0 cosine 0/0 = NaN, and Spark
    * ranks NaN above every number, so `cos >= minCos` would fail OPEN
    * and emit the whole bucket as neighbors (a 0-norm corpus row
    * fails open the same way via ±Infinity). A zero vector has no
    * direction — no cosine neighbor set is meaningful for it. */
  def similar(spark: SparkSession, dir: String, queries: DataFrame,
      minCos: Double = 0.3): DataFrame = {
    val (normC, bucketC) = VectorPipeline.normAndBucket
    // The static side, cached once per (session, dir) and served to
    // every microbatch: a service building a new stream per request
    // would otherwise persist a FRESH copy of the full bucketed corpus
    // on every call.
    val corpus = graft.SessionCache.named(spark, ("vector_stream_corpus", dir))(
      VectorPipeline.bucketedCorpus(spark, dir)
        .where(col("nrm") > 0)
        .select(col("vec_id"), col("embedding"), col("nrm"),
          col("bucket").as("cbucket")))
    val q = queries.select(
      col("query_id"), col("ts"),
      col("embedding").as("qe"), normC.as("qn"), bucketC.as("bucket"))
      .where(col("qn") > 0)
    q.join(corpus, col("bucket") === col("cbucket"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        expr("vec_dot(qe, embedding)").divide(col("qn") * col("nrm")).as("cos"),
        col("ts"))
      // NaN from non-finite embedding VALUES (ingest-validation
      // territory, v05) must still not fail open past the threshold
      .where(col("cos") >= minCos && !isnan(col("cos")))
  }

  /** Ingest-time semantic decontamination gate: every arriving
    * candidate TRAINING vector (`vec_id`, `embedding`, `ts`) is
    * audited against the full held-out eval set and emitted as
    * (vec_id, ts, n_flagged, max_eval_cos, admitted) — the online
    * half of the batch v11 audit, with identical cosine arithmetic.
    *
    * Scale design: the eval set is bounded by construction (an eval
    * SUITE, thousands of rows — not a corpus), so it is collected
    * once and shipped inside the plan as ONE array literal of
    * (embedding, norm, id) structs — the same broadcast-the-small-
    * side discipline as v11's batch plan, minus any join machinery.
    * The per-row audit is a codegen'd fold over that array: exact
    * cosine against EVERY eval vector (decontamination wants recall
    * 1.0 — LSH bucketing would silently miss borderline pairs), max
    * + threshold-count computed row-locally. The stream therefore
    * needs NO state, NO watermark, and NO shuffle: each microbatch is
    * a map over arriving rows, trivially parallel at any rate. An
    * eval suite too large for a plan literal would move to the
    * [[similar]] bucket-join layout with banding sized for recall.
    *
    * Works unchanged on a batch frame (used by the suite to compare
    * against [[graft.queries.VectorPipeline.semanticDecontam]]). */
  def decontamGate(spark: SparkSession, dir: String,
      candidates: DataFrame,
      bar: Double = VectorPipeline.DecontamCos): DataFrame = {
    val (normC, _) = VectorPipeline.normAndBucket
    // Driver-side collect of the STATIC eval side only (bounded); the
    // raw float embeddings + separate norms keep the per-pair
    // arithmetic bit-identical to the batch audit's dot/(qn*nrm).
    val evals = VectorPipeline.evalSet(spark, dir)
      .select(col("embedding"), col("nrm"))
      .collect()
      .map(r => (r.getAs[scala.collection.Seq[Float]]("embedding").toSeq,
        r.getAs[Double]("nrm")))
    // A decontamination gate with an empty eval side would fail OPEN
    // (zero flags, admitted=true for everything) — refuse loudly
    // instead of silently admitting the whole stream.
    require(evals.nonEmpty,
      s"decontamGate: empty eval set (no vec_id < ${VectorPipeline.NumQueries} in $dir)")
    val evalMatrix = typedlit(evals)
    candidates
      .select(col("vec_id"), col("ts"), col("embedding"),
        normC.as("nrm"), evalMatrix.as("evals"))
      .select(col("vec_id"), col("ts"),
        expr(s"transform(evals, s -> vec_dot(s._1, embedding) / (s._2 * nrm))")
          .as("eval_cos"))
      .select(
        col("vec_id"), col("ts"),
        expr(s"size(filter(eval_cos, c -> c >= ${bar}D))").cast("long")
          .as("n_flagged"),
        array_max(col("eval_cos")).as("max_eval_cos"))
      .withColumn("admitted", col("n_flagged") === 0L)
  }
}
