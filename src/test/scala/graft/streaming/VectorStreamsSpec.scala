package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import VectorStreams._

/** Streaming similarity search vs the stored LSH corpus: results must
  * agree exactly with the batch v02 pipeline for the same query
  * vectors (same planes, buckets, and cosine fold).
  */
class VectorStreamsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("streamed query vectors score same-bucket candidates like batch v02") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // take 5 corpus vectors as live queries (vec_id < 10 are also the
    // batch v02 query set, so results are directly comparable)
    val qvecs = graft.sources.Tables.table(spark, dir, "embeddings")
      .where("vec_id < 5").collect()
      .map(r => QueryVec(r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq,
        new Timestamp(1700000000000L)))
    val src = MemoryStream[QueryVec]
    val out = similar(spark, dir,
      src.toDF()
        .withColumnRenamed("queryId", "query_id"),
      minCos = 0.2)
    val q = out.writeStream.format("memory").queryName("stream_ann")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(qvecs.toSeq)
      q.processAllAvailable()
      val got = spark.table("stream_ann").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
          r.getAs[Double]("cos")).toMap
      assert(got.nonEmpty)
      // batch reference: same-bucket candidates of the same queries
      // with exact cosine (annLsh before its top-k cut includes these;
      // recompute directly against the bucketed corpus)
      import org.apache.spark.sql.functions._
      val corpus = graft.queries.VectorPipeline.bucketedCorpus(spark, dir)
      val expected = corpus.as("a").where("vec_id < 5")
        .join(corpus.as("b"), col("a.bucket") === col("b.bucket"))
        .select(col("a.vec_id").as("q"), col("b.vec_id").as("n"),
          expr("vec_dot(a.embedding, b.embedding) / (sqrt(vec_dot(a.embedding, a.embedding)) * sqrt(vec_dot(b.embedding, b.embedding)))").as("cos"))
        .where(col("cos") >= 0.2)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got.keySet === expected.keySet)
      got.foreach { case (k, c) => assert(c === expected(k), s"cos mismatch at $k") }
    } finally q.stop()
  }

  test("a zero-norm query emits nothing instead of failing open on NaN") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // an all-zero embedding has qn=0, so every bucket-0 cosine is
    // 0/0 = NaN; Spark ranks NaN above all doubles, so an unguarded
    // `cos >= minCos` would emit the ENTIRE bucket as neighbors
    val dim = graft.sources.Tables.table(spark, dir, "embeddings")
      .selectExpr("size(embedding)").head().getInt(0)
    val src = MemoryStream[QueryVec]
    val out = similar(spark, dir,
      src.toDF().withColumnRenamed("queryId", "query_id"), minCos = 0.2)
    val q = out.writeStream.format("memory").queryName("stream_ann_zero")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(QueryVec(999L, Seq.fill(dim)(0.0f),
        new Timestamp(1700000000000L)))
      q.processAllAvailable()
      assert(spark.table("stream_ann_zero").count() === 0L,
        "zero-norm query must match nothing")
    } finally q.stop()
  }

  test("streamed decontamination gate matches a batch recount against the eval set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // candidates disjoint from the eval set (vec_id < 10)
    val cands = graft.sources.Tables.table(spark, dir, "embeddings")
      .where("vec_id >= 100 AND vec_id < 110").collect()
      .map(r => CandVec(r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq,
        new Timestamp(1700000000000L)))
    val src = MemoryStream[CandVec]
    val out = decontamGate(spark, dir,
      src.toDF().withColumnRenamed("vecId", "vec_id"))
    val q = out.writeStream.format("memory").queryName("stream_decontam")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(cands.toSeq)
      q.processAllAvailable()
      val got = spark.table("stream_decontam").collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Long]("n_flagged"), r.getAs[Double]("max_eval_cos"),
            r.getAs[Boolean]("admitted")))).toMap
      assert(got.size === 10)
      // independent batch recount (same arithmetic as the v11 audit)
      graft.sources.Tables.table(spark, dir, "embeddings")
        .createOrReplaceTempView("emb_sdg")
      val expect = spark.sql(
        """WITH e AS (SELECT vec_id, embedding,
          |  sqrt(vec_dot(embedding, embedding)) AS nrm FROM emb_sdg)
          |SELECT c.vec_id,
          |  count(CASE WHEN vec_dot(q.embedding, c.embedding)/(q.nrm*c.nrm)
          |             >= 0.35D THEN 1 END) AS n_flagged,
          |  max(vec_dot(q.embedding, c.embedding)/(q.nrm*c.nrm)) AS max_cos
          |FROM e c JOIN e q ON q.vec_id < 10
          |WHERE c.vec_id >= 100 AND c.vec_id < 110
          |GROUP BY c.vec_id""".stripMargin).collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Long]("n_flagged"), r.getAs[Double]("max_cos")))).toMap
      assert(got.keySet === expect.keySet)
      got.foreach { case (id, (n, mx, adm)) =>
        assert(n === expect(id)._1, s"n_flagged mismatch at $id")
        assert(mx === expect(id)._2, s"max_eval_cos mismatch at $id")
        assert(adm === (n == 0L))
      }
    } finally q.stop()
  }
}
