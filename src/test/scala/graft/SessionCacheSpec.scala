package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Multimodal, TextPrep}
import graft.queries.{TextPipeline, VectorPipeline}
import graft.sources.Tables
import graft.streaming.VectorStreams

/** [[SessionCache]] ownership: one `invalidate(session)` drops every
  * frame the text, vector, streaming and media operators cached for
  * that session — and only that session's — and a re-ingested corpus
  * is read fresh afterwards. Every corpus here is a private copy of
  * sf0.001 written at test time, so no plan is shared with frames
  * other suites cached on the main session. */
class SessionCacheSpec extends SparkSpec {
  private val src = SparkEntry.SmallestSfDir

  private def copyOf(tables: String*): String = {
    val d = Files.createTempDirectory("graft-session-cache").toString
    tables.foreach(t =>
      spark.read.parquet(s"$src/$t.parquet").write.parquet(s"$d/$t.parquet"))
    d
  }

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("one invalidate drops every operator cache of the session") {
    val dir = copyOf("documents", "embeddings")
    val s = spark.newSession()
    val baseline = persistedIds
    TextPrep.shingleIndex(s, dir).count()
    TextPipeline.queries("td06_dedup_jaccard")(s, dir).collect() // pair graph
    TextPipeline.pairIntersections(s, dir, TextPipeline.MaxShingleDf).count()
    VectorPipeline.nearDupLsh(s, dir).collect() // vector signatures
    val queries = Tables.table(s, dir, "embeddings").limit(3)
      .select(col("vec_id").as("query_id"), col("embedding"),
        lit(new Timestamp(0L)).as("ts"))
    VectorStreams.similar(s, dir, queries).collect() // stream corpus index
    val im = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    import s.implicits._
    Multimodal.nearDupImages(s.createDataset(Seq(
      Multimodal.MediaFile(1L, "image", bos.toByteArray, Map.empty)))).collect()

    assert(SessionCache.size(s) >= 6)
    assert((persistedIds -- baseline).size >= 6,
      "each cached operator frame materializes its own RDD")
    SessionCache.invalidate(s)
    assert(SessionCache.size(s) === 0)
    assert(persistedIds -- baseline === Set.empty[Int],
      "invalidate must unpersist every frame the session cached")
  }

  test("invalidate leaves another session's entries cached") {
    // two corpora, then one corpus both sessions read: Spark keeps a
    // single cache entry for the two sessions' equal plans
    for (sameCorpus <- Seq(false, true)) {
      val baseline = persistedIds
      val otherDir = copyOf("documents")
      val other = spark.newSession()
      val otherIndex = TextPrep.shingleIndex(other, otherDir)
      otherIndex.count()
      val otherIds = persistedIds -- baseline
      assert(otherIds.nonEmpty)
      val s = spark.newSession()
      TextPrep.shingleIndex(s, if (sameCorpus) otherDir else copyOf("documents")).count()

      SessionCache.invalidate(s)
      assert(SessionCache.size(s) === 0)
      assert(SessionCache.size(other) === 1)
      assert(otherIds.subsetOf(persistedIds),
        s"the other session's frame stays cached (same corpus: $sameCorpus)")
      assert(otherIndex.storageLevel.useMemory, s"same corpus: $sameCorpus")
      SessionCache.invalidate(other)
      assert(persistedIds -- baseline === Set.empty[Int],
        "the last session holding the frame unpersists it")
    }
  }

  test("after re-ingest and invalidate, the same session reads the new corpus") {
    val s = spark.newSession()
    val dir = Files.createTempDirectory("graft-reingest").toString
    val original = spark.read.parquet(s"$src/documents.parquet")
    def pairs(session: SparkSession): Set[(Long, Long)] =
      TextPipeline.dedupMinHash(session, dir).select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // An outside writer: the corpus is staged elsewhere and moved into
    // place. A Spark write to the corpus path itself would refresh the
    // cached plans reading that path (CacheManager.recacheByPath), so
    // it could not show a stale cache.
    def ingest(df: DataFrame): Unit = {
      val staged = Files.createTempDirectory("graft-reingest-staged")
        .resolve("documents.parquet")
      df.write.parquet(staged.toString)
      val target = Paths.get(dir, "documents.parquet")
      if (Files.exists(target))
        Files.walk(target).sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.delete(p))
      Files.move(staged, target)
    }

    ingest(original)
    val before = pairs(s)
    // the second corpus adds exact copies of a few documents, each a
    // new near-dup pair (id, id + 1 000 000) that the first corpus lacks
    ingest(original.union(original.where(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 1000000L)))
    SessionCache.invalidate(s)
    val after = pairs(s)

    val cold = spark.newSession()
    assert(after === pairs(cold), "matches a cold session on the new data")
    assert((after -- before).exists { case (a, b) => b == a + 1000000L })
    Seq(s, cold).foreach(SessionCache.invalidate)
  }
}
