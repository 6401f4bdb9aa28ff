package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Multimodal
import graft.pipeline.Multimodal.MediaFile

/** Scale point for [[graft.pipeline.Multimodal.unifiedKeepList]] —
  * the r18 verdict's missing measurement: the four-modality
  * end-to-end keep-list (the operator a real curation run ends with)
  * had spec coverage on planted corpora only, never a timed decade
  * row on a generated corpus.
  *
  * `main(corpusDir, nDocs, outJson)`: generates (once, reused if
  * present) a mixed-modality corpus of `nDocs` documents with PLANTED
  * cross-modality dup clusters and planted undecodable blobs, then
  * times `unifiedKeepList` min-of-3 and certifies the result against
  * the planted truth before writing one BENCH_SCALE-style JSON
  * artifact.
  *
  * Corpus construction (everything derives from `doc_id`, so the
  * corpus is deterministic under any partitioning):
  *
  *  - The first `3K` docs (K = nDocs/100) form K planted clusters of
  *    three. Even cluster k = the MultimodalSpec conflict shape on
  *    text+image: base's TEXT dups role1 (exact copy → identical
  *    SimHash) while base's IMAGE dups role2 (same macro-cell seed at
  *    half resolution → dHash-equal, the banding bar's own
  *    tolerance). Odd cluster k = the same shape on audio+video:
  *    base's AUDIO dups role1 (byte-identical PCM) while base's
  *    VIDEO dups role2 (same MJPEG frame seeds at half resolution).
  *    Either way a per-modality keep-list would pick CONFLICTING
  *    survivors; the unified components must merge each triple into
  *    ONE component, so the expected keep count is nDocs − 2K.
  *  - Every other doc is unique: seeded random text (40 tokens over a
  *    10⁶-word vocabulary), an image on ids ≡ 0 (mod 2), audio on
  *    ids ≡ 0,1 (mod 5), video on ids ≡ 7 (mod 10) — all from
  *    per-id seeds, so two unique docs collide only at the 64-bit
  *    signature birthday rate. Those rare accidental merges are
  *    REPORTED (`extra_merged_docs`) and bounded, not silently
  *    folded into the planted expectation.
  *  - Planted undecodable blobs: among unique docs, an assigned image
  *    is junk bytes on ids ≡ 0 (mod 97), audio on ids ≡ 0 (mod 89),
  *    video on ids ≡ 0 (mod 83). [[Multimodal.decodeCoverage]] must
  *    report EXACTLY these counts per kind — the loud-counter
  *    contract at scale.
  *
  * Certification gates (the run fails loudly if any misses):
  *  1. keep-list totality: one row per doc;
  *  2. every planted cluster resolves to one component (K of K);
  *  3. accidental extra merges ≤ max(16, 0.1% of docs);
  *  4. decode coverage per kind equals the planted junk counts.
  */
object MultimodalScale {

  /** Planted clusters: K triples over the first 3K ids. */
  def clusterCount(nDocs: Long): Long = nDocs / 100

  // -- modality assignment for unique (non-cluster) docs --
  def hasImage(id: Long): Boolean = id % 2 == 0
  def hasAudio(id: Long): Boolean = id % 5 < 2
  def hasVideo(id: Long): Boolean = id % 10 == 7
  def junkImage(id: Long): Boolean = id % 97 == 0
  def junkAudio(id: Long): Boolean = id % 89 == 0
  def junkVideo(id: Long): Boolean = id % 83 == 0

  /** One corpus row; nulls = modality absent (unifiedKeepList's input
    * contract). */
  final case class MmDoc(doc_id: Long, text: String,
      image: Array[Byte], audio: Array[Byte], video: Array[Byte])

  // -- deterministic content builders (MultimodalSpec's fixture
  // recipes, seeded per id/cluster) --

  private def tokens(seed: Long, n: Int): String = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(_ => "w" + rnd.nextInt(1000000)).mkString(" ")
  }
  def uniqueText(id: Long): String = tokens(0x51ed0000L + id, 40)
  def clusterText(k: Long): String = tokens(0x7c110000L + k, 40)

  /** 8×9 seeded macro-cell grayscale PNG — dHash64's luminance grid
    * IS the cell grid, so the same seed at any resolution lands the
    * same signature (lossless PNG; the resized-copy dup mechanism). */
  def pngBytes(seed: Long, w: Int, h: Int): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val cells = Array.fill(8, 9)(rnd.nextInt(256))
    val im = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = cells(y * 8 / h)(x * 9 / w)
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  /** 65-window seeded 16-bit mono PCM WAV (aHash64 needs ≥ 65
    * frames); 16 frames per window keeps the blob ~2 KB. */
  def wavBytes(seed: Long): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val amps = Array.fill(65)(500 + rnd.nextInt(12000))
    val frames = 65 * 16
    val buf = java.nio.ByteBuffer.allocate(44 + frames * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(36 + frames * 2)
      .put("WAVEfmt ".getBytes).putInt(16)
      .putShort(1).putShort(1).putInt(8000)
      .putInt(8000 * 2).putShort(2).putShort(16)
      .put("data".getBytes).putInt(frames * 2)
    var f = 0
    while (f < frames) {
      val a = amps(f / 16)
      buf.putShort((if (f % 2 == 0) a else -a).toShort)
      f += 1
    }
    buf.array()
  }

  private def box(typ: String, payload: Array[Byte]): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(8 + payload.length)
    buf.putInt(8 + payload.length).put(typ.getBytes("US-ASCII"))
      .put(payload)
    buf.array()
  }

  private def jpgFrame(seed: Long, w: Int, h: Int,
      bright: Int): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val cells = Array.fill(8, 9)(20 + rnd.nextInt(200))
    val im = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = math.min(255, cells(y * 8 / h)(x * 9 / w) + bright)
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "jpg", bos)
    bos.toByteArray
  }

  /** Minimal QuickTime/ISO-BMFF MJPEG container around `frames`
    * (MultimodalSpec's recipe): real stsz/stsc/stco sample table, so
    * [[Multimodal.vHash64]] cuts actual samples. */
  def mjpegBytes(frames: Seq[Array[Byte]]): Array[Byte] = {
    val ftyp = box("ftyp",
      "qt  qt  ".getBytes("US-ASCII") ++ Array.fill(4)(0.toByte))
    val mdat = box("mdat", frames.reduce(_ ++ _))
    val chunk1 = ftyp.length + 8
    val hdlr = {
      val p = java.nio.ByteBuffer.allocate(25)
      p.putInt(0).putInt(0).put("vide".getBytes("US-ASCII"))
      p.array()
    }
    val stsd = {
      val p = java.nio.ByteBuffer.allocate(94)
      p.putInt(0).putInt(1).putInt(86).put("jpeg".getBytes("US-ASCII"))
      p.position(8 + 8 + 6); p.putShort(1)
      p.array()
    }
    val stsz = {
      val p = java.nio.ByteBuffer.allocate(12 + 4 * frames.length)
      p.putInt(0).putInt(0).putInt(frames.length)
      frames.foreach(f => p.putInt(f.length))
      p.array()
    }
    val stsc = {
      val p = java.nio.ByteBuffer.allocate(20)
      p.putInt(0).putInt(1).putInt(1).putInt(frames.length).putInt(1)
      p.array()
    }
    val stco = {
      val p = java.nio.ByteBuffer.allocate(12)
      p.putInt(0).putInt(1).putInt(chunk1)
      p.array()
    }
    ftyp ++ mdat ++ box("moov", box("trak", box("mdia",
      box("hdlr", hdlr) ++ box("minf", box("stbl",
        box("stsd", stsd) ++ box("stsz", stsz) ++
          box("stsc", stsc) ++ box("stco", stco))))))
  }

  /** Cluster video: the spec's PROVEN resize-collision dims (450×400
    * vs 225×200, 4 frames) — JPEG is lossy, so the half-resolution
    * variant must stay within the ≤7-Hamming banding bar, which these
    * dims are pinned to in MultimodalSpec. Unique videos use cheap
    * 90×80 2-frame containers (only distinctness matters there). */
  def clusterVideo(k: Long, small: Boolean): Array[Byte] = {
    val (w, h) = if (small) (225, 200) else (450, 400)
    mjpegBytes((0 until 4).map(f =>
      jpgFrame(0x71de0000L + k, w, h, f * 4)))
  }
  def uniqueVideo(id: Long): Array[Byte] =
    mjpegBytes((0 until 2).map(f =>
      jpgFrame(0x93a10000L + id, 90, 80, f * 4)))

  /** Patterned junk: parses as no codec (no RIFF/PNG/BMFF magics). */
  def junkBytes(id: Long): Array[Byte] =
    Array.tabulate(300)(i => ((i + id) % 251).toByte)

  /** One doc's row — everything a function of `id` and the cluster
    * plan. */
  def row(id: Long, nDocs: Long): MmDoc = {
    val k3 = 3L * clusterCount(nDocs)
    if (id < k3) {
      val k = id / 3
      val role = (id % 3).toInt
      if (k % 2 == 0) role match {
        // text+image conflict cluster
        case 0 => MmDoc(id, clusterText(k),
          pngBytes(0x1a2b0000L + k, 90, 80), null, null)
        case 1 => MmDoc(id, clusterText(k), null, null, null)
        case _ => MmDoc(id, uniqueText(id),
          pngBytes(0x1a2b0000L + k, 45, 40), null, null)
      } else role match {
        // audio+video conflict cluster
        case 0 => MmDoc(id, uniqueText(id), null,
          wavBytes(0x44550000L + k), clusterVideo(k, small = false))
        case 1 => MmDoc(id, uniqueText(id), null,
          wavBytes(0x44550000L + k), null)
        case _ => MmDoc(id, uniqueText(id), null, null,
          clusterVideo(k, small = true))
      }
    } else MmDoc(id, uniqueText(id),
      if (!hasImage(id)) null
      else if (junkImage(id)) junkBytes(id)
      else pngBytes(0x66000000L + id, 90, 80),
      if (!hasAudio(id)) null
      else if (junkAudio(id)) junkBytes(id)
      else wavBytes(0x77000000L + id),
      if (!hasVideo(id)) null
      else if (junkVideo(id)) junkBytes(id)
      else uniqueVideo(id))
  }

  /** Generate the corpus parquet (skipped when already present). */
  def generate(spark: SparkSession, dir: String, nDocs: Long): Unit = {
    import spark.implicits._
    val path = s"$dir/mmdocs.parquet"
    if (new java.io.File(path).exists()) {
      println(s"[mmscale] corpus present: $path")
      return
    }
    val par = graft.GraftSession.cpus * 4
    spark.range(0L, nDocs, 1L, par)
      .mapPartitions { it =>
        // ImageIO's default on-disk stream cache would put one temp
        // file per encode on the bench disk
        javax.imageio.ImageIO.setUseCache(false)
        it.map(id => row(id, nDocs))
      }
      .write.mode(SaveMode.Overwrite).parquet(path)
    val n = spark.read.parquet(path).count()
    println(s"[mmscale] generated $n docs at $path")
    require(n == nDocs, s"generated $n != requested $nDocs")
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("localdata/mm_sf1")
    val nDocs = args.lift(1).map(_.toLong).getOrElse(50000L)
    val outJson = args.lift(2).getOrElse("BENCH_MM.json")
    val concurrentLoad = graft.Bench.concurrentLoadJson()
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    generate(spark, dir, nDocs)
    val corpus = spark.read.parquet(s"$dir/mmdocs.parquet")

    // decode coverage FIRST (cold, untimed): the loud-counter gate a
    // curation run checks before trusting any pair graph
    def media(modality: String) =
      corpus.where(col(modality).isNotNull)
        .select(col("doc_id").as("mediaId"), lit(modality).as("kind"),
          col(modality).as("content"),
          typedLit(Map.empty[String, String]).as("meta"))
        .as[MediaFile]
    val cov = Multimodal.decodeCoverage(
      media("image").unionAll(media("audio")).unionAll(media("video")))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val k3 = 3L * clusterCount(nDocs)
    def expectJunk(p: Long => Boolean, junk: Long => Boolean): Long =
      (k3 until nDocs).count(id => p(id) && junk(id)).toLong
    val expJunk = Map(
      "image" -> expectJunk(hasImage, junkImage),
      "audio" -> expectJunk(hasAudio, junkAudio),
      "video" -> expectJunk(hasVideo, junkVideo))

    // timed: min-of-3 end-to-end keep-list (first run carries the
    // decode+hash cache build — the honest cold unit, recorded as
    // first_run_total; the repeat runs share the per-(corpus, hasher)
    // signature caches, same warm semantics as nearDupBy's pin)
    val runs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      Multimodal.unifiedKeepList(corpus)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // certification pass (untimed, reuses the warm caches)
    val result = Multimodal.unifiedKeepList(corpus).cache()
    val total = result.count()
    val keep = result.where(col("keep")).count()
    val kPlanted = clusterCount(nDocs)
    val intact = result.where(col("doc_id") < k3)
      .groupBy((col("doc_id") / 3).cast("long").as("k"))
      .agg(countDistinct("component").as("nc"), count(lit(1)).as("n"))
      .where(col("nc") === 1 && col("n") === 3)
      .count()
    val expectedKeep = nDocs - 2 * kPlanted
    val extraMerged = expectedKeep - keep

    def covJson(kind: String): String = {
      val (r, h, u) = cov.getOrElse(kind, (0L, 0L, 0L))
      s""""$kind":{"n_rows":$r,"n_hashed":$h,"n_undecodable":$u,"expected_undecodable":${expJunk(kind)}}"""
    }
    val line =
      s"""{"metric":"mm_keeplist","n_docs":$nDocs,"value":${runs.min},"unit":"sec","runs":[${runs.mkString(",")}],"first_run_total":${runs.head},"keep_count":$keep,"expected_keep":$expectedKeep,"clusters_planted":$kPlanted,"clusters_intact":$intact,"extra_merged_docs":$extraMerged,"decode":{${covJson("image")},${covJson("audio")},${covJson("video")}},"concurrent_load":$concurrentLoad,"dir":"$dir"}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outJson), line + "\n")
    println(line)

    // gates AFTER the artifact lands, so a failure still leaves the
    // measured numbers on disk for diagnosis
    require(total == nDocs, s"keep-list not total: $total rows != $nDocs docs")
    require(intact == kPlanted,
      s"planted clusters broken: $intact/$kPlanted intact")
    val bound = math.max(16L, nDocs / 1000)
    require(extraMerged >= 0 && extraMerged <= bound,
      s"accidental merges out of bounds: $extraMerged (bound $bound)")
    expJunk.foreach { case (kind, exp) =>
      val got = cov.get(kind).map(_._3).getOrElse(0L)
      require(got == exp,
        s"decode coverage $kind: $got undecodable != planted $exp")
    }
    println(s"[mmscale] CERT PASS: $kPlanted clusters intact, " +
      s"keep $keep/$nDocs, extra merges $extraMerged, junk counts exact")
    spark.stop()
  }
}
