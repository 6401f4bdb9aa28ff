package graft.pipeline

import graft.SparkSpec
import Multimodal._

class MultimodalSpec extends SparkSpec {

  private def mediaFixture = {
    import spark.implicits._
    // deterministic synthetic binaries (no media libs in this env)
    val rows = (0L until 20L).map { i =>
      val bytes = Array.tabulate(1000 + i.toInt * 37)(j => ((i * 131 + j * 7) % 251).toByte)
      val kind = if (i % 3 == 0) "video" else if (i % 3 == 1) "image" else "audio"
      MediaFile(i, kind, bytes, Map("source" -> s"cam$i"))
    }
    spark.createDataset(rows)
  }

  test("decode is deterministic and dimension-shaped") {
    val d1 = decode(spread(mediaFixture, 4)).collect().sortBy(_.mediaId)
    val d2 = decode(spread(mediaFixture, 2)).collect().sortBy(_.mediaId)
    assert(d1.toSeq === d2.toSeq) // partitioning must not change results
    assert(d1.forall(d => d.width >= 160 && d.height >= 120 && d.channels === 3))
    assert(d1.map(_.mediaId).toSeq === (0L until 20L))
  }

  test("features: histogram sums to 1, entropy within [0,4] bits") {
    val f = features(mediaFixture).collect()
    assert(f.length === 20)
    f.foreach { r =>
      assert(math.abs(r.histogram.sum - 1.0) < 1e-9)
      assert(r.entropyBits >= 0.0 && r.entropyBits <= 4.0 + 1e-9)
      assert(r.histogram.length === 16)
    }
  }

  test("resize preserves aspect ratio, bounds the max side, shrinks bytes") {
    val decoded = decode(mediaFixture).collect().map(d => d.mediaId -> d).toMap
    val resized = resize(mediaFixture, maxSide = 256).collect()
    assert(resized.length === 20)
    resized.foreach { r =>
      val d = decoded(r.mediaId)
      assert(math.max(r.width, r.height) <= 256)
      val origRatio = d.width.toDouble / d.height
      val newRatio = r.width.toDouble / r.height
      assert(math.abs(origRatio - newRatio) / origRatio < 0.05)
      assert(r.bytes.length <= (1000 + r.mediaId.toInt * 37))
    }
    // deterministic across partitionings
    val again = resize(spread(mediaFixture, 2), maxSide = 256).collect()
      .sortBy(_.mediaId)
    assert(resized.sortBy(_.mediaId).map(_.bytes.toSeq).toSeq
      === again.map(_.bytes.toSeq).toSeq)
  }

  test("frame sampling slices only videos, evenly spaced") {
    val frames = sampleFrames(mediaFixture, nFrames = 4, frameBytes = 100).collect()
    val videos = mediaFixture.collect().filter(_.kind == "video")
    assert(frames.length === videos.length * 4)
    frames.groupBy(_.mediaId).foreach { case (_, fs) =>
      assert(fs.map(_.frameIdx).sorted.toSeq === Seq(0, 1, 2, 3))
      assert(fs.forall(_.bytes.length <= 100))
      val offs = fs.sortBy(_.frameIdx).map(_.offset)
      assert(offs === offs.sorted)
    }
  }

  test("ImageIoCodec decodes a real planted PNG end-to-end") {
    import spark.implicits._
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach(y => (0 until w).foreach(x =>
        img.setRGB(x, y, ((x * 255 / w) << 16) | ((y * 255 / h) << 8))))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val rows = Seq(
      MediaFile(100L, "image", png(640, 480), Map.empty),
      MediaFile(101L, "image", png(33, 17), Map.empty),
      MediaFile(102L, "audio",
        Array.tabulate(500)(i => (i % 251).toByte), Map.empty))
    val ds = spark.createDataset(rows)

    val d = decode(ds).collect().map(x => x.mediaId -> x).toMap
    assert((d(100L).width, d(100L).height, d(100L).channels) === (640, 480, 3))
    assert((d(101L).width, d(101L).height) === (33, 17))
    // non-image payload falls back to the stub's fake dims, not a crash
    assert(d(102L) ===
      decode(ds, StubCodec).collect().find(_.mediaId == 102L).get)

    val r = resize(ds, maxSide = 256).collect().map(x => x.mediaId -> x).toMap
    assert((r(100L).width, r(100L).height) === (256, 192)) // aspect kept
    assert((r(101L).width, r(101L).height) === (33, 17)) // no upscale
    // the resized payload is itself a decodable PNG with the target dims
    val round = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(r(100L).bytes))
    assert(round.getWidth === 256 && round.getHeight === 192)

    // real dims flow through the end-to-end describe stage
    val desc = describe(spark, ds, partitions = 2).collect()
      .map(row => row.getAs[Long]("mediaId") -> row).toMap
    assert(desc(100L).getAs[Int]("width") === 640)
    assert(desc(100L).getAs[Int]("height") === 480)
  }

  test("WavCodec parses a real planted PCM WAV and decimates frames") {
    import spark.implicits._
    // 16-bit stereo, 8 kHz, 1000 frames with a recognizable ramp
    def wav(frames: Int, rate: Int, channels: Int): Array[Byte] = {
      val blockAlign = 2 * channels
      val buf = java.nio.ByteBuffer.allocate(44 + frames * blockAlign)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes).putInt(36 + frames * blockAlign)
        .put("WAVEfmt ".getBytes).putInt(16)
        .putShort(1).putShort(channels.toShort).putInt(rate)
        .putInt(rate * blockAlign).putShort(blockAlign.toShort).putShort(16)
        .put("data".getBytes).putInt(frames * blockAlign)
      (0 until frames).foreach { f =>
        (0 until channels).foreach(c => buf.putShort((f * 2 + c).toShort))
      }
      buf.array()
    }
    val bytes = wav(1000, 8000, 2)
    assert(WavCodec.dimensions(bytes) === (1000, 8000, 2))
    assert(AutoCodec.dimensions(bytes) === (1000, 8000, 2)) // sniffed

    // direct decimation: stride 4 keeps every 4th whole frame
    val down = WavCodec.resample(bytes, 1000, 8000, 250, 2000)
    assert(WavCodec.dimensions(down) === (250, 2000, 2))
    val in = java.nio.ByteBuffer.wrap(bytes, 44 + 4 * 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val out = java.nio.ByteBuffer.wrap(down, 44 + 1 * 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // output frame 1 IS input frame 4 (both channels), not resynthesized
    assert(out.getShort() === in.getShort() && out.getShort() === in.getShort())

    // end-to-end through the generic resize: output is still a valid WAV
    val ds = spark.createDataset(Seq(
      MediaFile(200L, "audio", bytes, Map.empty)))
    val d = decode(ds).collect().head
    assert((d.width, d.height, d.channels) === (1000, 8000, 2))
    val r = resize(ds, maxSide = 256).collect().head
    val rd = WavCodec.dimensions(r.bytes)
    assert(rd._3 === 2, "resized payload must reparse as stereo WAV")
    assert(rd._1 <= 256 && rd._2 <= 256, "frame count and rate both bounded")
    // garbage that merely claims RIFF falls back to stub, not a crash
    val junk = "RIFFxxxxWAVE".getBytes ++ Array.fill(32)(7.toByte)
    assert(AutoCodec.dimensions(junk) === StubCodec.dimensions(junk))
  }

  test("Mp4Codec parses a planted ISO-BMFF container and samples real frames") {
    import spark.implicits._
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(8 + payload.length)
      buf.putInt(8 + payload.length).put(typ.getBytes("US-ASCII"))
        .put(payload)
      buf.array()
    }
    // three video samples in two chunks: chunk 1 = [s1, s2], chunk 2 = [s3]
    val s1 = Array.fill(10)(0xA1.toByte)
    val s2 = Array.tabulate(12)(i => (0xB0 + i).toByte)
    val s3 = Array.fill(9)(0xC3.toByte)
    val ftyp = box("ftyp",
      "isomiso2".getBytes("US-ASCII") ++ Array.fill(4)(0.toByte))
    val mdat = box("mdat", s1 ++ s2 ++ s3)
    val chunk1 = ftyp.length + 8L           // s1/s2 start after mdat header
    val chunk2 = chunk1 + s1.length + s2.length
    val mvhd = {                            // v0: timescale 600, duration 3000
      val p = java.nio.ByteBuffer.allocate(100)
      p.putInt(0).putInt(0).putInt(0).putInt(600).putInt(3000)
      p.array()
    }
    val tkhd = {                            // v0, 16.16-fixed 320x240
      val p = java.nio.ByteBuffer.allocate(84)
      p.putInt(0).putInt(0).putInt(0).putInt(1).putInt(0).putInt(3000)
      p.position(40)                        // reserved/layer/group/volume
      p.putInt(0x00010000).putInt(0).putInt(0)     // identity matrix
        .putInt(0).putInt(0x00010000).putInt(0)
        .putInt(0).putInt(0).putInt(0x40000000)
      p.putInt(320 << 16).putInt(240 << 16)
      p.array()
    }
    def hdlr(handler: String) = {
      val p = java.nio.ByteBuffer.allocate(25)
      p.putInt(0).putInt(0).put(handler.getBytes("US-ASCII"))
      p.array()
    }
    val stsd = {                            // one full 86-byte avc1 entry
      val p = java.nio.ByteBuffer.allocate(94)
      p.putInt(0).putInt(1).putInt(86).put("avc1".getBytes("US-ASCII"))
      p.position(8 + 8 + 6); p.putShort(1)  // data_ref_index
      p.position(8 + 8 + 8 + 16)            // skip pre_defined/reserved
      p.putShort(320.toShort).putShort(240.toShort)
      p.array()
    }
    val stsz = {
      val p = java.nio.ByteBuffer.allocate(24)
      p.putInt(0).putInt(0).putInt(3).putInt(10).putInt(12).putInt(9)
      p.array()
    }
    val stsc = {
      val p = java.nio.ByteBuffer.allocate(32)
      p.putInt(0).putInt(2)
        .putInt(1).putInt(2).putInt(1)      // chunks 1.. : 2 samples
        .putInt(2).putInt(1).putInt(1)      // chunks 2.. : 1 sample
      p.array()
    }
    val stco = {
      val p = java.nio.ByteBuffer.allocate(16)
      p.putInt(0).putInt(2).putInt(chunk1.toInt).putInt(chunk2.toInt)
      p.array()
    }
    val videoTrak = box("trak", box("tkhd", tkhd) ++ box("mdia",
      box("hdlr", hdlr("vide")) ++ box("minf", box("stbl",
        box("stsd", stsd) ++ box("stsz", stsz) ++
          box("stsc", stsc) ++ box("stco", stco)))))
    val soundTrak = box("trak", box("mdia", box("hdlr", hdlr("soun"))))
    val file = ftyp ++ mdat ++
      box("moov", box("mvhd", mvhd) ++ videoTrak ++ soundTrak)

    val info = Mp4Codec.parse(file).get
    assert(info.durationSec === 5.0)        // 3000 / 600
    assert(info.nTracks === 2)
    assert((info.width, info.height) === (320, 240))
    assert(info.samples === Vector(
      (chunk1, 10), (chunk1 + 10, 12), (chunk2, 9)))
    assert(Mp4Codec.dimensions(file) === (320, 240, 2))
    assert(AutoCodec.dimensions(file) === (320, 240, 2)) // sniffed

    // pipeline end-to-end: real dims, real sample slices at mdat offsets
    val ds = spark.createDataset(Seq(
      MediaFile(300L, "video", file, Map.empty)))
    val d = decode(ds).collect().head
    assert((d.width, d.height, d.channels) === (320, 240, 2))
    val frames = sampleFrames(ds, nFrames = 3, frameBytes = 64)
      .collect().sortBy(_.frameIdx)
    assert(frames.map(_.offset).toSeq === Seq(chunk1, chunk1 + 10, chunk2))
    assert(frames(0).bytes.toSeq === s1.toSeq)
    assert(frames(1).bytes.toSeq === s2.toSeq)
    assert(frames(2).bytes.toSeq === s3.toSeq)
    // asking for more frames than samples caps at the sample count
    assert(sampleFrames(ds, nFrames = 10).collect().length === 3)
    // ftyp-claiming junk falls back to the stub, not a crash
    val junk = Array[Byte](0, 0, 0, 16) ++
      "ftyp".getBytes("US-ASCII") ++ Array.fill(24)(9.toByte)
    assert(AutoCodec.dimensions(junk) === StubCodec.dimensions(junk))
    // avc1 samples are inter-coded bitstream, not self-contained
    // images: frames must report 0x0, never a fake dimension
    assert(frames.forall(f => f.width === 0 && f.height === 0))
  }

  test("MJPEG track: each sample is a real JPEG, frames report real pixel dims") {
    import spark.implicits._
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(8 + payload.length)
      buf.putInt(8 + payload.length).put(typ.getBytes("US-ASCII"))
        .put(payload)
      buf.array()
    }
    def jpeg(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xFF8040)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val j1 = jpeg(20, 12)
    val j2 = jpeg(16, 10)
    assert((j1(0) & 0xff) === 0xFF && (j1(1) & 0xff) === 0xD8) // SOI
    val ftyp = box("ftyp",
      "qt  qt  ".getBytes("US-ASCII") ++ Array.fill(4)(0.toByte))
    val mdat = box("mdat", j1 ++ j2)
    val chunk1 = ftyp.length + 8L
    val mvhd = {
      val p = java.nio.ByteBuffer.allocate(100)
      p.putInt(0).putInt(0).putInt(0).putInt(600).putInt(1200)
      p.array()
    }
    def hdlr(handler: String) = {
      val p = java.nio.ByteBuffer.allocate(25)
      p.putInt(0).putInt(0).put(handler.getBytes("US-ASCII"))
      p.array()
    }
    val stsd = {                            // one 86-byte 'jpeg' entry
      val p = java.nio.ByteBuffer.allocate(94)
      p.putInt(0).putInt(1).putInt(86).put("jpeg".getBytes("US-ASCII"))
      p.position(8 + 8 + 6); p.putShort(1)
      p.position(8 + 8 + 8 + 16)
      p.putShort(20.toShort).putShort(12.toShort)
      p.array()
    }
    val stsz = {
      val p = java.nio.ByteBuffer.allocate(20)
      p.putInt(0).putInt(0).putInt(2).putInt(j1.length).putInt(j2.length)
      p.array()
    }
    val stsc = {
      val p = java.nio.ByteBuffer.allocate(20)
      p.putInt(0).putInt(1).putInt(1).putInt(2).putInt(1)
      p.array()
    }
    val stco = {
      val p = java.nio.ByteBuffer.allocate(12)
      p.putInt(0).putInt(1).putInt(chunk1.toInt)
      p.array()
    }
    val videoTrak = box("trak", box("mdia",
      box("hdlr", hdlr("vide")) ++ box("minf", box("stbl",
        box("stsd", stsd) ++ box("stsz", stsz) ++
          box("stsc", stsc) ++ box("stco", stco)))))
    val file = ftyp ++ mdat ++ box("moov", box("mvhd", mvhd) ++ videoTrak)

    val info = Mp4Codec.parse(file).get
    assert(info.samples === Vector(
      (chunk1, j1.length), (chunk1 + j1.length, j2.length)))
    val ds = spark.createDataset(Seq(
      MediaFile(400L, "video", file, Map.empty)))
    val frames = sampleFrames(ds, nFrames = 2, frameBytes = 64)
      .collect().sortBy(_.frameIdx)
    assert(frames.length === 2)
    // real pixel dimensions decoded from each sample's own JPEG header
    assert((frames(0).width, frames(0).height) === (20, 12))
    assert((frames(1).width, frames(1).height) === (16, 10))
    // the stored slice is still capped, but the decode used the full sample
    assert(frames.forall(_.bytes.length <= 64))
  }

  test("H.264 SPS in avcC reports real coded dimensions, no decoder") {
    // SPS bits built with the shared test-side BitWriter (TestBits)
    // Baseline-profile 320x240: 20x15 macroblocks, no cropping
    val sps320 = Array(0x67.toByte) ++ new BitWriter()
      .u(66, 8).u(0, 16) // profile / constraints+level
      .ue(0) // sps_id
      .ue(0).ue(0).ue(0) // log2_max_frame_num, poc_type 0, log2_max_poc
      .ue(1).u(0, 1) // max_num_ref_frames, gaps flag
      .ue(19).ue(14) // 20 MBs x 15 map units
      .u(1, 1).u(1, 1).u(0, 1) // frame_mbs_only, direct_8x8, no crop
      .u(0, 1).u(1, 1) // no VUI, rbsp stop bit
      .bytes()
    assert(Mp4Codec.spsDims(sps320) === Some((320, 240)))
    // High-profile 1920x1080: 120x68 map units, 8 luma rows cropped
    // at the bottom (crop_bottom 4 x CropUnitY 2 for 4:2:0 frames)
    val sps1080 = Array(0x67.toByte) ++ new BitWriter()
      .u(100, 8).u(0, 16)
      .ue(0) // sps_id
      .ue(1) // chroma_format_idc 4:2:0
      .ue(0).ue(0) // bit depths
      .u(0, 1).u(0, 1) // qpprime bypass, no scaling matrix
      .ue(0).ue(0).ue(0) // frame_num, poc_type 0, max_poc
      .ue(4).u(0, 1) // ref frames, gaps
      .ue(119).ue(67) // 1920 x 1088
      .u(1, 1).u(1, 1) // frame_mbs_only, direct_8x8
      .u(1, 1).ue(0).ue(0).ue(0).ue(4) // crop: bottom 4 units
      .u(0, 1).u(1, 1)
      .bytes()
    assert(Mp4Codec.spsDims(sps1080) === Some((1920, 1080)))
    // not an SPS NAL / truncated bits → None, never a crash
    assert(Mp4Codec.spsDims(Array[Byte](0x68, 1, 2, 3, 4)) === None)
    assert(Mp4Codec.spsDims(sps320.take(6)) === None)

    // container-level: an avc1 entry whose stsd u16s LIE (0x0) but
    // whose avcC SPS says 320x240 — the SPS must win
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(8 + payload.length)
      buf.putInt(8 + payload.length).put(typ.getBytes("US-ASCII"))
        .put(payload)
      buf.array()
    }
    val avcC = box("avcC",
      Array(1, 66, 0, 30, 0xFF.toByte, 0xE1.toByte).map(_.toByte) ++
        Array(((sps320.length >> 8) & 0xff).toByte,
          (sps320.length & 0xff).toByte) ++ sps320 ++
        Array(1.toByte, 0.toByte, 0.toByte)) // 1 PPS, empty
    val entry = {
      val p = java.nio.ByteBuffer.allocate(86 + avcC.length)
      p.putInt(86 + avcC.length).put("avc1".getBytes("US-ASCII"))
      p.position(8 + 6); p.putShort(1) // data_ref_index
      // width/height u16s left 0x0 on purpose
      p.position(86); p.put(avcC)
      p.array()
    }
    val stsd = {
      val p = java.nio.ByteBuffer.allocate(8 + entry.length)
      p.putInt(0).putInt(1).put(entry)
      p.array()
    }
    def hdlr(handler: String) = {
      val p = java.nio.ByteBuffer.allocate(25)
      p.putInt(0).putInt(0).put(handler.getBytes("US-ASCII"))
      p.array()
    }
    val mvhd = {
      val p = java.nio.ByteBuffer.allocate(100)
      p.putInt(0).putInt(0).putInt(0).putInt(600).putInt(600)
      p.array()
    }
    val ftyp = box("ftyp",
      "isomiso2".getBytes("US-ASCII") ++ Array.fill(4)(0.toByte))
    val videoTrak = box("trak", box("mdia",
      box("hdlr", hdlr("vide")) ++ box("minf", box("stbl",
        box("stsd", stsd)))))
    val file = ftyp ++ box("moov", box("mvhd", mvhd) ++ videoTrak)
    val info = Mp4Codec.parse(file).get
    assert((info.spsWidth, info.spsHeight) === (320, 240))
    assert((info.width, info.height) === (320, 240))
    assert(Mp4Codec.dimensions(file) === (320, 240, 1))
  }

  test("describe joins decode + features without losing rows") {
    val out = describe(spark, mediaFixture, partitions = 4)
    assert(out.count() === 20)
    assert(out.columns.toSet === Set(
      "mediaId", "kind", "width", "height", "channels", "nBytes",
      "entropyBits", "histogram"))
  }

  test("HEVC SPS in hvcC reports real coded dimensions, no decoder") {
    // 88-bit profile_tier_level general block + 8-bit level
    def ptl(w: BitWriter): BitWriter =
      w.u(0, 32).u(0, 32).u(0, 24).u(93, 8)
    // Main-profile 4:2:0 1280x720, no conformance window
    val sps720 = Array(0x42.toByte, 0x01.toByte) ++ ptl(new BitWriter()
      .u(0, 4).u(0, 3).u(1, 1)) // vps_id, max_sub_layers_minus1 0, nesting
      .ue(0) // sps_id
      .ue(1) // chroma_format_idc 4:2:0
      .ue(1280).ue(720)
      .u(0, 1) // no conformance window
      .u(1, 1) // rbsp stop bit
      .bytes()
    assert(Mp4Codec.hevcSpsDims(sps720) === Some((1280, 720)))
    // 4:2:0 1920x1080 coded as 1920x1088 with an 8-luma-row bottom
    // window (offset 4 x SubHeightC 2) — the standard HD shape
    val sps1080 = Array(0x42.toByte, 0x01.toByte) ++ ptl(new BitWriter()
      .u(0, 4).u(0, 3).u(1, 1))
      .ue(0)
      .ue(1)
      .ue(1920).ue(1088)
      .u(1, 1).ue(0).ue(0).ue(0).ue(4) // window: bottom 4 chroma units
      .u(1, 1)
      .bytes()
    assert(Mp4Codec.hevcSpsDims(sps1080) === Some((1920, 1080)))
    // one sub-layer with profile+level present: the parse must walk
    // the per-sub-layer PTL repeats to reach the dimensions
    val spsSub = Array(0x42.toByte, 0x01.toByte) ++ {
      val w = ptl(new BitWriter().u(0, 4).u(1, 3).u(1, 1))
      w.u(1, 1).u(1, 1) // sub_layer profile/level present
      var j = 1
      while (j < 8) { w.u(0, 2); j += 1 }
      w.u(0, 32).u(0, 32).u(0, 24) // sub-layer 88-bit profile block
      w.u(90, 8) // sub-layer level
      w.ue(0).ue(1).ue(640).ue(480).u(0, 1).u(1, 1)
    }.bytes()
    assert(Mp4Codec.hevcSpsDims(spsSub) === Some((640, 480)))
    // wrong NAL type / truncated → None, never a crash
    assert(Mp4Codec.hevcSpsDims(Array[Byte](0x40, 1, 2, 3, 4)) === None)
    assert(Mp4Codec.hevcSpsDims(sps720.take(7)) === None)

    // container-level: an hvc1 entry whose stsd u16s LIE (0x0) but
    // whose hvcC SPS says 1280x720 — the SPS must win; the SPS array
    // sits SECOND after a VPS array so the array walk is exercised
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(8 + payload.length)
      buf.putInt(8 + payload.length).put(typ.getBytes("US-ASCII"))
        .put(payload)
      buf.array()
    }
    val vpsNal = Array(0x40.toByte, 0x01.toByte, 0x0c.toByte)
    def nalArray(typ: Int, nal: Array[Byte]): Array[Byte] =
      Array((0x80 | typ).toByte, 0.toByte, 1.toByte,
        ((nal.length >> 8) & 0xff).toByte, (nal.length & 0xff).toByte) ++ nal
    val hvcC = box("hvcC",
      Array.fill(22)(0.toByte) ++ Array(2.toByte) ++
        nalArray(32, vpsNal) ++ nalArray(33, sps720))
    val entry = {
      val p = java.nio.ByteBuffer.allocate(86 + hvcC.length)
      p.putInt(86 + hvcC.length).put("hvc1".getBytes("US-ASCII"))
      p.position(8 + 6); p.putShort(1) // data_ref_index
      // width/height u16s left 0x0 on purpose
      p.position(86); p.put(hvcC)
      p.array()
    }
    val stsd = {
      val p = java.nio.ByteBuffer.allocate(8 + entry.length)
      p.putInt(0).putInt(1).put(entry)
      p.array()
    }
    def hdlr(handler: String) = {
      val p = java.nio.ByteBuffer.allocate(25)
      p.putInt(0).putInt(0).put(handler.getBytes("US-ASCII"))
      p.array()
    }
    val mvhd = {
      val p = java.nio.ByteBuffer.allocate(100)
      p.putInt(0).putInt(0).putInt(0).putInt(600).putInt(600)
      p.array()
    }
    val ftyp = box("ftyp",
      "isomiso2".getBytes("US-ASCII") ++ Array.fill(4)(0.toByte))
    val videoTrak = box("trak", box("mdia",
      box("hdlr", hdlr("vide")) ++ box("minf", box("stbl",
        box("stsd", stsd)))))
    val file = ftyp ++ box("moov", box("mvhd", mvhd) ++ videoTrak)
    val info = Mp4Codec.parse(file).get
    assert((info.spsWidth, info.spsHeight) === (1280, 720))
    assert((info.width, info.height) === (1280, 720))
    assert(Mp4Codec.dimensions(file) === (1280, 720, 1))
  }

  test("H.264 SPS with a legal 2^29 se() poc offset parses (Long ue)") {
    // the round-11 global z > 16 exp-Golomb cap rejected this legal
    // header (offset_for_non_ref_pic may range to ±(2^31-1)); the
    // Long-backed reader accepts it and still rejects absurd runs
    val sps = Array(0x67.toByte) ++ new BitWriter()
      .u(66, 8).u(0, 16)
      .ue(0) // sps_id
      .ue(0) // log2_max_frame_num_minus4
      .ue(1) // poc_type 1 — the se-coded branch
      .u(0, 1) // delta_pic_order_always_zero_flag
      .se(1 << 29).se(0) // offset_for_non_ref_pic: huge but legal
      .ue(0) // num_ref_frames_in_pic_order_cnt_cycle
      .ue(1).u(0, 1) // max_num_ref_frames, gaps flag
      .ue(19).ue(14) // 320x240
      .u(1, 1).u(1, 1).u(0, 1)
      .u(0, 1).u(1, 1)
      .bytes()
    assert(Mp4Codec.spsDims(sps) === Some((320, 240)))
  }

  test("malformed media headers degrade to the stub, never crash or OOM") {
    // WAV: fmt declares blockAlign=0 and the data chunk is truncated —
    // the truncated-trailing-data fallback must apply the same
    // ba>0/rate>0 gate as the normal exit, or dimensions()/resample()
    // divide by zero (an exception no codec fallback catches)
    val bad = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bad.put("RIFF".getBytes).putInt(100000) // declared >> actual
      .put("WAVEfmt ".getBytes).putInt(16)
      .putShort(1).putShort(2).putInt(8000)
      .putInt(0).putShort(0).putShort(16) // blockAlign = 0
      .put("data".getBytes).putInt(100000) // overruns the buffer
    val badWav = bad.array()
    assert(WavCodec.dimensions(badWav) === StubCodec.dimensions(badWav))
    assert(WavCodec.resample(badWav, 4, 4, 2, 2) // stub passthrough
      === StubCodec.resample(badWav, 4, 4, 2, 2))
    // the fallback still accepts a truncated chunk when fmt is sane
    val cut = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    cut.put("RIFF".getBytes).putInt(100000)
      .put("WAVEfmt ".getBytes).putInt(16)
      .putShort(1).putShort(2).putInt(8000)
      .putInt(32000).putShort(4).putShort(16)
      .put("data".getBytes).putInt(100000)
    val (frames, rate, ch) = WavCodec.dimensions(cut.array())
    assert((frames, rate, ch) === ((64 - 44) / 4, 8000, 2))

    // MP4: a ~100-byte file whose stsz declares fixed sample size with
    // count 2^31-1 — the fixed branch must cap the eager sample vector
    // at what the file could physically hold, not allocate multi-GB
    // (OutOfMemoryError is fatal; parse()'s NonFatal never sees it)
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(8 + payload.length)
      buf.putInt(8 + payload.length).put(typ.getBytes("US-ASCII"))
        .put(payload)
      buf.array()
    }
    val stszBomb = {
      val p = java.nio.ByteBuffer.allocate(12)
      p.putInt(0).putInt(10).putInt(Int.MaxValue) // fixed 10, n 2^31-1
      p.array()
    }
    val stco1 = {
      val p = java.nio.ByteBuffer.allocate(12)
      p.putInt(0).putInt(1).putInt(40)
      p.array()
    }
    def hdlr(handler: String) = {
      val p = java.nio.ByteBuffer.allocate(25)
      p.putInt(0).putInt(0).put(handler.getBytes("US-ASCII"))
      p.array()
    }
    val ftyp = box("ftyp",
      "isomiso2".getBytes("US-ASCII") ++ Array.fill(4)(0.toByte))
    val bomb = ftyp ++ box("moov", box("trak", box("mdia",
      box("hdlr", hdlr("vide")) ++ box("minf", box("stbl",
        box("stsz", stszBomb) ++ box("stco", stco1))))))
    val info = Mp4Codec.parse(bomb)
    assert(info.isDefined, "capped parse must still succeed")
    assert(info.get.samples.length <= bomb.length / 10,
      s"sample table bounded by file bytes: ${info.get.samples.length}")
  }

  test("perceptual dHash near-dup: variants collide, distinct images do not; banding ≡ brute force") {
    import spark.implicits._
    // seeded macro-cell images: 9×8 cells of 50×50 px each, so the
    // dHash downscale grid recovers the cell structure and different
    // seeds land ~32 Hamming bits apart
    def cellImage(seed: Int, w: Int, h: Int): java.awt.image.BufferedImage = {
      val rnd = new scala.util.Random(seed)
      val cells = Array.fill(8, 9)(rnd.nextInt(256))
      val im = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach { y =>
        (0 until w).foreach { x =>
          val v = cells(y * 8 / h)(x * 9 / w)
          im.setRGB(x, y, (v << 16) | (v << 8) | v)
        }
      }
      im
    }
    def enc(im: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(im, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    def scaled(im: java.awt.image.BufferedImage, w: Int, h: Int) = {
      val dst = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = dst.createGraphics()
      try {
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(im, 0, 0, w, h, null)
      } finally g.dispose()
      dst
    }
    val seeds = 1 to 6
    val rows = seeds.flatMap { s =>
      val base = cellImage(s, 450, 400)
      Seq(
        MediaFile(s * 10L, "image", enc(base, "png"), Map.empty),
        // the two standard near-dup transforms: downscale, recompress
        MediaFile(s * 10L + 1, "image",
          enc(scaled(base, 225, 200), "png"), Map.empty),
        MediaFile(s * 10L + 2, "image", enc(base, "jpg"), Map.empty))
    } :+ MediaFile(999L, "audio",
      Array.tabulate(400)(i => (i % 251).toByte), Map.empty)
    val ds = spark.createDataset(rows)

    // undecodable audio bytes drop out of the hash frame
    val hs = perceptualHash(ds).collect().map(h => h.mediaId -> h.phash).toMap
    assert(hs.keySet === rows.map(_.mediaId).toSet - 999L)

    val pairs = nearDupImages(ds).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // banding-completeness pin vs brute force over the same hashes —
    // the reused td08 machinery must find EXACTLY the ≤7-Hamming set
    val brute = (for {
      (a, ha) <- hs.toSeq; (b, hb) <- hs.toSeq if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 7
    } yield (a, b)).toSet
    assert(pairs === brute)
    // every planted variant pair collides with its base
    seeds.foreach { s =>
      assert(pairs.contains((s * 10L, s * 10L + 1)),
        s"resized variant of seed $s must collide")
      assert(pairs.contains((s * 10L, s * 10L + 2)),
        s"recompressed variant of seed $s must collide")
    }
    // drawn natively at half resolution, the cell grid dHash samples
    // is unchanged, so the copy lands the SAME signature, not a near one
    seeds.foreach { s =>
      assert(dHash64(enc(cellImage(s, 225, 200), "png")) === hs.get(s * 10L),
        s"half-resolution PNG of seed $s must keep its dHash")
    }
    // no cross-seed pair: distinct images stay apart
    val crossSeed = pairs.filter { case (a, b) => a / 10 != b / 10 }
    assert(crossSeed.isEmpty, s"distinct images collided: $crossSeed")

    // streaming twin: the same blobs arriving as a stream must yield
    // the SAME pair set (first-seen order, one pair per near-dup) —
    // the batch set here has exactly one variant pair per (base,
    // variant), so set equality is exact, not just recall
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val streamed = graft.streaming.DocStreams.nearDupImages(
      src.toDF().toDF("media_id", "content", "ingest_ts"))
      .writeStream.format("memory").queryName("img_dups")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(rows.sortBy(_.mediaId).map(m =>
        (m.mediaId, m.content, new java.sql.Timestamp(m.mediaId * 1000))))
      streamed.processAllAvailable()
      val got = spark.table("img_dups").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === pairs,
        "streamed image pairs must equal the batch operator's")
    } finally streamed.stop()
  }

  test("unified keep-list: cross-modality clusters resolve to ONE component, batch ≡ streaming") {
    import spark.implicits._
    // -- fixtures (the per-modality tests' builders, compacted) --
    def png(seed: Int, w: Int, h: Int): Array[Byte] = {
      val rnd = new scala.util.Random(seed)
      val cells = Array.fill(8, 9)(rnd.nextInt(256))
      val im = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach { y =>
        (0 until w).foreach { x =>
          val v = cells(y * 8 / h)(x * 9 / w)
          im.setRGB(x, y, (v << 16) | (v << 8) | v)
        }
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    def wav(seed: Int, gainDen: Int): Array[Byte] = {
      val rnd = new scala.util.Random(seed)
      val amps = Array.fill(65)(500 + rnd.nextInt(12000))
      val frames = 65 * 80
      val buf = java.nio.ByteBuffer.allocate(44 + frames * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes).putInt(36 + frames * 2)
        .put("WAVEfmt ".getBytes).putInt(16)
        .putShort(1).putShort(1).putInt(8000)
        .putInt(8000 * 2).putShort(2).putShort(16)
        .put("data".getBytes).putInt(frames * 2)
      (0 until frames).foreach { f =>
        val a = amps(f / 80) / gainDen
        buf.putShort((if (f % 2 == 0) a else -a).toShort)
      }
      buf.array()
    }
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(8 + payload.length)
      buf.putInt(8 + payload.length).put(typ.getBytes("US-ASCII"))
        .put(payload)
      buf.array()
    }
    def jpgFrame(seed: Int, w: Int, h: Int, bright: Int): Array[Byte] = {
      val rnd = new scala.util.Random(seed)
      val cells = Array.fill(8, 9)(20 + rnd.nextInt(200))
      val im = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach { y =>
        (0 until w).foreach { x =>
          val v = math.min(255, cells(y * 8 / h)(x * 9 / w) + bright)
          im.setRGB(x, y, (v << 16) | (v << 8) | v)
        }
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "jpg", bos)
      bos.toByteArray
    }
    def mjpeg(frames: Seq[Array[Byte]]): Array[Byte] = {
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
    // -- planted corpus --
    // doc 1's TEXT dups doc 2 while its IMAGE dups doc 3: a
    // per-modality keep-list would make conflicting survivor choices;
    // the unified components must merge {1, 2, 3} into one component.
    val textX = "the quick brown fox jumps over the lazy dog tonight"
    val textY = "pack my box with five dozen liquor jugs right now"
    val textZ = "sphinx of black quartz judge my vow before dawn breaks"
    val vidBig = mjpeg((0 until 4).map(f => jpgFrame(3, 450, 400, f * 4)))
    val vidSmall = mjpeg((0 until 4).map(f => jpgFrame(3, 225, 200, f * 4)))
    val nb: Array[Byte] = null
    val ns: String = null
    val junk = Array.tabulate(300)(i => (i % 251).toByte)
    val rows = Seq(
      (1L, textX, png(1, 450, 400), nb, nb),
      (2L, textX, nb, nb, nb),
      (3L, textY, png(1, 225, 200), nb, nb), // resized copy of doc 1's image
      (4L, ns, nb, wav(7, 1), nb),
      (5L, ns, nb, wav(7, 2), nb), //         half-gain copy of doc 4's audio
      (6L, ns, nb, nb, vidBig),
      (7L, ns, nb, nb, vidSmall), //          re-scaled copy of doc 6's video
      (8L, textZ, nb, nb, nb), //             singleton text
      (9L, ns, png(9, 450, 400), nb, nb), //  singleton image
      (10L, ns, junk, nb, nb)) //             undecodable image: keeps trivially
    val docs = rows.toDF("doc_id", "text", "image", "audio", "video")

    graft.SessionCache.invalidate(spark)
    val got = unifiedKeepList(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got === Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 4L, true), (5L, 4L, false),
      (6L, 6L, true), (7L, 6L, false),
      (8L, 8L, true), (9L, 9L, true), (10L, 10L, true)),
      "cross-modality cluster {1,2,3} must resolve to one component " +
        "with exactly one survivor; unpaired docs keep trivially")

    // -- streaming parity: the four gates over the same corpus must
    // produce the SAME pair set, hence the same components/keep-list
    // (components are a pure function of the pair set) --
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(id: Long) = new java.sql.Timestamp(id * 1000)
    val textSrc = MemoryStream[(Long, String, java.sql.Timestamp)]
    val mediaSrcs = Seq("image", "audio", "video").map(_ =>
      MemoryStream[(Long, Array[Byte], java.sql.Timestamp)])
    val gates = Seq(
      graft.streaming.DocStreams.nearDupSimHash(
        textSrc.toDF().toDF("doc_id", "text", "ingest_ts")),
      graft.streaming.DocStreams.nearDupImages(
        mediaSrcs(0).toDF().toDF("media_id", "content", "ingest_ts")),
      graft.streaming.DocStreams.nearDupAudio(
        mediaSrcs(1).toDF().toDF("media_id", "content", "ingest_ts")),
      graft.streaming.DocStreams.nearDupVideo(
        mediaSrcs(2).toDF().toDF("media_id", "content", "ingest_ts")))
    val queries = gates.zipWithIndex.map { case (g, i) =>
      g.writeStream.format("memory").queryName(s"ukl_gate_$i")
        .outputMode(OutputMode.Append).start()
    }
    try {
      textSrc.addData(rows.collect {
        case (id, t, _, _, _) if t != null => (id, t, ts(id)) })
      mediaSrcs(0).addData(rows.collect {
        case (id, _, b, _, _) if b != null => (id, b, ts(id)) })
      mediaSrcs(1).addData(rows.collect {
        case (id, _, _, b, _) if b != null => (id, b, ts(id)) })
      mediaSrcs(2).addData(rows.collect {
        case (id, _, _, _, b) if b != null => (id, b, ts(id)) })
      queries.foreach(_.processAllAvailable())
      val streamed = (0 until 4).flatMap(i =>
        spark.table(s"ukl_gate_$i").collect().map { r =>
          val (a, b) = (r.getLong(0), r.getLong(1))
          (math.min(a, b), math.max(a, b))
        }).toSet
      assert(streamed === Set((1L, 2L), (1L, 3L), (4L, 5L), (6L, 7L)),
        "the streamed union pair graph must match the planted batch graph")
    } finally queries.foreach(_.stop())
  }

  test("decode coverage: undecodable payloads are counted loudly, batch and streaming") {
    import spark.implicits._
    def png(): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(
        32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 32).foreach(y => (0 until 32).foreach(x =>
        im.setRGB(x, y, (x * 8) << 16 | (y * 8) << 8)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    def wav(): Array[Byte] = {
      val frames = 65 * 80
      val buf = java.nio.ByteBuffer.allocate(44 + frames * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes).putInt(36 + frames * 2)
        .put("WAVEfmt ".getBytes).putInt(16)
        .putShort(1).putShort(1).putInt(8000)
        .putInt(8000 * 2).putShort(2).putShort(16)
        .put("data".getBytes).putInt(frames * 2)
      (0 until frames).foreach(f =>
        buf.putShort((if (f % 2 == 0) 900 + f % 700 else -900).toShort))
      buf.array()
    }
    val junk = Array.tabulate(300)(i => (i % 251).toByte)
    // mixed corpus: per kind, some payloads decode and some do not —
    // the "95% H.264 corpus" scenario the counter exists for
    val rows = Seq(
      MediaFile(1L, "image", png(), Map.empty),
      MediaFile(2L, "image", junk, Map.empty),
      MediaFile(3L, "image", junk, Map.empty),
      MediaFile(4L, "audio", wav(), Map.empty),
      MediaFile(5L, "audio", junk, Map.empty),
      MediaFile(6L, "video", junk, Map.empty), // no decodable frame
      MediaFile(7L, "scan3d", junk, Map.empty), // unknown kind
      MediaFile(8L, "audio", null, Map.empty)) // null payload: undecodable, not an NPE
    val cov = decodeCoverage(spark.createDataset(rows)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(cov === Map(
      "image" -> ((3L, 1L, 2L)),
      "audio" -> ((3L, 1L, 2L)),
      "video" -> ((1L, 0L, 1L)),
      "scan3d" -> ((1L, 0L, 1L))),
      "every kind must report rows/hashed/undecodable, unknown kinds loudly")

    // streaming twin: the image gate's per-batch observed metric
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val q = graft.streaming.DocStreams.nearDupImages(
      src.toDF().toDF("media_id", "content", "ingest_ts"))
      .writeStream.format("memory").queryName("cov_gate")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(Seq(
        (1L, png(), new java.sql.Timestamp(1000)),
        (2L, junk, new java.sql.Timestamp(2000)),
        (3L, junk, new java.sql.Timestamp(3000))))
      q.processAllAvailable()
      val metrics = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("decode_coverage_image")))
      val nMedia = metrics.map(_.getLong(0)).sum
      val nHashed = metrics.map(_.getLong(1)).sum
      assert(nMedia === 3L, "every arriving blob must be counted")
      assert(nHashed === 1L, "only the decodable blob may reach the banding state")
    } finally q.stop()
  }

  test("hash-frame cache: repeat near-dup calls on one corpus share one decode pass") {
    import spark.implicits._
    // The r17 advice finding: hashBy's mapPartitions closure is a
    // fresh object per call, so a cache keyed on the HASH FRAME's
    // plan never hits across calls — every invocation re-decoded all
    // blobs and pinned one more cached copy. The cache is now keyed
    // on (corpus plan, hasher tag); this pins the entry count. The
    // count covers the session's whole cache, so empty it first.
    graft.SessionCache.invalidate(spark)
    def entries = graft.SessionCache.size(spark)
    val im = new java.awt.image.BufferedImage(
      32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 32).foreach(y => (0 until 32).foreach(x =>
      im.setRGB(x, y, (x * 8) << 16 | (y * 8) << 8)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    val ds = spark.createDataset(Seq(
      MediaFile(1L, "image", bos.toByteArray, Map.empty),
      MediaFile(2L, "image", bos.toByteArray, Map.empty)))
    nearDupImages(ds).collect()
    assert(entries === 1)
    // a SECOND invocation builds a fresh mapPartitions closure — it
    // must still hit the (corpus, tag) entry, not pin a new frame
    nearDupImages(ds).collect()
    assert(entries === 1,
      "second nearDupImages call must reuse the cached hash frame")
    // a different hasher over the SAME corpus is a different frame
    nearDupAudio(ds).collect()
    assert(entries === 2)
    graft.SessionCache.invalidate(spark)
    assert(entries === 0)
  }

  test("video vHash near-dup: re-scaled MJPEG variants collide, distinct videos do not") {
    import spark.implicits._
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(8 + payload.length)
      buf.putInt(8 + payload.length).put(typ.getBytes("US-ASCII"))
        .put(payload)
      buf.array()
    }
    // seeded macro-cell frame (the dHash-recoverable structure from
    // the image test), with a constant per-frame brightness offset —
    // dHash is gradient-sign, so all frames of one video share a hash
    def frame(seed: Int, w: Int, h: Int, bright: Int): Array[Byte] = {
      val rnd = new scala.util.Random(seed)
      val cells = Array.fill(8, 9)(20 + rnd.nextInt(200))
      val im = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach { y =>
        (0 until w).foreach { x =>
          val v = math.min(255, cells(y * 8 / h)(x * 9 / w) + bright)
          im.setRGB(x, y, (v << 16) | (v << 8) | v)
        }
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "jpg", bos)
      bos.toByteArray
    }
    def mjpeg(frames: Seq[Array[Byte]]): Array[Byte] = {
      val ftyp = box("ftyp",
        "qt  qt  ".getBytes("US-ASCII") ++ Array.fill(4)(0.toByte))
      val mdat = box("mdat", frames.reduce(_ ++ _))
      val chunk1 = ftyp.length + 8
      def hdlr = {
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
    val seeds = 1 to 4
    val rows = seeds.flatMap { s =>
      val big = (0 until 4).map(f => frame(s, 450, 400, f * 4))
      val small = (0 until 4).map(f => frame(s, 225, 200, f * 4))
      Seq(
        MediaFile(s * 10L, "video", mjpeg(big), Map.empty),
        // the standard transform: every frame re-scaled + re-encoded
        MediaFile(s * 10L + 1, "video", mjpeg(small), Map.empty))
    } :+ MediaFile(777L, "video",
      Array.tabulate(400)(i => (i % 251).toByte), Map.empty)
    val ds = spark.createDataset(rows)

    val hs = videoHash(ds).collect().map(h => h.mediaId -> h.phash).toMap
    assert(hs.keySet === rows.map(_.mediaId).toSet - 777L)

    val pairs = nearDupVideo(ds).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = (for {
      (a, ha) <- hs.toSeq; (b, hb) <- hs.toSeq if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 7
    } yield (a, b)).toSet
    assert(pairs === brute, "banding must find exactly the <=7-Hamming set")
    seeds.foreach { s =>
      assert(pairs.contains((s * 10L, s * 10L + 1)),
        s"re-scaled variant of seed $s must collide")
    }
    val crossSeed = pairs.filter { case (a, b) => a / 10 != b / 10 }
    assert(crossSeed.isEmpty, s"distinct videos collided: $crossSeed")

    // streaming twin over the same blobs
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val q = graft.streaming.DocStreams.nearDupVideo(
      src.toDF().toDF("media_id", "content", "ingest_ts"))
      .writeStream.format("memory").queryName("vid_dups")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(rows.sortBy(_.mediaId).map(m =>
        (m.mediaId, m.content, new java.sql.Timestamp(m.mediaId * 1000))))
      q.processAllAvailable()
      val got = spark.table("vid_dups").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === pairs, "streamed video pairs must equal batch")
    } finally q.stop()
  }

  test("audio aHash near-dup: gain/decimation variants collide, distinct audio does not") {
    import spark.implicits._
    // seeded macro-window audio: 65 windows × 80 frames, each window a
    // constant-amplitude square-ish tone, amplitudes from Random(seed)
    // — the aHash window grid recovers the envelope structure
    def pcm(seed: Int, gainNum: Int, gainDen: Int): Array[Byte] = {
      val rnd = new scala.util.Random(seed)
      val amps = Array.fill(65)(500 + rnd.nextInt(12000))
      val frames = 65 * 80
      val buf = java.nio.ByteBuffer.allocate(44 + frames * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes).putInt(36 + frames * 2)
        .put("WAVEfmt ".getBytes).putInt(16)
        .putShort(1).putShort(1).putInt(8000)
        .putInt(8000 * 2).putShort(2).putShort(16)
        .put("data".getBytes).putInt(frames * 2)
      (0 until frames).foreach { f =>
        val a = amps(f / 80) * gainNum / gainDen
        buf.putShort((if (f % 2 == 0) a else -a).toShort)
      }
      buf.array()
    }
    val seeds = 1 to 5
    val rows = seeds.flatMap { s =>
      val base = pcm(s, 1, 1)
      Seq(
        MediaFile(s * 10L, "audio", base, Map.empty),
        // the two standard transforms: volume change, downsampling
        MediaFile(s * 10L + 1, "audio", pcm(s, 1, 2), Map.empty),
        MediaFile(s * 10L + 2, "audio",
          WavCodec.resample(base, 65 * 80, 8000, 1300, 2000), Map.empty))
    } :+ MediaFile(888L, "image",
      Array.tabulate(300)(i => (i % 251).toByte), Map.empty)
    val ds = spark.createDataset(rows)

    // non-audio / undecodable bytes drop out of the hash frame
    val hs = audioHash(ds).collect().map(h => h.mediaId -> h.phash).toMap
    assert(hs.keySet === rows.map(_.mediaId).toSet - 888L)

    val pairs = nearDupAudio(ds).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = (for {
      (a, ha) <- hs.toSeq; (b, hb) <- hs.toSeq if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 7
    } yield (a, b)).toSet
    assert(pairs === brute, "banding must find exactly the <=7-Hamming set")
    seeds.foreach { s =>
      assert(pairs.contains((s * 10L, s * 10L + 1)),
        s"half-gain variant of seed $s must collide")
      assert(pairs.contains((s * 10L, s * 10L + 2)),
        s"decimated variant of seed $s must collide")
    }
    val crossSeed = pairs.filter { case (a, b) => a / 10 != b / 10 }
    assert(crossSeed.isEmpty, s"distinct audio collided: $crossSeed")

    // streaming twin over the same blobs
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val q = graft.streaming.DocStreams.nearDupAudio(
      src.toDF().toDF("media_id", "content", "ingest_ts"))
      .writeStream.format("memory").queryName("aud_dups")
      .outputMode(OutputMode.Append).start()
    try {
      src.addData(rows.sortBy(_.mediaId).map(m =>
        (m.mediaId, m.content, new java.sql.Timestamp(m.mediaId * 1000))))
      q.processAllAvailable()
      val got = spark.table("aud_dups").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === pairs, "streamed audio pairs must equal batch")
    } finally q.stop()
  }
}
