package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed by per-partition batch
  * operators (decode → features → resize / frame-sample).
  *
  * The Spark-side plumbing is REAL and tested: schema, hash
  * partitioning of heavy blobs, mapPartitions batch shape, and the
  * byte-level feature computations. IMAGE decode/resize is real:
  * [[ImageIoCodec]] parses PNG/JPEG/GIF/BMP headers and rescales
  * pixels via the JDK's `javax.imageio`. AUDIO is real:
  * [[WavCodec]] parses RIFF/WAVE chunk structure and decimates PCM
  * frames in pure byte arithmetic. VIDEO containers are real too:
  * [[Mp4Codec]] parses the MP4 / ISO-BMFF box tree (mvhd duration,
  * tkhd/stsd dimensions, stsz/stco/stsc sample addressing) in pure
  * byte arithmetic — only the codec BITSTREAM decode (which needs a
  * real encoder stack) stays out of scope, with [[StubCodec]] as the
  * documented fallback for undecodable payloads. [[AutoCodec]] (the
  * default) sniffs the container and dispatches.
  *
  * Scale notes: blobs never pass through a wide shuffle — operators
  * are narrow mapPartitions over the scan, and the only repartition is
  * an explicit `media_id`-hash spread (balances multi-GB media files
  * across executors before CPU-heavy decode). Feature vectors, not
  * pixels, flow into downstream joins/aggregations.
  */
object Multimodal {

  /** A media row: binary payload + typed metadata. */
  final case class MediaFile(
      mediaId: Long,
      kind: String, // image | audio | video
      content: Array[Byte],
      meta: Map[String, String])

  /** Decoded media descriptor (dims from the codec; STUBBED here). */
  final case class Decoded(
      mediaId: Long,
      kind: String,
      width: Int,
      height: Int,
      channels: Int,
      nBytes: Long)

  /** Per-media feature row: 16-bin byte histogram (REAL computation),
    * normalized to fractions — the shape a downstream embedding /
    * dedup join would consume. */
  final case class MediaFeatures(
      mediaId: Long,
      nBytes: Long,
      entropyBits: Double,
      histogram: Array[Double])

  /** One sampled video frame. The slice is REAL (mdat offsets from
    * the container's sample table); `width`/`height` are the frame's
    * REAL pixel dimensions when the sample bitstream is
    * self-contained and JDK-decodable (MJPEG tracks — each sample is
    * a complete JPEG), 0 for inter-coded codecs (H.264 etc.) whose
    * frame decode needs a native decoder. */
  final case class Frame(
      mediaId: Long,
      frameIdx: Int,
      offset: Long,
      bytes: Array[Byte],
      width: Int = 0,
      height: Int = 0)

  /** Codec boundary: dimension probe + pixel resample. */
  trait Codec extends Serializable {
    def dimensions(content: Array[Byte]): (Int, Int, Int)

    /** Resample `content` (known dims `w`×`h`) to `tw`×`th`. Default:
      * deterministic byte stride-subsample proportional to the area
      * ratio — the stand-in used when real pixel decode is impossible
      * (audio/video/corrupt payloads). */
    def resample(content: Array[Byte], w: Int, h: Int,
        tw: Int, th: Int): Array[Byte] = {
      val keep = math.max(1,
        (content.length.toDouble * (tw.toLong * th) / (w.toLong * h)).toInt)
      val stride = math.max(1, content.length / keep)
      val out = Array.newBuilder[Byte]
      var i = 0
      while (i < content.length) { out += content(i); i += stride }
      out.result()
    }
  }

  /** STUB: deterministic fake decode — dimensions derived from a
    * rolling hash of the first 64 payload bytes. Stands in for the
    * audio/video codecs this container lacks; the partitioning /
    * batching around it is production-shaped. */
  object StubCodec extends Codec {
    override def dimensions(content: Array[Byte]): (Int, Int, Int) = {
      var h = 1125899906842597L
      var i = 0
      val n = math.min(content.length, 64)
      while (i < n) { h = 31 * h + content(i); i += 1 }
      val w = 160 + (math.abs(h) % 1920).toInt
      val ht = 120 + (math.abs(h / 7919) % 1080).toInt
      ((w / 8) * 8, (ht / 8) * 8, 3)
    }
  }

  /** REAL image codec — PNG/JPEG/GIF/BMP via the JDK's `javax.imageio`
    * (no external libraries, headless-safe).
    *
    *  - `dimensions` parses only the image HEADER
    *    (`ImageReader.getWidth/getHeight` without a pixel decode) —
    *    probing a 50 MB JPEG costs a few hundred header bytes, which is
    *    what a 100 TB metadata pass over blob columns must do.
    *  - `resample` fully decodes, scales with bilinear interpolation
    *    (`Graphics2D.drawImage` onto a target-sized buffer), and
    *    re-encodes as PNG.
    *
    * Bytes no installed reader recognizes (audio, video, corrupt
    * files) fall back to [[StubCodec]] semantics, so one bad file in a
    * mixed-media batch degrades to a fake row instead of killing the
    * whole task — the per-row error contract a large decode pass needs. */
  object ImageIoCodec extends Codec {
    /** Header-only probe: Some((w, h, channels)) when an installed
      * reader recognizes the bytes, None otherwise — the
      * distinguishes-real-decode form [[Multimodal.sampleFrames]]
      * needs (the [[Codec]] contract below folds None into the stub
      * fallback). */
    private[pipeline] def headerDimensions(
        content: Array[Byte]): Option[(Int, Int, Int)] =
      withReader(content) { reader =>
        val channels =
          try {
            val types = reader.getImageTypes(0)
            if (types.hasNext) types.next().getColorModel.getNumComponents
            else 3
          } catch { case scala.util.control.NonFatal(_) => 3 }
        (reader.getWidth(0), reader.getHeight(0), channels)
      }

    override def dimensions(content: Array[Byte]): (Int, Int, Int) =
      headerDimensions(content).getOrElse(StubCodec.dimensions(content))

    override def resample(content: Array[Byte], w: Int, h: Int,
        tw: Int, th: Int): Array[Byte] = {
      val decoded =
        try Option(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(content)))
        catch { case scala.util.control.NonFatal(_) => None }
      decoded match {
        case Some(src) =>
          val dst = new java.awt.image.BufferedImage(
            tw, th, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = dst.createGraphics()
          try {
            g.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(src, 0, 0, tw, th, null)
          } finally g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(dst, "png", bos)
          bos.toByteArray
        case None => super.resample(content, w, h, tw, th)
      }
    }

    /** Header-only reader scope: open an image input stream over the
      * bytes, hand the first matching reader to `f`, always dispose. */
    private def withReader[T](content: Array[Byte])(
        f: javax.imageio.ImageReader => T): Option[T] = {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(content))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try { r.setInput(iis, true); Some(f(r)) }
          catch { case scala.util.control.NonFatal(_) => None }
          finally r.dispose()
        }
      } finally iis.close()
    }
  }

  /** REAL audio codec — RIFF/WAVE parsing and PCM frame decimation in
    * pure JVM byte arithmetic (no external libraries; the container
    * has no audio stack, but WAV needs none).
    *
    * Dimension mapping for the shared [[Codec]] contract:
    * `width` = frames per channel (data bytes / block align, capped at
    * Int.MaxValue), `height` = sample rate in Hz, `channels` =
    * channel count — so the generic aspect-preserving resize scales
    * frame count and sample rate together, preserving duration.
    *
    * `resample` emits a VALID PCM WAV: every k-th whole frame
    * (nearest-neighbor decimation to ~`tw` frames, block-aligned so
    * channel interleaving survives) under a rebuilt RIFF header with
    * the proportional `th` sample rate. Non-RIFF or malformed bytes
    * fall back to [[StubCodec]] semantics like the image path. */
  object WavCodec extends Codec {
    /** (dataOffset, dataSize, blockAlign, sampleRate, channels). */
    private[pipeline] def parse(b: Array[Byte]): Option[(Int, Int, Int, Int, Int)] = {
      def u16(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
      def u32(i: Int): Long =
        (u16(i).toLong) | (u16(i + 2).toLong << 16)
      def tag(i: Int): String =
        if (i + 4 <= b.length) new String(b, i, 4, "US-ASCII") else ""
      if (b.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
      var pos = 12
      var fmt: Option[(Int, Int, Int)] = None // (blockAlign, rate, channels)
      var data: Option[(Int, Int)] = None // (offset, size)
      while (pos + 8 <= b.length && (fmt.isEmpty || data.isEmpty)) {
        val id = tag(pos)
        val size = u32(pos + 4)
        val body = pos + 8
        if (size < 0 || body + size > b.length) return fmt.flatMap {
          case (ba, r, c) =>
            // tolerate a truncated trailing data chunk (streaming cut)
            // — under the SAME ba/rate sanity gate as the normal exit
            // below, or a zero blockAlign divides dimensions/resample
            if (id == "data" && body < b.length && ba > 0 && r > 0)
              Some((body, b.length - body, ba, r, c))
            else None
        }
        if (id == "fmt " && size >= 16)
          fmt = Some((u16(body + 12), u32(body + 4).toInt, u16(body + 2)))
        else if (id == "data") data = Some((body, size.toInt))
        pos = body + size.toInt + (size.toInt & 1) // chunks are word-aligned
      }
      for ((off, sz) <- data; (ba, rate, ch) <- fmt if ba > 0 && rate > 0)
        yield (off, sz, ba, rate, ch)
    }

    override def dimensions(content: Array[Byte]): (Int, Int, Int) =
      parse(content) match {
        case Some((_, dataSize, blockAlign, rate, channels)) =>
          val frames = math.min(Int.MaxValue.toLong,
            dataSize.toLong / blockAlign).toInt
          (frames, rate, channels)
        case None => StubCodec.dimensions(content)
      }

    override def resample(content: Array[Byte], w: Int, h: Int,
        tw: Int, th: Int): Array[Byte] =
      parse(content) match {
        case Some((off, dataSize, blockAlign, _, channels)) =>
          val frames = dataSize / blockAlign
          val stride = math.max(1, frames / math.max(1, tw))
          val kept = (0 until frames by stride).length
          val out = java.nio.ByteBuffer
            .allocate(44 + kept * blockAlign)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val bits = 8 * blockAlign / math.max(1, channels)
          val rate = math.max(1, th)
          out.put("RIFF".getBytes("US-ASCII"))
            .putInt(36 + kept * blockAlign)
            .put("WAVEfmt ".getBytes("US-ASCII"))
            .putInt(16).putShort(1.toShort) // PCM
            .putShort(channels.toShort).putInt(rate)
            .putInt(rate * blockAlign).putShort(blockAlign.toShort)
            .putShort(bits.toShort)
            .put("data".getBytes("US-ASCII")).putInt(kept * blockAlign)
          var f = 0
          while (f < frames) {
            out.put(content, off + f * blockAlign, blockAlign)
            f += stride
          }
          out.array()
        case None => super.resample(content, w, h, tw, th)
      }
  }

  /** REAL video container codec — MP4 / ISO-BMFF (ISO/IEC 14496-12)
    * box-tree parsing in pure JVM byte arithmetic, the same
    * no-native-deps discipline as [[WavCodec]]'s RIFF path.
    *
    * What it reads (all big-endian, per the spec's box layout):
    *  - `moov/mvhd` — movie timescale + duration (v0 32-bit and v1
    *    64-bit layouts) → [[Mp4Info.durationSec]];
    *  - every `moov/trak` — track count, each track's `mdia/hdlr`
    *    handler type and `tkhd` 16.16-fixed presentation size;
    *  - the FIRST `vide`-handler track's `stbl`: `stsd` visual sample
    *    entry (coded pixel width/height), `stsz` sample sizes, `stco`
    *    / `co64` chunk offsets, and `stsc` sample-to-chunk runs, from
    *    which it materializes the REAL per-sample (offset, size) list
    *    — what [[Multimodal.sampleFrames]] slices.
    *
    * Dimension mapping for the shared [[Codec]] contract: `width` ×
    * `height` = the video track's coded pixels (stsd first, tkhd
    * fallback), `channels` = track count. `resample` keeps the
    * deterministic byte-stride default: bitstream transcode needs a
    * real encoder, which is out of scope — the container METADATA and
    * sample addressing are the real parts. Non-BMFF or malformed
    * bytes fall back to [[StubCodec]] semantics per the pipeline's
    * per-row error contract. */
  object Mp4Codec extends Codec {
    /** Parsed container facts: seconds, tracks, coded dims, and the
      * video track's per-sample (fileOffset, byteSize) table.
      * `spsWidth`/`spsHeight` are the SPS-coded dimensions when the
      * sample entry carries an `avcC` (H.264) or `hvcC` (HEVC)
      * record (0 otherwise); when present they take precedence in
      * `width`/`height` — the SPS is what a decoder obeys, stsd's
      * u16s are advisory. */
    final case class Mp4Info(
        durationSec: Double, nTracks: Int, width: Int, height: Int,
        samples: Vector[(Long, Int)],
        spsWidth: Int = 0, spsHeight: Int = 0)

    /** MSB-first bit reader for exp-Golomb parsing (throws past the
      * end — callers catch and return None). */
    private[pipeline] final class BitReader(b: Array[Byte]) {
      private var pos = 0
      def u1(): Int = {
        val i = pos >> 3
        if (i >= b.length) throw new ArrayIndexOutOfBoundsException(i)
        val bit = (b(i) >> (7 - (pos & 7))) & 1
        pos += 1
        bit
      }
      def u(n: Int): Int = {
        var v = 0; var k = 0
        while (k < n) { v = (v << 1) | u1(); k += 1 }
        v
      }
      /** Unsigned exp-Golomb in a Long: a conformant se()-coded SPS
        * field ranges to ±(2³¹−1), i.e. its ue code reaches 2³²−2 —
        * past Int — so the round-11 global z > 16 run cap silently
        * rejected legal-but-exotic headers. The Long arithmetic is
        * exact through z = 31 (the largest run any conformant field
        * can code); beyond that only a malformed all-zero run
        * remains, and throwing keeps it out of the w/h > 0 guards. */
      def ueLong(): Long = {
        var z = 0
        while (u1() == 0) {
          z += 1
          if (z > 31) throw new IllegalArgumentException("exp-Golomb run")
        }
        ((1L << z) - 1L) + (if (z == 0) 0L else u(z).toLong)
      }
      /** ue() with the per-field check replacing the old global cap:
        * every ue field a dimension parse reads is spec-capped far
        * below Int range, so a larger decode is malformed. */
      def ue(): Int = {
        val v = ueLong()
        if (v > Int.MaxValue) throw new IllegalArgumentException("ue range")
        v.toInt
      }
      def se(): Int = {
        val k = ueLong()
        val v = if ((k & 1L) == 1L) (k >> 1) + 1L else -(k >> 1)
        if (v > Int.MaxValue || v < Int.MinValue)
          throw new IllegalArgumentException("se range")
        v.toInt
      }
    }

    /** Spec sanity cap for dimension-bearing ue fields (pixel or MB
      * counts): no conformant stream exceeds 2¹⁶ in any of them, and
      * capping keeps all downstream ×16/crop arithmetic inside Int. */
    private def dim(v: Int): Int =
      if (v < 0 || v > 65536)
        throw new IllegalArgumentException("dimension field range")
      else v

    /** RBSP extraction: strip `00 00 03` emulation-prevention
      * sequences from the NAL payload after `headerBytes`. */
    private def rbspOf(nal: Array[Byte], headerBytes: Int): Array[Byte] = {
      val out = new scala.collection.mutable.ArrayBuffer[Byte](nal.length)
      var i = headerBytes
      while (i < nal.length) {
        if (i + 2 < nal.length && nal(i) == 0 && nal(i + 1) == 0 &&
            nal(i + 2) == 3) {
          out += 0; out += 0; i += 3
        } else { out += nal(i); i += 1 }
      }
      out.toArray
    }

    /** Skip one scaling_list() (ISO/IEC 14496-10 §7.3.2.1.1.1). */
    private def skipScalingList(r: BitReader, size: Int): Unit = {
      var last = 8; var next = 8; var j = 0
      while (j < size) {
        if (next != 0) next = ((last + r.se()) % 256 + 256) % 256
        if (next != 0) last = next
        j += 1
      }
    }

    /** Profiles whose SPS carries the chroma/bit-depth/scaling block
      * (§7.3.2.1.1 `if(profile_idc == …)` list). */
    private val HighProfiles =
      Set(100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135)

    /** H.264 sequence-parameter-set dimension parse (ISO/IEC 14496-10
      * §7.3.2.1.1): the coded frame size straight from the bitstream
      * header, no decoder — width/height in macroblock units minus the
      * frame-cropping rectangle in chroma-dependent crop units
      * (§7.4.2.1.1: CropUnitX = SubWidthC, CropUnitY = SubHeightC ×
      * (2 − frame_mbs_only_flag); monochrome uses 1 / (2 − fmo)).
      * Input is the raw SPS NAL (header byte included); emulation-
      * prevention 00 00 03 sequences are stripped before bit parsing.
      * None for malformed/truncated bits. */
    private[pipeline] def spsDims(nal: Array[Byte]): Option[(Int, Int)] = {
      if (nal.length < 4 || (nal(0) & 0x1f) != 7) return None
      val rbsp = rbspOf(nal, 1)
      try {
        val r = new BitReader(rbsp)
        val profileIdc = r.u(8)
        r.u(16) // constraint flags + level_idc
        r.ue() // seq_parameter_set_id
        var chromaFormatIdc = 1
        if (HighProfiles.contains(profileIdc)) {
          chromaFormatIdc = r.ue()
          if (chromaFormatIdc == 3) r.u1() // separate_colour_plane_flag
          r.ue(); r.ue() // bit_depth_{luma,chroma}_minus8
          r.u1() // qpprime_y_zero_transform_bypass_flag
          if (r.u1() == 1) {
            val lists = if (chromaFormatIdc == 3) 12 else 8
            var i = 0
            while (i < lists) {
              if (r.u1() == 1) skipScalingList(r, if (i < 6) 16 else 64)
              i += 1
            }
          }
        }
        r.ue() // log2_max_frame_num_minus4
        val pocType = r.ue()
        if (pocType == 0) r.ue()
        else if (pocType == 1) {
          r.u1(); r.se(); r.se()
          val n = r.ue()
          var i = 0
          while (i < n) { r.se(); i += 1 }
        }
        r.ue() // max_num_ref_frames
        r.u1() // gaps_in_frame_num_value_allowed_flag
        val widthMbs = dim(r.ue()) + 1
        val heightMapUnits = dim(r.ue()) + 1
        val frameMbsOnly = r.u1()
        if (frameMbsOnly == 0) r.u1() // mb_adaptive_frame_field_flag
        r.u1() // direct_8x8_inference_flag
        var cl = 0; var cr = 0; var ct = 0; var cb = 0
        if (r.u1() == 1) {
          cl = dim(r.ue()); cr = dim(r.ue())
          ct = dim(r.ue()); cb = dim(r.ue())
        }
        val (subW, subH) = chromaFormatIdc match {
          case 0 => (1, 1)
          case 1 => (2, 2)
          case 2 => (2, 1)
          case _ => (1, 1)
        }
        val w = widthMbs * 16 - subW * (cl + cr)
        val h = (2 - frameMbsOnly) * heightMapUnits * 16 -
          subH * (2 - frameMbsOnly) * (ct + cb)
        if (w > 0 && h > 0) Some((w, h)) else None
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** First SPS out of an `avcC` (AVCDecoderConfigurationRecord,
      * ISO/IEC 14496-15 §5.2.4.1): fixed 6-byte head, then
      * numSPS (low 5 bits) × (u16 length + NAL bytes). */
    private def avcCSps(b: Array[Byte], as: Int, ae: Int)
        : Option[Array[Byte]] = {
      if (as + 8 > ae || (b(as + 5) & 0x1f) < 1) None
      else {
        val len = u16(b, as + 6)
        if (len < 1 || as + 8 + len > ae) None
        else Some(java.util.Arrays.copyOfRange(b, as + 8, as + 8 + len))
      }
    }

    /** HEVC sequence-parameter-set dimension parse (ISO/IEC 23008-2
      * §7.3.2.2.1): `pic_width/height_in_luma_samples` minus the
      * conformance window in chroma-dependent units (§7.4.3.2.1:
      * SubWidthC = 2 for 4:2:0/4:2:2 else 1, SubHeightC = 2 for
      * 4:2:0 else 1). Unlike H.264 the coded size is already in luma
      * samples — no macroblock arithmetic — but the parse must first
      * walk the fixed-size profile_tier_level block (§7.3.3: an
      * 88-bit general profile/constraint block + 8-bit level, then
      * per-sub-layer presence flags and repeats). Input is the raw
      * SPS NAL (2-byte HEVC header, type 33); emulation-prevention
      * stripped before bit parsing. None for malformed bits. */
    private[pipeline] def hevcSpsDims(nal: Array[Byte]): Option[(Int, Int)] = {
      if (nal.length < 5 || ((nal(0) >> 1) & 0x3f) != 33) return None
      val rbsp = rbspOf(nal, 2)
      try {
        val r = new BitReader(rbsp)
        r.u(4) // sps_video_parameter_set_id
        val maxSub = r.u(3) // sps_max_sub_layers_minus1
        r.u1() // sps_temporal_id_nesting_flag
        // profile_tier_level(1, maxSub): 88-bit general block
        // (space/tier/idc 8 + compat 32 + constraint 48) + level 8
        r.u(32); r.u(32); r.u(24); r.u(8)
        if (maxSub > 0) {
          val profPresent = new Array[Boolean](maxSub)
          val levelPresent = new Array[Boolean](maxSub)
          var i = 0
          while (i < maxSub) {
            profPresent(i) = r.u1() == 1
            levelPresent(i) = r.u1() == 1
            i += 1
          }
          var j = maxSub
          while (j < 8) { r.u(2); j += 1 } // reserved_zero_2bits
          i = 0
          while (i < maxSub) {
            if (profPresent(i)) { r.u(32); r.u(32); r.u(24) }
            if (levelPresent(i)) r.u(8)
            i += 1
          }
        }
        r.ue() // sps_seq_parameter_set_id
        val chroma = r.ue()
        if (chroma == 3) r.u1() // separate_colour_plane_flag
        val w0 = dim(r.ue()) // pic_width_in_luma_samples
        val h0 = dim(r.ue()) // pic_height_in_luma_samples
        var cl = 0; var cr = 0; var ct = 0; var cb = 0
        if (r.u1() == 1) { // conformance_window_flag
          cl = dim(r.ue()); cr = dim(r.ue())
          ct = dim(r.ue()); cb = dim(r.ue())
        }
        val subW = if (chroma == 1 || chroma == 2) 2 else 1
        val subH = if (chroma == 1) 2 else 1
        val w = w0 - subW * (cl + cr)
        val h = h0 - subH * (ct + cb)
        if (w > 0 && h > 0) Some((w, h)) else None
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** First SPS NAL out of an `hvcC`
      * (HEVCDecoderConfigurationRecord, ISO/IEC 14496-15 §8.3.3.1):
      * 22-byte fixed head + `numOfArrays`, then per array a NAL-type
      * byte (low 6 bits), u16 NAL count, and count × (u16 length +
      * NAL bytes); SPS arrays carry type 33. */
    private def hvcCSps(b: Array[Byte], as: Int, ae: Int)
        : Option[Array[Byte]] = {
      if (as + 23 > ae) return None
      var arrays = b(as + 22) & 0xff
      var p = as + 23
      while (arrays > 0 && p + 3 <= ae) {
        val nalType = b(p) & 0x3f
        var n = u16(b, p + 1)
        p += 3
        while (n > 0) {
          if (p + 2 > ae) return None
          val len = u16(b, p)
          if (len < 1 || p + 2 + len > ae) return None
          if (nalType == 33)
            return Some(java.util.Arrays.copyOfRange(b, p + 2, p + 2 + len))
          p += 2 + len
          n -= 1
        }
        arrays -= 1
      }
      None
    }

    private def u16(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
    private def u32(b: Array[Byte], i: Int): Long =
      (u16(b, i).toLong << 16) | u16(b, i + 2).toLong
    private def u64(b: Array[Byte], i: Int): Long =
      (u32(b, i) << 32) | u32(b, i + 4)
    private def fourcc(b: Array[Byte], i: Int): String =
      if (i + 4 <= b.length) new String(b, i, 4, "US-ASCII") else ""

    /** Iterate child boxes of b[from, until) as (type, payloadStart,
      * payloadEnd); handles size==1 (64-bit largesize) and size==0
      * (extends to the container's end). */
    private def boxes(b: Array[Byte], from: Int, until: Int)
        : Iterator[(String, Int, Int)] = new Iterator[(String, Int, Int)] {
      private var pos = from
      def hasNext: Boolean = pos + 8 <= until
      def next(): (String, Int, Int) = {
        val size = u32(b, pos)
        val id = fourcc(b, pos + 4)
        val (hdr, boxEnd) =
          if (size == 0L) (8, until.toLong)
          else if (size == 1L && pos + 16 <= until)
            (16, pos + u64(b, pos + 8))
          else (8, pos + size)
        val end = math.min(until.toLong, math.max(pos + hdr, boxEnd)).toInt
        val out = (id, pos + hdr, end)
        pos = end
        out
      }
    }
    private def find(b: Array[Byte], from: Int, until: Int, id: String)
        : Option[(Int, Int)] =
      boxes(b, from, until).collectFirst { case (`id`, s, e) => (s, e) }

    private final case class Trak(handler: String, tkhdW: Int, tkhdH: Int,
        stbl: Option[(Int, Int)])

    private def parseTrak(b: Array[Byte], s: Int, e: Int): Trak = {
      val (tw, th) = find(b, s, e, "tkhd").map { case (ts, te) =>
        // v0: ver/flags 4 + times 8 + id 4 + res 4 + dur 4 + res 8 +
        // layer/group/volume/res 8 + matrix 36 = width at 76; v1 adds
        // 12 (64-bit creation/modification/duration)
        val off = if (ts < te && b(ts) == 1) 88 else 76
        if (ts + off + 8 <= te)
          ((u32(b, ts + off) >> 16).toInt, (u32(b, ts + off + 4) >> 16).toInt)
        else (0, 0)
      }.getOrElse((0, 0))
      val mdia = find(b, s, e, "mdia")
      val handler = mdia.flatMap { case (ms, me) =>
        find(b, ms, me, "hdlr").map { case (hs, he) =>
          if (hs + 12 <= he) fourcc(b, hs + 8) else ""
        }
      }.getOrElse("")
      val stbl = mdia
        .flatMap { case (ms, me) => find(b, ms, me, "minf") }
        .flatMap { case (ns, ne) => find(b, ns, ne, "stbl") }
      Trak(handler, tw, th, stbl)
    }

    /** Per-sample (offset, size): walk stsc's (firstChunk,
      * samplesPerChunk) runs over stco/co64 chunk starts, advancing
      * inside each chunk by the stsz sizes — the standard ISO-BMFF
      * sample-addressing recipe. Absent stsc ⇒ one sample per chunk. */
    private def sampleTable(b: Array[Byte], s: Int, e: Int)
        : Vector[(Long, Int)] = {
      val sizes: Vector[Long] = find(b, s, e, "stsz").map { case (zs, ze) =>
        if (zs + 12 > ze) Vector.empty[Long]
        else {
          val fixed = u32(b, zs + 4)
          val n = u32(b, zs + 8).toInt
          // fixed-size branch: sample_count is attacker-controlled and
          // has no table to bound it (the variable branch is bounded
          // by takeWhile against the box end), so cap it by the bytes
          // that could actually hold n samples of `fixed` bytes —
          // otherwise a ~200-byte crafted stsz with count 2^31-1
          // allocates a multi-GB Vector and OOMs the executor (an
          // Error, NOT caught by parse()'s NonFatal fallback)
          if (fixed != 0L) Vector.fill(math.max(0L, math.min(n.toLong,
            b.length.toLong / fixed)).toInt)(fixed)
          else (0 until n).iterator
            .map(i => zs + 12 + 4L * i)
            .takeWhile(_ + 4 <= ze)
            .map(o => u32(b, o.toInt)).toVector
        }
      }.getOrElse(Vector.empty)
      val chunks: Vector[Long] =
        find(b, s, e, "stco").map { case (cs, ce) =>
          val n = if (cs + 8 <= ce) u32(b, cs + 4).toInt else 0
          (0 until n).iterator.map(i => cs + 8 + 4L * i)
            .takeWhile(_ + 4 <= ce).map(o => u32(b, o.toInt)).toVector
        }.orElse(find(b, s, e, "co64").map { case (cs, ce) =>
          val n = if (cs + 8 <= ce) u32(b, cs + 4).toInt else 0
          (0 until n).iterator.map(i => cs + 8 + 8L * i)
            .takeWhile(_ + 8 <= ce).map(o => u64(b, o.toInt)).toVector
        }).getOrElse(Vector.empty)
      // stsc runs: (firstChunk 1-based, samplesPerChunk)
      val runs: Vector[(Int, Int)] = find(b, s, e, "stsc").map {
        case (ss, se) =>
          val n = if (ss + 8 <= se) u32(b, ss + 4).toInt else 0
          (0 until n).iterator.map(i => ss + 8 + 12L * i)
            .takeWhile(_ + 12 <= se)
            .map(o => (u32(b, o.toInt).toInt, u32(b, o.toInt + 4).toInt))
            .toVector
      }.getOrElse(Vector.empty)
      // active samples-per-chunk via a two-pointer walk over the runs
      // (chunk index only ever advances, so this is the linear form of
      // `runs.takeWhile(_._1 <= chunk1).last` — the old per-chunk
      // takeWhile rescan was O(chunks × runs), minutes of CPU on a
      // legal one-run-per-chunk file with ~100k chunks)
      val out = Vector.newBuilder[(Long, Int)]
      var sample = 0
      var c = 0
      var ri = 0
      var spc = 1
      while (c < chunks.length && sample < sizes.length) {
        var off = chunks(c)
        var k = 0
        while (ri < runs.length && runs(ri)._1 <= c + 1) {
          spc = runs(ri)._2; ri += 1
        }
        while (k < spc && sample < sizes.length) {
          out += ((off, sizes(sample).toInt))
          off += sizes(sample)
          sample += 1
          k += 1
        }
        c += 1
      }
      out.result()
    }

    /** Full container probe; None for non-BMFF / malformed payloads. */
    def parse(b: Array[Byte]): Option[Mp4Info] = {
      if (b.length < 16 || fourcc(b, 4) != "ftyp") return None
      try {
        val (ms, me) = find(b, 0, b.length, "moov").getOrElse(return None)
        val durationSec = find(b, ms, me, "mvhd").map { case (vs, ve) =>
          if (vs < ve && b(vs) == 1 && vs + 32 <= ve) {
            val scale = u32(b, vs + 20); val dur = u64(b, vs + 24)
            if (scale > 0) dur.toDouble / scale else 0.0
          } else if (vs + 20 <= ve) {
            val scale = u32(b, vs + 12); val dur = u32(b, vs + 16)
            if (scale > 0) dur.toDouble / scale else 0.0
          } else 0.0
        }.getOrElse(0.0)
        val traks = boxes(b, ms, me)
          .collect { case ("trak", s, e) => parseTrak(b, s, e) }.toVector
        val video = traks.find(_.handler == "vide")
        // first stsd sample entry: (entryStart, entryEnd) — ver/flags 4
        // + entryCount 4, then the entry box (size 4 + format 4 + …)
        val stsdEntry = video.flatMap(_.stbl).flatMap { case (ss, se) =>
          find(b, ss, se, "stsd").flatMap { case (ds, de) =>
            val entry = ds + 8
            if (entry + 8 <= de) {
              val size = u32(b, entry).toInt
              Some((entry, math.min(de, entry + math.max(8, size))))
            } else None
          }
        }
        // SampleEntry 8 + VisualSampleEntry pre_defined/reserved 16 →
        // coded width/height u16s at +32 from the entry box start
        val stsdDims = stsdEntry.collect {
          case (entry, de) if entry + 36 <= de =>
            (u16(b, entry + 32), u16(b, entry + 34))
        }
        // child boxes (avcC/hvcC, pasp, …) follow the fixed 86-byte
        // VisualSampleEntry; the first SPS of an avcC (H.264) or
        // hvcC (HEVC) carries the authoritative coded dimensions —
        // no decoder needed
        val sps = stsdEntry.flatMap { case (entry, de) =>
          if (entry + 86 >= de) None
          else find(b, entry + 86, de, "avcC")
            .flatMap { case (as, ae) => avcCSps(b, as, ae) }
            .flatMap(spsDims)
            .orElse(find(b, entry + 86, de, "hvcC")
              .flatMap { case (as, ae) => hvcCSps(b, as, ae) }
              .flatMap(hevcSpsDims))
        }
        val (w, h) = sps.orElse(stsdDims)
          .orElse(video.collect { case t if t.tkhdW > 0 => (t.tkhdW, t.tkhdH) })
          .getOrElse((0, 0))
        val samples = video.flatMap(_.stbl)
          .map { case (ss, se) => sampleTable(b, ss, se) }
          .getOrElse(Vector.empty)
        Some(Mp4Info(durationSec, traks.length, w, h, samples,
          sps.fold(0)(_._1), sps.fold(0)(_._2)))
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    override def dimensions(content: Array[Byte]): (Int, Int, Int) =
      parse(content) match {
        case Some(info) if info.width > 0 =>
          (info.width, info.height, math.max(1, info.nTracks))
        case _ => StubCodec.dimensions(content)
      }
  }

  /** Default codec: sniff the container and dispatch — RIFF/WAVE bytes
    * to [[WavCodec]], ISO-BMFF (`ftyp`) to [[Mp4Codec]], anything else
    * to [[ImageIoCodec]] (which itself falls back to [[StubCodec]] for
    * undecodable payloads). One codec value serves mixed-media batches
    * without per-kind branching in the operators. */
  object AutoCodec extends Codec {
    private def isWav(b: Array[Byte]): Boolean =
      b.length >= 12 &&
        b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'
    private def isBmff(b: Array[Byte]): Boolean =
      b.length >= 12 &&
        b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p'
    private def pick(b: Array[Byte]): Codec =
      if (isWav(b)) WavCodec
      else if (isBmff(b)) Mp4Codec
      else ImageIoCodec
    override def dimensions(content: Array[Byte]): (Int, Int, Int) =
      pick(content).dimensions(content)
    override def resample(content: Array[Byte], w: Int, h: Int,
        tw: Int, th: Int): Array[Byte] =
      pick(content).resample(content, w, h, tw, th)
  }

  /** Spread heavy blobs evenly before CPU-bound work: hash-partition
    * on mediaId (narrow round-robin would break mapPartitions
    * determinism in tests; hash keeps placement stable). */
  def spread(ds: Dataset[MediaFile], partitions: Int): Dataset[MediaFile] =
    ds.repartition(partitions, col("mediaId"))

  /** Decode batch operator: one codec call per row, per partition. */
  def decode(ds: Dataset[MediaFile],
      codec: Codec = AutoCodec): Dataset[Decoded] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { m =>
        val (w, h, c) = codec.dimensions(m.content)
        Decoded(m.mediaId, m.kind, w, h, c, m.content.length.toLong)
      }
    }
  }

  /** Feature extraction: 16-bin byte histogram + Shannon entropy —
    * real, deterministic byte math (the stand-in for an embedding
    * model's preprocessing stage). */
  def features(ds: Dataset[MediaFile]): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { m =>
        val counts = new Array[Long](16)
        var i = 0
        while (i < m.content.length) {
          counts((m.content(i) & 0xff) >>> 4) += 1
          i += 1
        }
        val n = math.max(1L, m.content.length.toLong)
        val hist = counts.map(_.toDouble / n)
        val entropy = -hist.filter(_ > 0)
          .map(p => p * math.log(p) / math.log(2.0)).sum
        MediaFeatures(m.mediaId, m.content.length.toLong, entropy, hist)
      }
    }
  }

  /** A 64-bit perceptual image hash row. */
  final case class MediaHash(mediaId: Long, phash: Long)

  /** dHash geometry: the luminance grid is (DHashCols+1) × DHashRows
    * and each bit is one horizontal gradient sign — 8×8 = 64 bits,
    * the standard difference-hash layout (Krawetz, "Kind of Like
    * That", 2013). FROZEN: parameterizes every stored image hash. */
  private val DHashCols = 8
  private val DHashRows = 8

  /** 64-bit difference hash (dHash) of an image payload: decode
    * (JDK `javax.imageio` — PNG/JPEG/GIF/BMP), bilinear-downscale to
    * a 9×8 luminance grid, then bit k = "pixel (x,y) darker than its
    * right neighbor". Robust to resize/recompress (the downscale
    * collapses codec noise; gradient signs survive quality loss),
    * which is exactly the multimodal-corpus near-dup signal a byte
    * hash (td05's md5) cannot see. Luma is the integer BT.601 form
    * ((299R + 587G + 114B) / 1000) — no float, so the bit pattern is
    * deterministic for a given decoded raster. None for bytes no
    * installed reader decodes (audio/video/corrupt payloads): a
    * perceptual hash of undecodable bytes would be noise, and the
    * caller's flatMap drops the row instead of poisoning a bucket. */
  def dHash64(content: Array[Byte]): Option[Long] = {
    val decoded =
      try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content)))
      catch { case scala.util.control.NonFatal(_) => None }
    decoded.map { src =>
      val dst = new java.awt.image.BufferedImage(
        DHashCols + 1, DHashRows, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = dst.createGraphics()
      try {
        g.setRenderingHint(
          java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(src, 0, 0, DHashCols + 1, DHashRows, null)
      } finally g.dispose()
      def luma(x: Int, y: Int): Int = {
        val px = dst.getRGB(x, y)
        (((px >> 16) & 0xff) * 299 + ((px >> 8) & 0xff) * 587 +
          (px & 0xff) * 114) / 1000
      }
      var bits = 0L
      var b = 0
      var y = 0
      while (y < DHashRows) {
        var x = 0
        while (x < DHashCols) {
          if (luma(x, y) < luma(x + 1, y)) bits |= 1L << b
          b += 1
          x += 1
        }
        y += 1
      }
      bits
    }
  }

  /** Perceptual-hash batch operator: one decode per row, per
    * partition (blobs stay put — [[spread]] first for CPU balance);
    * undecodable payloads drop out rather than fail the task, the
    * [[decode]] contract. Output is 16 bytes/row however large the
    * input blobs: the frame every downstream shuffle actually moves. */
  def perceptualHash(ds: Dataset[MediaFile]): Dataset[MediaHash] =
    hashBy(ds, dHash64)

  /** A hasher made TOTAL over messy corpus rows: a null payload
    * (nullable binary column) or any per-row decode throw counts as
    * undecodable (None) instead of failing the task — the
    * drop-per-row contract must hold even for rows the codecs never
    * anticipated (dHash64 catches its own decode errors; the
    * WAV/MP4 parsers would NPE on null). Shared by the batch hash
    * operators, [[decodeCoverage]] and the streaming media gates. */
  private[graft] def safeHash(hasher: Array[Byte] => Option[Long],
      content: Array[Byte]): Option[Long] =
    if (content == null) None
    else try hasher(content)
    catch { case scala.util.control.NonFatal(_) => None }

  /** Shared hash-operator body: one decode per row, per partition;
    * undecodable payloads drop per-row (each hasher's contract). */
  private def hashBy(ds: Dataset[MediaFile],
      hasher: Array[Byte] => Option[Long]): Dataset[MediaHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap(m =>
      safeHash(hasher, m.content).map(MediaHash(m.mediaId, _))))
  }

  /** Shared near-dup body: cached 64-bit hash frame through the
    * signature-agnostic td08 sorted-run scan. The hash frame is
    * cached because decoding is the expensive step: uncached, EVERY
    * blob would be decoded and hashed again by each action on the
    * pairs (and by every near-dup call on the same corpus); one
    * hash pass per (session, corpus) is the contract, and
    * [[graft.SessionCache.invalidate]] drops the entries. The cache is
    * keyed on (input corpus plan, hasher tag), NOT on the hash frame's own
    * plan: `hashBy`'s mapPartitions closure is a fresh object per
    * call, so hash-frame plans never compare equal across invocations
    * and a plan-keyed entry would never hit — every call re-decoding
    * all blobs and pinning one more cached copy (the r17 advice
    * finding). With the corpus-plan key, two `nearDupImages` calls on
    * the same corpus share one decode pass (MultimodalSpec pins the
    * entry count). */
  private def nearDupBy(ds: Dataset[MediaFile], tag: String,
      hasher: Array[Byte] => Option[Long]): org.apache.spark.sql.DataFrame =
    graft.queries.TextPipeline.simHashPairsOf(
      graft.SessionCache.keyed(ds.toDF(), tag)(
        hashBy(ds, hasher).toDF("doc_id", "simhash")))
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
        col("hamming"))

  /** Image near-dup pairs: dHash signatures through the td08 SimHash
    * banding/Hamming machinery VERBATIM
    * ([[graft.queries.TextPipeline.simHashPairsOf]] — block-pair
    * sorted-run scan, Hamming ≤ 7 exact filter; the machinery is
    * signature-agnostic, so
    * every scale property pinned for td08 carries over). Same image
    * resized/recompressed lands within a few gradient-sign flips →
    * collides; distinct images differ in ~32 expected bits → never
    * within 7. Blobs never cross the shuffle: only (mediaId, phash)
    * rows enter the banding. */
  def nearDupImages(ds: Dataset[MediaFile]): org.apache.spark.sql.DataFrame =
    nearDupBy(ds, "image_dhash", dHash64)

  /** aHash window count: energies over ([[AHashBits]]+1) equal time
    * windows give [[AHashBits]] delta-sign bits — the audio analogue
    * of the dHash grid. FROZEN like the dHash geometry. */
  private val AHashBits = 64

  /** 64-bit audio energy hash (aHash) of a PCM WAV payload: mean
    * |sample| of the FIRST channel over 65 equal time windows, bit k
    * = "window k quieter than window k+1". The signature the image
    * dHash's gradient-sign idea induces on a waveform:
    *  - GAIN-invariant (a uniform volume change scales every window
    *    mean together, preserving each comparison up to rounding);
    *  - RESAMPLE-robust (windows are time-proportional, so
    *    frame decimation — [[WavCodec.resample]]'s transform — keeps
    *    each window over the same audio region);
    * while a byte hash (td05) sees any re-encode as a brand-new file.
    * Exact integer arithmetic (Σ|s16| and integer mean), so the bit
    * pattern is deterministic. None for: non-RIFF bytes, non-16-bit
    * PCM, or fewer frames than windows (too short to fingerprint) —
    * the [[dHash64]] drop-per-row contract. */
  def aHash64(content: Array[Byte]): Option[Long] =
    WavCodec.parse(content).flatMap {
      case (off, dataSize, blockAlign, _, channels) =>
        val bitsPerSample = 8 * blockAlign / math.max(1, channels)
        val frames = dataSize / blockAlign
        if (bitsPerSample != 16 || frames < AHashBits + 1) None
        else {
          val energy = new Array[Long](AHashBits + 1)
          var w = 0
          while (w < AHashBits + 1) {
            val f0 = (w.toLong * frames / (AHashBits + 1)).toInt
            val f1 = ((w + 1).toLong * frames / (AHashBits + 1)).toInt
            var sum = 0L
            var f = f0
            while (f < f1) {
              val i = off + f * blockAlign
              val s = ((content(i) & 0xff) | (content(i + 1) << 8)).toShort
              sum += math.abs(s.toLong)
              f += 1
            }
            energy(w) = if (f1 > f0) sum / (f1 - f0) else 0L
            w += 1
          }
          var bits = 0L
          var k = 0
          while (k < AHashBits) {
            if (energy(k) < energy(k + 1)) bits |= 1L << k
            k += 1
          }
          Some(bits)
        }
    }

  /** vHash frame budget: evenly-spaced samples voted per bit. */
  private val VHashFrames = 4

  /** 64-bit video perceptual hash: [[dHash64]] of up to
    * [[VHashFrames]] evenly-spaced REAL samples from the container's
    * sample table (the [[sampleFrames]] addressing), combined by
    * per-bit MAJORITY vote — the SimHash idea over frames, so one
    * corrupt or atypical frame cannot flip the signature. Decodable
    * today for MJPEG tracks (each sample is a complete JPEG the JDK
    * reads); inter-coded bitstreams (H.264/HEVC) yield no decodable
    * frame and return None — the honest boundary, same as
    * [[sampleFrames]]'s width/height contract. A re-muxed or
    * re-compressed copy keeps its visual frames, so its frame dHashes
    * — and therefore the majority bits — survive, which is exactly
    * what td05's byte hash cannot see. */
  def vHash64(content: Array[Byte]): Option[Long] =
    Mp4Codec.parse(content).flatMap { info =>
      val len = content.length
      val samples = info.samples.filter { case (off, sz) =>
        off >= 0 && sz > 2 && off + sz <= len }
      if (samples.isEmpty) None
      else {
        val n = math.min(VHashFrames, samples.length)
        val hashes = (0 until n).flatMap { f =>
          val (off, sz) = samples((samples.length.toLong * f / n).toInt)
          dHash64(java.util.Arrays.copyOfRange(
            content, off.toInt, off.toInt + sz))
        }
        if (hashes.isEmpty) None
        else {
          var bits = 0L
          var b = 0
          while (b < 64) {
            var votes = 0
            hashes.foreach(h => if (((h >> b) & 1L) == 1L) votes += 1)
            if (votes * 2 > hashes.size) bits |= 1L << b
            b += 1
          }
          Some(bits)
        }
      }
    }

  /** Video-hash batch operator — frame-majority [[vHash64]] per row;
    * containers with no decodable frame drop per-row. */
  def videoHash(ds: Dataset[MediaFile]): Dataset[MediaHash] =
    hashBy(ds, vHash64)

  /** Video near-dup pairs — the fourth modality on the SAME
    * signature-agnostic banding machinery
    * ([[graft.queries.TextPipeline.simHashPairsOf]]) as text SimHash,
    * image dHash and audio aHash. */
  def nearDupVideo(ds: Dataset[MediaFile]): org.apache.spark.sql.DataFrame =
    nearDupBy(ds, "video_vhash", vHash64)

  /** Audio-hash batch operator — [[perceptualHash]]'s waveform
    * sibling; undecodable or too-short payloads drop per-row. */
  def audioHash(ds: Dataset[MediaFile]): Dataset[MediaHash] =
    hashBy(ds, aHash64)

  /** Audio near-dup pairs: [[aHash64]] signatures through the SAME
    * signature-agnostic banding machinery as text SimHash and image
    * dHash ([[graft.queries.TextPipeline.simHashPairsOf]]) — one pair
    * machinery, three modalities. */
  def nearDupAudio(ds: Dataset[MediaFile]): org.apache.spark.sql.DataFrame =
    nearDupBy(ds, "audio_ahash", aHash64)

  /** The kind-appropriate perceptual hasher, if the kind has one. */
  private def hasherFor(kind: String): Option[Array[Byte] => Option[Long]] =
    kind match {
      case "image" => Some(dHash64 _)
      case "audio" => Some(aHash64 _)
      case "video" => Some(vHash64 _)
      case _ => None
    }

  /** Per-kind decode coverage — the LOUD counter that keeps an
    * undecodable corpus from silently skipping dedup: every hash
    * operator here drops payloads its codec cannot parse (inter-coded
    * H.264/HEVC video, non-PCM audio, exotic image formats — each an
    * honest, documented boundary), which is right per-row but
    * invisible per-corpus: a corpus that is 95% H.264 would hash 5%
    * of its videos and the near-dup report would simply be small.
    * One decode attempt per row with the kind-appropriate hasher
    * (unknown kinds count as undecodable), reported as
    * `(kind, n_rows, n_hashed, n_undecodable)` — a curation run
    * asserts `n_undecodable` against its expectations before trusting
    * the pair graphs. The streaming twin is the `decode_coverage`
    * observed metric on every [[graft.streaming.DocStreams]] media
    * gate. */
  def decodeCoverage(ds: Dataset[MediaFile]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { m =>
      (m.kind, hasherFor(m.kind).exists(h => safeHash(h, m.content).isDefined))
    }).toDF("kind", "hashed")
      .groupBy("kind")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("hashed"), 1L).otherwise(0L)).as("n_hashed"),
        sum(when(col("hashed"), 0L).otherwise(1L)).as("n_undecodable"))
      .orderBy("kind")
  }

  /** One keep-list per multimodal corpus — the operator a real
    * curation run actually ends with: the four near-dup pair graphs
    * (text SimHash = td08, image dHash, audio aHash, video vHash)
    * UNION into td09's connected-components machinery and every
    * document resolves to ONE component; keep = the component's min
    * doc_id. Per-modality keep-lists conflict — a doc whose text dups
    * neighbor A while its image dups neighbor B would survive one
    * list and die on the other; here {doc, A, B} transitively merge
    * and exactly one of them survives (MultimodalSpec plants exactly
    * this cluster).
    *
    * Input: `(doc_id BIGINT, text STRING, image BINARY, audio BINARY,
    * video BINARY)`, nulls = modality absent. A doc with no near-dup
    * pair in any modality keeps trivially (component = itself), so
    * the output is a TOTAL decision over the corpus: `(doc_id,
    * component, keep)`.
    *
    * Scale shape: each modality's pair generation is its existing
    * operator VERBATIM — banded candidate generation, never
    * all-pairs; blobs hash row-locally (only 16 B/row signature
    * frames shuffle, cached per (corpus, modality)); the union is
    * pair-graph-sized (near-dup pairs, not the corpus); components
    * run td09's adaptive driver-union-find / distributed min-label
    * regime; the final label attach is one corpus-sized left join
    * against the paired-node labels (planner's choice — broadcast
    * when the dup graph is small, shuffle at web scale). */
  def unifiedKeepList(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // one projection serves both the cache key and the cached build —
    // they must stay structurally identical for the keyed-cache
    // contract to hold
    val textDocs = docs.where(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val textSig = graft.SessionCache.keyed(textDocs, "text_simhash")(
      graft.queries.TextPipeline.simhashSig(
        TextPrep.shingleHashes(textDocs)
          .withColumn("h2", TextPrep.h32b(col("shingle")))))
    val textPairs = graft.queries.TextPipeline.simHashPairsOf(textSig)
      .select(col("doc_a"), col("doc_b"))
    def media(modality: String): Dataset[MediaFile] =
      docs.where(col(modality).isNotNull)
        .select(col("doc_id").as("mediaId"), lit(modality).as("kind"),
          col(modality).as("content"),
          typedLit(Map.empty[String, String]).as("meta"))
        .as[MediaFile]
    val mediaPairs = Seq(
      nearDupImages(media("image")),
      nearDupAudio(media("audio")),
      nearDupVideo(media("video")))
      .map(_.select(col("media_a").as("doc_a"), col("media_b").as("doc_b")))
    val pairs = (textPairs +: mediaPairs).reduce(_ unionAll _)
    val (labels, _) =
      graft.queries.TextPipeline.connectedComponents(pairs)
    docs.select(col("doc_id"))
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("component"),
        (coalesce(col("root"), col("doc_id")) === col("doc_id")).as("keep"))
      .orderBy("component", "doc_id")
  }

  /** A resized media payload: target dims + the (stub-)resampled bytes. */
  final case class Resized(
      mediaId: Long,
      kind: String,
      width: Int,
      height: Int,
      bytes: Array[Byte])

  /** Resize batch operator: recompute target dimensions preserving
    * aspect ratio, then hand the pixel work to the codec — a real
    * bilinear rescale + PNG re-encode for decodable images
    * ([[ImageIoCodec]]), a deterministic stride subsample otherwise.
    * The dimension math, batch shape and output-size bound are the
    * pipeline contract either way. */
  def resize(ds: Dataset[MediaFile], maxSide: Int = 256,
      codec: Codec = AutoCodec): Dataset[Resized] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { m =>
        val (w, h, _) = codec.dimensions(m.content)
        val scale = math.min(1.0, maxSide.toDouble / math.max(w, h))
        val (tw, th) = (math.max(1, (w * scale).toInt), math.max(1, (h * scale).toInt))
        Resized(m.mediaId, m.kind, tw, th,
          codec.resample(m.content, w, h, tw, th))
      }
    }
  }

  /** Frame sampling for `video` rows. For ISO-BMFF payloads the
    * slices are REAL: [[Mp4Codec]] materializes the video track's
    * per-sample (offset, size) table from stsz/stco/stsc, and
    * `nFrames` evenly-spaced SAMPLES are cut at their actual mdat
    * offsets (each capped at `frameBytes`). When a sample's bitstream
    * is itself a complete JPEG (MJPEG tracks — sniffed by the FFD8
    * SOI marker, which also covers QuickTime `jpeg`/`mjpa` sample
    * entries), the FULL sample is header-decoded through the
    * [[ImageIoCodec]] path and the frame reports its real pixel
    * dimensions; inter-coded codecs (H.264 …) report 0×0 — their
    * frame decode needs a native decoder. Non-BMFF payloads keep the
    * deterministic evenly-spaced byte-stride slices. */
  def sampleFrames(ds: Dataset[MediaFile], nFrames: Int = 4,
      frameBytes: Int = 256): Dataset[Frame] = {
    import ds.sparkSession.implicits._
    ds.filter(_.kind == "video").flatMap { m =>
      val len = m.content.length
      val real = Mp4Codec.parse(m.content)
        .map(_.samples.filter { case (off, sz) =>
          off >= 0 && sz > 0 && off + sz <= len })
        .filter(_.nonEmpty)
      real match {
        case Some(samples) =>
          val n = math.min(nFrames, samples.length)
          (0 until n).iterator.map { f =>
            val (off, sz) = samples((samples.length.toLong * f / n).toInt)
            val isJpeg = sz >= 2 &&
              (m.content(off.toInt) & 0xff) == 0xFF &&
              (m.content(off.toInt + 1) & 0xff) == 0xD8
            val (fw, fh) =
              if (!isJpeg) (0, 0)
              else {
                // Full sample, not the frameBytes cap: a truncated
                // JPEG has no readable header-decode guarantee.
                ImageIoCodec.headerDimensions(
                  java.util.Arrays.copyOfRange(
                    m.content, off.toInt, off.toInt + sz))
                  .map { case (w, h, _) => (w, h) }
                  .getOrElse((0, 0))
              }
            Frame(m.mediaId, f, off, java.util.Arrays.copyOfRange(
              m.content, off.toInt, off.toInt + math.min(sz, frameBytes)),
              fw, fh)
          }
        case None =>
          if (len == 0) Iterator.empty
          else (0 until nFrames).iterator.map { f =>
            val off = (len.toLong * f) / nFrames
            val end = math.min(len.toLong, off + frameBytes).toInt
            Frame(m.mediaId, f, off,
              java.util.Arrays.copyOfRange(m.content, off.toInt, end))
          }
      }
    }
  }

  /** End-to-end stage: spread → decode ⋈ features (narrow, no blob
    * shuffle after the initial spread). */
  def describe(spark: SparkSession, ds: Dataset[MediaFile],
      partitions: Int = 32): DataFrame = {
    val spreadDs = spread(ds, partitions)
    decode(spreadDs).toDF()
      .join(features(spreadDs).toDF().drop("nBytes"), "mediaId")
      .orderBy("mediaId")
  }
}
