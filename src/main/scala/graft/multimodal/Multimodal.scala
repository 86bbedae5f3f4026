package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata.
  *
  * All three modality HEADERS decode for real with zero external jars:
  * images via JDK ImageIO, audio via JDK `javax.sound.sampled`, video
  * containers via a hand-written ISO BMFF box parser ([[decodeVideo]]).
  * Only PIXEL/SAMPLE decode (which genuinely needs a codec library this
  * container doesn't ship) remains behind the clearly-marked
  * [[decodeStub]] fallback. Everything Spark-side is real and tested:
  * the binary column flows, the typed output schema, the per-partition
  * batched iteration (`mapPartitions`, the Scala analogue of
  * `mapInPandas` batch shape), and the partitioning story (payloads stay
  * columnar; metadata is tiny and join-able by key).
  */
object Multimodal {

  final case class MediaMeta(
      doc_id: Long, n_bytes: Long, magic_hex: String,
      width: Int, height: Int, format: String)

  /** REAL image decode via the JDK-bundled `javax.imageio` readers
    * (PNG/JPEG/GIF/BMP ship with the JDK — no external jar). Header-only:
    * reads dimensions from the image metadata without decoding pixels.
    * Returns None when no reader claims the payload (audio/video/opaque
    * bytes — those fall back to [[decodeStub]]).
    */
  // ImageIO defaults to a FILE-backed stream cache — every encode/decode
  // creates and deletes a temp file, serializing executor threads on
  // filesystem metadata (measured: 5.6 s for 5k tiny PNGs at 32 threads,
  // ~0.9 s with the heap cache). Heap-backed is strictly better for the
  // small per-record payloads this path handles.
  javax.imageio.ImageIO.setUseCache(false)

  def decodeImage(bytes: Array[Byte]): Option[(Int, Int, String)] = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(iis, true, true)
          Some((r.getWidth(0), r.getHeight(0),
            r.getFormatName.toLowerCase(java.util.Locale.ROOT)))
        } finally r.dispose()
      }
    } catch { case _: java.io.IOException => None }
    finally if (iis != null) iis.close()
  }

  /** Deterministic tiny solid-color PNG — REAL ImageIO encode. Fixture
    * generators plant these so decoded width/height become oracle-checkable
    * (the dims derive from the doc id, the bytes from an actual encoder).
    */
  def makePng(width: Int, height: Int, rgbSeed: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (rgbSeed & 0xffffffL).toInt
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  final case class AudioMeta(
      doc_id: Long, n_bytes: Long, magic_hex: String,
      sample_rate: Int, channels: Int, bits: Int, n_frames: Long,
      format: String)

  /** REAL audio header decode via the JDK-bundled `javax.sound.sampled`
    * providers (WAV/AIFF/AU readers ship with the JDK — the same
    * zero-external-jar story as ImageIO). Header-only: sample rate,
    * channel count, sample width and frame count come from the RIFF/AIFF
    * header without decoding any PCM. Returns None when no provider
    * claims the payload (video/opaque bytes).
    */
  def decodeAudio(bytes: Array[Byte]): Option[(Int, Int, Int, Long, String)] =
    try {
      val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(bytes))
      val f = aff.getFormat
      Some((f.getSampleRate.toInt, f.getChannels, f.getSampleSizeInBits,
        aff.getFrameLength.toLong, aff.getType.getExtension))
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException => None
    }

  /** Deterministic PCM16 WAV — REAL `javax.sound.sampled` encode (an
    * actual RIFF container written by the JDK's WAVE writer). Fixture
    * generators plant these so the decoded sample-rate/channels/frame
    * count become oracle-checkable facts derived from the doc id.
    */
  def makeWav(sampleRate: Int, channels: Int, nFrames: Int,
              seed: Long): Array[Byte] = {
    val pcm = new Array[Byte](nFrames * 2 * channels)
    var h = seed ^ 0xcbf29ce484222325L
    var i = 0
    while (i < pcm.length) {
      h = h * 6364136223846793005L + 1442695040888963407L
      pcm(i) = (h >>> 56).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, channels, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Typed audio metadata extraction over (doc_id, payload) — same
    * batched per-partition shape as [[extractMeta]], zero shuffle.
    * Payloads no provider recognises surface as (0, 0, 0, -1, unknown)
    * rather than failing the partition.
    */
  def extractAudioMeta(df: DataFrame): Dataset[AudioMeta] = {
    import df.sparkSession.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (sr, ch, bits, frames, fmt) =
            decodeAudio(bytes).getOrElse((0, 0, 0, -1L, "unknown"))
          val magic = bytes.take(4).map(b => f"$b%02X").mkString
          AudioMeta(id, bytes.length.toLong, magic, sr, ch, bits, frames, fmt)
        }
      }
  }

  final case class VideoMeta(
      doc_id: Long, n_bytes: Long, magic_hex: String,
      width: Int, height: Int, timescale: Long, duration_units: Long,
      n_frames: Long, brand: String)

  /** REAL video CONTAINER header decode: a box-walking parser for the
    * published ISO base media file format layout (ISO/IEC 14496-12 —
    * MP4/MOV/3GP family). Header-only, zero codecs: brand from `ftyp`,
    * timescale/duration from `moov/mvhd` (versions 0 and 1), presentation
    * width/height from the first `trak/tkhd` (16.16 fixed point), frame
    * count from `stbl/stts` (sum of sample counts). Returns None when the
    * bytes are not a well-formed box chain containing ftyp+moov.
    *
    * Honesty note (vs the WAV path, where the JDK writer is an
    * independent second implementation): no MP4 muxer ships with the
    * JDK, so the planted fixtures come from [[makeMp4]] below — both
    * sides are this repo's code, written independently against the
    * public box layout. The parser is a GENERIC walker (handles any
    * box order, 64-bit largesize, v0/v1 headers), not a mirror of the
    * muxer's byte offsets.
    */
  def decodeVideo(bytes: Array[Byte]): Option[(Int, Int, Long, Long, Long, String)] = {
    def u16(o: Int): Int = ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)
    def u32(o: Int): Long =
      ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) |
        ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)
    def u64(o: Int): Long = (u32(o) << 32) | u32(o + 4)
    def typ(o: Int): String = new String(bytes, o + 4, 4, "US-ASCII")
    // (start, end) of each child box's BODY plus its type, bounds-checked
    def children(from: Int, until: Int): List[(String, Int, Int)] = {
      var o = from
      var out = List.empty[(String, Int, Int)]
      while (o + 8 <= until) {
        val sz0 = u32(o)
        val (body, end) =
          if (sz0 == 1L && o + 16 <= until) (o + 16, o + u64(o + 8))
          else if (sz0 == 0L) (o + 8, until.toLong) // box runs to end
          else (o + 8, o + sz0)
        if (end < body || end > until) return out.reverse
        out ::= ((typ(o), body, end.toInt))
        o = end.toInt
      }
      out.reverse
    }
    def find(cs: List[(String, Int, Int)], t: String): Option[(Int, Int)] =
      cs.collectFirst { case (`t`, b, e) => (b, e) }
    try {
      val top = children(0, bytes.length)
      for {
        (fb, _) <- find(top, "ftyp")
        (mb, me) <- find(top, "moov")
        moovKids = children(mb, me)
        (vb, _) <- find(moovKids, "mvhd")
        (tb, te) <- find(moovKids, "trak")
        trakKids = children(tb, te)
        (kb, _) <- find(trakKids, "tkhd")
        (db, de) <- find(trakKids, "mdia")
        (nb, ne) <- find(children(db, de), "minf")
        (sb, se) <- find(children(nb, ne), "stbl")
        (xb, _) <- find(children(sb, se), "stts")
      } yield {
        val brand = new String(bytes, fb, 4, "US-ASCII")
        val mvhdV = bytes(vb) & 0xff
        val (timescale, duration) =
          if (mvhdV == 1) (u32(vb + 20), u64(vb + 24))
          else (u32(vb + 12), u32(vb + 16))
        val tkhdV = bytes(kb) & 0xff
        val wOff = if (tkhdV == 1) kb + 88 else kb + 76
        val width = u16(wOff) // 16.16 fixed: integer part
        val height = u16(wOff + 4)
        val nEntries = u32(xb + 4).toInt
        var frames = 0L
        var i = 0
        while (i < nEntries) { frames += u32(xb + 8 + i * 8); i += 1 }
        (width, height, timescale, duration, frames, brand)
      }
    } catch { case _: ArrayIndexOutOfBoundsException => None }
  }

  /** Deterministic minimal-but-genuine MP4 (ISO BMFF): ftyp('isom') +
    * moov(mvhd + trak(tkhd + mdia(mdhd/hdlr/minf(vmhd/dinf/stbl:
    * stsd['mp4v' VisualSampleEntry]/stts/stsc/stsz/stco)))), all boxes to
    * the published layout with correct sizes/versions — fixture twin of
    * [[makePng]]/[[makeWav]] so decoded dims/timescale/duration/frames
    * are oracle-checkable facts derived from the doc id.
    */
  def makeMp4(width: Int, height: Int, timescale: Int, durationUnits: Int,
              nFrames: Int): Array[Byte] = {
    import java.io.{ByteArrayOutputStream, DataOutputStream}
    def box(t: String)(body: DataOutputStream => Unit): Array[Byte] = {
      val b = new ByteArrayOutputStream(); val d = new DataOutputStream(b)
      body(d); d.flush()
      val p = b.toByteArray
      val ob = new ByteArrayOutputStream(); val o = new DataOutputStream(ob)
      o.writeInt(8 + p.length); o.writeBytes(t); o.write(p); o.flush()
      ob.toByteArray
    }
    def matrix(d: DataOutputStream): Unit = {
      Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        .foreach(d.writeInt)
    }
    val ftyp = box("ftyp") { d =>
      d.writeBytes("isom"); d.writeInt(0); d.writeBytes("isom"); d.writeBytes("mp41")
    }
    val mvhd = box("mvhd") { d =>
      d.writeInt(0); d.writeInt(0); d.writeInt(0) // v/flags, creation, mod
      d.writeInt(timescale); d.writeInt(durationUnits)
      d.writeInt(0x00010000); d.writeShort(0x0100); d.writeShort(0) // rate, vol
      d.writeInt(0); d.writeInt(0); matrix(d)
      (0 until 6).foreach(_ => d.writeInt(0)) // pre_defined
      d.writeInt(2) // next_track_ID
    }
    val tkhd = box("tkhd") { d =>
      d.writeInt(7); d.writeInt(0); d.writeInt(0) // v/flags(enabled), times
      d.writeInt(1); d.writeInt(0); d.writeInt(durationUnits) // track, res, dur
      d.writeInt(0); d.writeInt(0) // reserved
      d.writeShort(0); d.writeShort(0); d.writeShort(0); d.writeShort(0)
      matrix(d)
      d.writeInt(width << 16); d.writeInt(height << 16) // 16.16 fixed
    }
    val mdhd = box("mdhd") { d =>
      d.writeInt(0); d.writeInt(0); d.writeInt(0)
      d.writeInt(timescale); d.writeInt(durationUnits)
      d.writeShort(0x55c4); d.writeShort(0) // packed 'und', pre_defined
    }
    val hdlr = box("hdlr") { d =>
      d.writeInt(0); d.writeInt(0); d.writeBytes("vide")
      (0 until 3).foreach(_ => d.writeInt(0)); d.writeByte(0) // empty name
    }
    val vmhd = box("vmhd") { d =>
      d.writeInt(1); d.writeShort(0); (0 until 3).foreach(_ => d.writeShort(0))
    }
    val dinf = box("dinf") { d =>
      d.write(box("dref") { r =>
        r.writeInt(0); r.writeInt(1)
        r.write(box("url ")(u => u.writeInt(1))) // self-contained
      })
    }
    val stsd = box("stsd") { d =>
      d.writeInt(0); d.writeInt(1)
      d.write(box("mp4v") { e => // VisualSampleEntry (no codec config)
        (0 until 6).foreach(_ => e.writeByte(0)); e.writeShort(1) // data_ref
        e.writeShort(0); e.writeShort(0); (0 until 3).foreach(_ => e.writeInt(0))
        e.writeShort(width); e.writeShort(height)
        e.writeInt(0x00480000); e.writeInt(0x00480000) // 72 dpi
        e.writeInt(0); e.writeShort(1) // reserved, frame_count
        (0 until 32).foreach(_ => e.writeByte(0)) // compressorname
        e.writeShort(0x0018); e.writeShort(-1) // depth, pre_defined
      })
    }
    val stts = box("stts") { d =>
      d.writeInt(0); d.writeInt(1)
      d.writeInt(nFrames); d.writeInt(math.max(1, durationUnits / math.max(1, nFrames)))
    }
    val stsc = box("stsc")(d => { d.writeInt(0); d.writeInt(0) })
    val stsz = box("stsz")(d => { d.writeInt(0); d.writeInt(0); d.writeInt(0) })
    val stco = box("stco")(d => { d.writeInt(0); d.writeInt(0) })
    def wrap(t: String, parts: Array[Byte]*): Array[Byte] =
      box(t)(d => parts.foreach(d.write))
    val stbl = wrap("stbl", stsd, stts, stsc, stsz, stco)
    val minf = wrap("minf", vmhd, dinf, stbl)
    val mdia = wrap("mdia", mdhd, hdlr, minf)
    val trak = wrap("trak", tkhd, mdia)
    val moov = wrap("moov", mvhd, trak)
    ftyp ++ moov
  }

  /** Typed video metadata extraction over (doc_id, payload) — same
    * batched per-partition shape as [[extractAudioMeta]], zero shuffle.
    * Unrecognized payloads surface as (0, 0, 0, 0, -1, unknown).
    */
  def extractVideoMeta(df: DataFrame): Dataset[VideoMeta] = {
    import df.sparkSession.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, ts, dur, fr, brand) =
            decodeVideo(bytes).getOrElse((0, 0, 0L, 0L, -1L, "unknown"))
          val magic = bytes.take(4).map(b => f"$b%02X").mkString
          VideoMeta(id, bytes.length.toLong, magic, w, h, ts, dur, fr, brand)
        }
      }
  }

  /** STUB decode — now only the fallback for payloads NO header parser
    * claims (images decode via [[decodeImage]], audio via
    * [[decodeAudio]], video CONTAINERS via [[decodeVideo]]; what remains
    * is genuinely opaque bytes): deterministic fake dims/format. Real
    * deployment: replace body with an actual pixel codec — the signature
    * and everything downstream is unchanged.
    */
  def decodeStub(bytes: Array[Byte]): (Int, Int, String) = {
    var h = 0xcbf29ce484222325L
    var i = 0
    val n = math.min(bytes.length, 64)
    while (i < n) { h ^= bytes(i); h *= 0x100000001b3L; i += 1 }
    val w = 160 + math.floorMod(h, 8L).toInt * 80
    val ht = 120 + math.floorMod(h >>> 8, 8L).toInt * 60
    val formats = Array("png", "jpeg", "webp")
    val fmt = formats(math.floorMod(h >>> 16, 3L).toInt)
    (w, ht, fmt)
  }

  /** Typed metadata extraction over (doc_id, payload) — batched
    * per-partition loop, zero shuffle.
    */
  def extractMeta(df: DataFrame): Dataset[MediaMeta] = {
    import df.sparkSession.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition batched decode loop (the shape a real codec
        // needs); image payloads decode for REAL via javax.imageio,
        // everything else falls back to the deterministic stub
        it.map { case (id, bytes) =>
          val (w, h, fmt) = decodeImage(bytes).getOrElse(decodeStub(bytes))
          val magic = bytes.take(4).map(b => f"$b%02X").mkString
          MediaMeta(id, bytes.length.toLong, magic, w, h, fmt)
        }
      }
  }
}
