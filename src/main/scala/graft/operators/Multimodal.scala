package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A multimodal record: opaque binary payload + typed metadata. */
case class MMRecord(doc_id: Long, data: Array[Byte], mime: String)

/** Features the (stubbed) decoder extracts per record. */
case class MMFeature(doc_id: Long, n_bytes: Long, checksum: Long,
                     head_byte: Long, width_stub: Long)

/** Output of the (stubbed) resize: new payload + before/after metadata. */
case class MMResized(doc_id: Long, orig_bytes: Long, resized_bytes: Long,
                     resized_checksum: Long)

/** One sampled "frame" of a (stubbed) video payload. */
case class MMFrame(doc_id: Long, frame_idx: Long, frame_bytes: Long,
                   frame_checksum: Long)

/** One REAL decoded frame of a GVID video container. */
case class MMVideoFrame(doc_id: Long, frame_idx: Long, width: Long, height: Long,
                        pix_checksum: Long, dhash: Long)

/** Multimodal-column plumbing: treat image/audio/video as opaque `binary`
  * columns with typed metadata and run a per-partition batch
  * decode/feature-extract.
  *
  * The decode step is a STUB (image/audio libs are not in this container):
  * it computes deterministic byte-level features standing in for a real
  * decoder. Everything around it is the real Spark shape — a typed
  * `Dataset[MMRecord]`, `mapPartitions` batch processing (one decoder init
  * per partition, the same shape a JNI/FFmpeg decode would need), and a
  * columnar schema out. At 100 TB this is a single map stage; partition
  * sizing is inherited from the parquet scan.
  */
object Multimodal extends QueryModule {
  import Tables._

  /** Spread a frame to at least the cluster's parallelism before an
    * expensive per-row decode/encode map (r20, guide §2.5 input skew):
    * the payload fixtures (and the sf-scale `documents` table) read back
    * as ONE parquet split — small files pack into a single 128 MB split —
    * which serializes the decode stage on one core (measured: 2.7 s of
    * mm_video_dedup's 5.7 s wall was a single-task decode at cpus=8).
    * No-op when the scan already yields enough splits: a production
    * payload table spans many splits, and §8's rule — never move heavy
    * bytes without need — makes the shuffle pure waste there.
    * Row-preserving, so every downstream answer is unchanged. */
  private def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  private def mmFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val records = t(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("data"),
        lit("application/octet-stream").as("mime"))
      .as[MMRecord]
    records.mapPartitions { it =>
      // one "decoder" init per partition would go here
      it.map { r =>
        val bytes = r.data
        var sum = 0L
        var i = 0
        while (i < bytes.length) { sum += bytes(i) & 0xff; i += 1 }
        MMFeature(r.doc_id, bytes.length.toLong, sum % 1000000007L,
          if (bytes.nonEmpty) (bytes(0) & 0xff).toLong else -1L,
          (bytes.length % 64).toLong)
      }
    }.toDF().orderBy("doc_id")
  }

  private def records(s: SparkSession, dir: String) = {
    import s.implicits._
    t(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("data"),
        lit("application/octet-stream").as("mime"))
      .as[MMRecord]
  }

  /** Stub "resize to half resolution": keep every 2nd byte. The real part
    * is the plumbing — a 1:1 binary→binary batch transform whose output is
    * a new payload column plus typed metadata, the exact shape an image
    * scaler (JNI/library per-partition init) plugs into. */
  private def mmResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    records(s, dir).mapPartitions { it =>
      it.map { r =>
        val bytes = r.data
        val resized = new Array[Byte]((bytes.length + 1) / 2)
        var i = 0
        while (i < resized.length) { resized(i) = bytes(2 * i); i += 1 }
        var sum = 0L
        var j = 0
        while (j < resized.length) { sum += resized(j) & 0xff; j += 1 }
        MMResized(r.doc_id, bytes.length.toLong, resized.length.toLong,
          sum % 1000000007L)
      }
    }.toDF().orderBy("doc_id")
  }

  /** Stub "frame sampling": treat the payload as fixed-[[FrameBytes]]-byte
    * frames and keep every [[FrameStride]]th — the 1:N explode shape of
    * real video frame extraction (row per sampled frame, frame index +
    * per-frame features). */
  private val FrameBytes = 64
  private val FrameStride = 2

  private def mmFrameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    records(s, dir).flatMap { r =>
      val bytes = r.data
      val nFrames = (bytes.length + FrameBytes - 1) / FrameBytes
      (0 until nFrames by FrameStride).map { f =>
        val start = f * FrameBytes
        val end = math.min(start + FrameBytes, bytes.length)
        var sum = 0L
        var i = start
        while (i < end) { sum += bytes(i) & 0xff; i += 1 }
        MMFrame(r.doc_id, f.toLong, (end - start).toLong, sum % 1000000007L)
      }
    }.toDF().orderBy("doc_id", "frame_idx")
  }

  // ---- mm_video_frames (REAL video decode: image-sequence container) -----
  // The JDK ships no inter-frame video codec, but the dominant archival
  // form for training corpora is intra-coded anyway (MJPEG, PNG/frame
  // sequences): a container of independently-decodable frames. GVID is
  // that container — "GVID" magic, u32 frame count, then length-prefixed
  // PNG frames — and this key runs the REAL end-to-end path: parse
  // container → decode every sampled frame through ImageCodec (actual
  // javax.imageio work, not byte arithmetic) → per-frame features (pixel
  // checksum + perceptual dHash). 1:N explode, one map stage over payload
  // splits — the scale shape of real frame extraction. Undecodable-drop
  // posture: a corrupt FRAME drops that frame (the container keeps
  // framing via the length prefix), a corrupt CONTAINER drops the doc.
  private val VideoFrames = 6
  private val VideoStride = 2

  /** One deterministic 32×32 frame of doc `docId`: the synthImage gradient
    * field with a per-frame brightness ramp — temporal continuity like a
    * real clip — plus a per-VIDEO uniform brightness shift (variant =
    * (docId/50) % 10, the synthImage scheme), so videos sharing a pattern
    * are re-graded COPIES: byte-different PNGs with identical gradient
    * signs — the video near-dup signal mm_video_dedup keys on. Exactly
    * reproducible from (docId, frameIdx) so specs can compute expected
    * PIXELS without touching the decode path. */
  private[graft] def synthFrame(docId: Long, frameIdx: Int): java.awt.image.BufferedImage = {
    val pattern = (docId % 50).toInt
    val variant = ((docId / 50) % 10).toInt
    val img = new java.awt.image.BufferedImage(
      32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 32) {
      var x = 0
      while (x < 32) {
        val b = synthFramePixel(pattern, variant, frameIdx, x, y)
        img.setRGB(x, y, (b << 16) | (b << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  /** The gray value of pixel (x, y) in frame `frameIdx` of pattern
    * `pattern`, video variant `variant` — the single source of truth the
    * generator AND the spec's independent expectation share. */
  private[graft] def synthFramePixel(pattern: Int, variant: Int, frameIdx: Int,
                                     x: Int, y: Int): Int = {
    var z = pattern.toLong * 0x9E3779B97F4A7C15L +
      x.toLong * 0xBF58476D1CE4E5B9L + y.toLong * 0x94D049BB133111EBL
    z ^= z >>> 30; z *= 0xBF58476D1CE4E5B9L
    z ^= z >>> 27; z *= 0x94D049BB133111EBL
    z ^= z >>> 31
    // base <= 127, ramp <= 40, shift <= 27: max 194, no clipping — every
    // gradient sign survives both the ramp and the per-video shift
    ((z >>> 16) & 0xff).toInt / 2 + frameIdx * 8 + variant * 3
  }

  /** Deterministic GVID container for a doc: VideoFrames PNG frames.
    * Fault injection for the drop postures: every 97th doc truncates
    * frame 2's payload (undecodable FRAME), every 101st corrupts the
    * magic (undecodable CONTAINER). */
  private[graft] def synthVideo(docId: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(out)
    dos.writeBytes(if (docId % 101 == 0) "XVID" else "GVID")
    dos.writeInt(VideoFrames)
    var f = 0
    while (f < VideoFrames) {
      val png = ImageCodec.encodePng(synthFrame(docId, f))
      val payload =
        if (docId % 97 == 0 && f == 2) java.util.Arrays.copyOf(png, 11)
        else png
      dos.writeInt(payload.length)
      dos.write(payload)
      f += 1
    }
    dos.flush()
    out.toByteArray
  }

  /** The pluggable container→frames decode seam. mm_video_frames /
    * mm_video_dedup(_shingle) are decoder-agnostic from here down: they
    * consume (frameIdx, BufferedImage) pairs and never see container
    * bytes. [[GvidDecoder]] (length-prefixed PNG frames — an
    * archival/MJPEG-family form the JDK can decode) is the in-repo
    * reference implementation; a production deployment drops in an
    * ffmpeg/javacv-backed implementation for H.264/VP9 MP4 here — same
    * `mapPartitions` shape, same drop postures — without touching any
    * operator. Implementations must be Serializable (the instance ships
    * in the task closure) and must DROP undecodable frames and return
    * empty for an unreadable container (the crawled-corpus posture)
    * rather than throw. */
  private[graft] trait VideoDecoder extends Serializable {
    /** Decoded (frameIdx, image) pairs of every sampled frame (stride
      * applied BEFORE decode — never pay for frames the sampler drops);
      * empty for a corrupt/foreign container. */
    def decodeSampled(container: Array[Byte],
                      stride: Int): Iterator[(Int, java.awt.image.BufferedImage)]
  }

  private[graft] object GvidDecoder extends VideoDecoder {
    override def decodeSampled(container: Array[Byte],
                               stride: Int): Iterator[(Int, java.awt.image.BufferedImage)] =
      parseGvid(container).iterator.flatten
        .filter { case (f, _) => f % stride == 0 }
        .flatMap { case (f, payload) =>
          ImageCodec.tryDecode(payload).map(img => (f, img)).iterator
        }
  }

  /** The decoder the video operators run with (GVID in this sandbox). */
  private[graft] val videoDecoder: VideoDecoder = GvidDecoder

  /** Parse a GVID container into its (frameIdx, frameBytes) payloads;
    * None for a corrupt container. */
  private[graft] def parseGvid(bytes: Array[Byte]): Option[Seq[(Int, Array[Byte])]] = {
    if (bytes.length < 8 || new String(bytes, 0, 4, "US-ASCII") != "GVID") return None
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes, 4, bytes.length - 4))
    try {
      val n = in.readInt()
      if (n < 0 || n > 100000) return None
      val frames = Seq.newBuilder[(Int, Array[Byte])]
      var f = 0
      while (f < n) {
        val len = in.readInt()
        if (len < 0 || len > bytes.length) return None
        val payload = new Array[Byte](len)
        in.readFully(payload)
        frames += ((f, payload))
        f += 1
      }
      Some(frames.result())
    } catch {
      case _: java.io.IOException => None
    }
  }

  /** A synthesized payload FIXTURE (production reads a binary column from
    * storage): the payloads `synth(doc_id)` of the corpus's documents
    * materialize ONCE per (session, corpus) into the parquet table `file`
    * under a fresh `graft-<prefix>-` temp dir as (doc_id, `column`), and the operators
    * read them back, so the measured work is decode, not fixture encoding
    * ([[FixtureMemo]]). */
  private final class PayloadFixture(prefix: String, file: String, column: String,
                                     synth: Long => Array[Byte]) {
    private val paths = new FixtureMemo[String](prefix, identity)

    def apply(s: SparkSession, dir: String): String = {
      import s.implicits._
      paths(s, dir) { tmp =>
        val path = tmp + s"/$file"
        val payload = synth // the closure ships the function, not this cache
        t(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions(it => it.map(id => (id, payload(id))))
          .toDF("doc_id", column)
          .write.parquet(path)
        path
      }
    }
  }

  // GVID clips: the measured work is parse + sampled decode
  private val videoFixtures = new PayloadFixture("gvid", "videos.parquet", "video", synthVideo)

  private[graft] def videoFixture(s: SparkSession, dir: String): String = videoFixtures(s, dir)

  private def mmVideoFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val decoder = videoDecoder
    spread(s.read.parquet(videoFixture(s, dir)))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.flatMap { case (id, video) =>
        decoder.decodeSampled(video, VideoStride).map { case (f, img) =>
          var sum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              sum += img.getRGB(x, y) & 0xff
              x += 1
            }
            y += 1
          }
          MMVideoFrame(id, f.toLong, img.getWidth.toLong, img.getHeight.toLong,
            sum % 1000000007L, dHash(img))
        }
      })
      .toDF().orderBy("doc_id", "frame_idx")
  }

  // ---- real image decode (PNG/BMP/JPEG via javax.imageio) ----------------
  // The gated mm_* keys stay byte-stubbed (a DuckDB oracle cannot decode
  // PNG); these paths are the REAL decoder plugged into the same
  // Dataset[MMRecord] → mapPartitions shape, spec-gated against
  // synthesized images. ImageIO ships with the JDK, needs no native init,
  // and decodes PNG/BMP deterministically (exact-pixel specs) plus JPEG —
  // the dominant crawled format — whose decode is lossy and not
  // bit-specified, so its specs are tolerance-based. Undecodable payloads
  // drop (flatMap), which also covers codec gaps.

  /** Real per-image features: dimensions + per-channel pixel sums in a
    * fixed raster order (exact integers — spec-checkable bit-for-bit). */
  case class MMImageFeature(doc_id: Long, width: Int, height: Int,
                            sum_r: Long, sum_g: Long, sum_b: Long)

  /** Real resize output: new PNG payload + before/after dimensions. */
  case class MMImageResized(doc_id: Long, orig_w: Int, orig_h: Int,
                            width: Int, height: Int, data: Array[Byte])

  private[graft] object ImageCodec {
    /** Decompression-bomb bounds. An image header's declared dimensions are
      * attacker-controlled and `ImageIO.read` allocates the full w*h raster
      * BEFORE validating any pixel data — a 100-byte PNG declaring
      * 50000x50000 would try a 10 GB allocation. Peek the header-declared
      * dimensions with an ImageReader (header-only read) and reject before
      * the raster exists: cap ∝ payload (zlib's max ratio is ~1032:1, so
      * 4096 pixels/byte is generous for any legit image) plus an absolute
      * ceiling so one record can never claim more than ~256 MB of raster. */
    private val MaxPixelsAbs = 64L * 1024 * 1024
    private def pixelCap(payloadBytes: Int): Long =
      math.min(MaxPixelsAbs, 4096L * payloadBytes + 4096L)

    /** Decode with header-declared dimensions validated against the
      * payload-proportional cap before any raster allocation. None for
      * unrecognized formats or over-cap declarations; may still throw on
      * corrupt pixel data mid-read (tryDecode adds the catch). */
    def decode(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] = {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      if (iis == null) return None
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis, true, true)
            val w = reader.getWidth(0).toLong
            val h = reader.getHeight(0).toLong
            if (w < 1 || h < 1 || w * h > pixelCap(bytes.length)) None
            else Option(reader.read(0))
          } finally reader.dispose()
        }
      } finally iis.close()
    }

    /** Decode with the undecodable-drop posture: truncated/corrupt
      * payloads (ImageIO throws, e.g. a cut-off PNG header) become None
      * instead of failing the task. */
    def tryDecode(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try decode(bytes) catch { case _: java.io.IOException | _: RuntimeException => None }

    def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }

    /** Half-resolution nearest-neighbor downsample: output pixel (x, y) =
      * input pixel (2x, 2y). Deterministic integer sampling — no
      * interpolation, no rounding modes to disagree on. */
    def resizeHalf(img: java.awt.image.BufferedImage): java.awt.image.BufferedImage = {
      val w = math.max(1, img.getWidth / 2)
      val h = math.max(1, img.getHeight / 2)
      val out = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { out.setRGB(x, y, img.getRGB(2 * x, 2 * y)); x += 1 }
        y += 1
      }
      out
    }
  }

  /** Decode each record's PNG/BMP payload and emit exact per-channel
    * sums — the real form of mmFeatures' stub. Undecodable payloads are
    * dropped (flatMap), the production posture for a crawled corpus. */
  private[graft] def imageFeatures(records: org.apache.spark.sql.Dataset[MMRecord]): DataFrame = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      // ImageIO is JVM-static: nothing to init per partition, but the
      // plumbing point for a native decoder stays here
      it.flatMap { r =>
        ImageCodec.decode(r.data).map { img =>
          var (sr, sg, sb) = (0L, 0L, 0L)
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val rgb = img.getRGB(x, y)
              sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
              x += 1
            }
            y += 1
          }
          MMImageFeature(r.doc_id, img.getWidth, img.getHeight, sr, sg, sb)
        }
      }
    }.toDF().orderBy("doc_id")
  }

  /** Real binary→binary image transform: decode, half-resolution
    * nearest-neighbor resize, re-encode PNG. Same 1:1 payload+metadata
    * shape as the mmResize stub. */
  private[graft] def imageResize(records: org.apache.spark.sql.Dataset[MMRecord]): DataFrame = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.flatMap { r =>
        ImageCodec.decode(r.data).map { img =>
          val small = ImageCodec.resizeHalf(img)
          MMImageResized(r.doc_id, img.getWidth, img.getHeight,
            small.getWidth, small.getHeight, ImageCodec.encodePng(small))
        }
      }
    }.toDF().orderBy("doc_id")
  }

  // ---- real audio decode (PCM WAV via javax.sound.sampled) ---------------
  // The audio sibling of the ImageIO path: javax.sound ships with the JDK
  // and decodes PCM WAV deterministically (16-bit samples are exact
  // integers — bit-exact specs, unlike lossy JPEG). Same posture: the real
  // codec behind the Dataset[MMRecord] → mapPartitions plumbing,
  // undecodable payloads dropped. Production swaps the codec call for
  // FFmpeg/JNI behind the same per-partition seam.

  /** Real per-clip features: format + exact integer sample statistics in
    * frame order — duration_ms floored, peak = max |sample|, sum_abs the
    * exact absolute-amplitude integral, zero_crossings sign flips on
    * channel 0 (zero counts as non-negative). */
  case class MMAudioFeature(doc_id: Long, channels: Int, sample_rate: Int,
                            n_frames: Long, duration_ms: Long, peak: Long,
                            sum_abs: Long, zero_crossings: Long)

  /** Real 1:1 audio transform output: 2× time-decimated WAV payload. */
  case class MMAudioResampled(doc_id: Long, orig_frames: Long, frames: Long,
                              sample_rate: Int, data: Array[Byte])

  private[graft] object AudioCodec {
    import javax.sound.sampled._

    /** Sanity bounds on header-declared format fields. A crawled-corpus
      * header is attacker-controlled: javax.sound's PCM conversion stream
      * trusts the declared channel count and will SYNTHESIZE output without
      * bound for absurd values (e.g. a flipped fmt-chunk byte declaring
      * 23041 channels wedges `readAllBytes` at 100% CPU forever — no
      * exception, no EOF). Bound every header field before conversion AND
      * cap the decoded byte count ∝ payload size: a 16-bit PCM decode of an
      * N-byte payload can never legitimately exceed ~4N bytes (worst case
      * 8-bit/u-law/a-law source doubling to 16-bit, plus header slack). */
    private val MaxChannels   = 16
    private val MaxSampleRate = 768000f // 16x studio 48k; DSD-rate headroom

    private def decodeCap(payloadBytes: Int): Int = {
      val cap = 4L * payloadBytes + 4096L
      math.min(cap, Int.MaxValue - 16L).toInt
    }

    /** Decode a WAV/AIFF/AU payload to 16-bit PCM: (sampleRate, channels,
      * interleaved samples). None for undecodable/non-PCM-convertible
      * payloads (the crawled-corpus drop posture) — including payloads
      * whose headers declare out-of-bounds formats or whose decoded size
      * exceeds the payload-proportional cap. Bounded: never reads more
      * than decodeCap(bytes.length)+2 bytes from the conversion stream. */
    def decode(bytes: Array[Byte]): Option[(Int, Int, Array[Short])] =
      try {
        val in = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
        try {
          val src = in.getFormat
          val ch = src.getChannels
          val rate = src.getSampleRate
          if (ch < 1 || ch > MaxChannels || !(rate >= 1f) || rate > MaxSampleRate ||
              src.getSampleSizeInBits < 1 || src.getSampleSizeInBits > 64) None
          else {
            val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
              rate, 16, ch, ch * 2, rate, false)
            val pcm = AudioSystem.getAudioInputStream(target, in)
            try {
              val cap = decodeCap(bytes.length)
              // readNBytes is hard-bounded: returns once cap+2 bytes arrive
              // even if the stream would synthesize forever.
              val raw = pcm.readNBytes(cap + 2)
              if (raw.length > cap) None // over-cap → poisoned header, drop
              else {
                val samples = new Array[Short]((raw.length / 2))
                var i = 0
                while (i < samples.length) {
                  samples(i) = ((raw(2 * i) & 0xff) | (raw(2 * i + 1) << 8)).toShort
                  i += 1
                }
                Some((rate.toInt, ch, samples))
              }
            } finally pcm.close()
          }
        } finally in.close()
      } catch { case _: Exception => None }

    /** Encode interleaved 16-bit PCM as a little-endian WAV payload. */
    def encodeWav(sampleRate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
      val raw = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        raw(2 * i) = (samples(i) & 0xff).toByte
        raw(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        sampleRate.toFloat, 16, channels, channels * 2, sampleRate.toFloat, false)
      val stream = new AudioInputStream(new java.io.ByteArrayInputStream(raw),
        fmt, samples.length / channels)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(stream, AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
  }

  /** Decode each record's audio payload and emit exact integer sample
    * stats — the audio form of imageFeatures. Undecodable payloads drop. */
  private[graft] def audioFeatures(records: org.apache.spark.sql.Dataset[MMRecord]): DataFrame = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.flatMap { r =>
        AudioCodec.decode(r.data).map { case (rate, ch, samples) =>
          val nFrames = samples.length / ch
          var peak = 0L
          var sumAbs = 0L
          var zc = 0L
          var i = 0
          var prevNonNeg = true
          while (i < samples.length) {
            val v = samples(i).toLong
            val a = math.abs(v)
            if (a > peak) peak = a
            sumAbs += a
            if (i % ch == 0) { // channel 0 only for crossings
              val nonNeg = v >= 0
              if (i > 0 && nonNeg != prevNonNeg) zc += 1
              prevNonNeg = nonNeg
            }
            i += 1
          }
          MMAudioFeature(r.doc_id, ch, rate, nFrames.toLong,
            nFrames.toLong * 1000L / rate, peak, sumAbs, zc)
        }
      }
    }.toDF().orderBy("doc_id")
  }

  /** Real binary→binary audio transform: decode, 2× time-decimate (keep
    * every other frame — deterministic integer selection, the temporal
    * analog of the nearest-neighbor image half-resize), re-encode WAV. */
  private[graft] def audioResample(records: org.apache.spark.sql.Dataset[MMRecord]): DataFrame = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.flatMap { r =>
        AudioCodec.decode(r.data).map { case (rate, ch, samples) =>
          val frames = samples.length / ch
          val outFrames = (frames + 1) / 2
          val out = new Array[Short](outFrames * ch)
          var f = 0
          while (f < outFrames) {
            var c = 0
            while (c < ch) { out(f * ch + c) = samples(2 * f * ch + c); c += 1 }
            f += 1
          }
          MMAudioResampled(r.doc_id, frames.toLong, outFrames.toLong, rate / 2,
            AudioCodec.encodeWav(rate / 2, ch, out))
        }
      }
    }.toDF().orderBy("doc_id")
  }

  // ---- mm_audio_features (gated) -----------------------------------------
  // End-to-end distributed audio path for the gate: synthesize a
  // deterministic PCM16 WAV per document (pure integer sample formula —
  // no float DSP for engines to disagree on), then run the REAL decode +
  // feature pass over it. Encode and decode both execute on executors
  // inside one mapPartitions batch; rows-only gated (a DuckDB oracle
  // cannot parse WAV), pinned by a driver-side equivalence spec.
  private[graft] def synthSamples(docId: Long): Array[Short] = {
    val n = 200 + (docId % 256).toInt
    Array.tabulate(n)(i => (((docId * 31 + i.toLong * i * 7) % 20001L) - 10000L).toShort)
  }

  private def mmAudioFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val recs = spread(t(s, dir, "documents").select(col("doc_id"))).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          MMRecord(id, AudioCodec.encodeWav(8000, 1, synthSamples(id)), "audio/wav")
        }
      }
    audioFeatures(recs)
  }

  // ---- mm_audio_dedup (audio-side near-dup) ------------------------------
  // Completes the multimodal near-dup family (text / image / video /
  // AUDIO): a re-mastered or re-gained copy of a clip is not a
  // byte-duplicate, but its energy ENVELOPE shape survives. Fingerprint =
  // the dHash idea on the time axis: 129 equal time windows, exact
  // integer energy (sum |sample|) per window, bit i = "energy rises from
  // window i to i+1" compared cross-multiplied by window lengths (no
  // division, no floats). Scaling every sample by a gain scales every
  // window energy by the same factor, so ALL 128 comparisons are
  // preserved — exact gain invariance, the audio analog of dHash's
  // brightness invariance. The 128 bits pack as (sig_h, sig_v) and ride
  // the IDENTICAL banded pipeline as the image signatures (hashPairs:
  // 8×16-bit pigeonhole bands, capped buckets, exact hamming verify) —
  // one fingerprint map stage + the bucket-bounded join at any scale.

  /** 128-bit gain-invariant energy-delta fingerprint of interleaved
    * PCM16 samples; (0, 0) for clips too short to window. */
  private[graft] def audioFingerprint(samples: Array[Short]): (Long, Long) = {
    val W = 129
    val n = samples.length
    if (n < W) return (0L, 0L)
    val sums = new Array[Long](W)
    val cnts = new Array[Long](W)
    var i = 0
    while (i < n) {
      val w = ((i.toLong * W) / n).toInt
      sums(w) += math.abs(samples(i).toLong)
      cnts(w) += 1
      i += 1
    }
    var h = 0L; var v = 0L
    var b = 0
    while (b < 128) {
      if (sums(b + 1) * cnts(b) > sums(b) * cnts(b + 1)) {
        if (b < 64) h |= 1L << b else v |= 1L << (b - 64)
      }
      b += 1
    }
    (h, v)
  }

  // ---- mm_audio_dedup_trim (trim-tolerant audio near-dup) ----------------
  // audioFingerprint's length-relative windows survive re-gaining and
  // uniform time-scaling but NOT trims: a cut shifts every window
  // boundary. The trim posture fixes the window size (256 samples) so a
  // WINDOW-ALIGNED cut shifts the sign sequence by whole positions, then
  // goes position-free the way the video shingle key does — k=16
  // consecutive window-energy signs hash into one shingle, a clip's
  // sorted-distinct shingle set is its identity, and near-dup = exact
  // set Jaccard >= tau, candidates via the TEXT pipeline's own machinery
  // (one-permutation MinHash over the shingle sets → LSH bands → capped
  // buckets → sorted_jaccard verify). Gain invariance carries over
  // (signs of scaled energies); a clip trimmed by t windows keeps all
  // but t shingles, so Jaccard degrades linearly, not catastrophically.
  // 16-sign shingles (65536-point space) keep cross-pattern collisions
  // negligible at ~30 shingles per clip.
  private[graft] val AudioWin = 256
  private[graft] val AudioShingleK = 16
  private[graft] val AudioTrimTau = 0.6

  /** Sorted-distinct shingle hashes of a clip's fixed-window sign
    * sequence; empty for clips shorter than k+1 windows. */
  private[graft] def audioSignShingles(samples: Array[Short]): Array[Long] = {
    val m = samples.length / AudioWin
    if (m < AudioShingleK + 2) return Array.empty
    val e = new Array[Long](m)
    var w = 0
    while (w < m) {
      var i = w * AudioWin; val end = i + AudioWin
      var s = 0L
      while (i < end) { s += math.abs(samples(i).toLong); i += 1 }
      e(w) = s; w += 1
    }
    val nsh = m - 1 - AudioShingleK + 1 // m-1 sign bits, k per shingle
    val out = new Array[Long](nsh)
    var j = 0
    while (j < nsh) {
      var h = 0x9e3779b97f4a7c15L
      var b = 0
      while (b < AudioShingleK) {
        h = graft.functions.LshBandKeys.mix(h ^ (if (e(j + b + 1) > e(j + b)) 1L else 0L))
        b += 1
      }
      out(j) = h
      j += 1
    }
    java.util.Arrays.sort(out)
    var n = 0; var k = 0
    while (k < out.length) { // in-place distinct on the sorted array
      if (n == 0 || out(k) != out(n - 1)) { out(n) = out(k); n += 1 }
      k += 1
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** Trim fixture: docs sharing a pattern are re-gained AND/OR
    * window-aligned-trimmed copies — variant t = (docId/50) % 10 scales
    * by gain (t % 4 + 1) and cuts (t / 4) * 2 windows off the front.
    * Base clips are 40 + pattern%8 windows long. */
  private[graft] def synthAudioTrim(docId: Long): Array[Short] = {
    val pattern = (docId % 50).toInt
    val t = ((docId / 50) % 10).toInt
    val gain = t % 4 + 1
    val trimWin = (t / 4) * 2
    val baseWin = 40 + pattern % 8
    val n = (baseWin - trimWin) * AudioWin
    val off = trimWin * AudioWin
    Array.tabulate(n) { i =>
      val j = (i + off).toLong
      // splitmix per (pattern, j): window energies become pattern-SPECIFIC
      // random walks (a merely additive pattern term would wash out of
      // the 256-sample window sums and correlate all sign sequences)
      val z = graft.functions.LshBandKeys.mix(
        pattern.toLong * 0x9E3779B97F4A7C15L + j * 0xBF58476D1CE4E5B9L)
      ((z % 1001L) * gain).toShort
    }
  }

  private def mmAudioDedupTrim(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Slots = 48; val Bands = 16; val Rows = 3
    val sh = spread(t(s, dir, "documents").select(col("doc_id"))).as[Long]
      .mapPartitions(it => it.flatMap { id =>
        val wav = AudioCodec.encodeWav(8000, 1, synthAudioTrim(id))
        AudioCodec.decode(wav).map { case (_, _, samples) =>
          (id, audioSignShingles(samples))
        }.filter(_._2.length > 0)
      })
      .toDF("doc_id", "sh")
      .localCheckpoint() // banding + both verify joins consume it
    val cand = sh
      .select(col("doc_id"), graft.functions.lsh_bands(
        graft.functions.one_perm_minhash(col("sh"), Slots), Bands, Rows))
      .groupBy("band_idx", "band_key")
      .agg(graft.functions.capped_sorted_list(col("doc_id"), ImgBucketCap).as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
      .select(graft.functions.sorted_list_pairs(col("ids")))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("sa")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("sb")), "b_id")
      .withColumn("jaccard", round(graft.functions.sorted_jaccard(col("sa"), col("sb")), 6))
      .filter(col("jaccard") >= AudioTrimTau)
      .select("a_id", "b_id", "jaccard")
      .orderBy("a_id", "b_id")
  }

  /** Deterministic PCM16 fixture for the audio dedup gate: docs sharing
    * a pattern (docId % 50) are re-GAINED copies — identical envelope
    * shape, amplitudes scaled by gain 1..8 ((docId/50) % 8 + 1; base
    * samples within ±1000 so gain 8 stays far from Short overflow) —
    * the same pattern/variant scheme as synthImage/synthFrame. */
  private[graft] def synthAudioDedup(docId: Long): Array[Short] = {
    val pattern = (docId % 50).toInt
    val gain = ((docId / 50) % 8).toInt + 1
    val n = 2000 + (pattern % 7) * 129
    Array.tabulate(n) { i =>
      val base = ((pattern.toLong * 31 + i.toLong * i * 7) % 2001L) - 1000L
      (base * gain).toShort
    }
  }

  // WAV payloads for the streaming twin: the measured work is decode +
  // fingerprint
  private val audioFixtures = new PayloadFixture("aud", "audio.parquet", "audio",
    id => AudioCodec.encodeWav(8000, 1, synthAudioDedup(id)))

  private[graft] def audioFixture(s: SparkSession, dir: String): String = audioFixtures(s, dir)

  /** Decode a (doc_id, wav-bytes) frame into the 128-bit fingerprint
    * table (doc_id, sig_h, sig_v); undecodable payloads drop. Shared by
    * the batch key and the streaming twin's per-batch map — the audio
    * analog of [[decodeSigs]]. */
  private[graft] def decodeAudioSigs(s: SparkSession, payloads: DataFrame): DataFrame = {
    import s.implicits._
    spread(payloads).as[(Long, Array[Byte])]
      .mapPartitions(it => it.flatMap { case (id, wav) =>
        AudioCodec.decode(wav).map { case (_, _, samples) =>
          val (h, v) = audioFingerprint(samples)
          (id, h, v)
        }
      })
      .toDF("doc_id", "sig_h", "sig_v")
  }

  private def mmAudioDedup(s: SparkSession, dir: String): DataFrame = {
    val sigs = decodeAudioSigs(s,
      s.read.parquet(audioFixture(s, dir)).toDF("doc_id", "audio"))
      .localCheckpoint() // hashPairs consumes the sig table three times
    hashPairs(sigs).orderBy("a_id", "b_id")
  }

  // ---- mm_image_dedup (perceptual-hash near-dup) -------------------------
  // The image-side dedup every multimodal corpus needs: re-encoded /
  // brightness-shifted copies of one image are NOT byte-duplicates, so
  // content-hash dedup misses them — a perceptual hash (dHash: gradient
  // signs over a coarse grid) is invariant to exactly those edits.
  // Pipeline: real ImageIO decode → 128-bit dHash (horizontal + vertical
  // gradient signs, one map stage) → 8×16-bit pigeonhole banding (capped
  // buckets, never all-pairs) → exact hamming verify on candidates.
  // Pigeonhole: a pair within hamming d shares at least one untouched
  // band when d < #bands, so 8 bands GUARANTEE recall at hamming ≤ 7 ≥
  // ImgHammingMax = 6. The 128-bit signature is what makes the layout
  // hold at corpus scale: 8 bands of a 64-bit hash have only 256 keys
  // each, so past ~65k images (ImgBucketCap × 256) EVERY bucket
  // overflows and drops — silent zero recall; 16-bit bands carry 65536
  // keys each (overflow ≈ 16.7M uniform images), and the second gradient
  // direction also halves random collisions at the verify. At 100 TB the
  // decode+hash is a linear map over payload splits and the join is
  // bucket-bounded, identical scale posture to the text near-dup family.

  /** Shared kernel for the two dHash directions: integer block-average
    * grayscale on the axis's grid, gradient sign vs the axis neighbor.
    * Averages compare by cross-multiplication (sumL·nR > sumR·nL) —
    * exact integers, no division, deterministic everywhere. Uniform
    * brightness shifts leave every gradient sign unchanged (the
    * invariance that catches re-graded copies). ONE implementation for
    * both halves of the 128-bit signature, so the luma weights and
    * cell-boundary rules can never desynchronize between directions. */
  private def dHashAxis(img: java.awt.image.BufferedImage, vertical: Boolean): Long = {
    val w = img.getWidth; val h = img.getHeight
    val gx = if (vertical) 8 else 9
    val gy = if (vertical) 9 else 8
    val sums = Array.ofDim[Long](gx, gy)
    val ns = Array.ofDim[Long](gx, gy)
    var cy = 0
    while (cy < gy) {
      val y0 = cy * h / gy; val y1 = math.max(y0 + 1, (cy + 1) * h / gy)
      var cx = 0
      while (cx < gx) {
        val x0 = cx * w / gx; val x1 = math.max(x0 + 1, (cx + 1) * w / gx)
        var sum = 0L; var n = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            sum += 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
              114L * (rgb & 0xff)
            n += 1
            x += 1
          }
          y += 1
        }
        sums(cx)(cy) = sum; ns(cx)(cy) = n
        cx += 1
      }
      cy += 1
    }
    var bits = 0L
    cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 8) {
        val nx = if (vertical) cx else cx + 1
        val ny = if (vertical) cy + 1 else cy
        if (sums(cx)(cy) * ns(nx)(ny) > sums(nx)(ny) * ns(cx)(cy))
          bits |= 1L << (cy * 8 + cx)
        cx += 1
      }
      cy += 1
    }
    bits
  }

  /** 64-bit difference hash, horizontal gradients: 9×8 grid, bit = cell
    * brighter than its RIGHT neighbor (see [[dHashAxis]]). */
  private[graft] def dHash(img: java.awt.image.BufferedImage): Long =
    dHashAxis(img, vertical = false)

  /** The VERTICAL twin of [[dHash]]: 8×9 grid, bit = cell brighter than
    * the cell BELOW it. An independent gradient field (horizontal signs
    * say nothing about vertical ones), so the combined 128-bit signature
    * doubles the band key entropy rather than duplicating it. */
  private[graft] def dHashVertical(img: java.awt.image.BufferedImage): Long =
    dHashAxis(img, vertical = true)

  /** Deterministic 32×32 PNG per doc: 50 base patterns; variants 0-7 add
    * a uniform brightness shift (dHash-invariant — the near-dup signal
    * under test), variants 8-9 also stamp a small bright blob (a LOCAL
    * edit: flips a couple of gradient bits — near-dup, not identical). */
  private[graft] def synthImage(docId: Long): Array[Byte] = {
    val pattern = (docId % 50).toInt
    val variant = ((docId / 50) % 10).toInt
    val img = new java.awt.image.BufferedImage(
      32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 32) {
      var x = 0
      while (x < 32) {
        // splitmix64 finalizer: full avalanche so distinct patterns get
        // uncorrelated gradient fields (a weak linear mix left adjacent
        // pattern ids with near-identical dHashes)
        var z = pattern.toLong * 0x9E3779B97F4A7C15L +
          x.toLong * 0xBF58476D1CE4E5B9L + y.toLong * 0x94D049BB133111EBL
        z ^= z >>> 30; z *= 0xBF58476D1CE4E5B9L
        z ^= z >>> 27; z *= 0x94D049BB133111EBL
        z ^= z >>> 31
        val v = ((z >>> 16) & 0xff).toInt
        val b = v / 2 + variant * 3 // <= 154: no clipping, gradients intact
        img.setRGB(x, y, (b << 16) | (b << 8) | b)
        x += 1
      }
      y += 1
    }
    if (variant >= 8) {
      // black out exactly dHash cell (2,2) — x in [7,10), y in [8,12) —
      // so the cell becomes the strict minimum of its row neighborhood
      // and its two adjacent-column comparisons deterministically flip
      // toward "darker": a local edit with hamming 1-2, the re-encoded
      // copy posture
      var yy = 8
      while (yy < 12) {
        var xx = 7
        while (xx < 10) { img.setRGB(xx, yy, 0); xx += 1 }
        yy += 1
      }
    }
    ImageCodec.encodePng(img)
  }

  private[graft] val ImgHammingMax = 6L
  private[graft] val ImgBucketCap = 256

  /** The 8×16-bit band keys of a (sig_h, sig_v) table — band b = byte b
    * of the horizontal hash ‖ byte b of the vertical one, a disjoint
    * partition of the 128 bits (so a pair within hamming 7 leaves ≥ 1
    * band untouched). `carry` columns ride along (doc_id always; the
    * video form adds frame_idx). The ONE definition of the banding
    * scheme — batch image pairs, video pairs, and the streaming state
    * maintenance all band through here. */
  private[graft] def imgBandKeys(sigs: DataFrame, carry: Seq[String] = Seq("doc_id")): DataFrame =
    sigs.select(carry.map(col) :+ posexplode(expr(
        "transform(sequence(0, 7), b -> " +
          "(shiftrightunsigned(sig_h, b * 8) & 255) * 256 + " +
          "(shiftrightunsigned(sig_v, b * 8) & 255))")): _*)
      .toDF(carry ++ Seq("band_idx", "band_key"): _*)

  /** Banded near-dup pairs of a (doc_id, sig_h, sig_v) 128-bit
    * perceptual-hash table: [[imgBandKeys]] pigeonhole bands → capped
    * buckets → exact hamming verify at [[ImgHammingMax]] over both
    * halves. Split out so the banding's recall guarantee is testable on
    * adversarial signatures directly. */
  private[graft] def hashPairs(sigs: DataFrame): DataFrame = {
    val cand = imgBandKeys(sigs)
      .groupBy("band_idx", "band_key")
      .agg(graft.functions.capped_sorted_list(col("doc_id"), ImgBucketCap).as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
      .select(graft.functions.sorted_list_pairs(col("ids")))
      .distinct()
    cand
      .join(sigs.select(col("doc_id").as("a_id"),
        col("sig_h").as("ha"), col("sig_v").as("va")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"),
        col("sig_h").as("hb"), col("sig_v").as("vb")), "b_id")
      .withColumn("hamming",
        (bit_count(col("ha").bitwiseXOR(col("hb"))) +
          bit_count(col("va").bitwiseXOR(col("vb")))).cast("long"))
      .filter(col("hamming") <= ImgHammingMax)
      .select("a_id", "b_id", "hamming")
  }

  // synthesized PNGs: the measured work is decode + hash + banding
  private val imageFixtures = new PayloadFixture("img", "images.parquet", "image", synthImage)

  private[graft] def imageFixture(s: SparkSession, dir: String): String = imageFixtures(s, dir)

  /** Decode a (doc_id, image-bytes) frame into the 128-bit signature
    * table (doc_id, sig_h, sig_v); undecodable payloads drop. Shared by
    * the batch key and the streaming maintenance's per-batch map. */
  private[graft] def decodeSigs(s: SparkSession, payloads: DataFrame): DataFrame = {
    import s.implicits._
    spread(payloads).as[(Long, Array[Byte])]
      .mapPartitions(it => it.flatMap { case (id, png) =>
        ImageCodec.decode(png).map(img => (id, dHash(img), dHashVertical(img)))
      })
      .toDF("doc_id", "sig_h", "sig_v")
  }

  private def mmImageDedup(s: SparkSession, dir: String): DataFrame = {
    // localCheckpoint: hashPairs consumes sigs three times (banding +
    // both verify joins) — one decode pass, not three
    val sigs = decodeSigs(s, s.read.parquet(imageFixture(s, dir))).localCheckpoint()
    hashPairs(sigs).orderBy("a_id", "b_id")
  }

  // ---- mm_video_dedup (video-level near-dup via frame signatures) --------
  // Re-encoded / re-graded copies of a clip are not byte-duplicates and
  // not even frame-byte-duplicates — but their per-frame perceptual
  // hashes are near. Video dedup therefore lifts the image near-dup
  // machinery to the frame axis: decode the SAMPLED frames (the
  // mm_video_frames path), 128-bit dHash each, band candidates per
  // ALIGNED frame position ((frame_idx, band_idx, band_key) buckets —
  // positional alignment is the re-encode/re-grade posture; clipped or
  // trimmed videos would shingle frame signatures instead, the substring
  // dedup posture), then verify exactly: per-pair count of aligned frames
  // within [[ImgHammingMax]], kept when the matched fraction of the
  // SHORTER video's decodable frames ≥ [[VideoMatchRatio]] (ratio-of-min
  // so a video with dropped corrupt frames still matches its copies). At
  // 100 TB: one decode map stage, bucket-bounded banding (never
  // all-pairs), and a |candidate × frames-per-video| verify join — the
  // identical scale posture as mm_image_dedup with an extra bounded
  // (≤ frames-per-video) fan-in per pair.
  private[graft] val VideoMatchRatio = 0.5

  /** (doc_id, frame_idx, sig_h, sig_v) for every decodable sampled frame
    * (decoded through the [[VideoDecoder]] seam). */
  private[graft] def videoFrameSigs(s: SparkSession, dir: String): DataFrame =
    decodeVideoFrameSigs(s,
      s.read.parquet(videoFixture(s, dir)).toDF("doc_id", "video"))

  /** Video near-dup pairs of a (doc_id, frame_idx, sig_h, sig_v) frame
    * table: per-aligned-frame 8×16-bit banding → capped buckets → exact
    * per-frame hamming + per-pair coverage ratio. Split out so the
    * frame-alignment semantics are testable on synthetic signatures. */
  private[graft] def videoPairs(frames: DataFrame): DataFrame = {
    val cand = imgBandKeys(frames, carry = Seq("doc_id", "frame_idx"))
      .groupBy("frame_idx", "band_idx", "band_key")
      .agg(graft.functions.capped_sorted_list(col("doc_id"), ImgBucketCap).as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
      .select(graft.functions.sorted_list_pairs(col("ids")))
      .distinct()
    videoVerifyPairs(cand, frames)
  }

  /** The positional-alignment verify tail over (a_id, b_id) candidates +
    * a (doc_id, frame_idx, sig_h, sig_v) frame table: per-aligned-frame
    * exact hamming, matched count ratioed against the SHORTER side's
    * decodable frames. ONE definition shared by the batch operator and
    * the streaming twin (q_stream_video_dedup) so the arithmetic — and
    * hence the streamed == batch equality — cannot drift. */
  private[graft] def videoVerifyPairs(cand: DataFrame, frames: DataFrame): DataFrame = {
    val nf = frames.groupBy("doc_id").agg(count(lit(1)).as("nf"))
    cand
      .join(frames.select(col("doc_id").as("a_id"), col("frame_idx"),
        col("sig_h").as("ha"), col("sig_v").as("va")), "a_id")
      .join(frames.select(col("doc_id").as("b_id"), col("frame_idx"),
        col("sig_h").as("hb"), col("sig_v").as("vb")), Seq("b_id", "frame_idx"))
      .withColumn("fham",
        bit_count(col("ha").bitwiseXOR(col("hb"))) +
          bit_count(col("va").bitwiseXOR(col("vb"))))
      .groupBy("a_id", "b_id")
      .agg(sum(when(col("fham") <= ImgHammingMax, 1L).otherwise(0L)).as("n_matched"))
      .join(nf.select(col("doc_id").as("a_id"), col("nf").as("nf_a")), "a_id")
      .join(nf.select(col("doc_id").as("b_id"), col("nf").as("nf_b")), "b_id")
      .withColumn("match_ratio",
        round(col("n_matched").cast("double") / least(col("nf_a"), col("nf_b")), 6))
      .filter(col("match_ratio") >= VideoMatchRatio)
      .select("a_id", "b_id", "n_matched", "match_ratio")
  }

  /** Decode a payload micro-batch to per-frame signatures — the video
    * form of [[decodeSigs]]/[[decodeAudioSigs]] (one signature row PER
    * SAMPLED FRAME, not per doc): (doc_id, frame_idx, sig_h, sig_v).
    * Unreadable containers and undecodable frames drop. */
  private[graft] def decodeVideoFrameSigs(s: SparkSession, payloads: DataFrame): DataFrame = {
    import s.implicits._
    val decoder = videoDecoder
    spread(payloads).as[(Long, Array[Byte])]
      .mapPartitions(it => it.flatMap { case (id, video) =>
        decoder.decodeSampled(video, VideoStride).map { case (f, img) =>
          (id, f.toLong, dHash(img), dHashVertical(img))
        }
      })
      .toDF("doc_id", "frame_idx", "sig_h", "sig_v")
  }

  private def mmVideoDedup(s: SparkSession, dir: String): DataFrame =
    // localCheckpoint: videoPairs consumes the frame table four times
    // (banding, both verify joins, per-video counts) — without it every
    // consumer re-runs the decode map stage
    videoPairs(videoFrameSigs(s, dir).localCheckpoint()).orderBy("a_id", "b_id")

  /** Shingle run length for the trim-tolerant candidacy: 2 consecutive
    * sampled frames per shingle — one fully-shared run of 2 frames is
    * enough to surface a candidate, and a trimmed clip of m sampled
    * frames shares m−1 such runs with its source. */
  private[graft] val VideoShingleK = 2

  /** TRIM-TOLERANT video near-dup: shingled frame-signature banding.
    * [[videoPairs]]' positional alignment pairs re-encodes/re-grades but
    * structurally misses clips trimmed or offset by n frames — their
    * matching frames sit at different frame_idx, so no (frame_idx, band)
    * bucket is ever shared. The shingle posture (dedup_substring's idea
    * lifted to the frame axis): per band b, each video's ordered run of
    * [[VideoShingleK]] CONSECUTIVE sampled frames folds its k band keys
    * into one position-free shingle key — a clip sharing any k-frame run
    * with its source (frame-wise agreement on band b) shares that
    * shingle at ANY offset. Candidates form inside the same capped
    * (band_idx, shingle) buckets; verification aligns each pair at its
    * BEST OFFSET: matched counts grouped by (pair, fa−fb), the best
    * offset's count ratioed against the shorter side. Offset 0
    * reproduces the positional verify exactly.
    * The verify fan-in is BAND-BOUNDED, not nf² (r17): a matched frame
    * pair is within [[ImgHammingMax]] = 6 < 8 band flips, so by the same
    * pigeonhole as [[hashPairs]] it shares ≥ 1 of the 8 disjoint 16-bit
    * bands EXACTLY — [[shingleVerifyPairs]] reaches the other video's
    * frames through a (band_idx, band_key) equi-join and loses nothing,
    * while an hour-long video at stride 2 stops paying ~nf² ≈ 3M hamming
    * rows per candidate pair (per-pair cost = the band-collision count:
    * truly-matched frames + birthday noise at 16 bits/band — o(nf²),
    * spec'd on a 512-frame synthetic).
    * Candidacy is deliberately stricter than positional (a k-frame
    * agreeing RUN on one band vs any single agreeing frame) — the trade
    * that buys offset freedom without inflating bucket fan-out; at
    * 100 TB the shapes are identical to videoPairs plus one window pass
    * over each video's ≤ frames-per-video band keys. */
  /** MATCHED frame pairs for the offset-free verify, reached through a
    * shared (band_idx, band_key) instead of the frame cross product: for
    * each candidate video pair, frame (fa, fb) is considered iff the two
    * frames agree EXACTLY on ≥ 1 of the 8 disjoint 16-bit bands — a
    * superset of every pair within [[ImgHammingMax]] (pigeonhole,
    * 6 < 8) — and kept iff the full 128-bit hamming passes. Scanned row
    * count per video pair = band collisions, not nf² (frames with 0
    * matches contribute only ~birthday-level noise at 16 bits/band).
    * Split out so the o(nf²) fan-in and the losslessness are
    * spec-testable directly. */
  private[graft] def shingleVerifyPairs(cand: DataFrame, frames: DataFrame): DataFrame =
    shingleVerifyPairsOn(cand,
      imgBandKeys(frames, carry = Seq("doc_id", "frame_idx", "sig_h", "sig_v")))

  /** As [[shingleVerifyPairs]], over an already-banded frame projection
    * (one banding map shared with candidacy). Returns MATCHED frame
    * pairs — hamming runs BEFORE the dedup so the one shuffle this stage
    * pays carries 4 small longs per surviving row, not every multi-band
    * collision with its 4 signature words (that wide distinct doubled
    * the key's wall time when the band-bounded verify first landed). */
  /** The verify's SCANNED set — every band collision the equi-join
    * materializes, BEFORE the hamming filter. Split out so the o(nf²)
    * fan-in spec can count what the plan actually reads (the filtered
    * output is plan-independent — a cross-product revert would produce
    * the identical matched pairs and a row-count assert on them would
    * be vacuous). */
  private[graft] def bandCollisionRows(cand: DataFrame, fbk: DataFrame): DataFrame =
    cand
      .join(fbk.select(col("doc_id").as("a_id"), col("frame_idx").as("fa"),
        col("sig_h").as("ha"), col("sig_v").as("va"),
        col("band_idx"), col("band_key")), "a_id")
      .join(fbk.select(col("doc_id").as("b_id"), col("frame_idx").as("fb"),
        col("sig_h").as("hb"), col("sig_v").as("vb"),
        col("band_idx"), col("band_key")), Seq("b_id", "band_idx", "band_key"))

  private def shingleVerifyPairsOn(cand: DataFrame, fbk: DataFrame): DataFrame =
    bandCollisionRows(cand, fbk)
      .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) +
        bit_count(col("va").bitwiseXOR(col("vb"))) <= ImgHammingMax)
      .select("a_id", "b_id", "fa", "fb")
      .distinct()

  /** Frame-count product under which a candidate pair verifies by plain
    * per-pair cross product instead of the band-keyed join. Near-dup
    * CLIPS are the band join's worst case — matched frames agree on ~all
    * 8 bands, so the join materializes ~8 rows per matched pair where
    * the cross product pays nf_a·nf_b ≤ this cap total (measured at
    * sf0.1: 17.3M collision rows vs 2.2M cross rows over 242k 3-frame
    * pairs — the band-only verify DOUBLED the key). Long diverse videos
    * flip the inequality (cross is nf² ≈ 262k rows at nf=512, band is
    * collision-bounded), so the verify routes per pair: both paths are
    * lossless, the cap only picks the cheaper one. */
  private[graft] val CrossVerifyCap = 4096L

  private[graft] def videoPairsShingled(frames: DataFrame,
                                        k: Int = VideoShingleK,
                                        crossCap: Long = CrossVerifyCap): DataFrame = {
    val fbk = imgBandKeys(frames,
      carry = Seq("doc_id", "frame_idx", "sig_h", "sig_v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id", "band_idx").orderBy("frame_idx")
    val sh = fbk
      .withColumn("keys", collect_list(col("band_key")).over(w.rowsBetween(0, k - 1)))
      .filter(size(col("keys")) === k)
      .select(col("doc_id"), col("band_idx"), xxhash64(col("keys")).as("shingle"))
      .distinct()
    val cand = sh
      .groupBy("band_idx", "shingle")
      .agg(graft.functions.capped_sorted_list(col("doc_id"), ImgBucketCap).as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
      .select(graft.functions.sorted_list_pairs(col("ids")))
      .distinct()
    val nf = frames.groupBy("doc_id").agg(count(lit(1)).as("nf"))
    val candN = cand
      .join(nf.select(col("doc_id").as("a_id"), col("nf").as("nf_a")), "a_id")
      .join(nf.select(col("doc_id").as("b_id"), col("nf").as("nf_b")), "b_id")
    val smallMatched = candN
      .filter(col("nf_a") * col("nf_b") <= crossCap)
      .select("a_id", "b_id")
      .join(frames.select(col("doc_id").as("a_id"), col("frame_idx").as("fa"),
        col("sig_h").as("ha"), col("sig_v").as("va")), "a_id")
      .join(frames.select(col("doc_id").as("b_id"), col("frame_idx").as("fb"),
        col("sig_h").as("hb"), col("sig_v").as("vb")), "b_id")
      .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) +
        bit_count(col("va").bitwiseXOR(col("vb"))) <= ImgHammingMax)
      .select("a_id", "b_id", "fa", "fb")
    val largeMatched = shingleVerifyPairsOn(
      candN.filter(col("nf_a") * col("nf_b") > crossCap).select("a_id", "b_id"),
      fbk)
    smallMatched.unionByName(largeMatched)
      .groupBy(col("a_id"), col("b_id"), (col("fa") - col("fb")).as("off"))
      .agg(count(lit(1)).as("n_at_off"))
      .groupBy("a_id", "b_id")
      .agg(max("n_at_off").as("n_matched"))
      .join(nf.select(col("doc_id").as("a_id"), col("nf").as("nf_a")), "a_id")
      .join(nf.select(col("doc_id").as("b_id"), col("nf").as("nf_b")), "b_id")
      .withColumn("match_ratio",
        round(col("n_matched").cast("double") / least(col("nf_a"), col("nf_b")), 6))
      .filter(col("match_ratio") >= VideoMatchRatio)
      .select("a_id", "b_id", "n_matched", "match_ratio")
  }

  private def mmVideoDedupShingle(s: SparkSession, dir: String): DataFrame =
    videoPairsShingled(videoFrameSigs(s, dir).localCheckpoint()).orderBy("a_id", "b_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_features" -> mmFeatures,
    "mm_resize" -> mmResize,
    "mm_frame_sample" -> mmFrameSample,
    "mm_video_frames" -> mmVideoFrames,
    "mm_video_dedup" -> mmVideoDedup,
    "mm_video_dedup_shingle" -> mmVideoDedupShingle,
    "mm_audio_features" -> mmAudioFeatures,
    "mm_audio_dedup" -> mmAudioDedup,
    "mm_audio_dedup_trim" -> mmAudioDedupTrim,
    "mm_image_dedup" -> mmImageDedup)

  /** The corpus is ASCII, so byte-level features are expressible over char
    * codes in the oracle. */
  val oracleSql: Map[String, String] = Map(
    "mm_features" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(list_sum(list_transform(range(1, length(text) + 1),
        |    i -> ascii(text[i:i]))) AS BIGINT) % 1000000007 AS checksum,
        |  CAST(ascii(text[1:1]) AS BIGINT) AS head_byte,
        |  CAST(octet_length(encode(text)) AS BIGINT) % 64 AS width_stub
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_resize" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS orig_bytes,
        |  CAST((octet_length(encode(text)) + 1) // 2 AS BIGINT) AS resized_bytes,
        |  CAST(list_sum(list_transform(range(1, length(text) + 1, 2),
        |    i -> ascii(text[i:i]))) AS BIGINT) % 1000000007 AS resized_checksum
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_frame_sample" ->
      s"""WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
         |f AS (SELECT doc_id, text, n,
         |  unnest(range(0, CAST(ceil(n / $FrameBytes.0) AS BIGINT), $FrameStride)) AS frame_idx
         |  FROM d)
         |SELECT doc_id, frame_idx,
         |  CAST(least(n - frame_idx * $FrameBytes, $FrameBytes) AS BIGINT) AS frame_bytes,
         |  CAST(list_sum(list_transform(
         |    range(frame_idx * $FrameBytes + 1, least(frame_idx * $FrameBytes + $FrameBytes, n) + 1),
         |    i -> ascii(text[i:i]))) AS BIGINT) % 1000000007 AS frame_checksum
         |FROM f ORDER BY doc_id, frame_idx""".stripMargin)
}
