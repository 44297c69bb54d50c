package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: opaque `binary` payloads + typed metadata,
  * with decode / feature-extraction as per-partition batch transforms.
  *
  * Decode is REAL for the formats the JDK ships codecs for — [[ImageDecoder]]
  * parses PNG/BMP/GIF/JPEG via `javax.imageio`, [[WavDecoder]] parses
  * WAV/PCM via `javax.sound.sampled`, and [[sampleGifFrames]] parses
  * multi-frame animated-GIF containers frame by frame — all under the
  * oracle gate (q112/q113/q139) through deterministic synthesized media
  * whose decoded properties the oracle predicts arithmetically. Codecs the
  * JDK lacks (H.264 and friends) slot into the same per-partition decoder
  * seam — the container walk, frame-stride sampling, and fan-out shape are
  * what [[sampleGifFrames]] exercises for real. Everything Spark-side is
  * real and tested: the schema (binary payload + metadata struct), the
  * partition-parallel transform shape ([[extractFeatures]] — the
  * `mapPartitions` slot where a per-partition codec instance amortizes),
  * and the batch iteration contract.
  */
object Multimodal {

  /** JVM-global ImageIO hygiene + per-thread codec instances.
    *
    * The `ImageIO.read`/`ImageIO.write` convenience entry points are priced
    * for one-shot use, not a per-row decode loop: every call (a) walks the
    * JVM-GLOBAL IIORegistry to pick a codec (provider probing under the
    * registry's shared state) and (b) wraps the stream in a DISK-backed
    * FileCache image stream — `ImageIO.getUseCache` defaults to true, so
    * each call creates and deletes a temp FILE. With 32 partitions decoding
    * concurrently those two pieces of shared state serialize the stage: the
    * round-17 scaling block measured every image key FASTER at 8 cores than
    * at 32 (8c/32c ratios q228 0.39, q112 0.54, q290 0.57, q139 0.61).
    *
    * Fixes, all decode-contract-preserving:
    *  - `setUseCache(false)` once per JVM — image streams become
    *    memory-backed; no temp files ever.
    *  - codecs resolve ONCE PER TASK THREAD (ThreadLocal, bounded by the
    *    executor pool size) and are reused row to row through
    *    `setInput`/`setOutput`, the documented ImageReader/Writer reuse
    *    contract.
    *  - the reader is picked by sniffing the payload's magic bytes for the
    *    JDK's container formats; an unrecognized payload falls back to
    *    `ImageIO.read` (the rare/quarantine path), so the null-on-
    *    undecodable contract and the decoded pixels are unchanged.
    */
  private[graft] object Codec {
    javax.imageio.ImageIO.setUseCache(false)

    private val readers = new ThreadLocal[java.util.HashMap[String, javax.imageio.ImageReader]] {
      override def initialValue() = new java.util.HashMap
    }
    private val writers = new ThreadLocal[java.util.HashMap[String, javax.imageio.ImageWriter]] {
      override def initialValue() = new java.util.HashMap
    }

    /** Magic-byte container sniff over the formats the JDK ships codecs
      * for; null = unknown (take the `ImageIO.read` fallback). */
    private def sniff(b: Array[Byte]): String =
      if (b == null || b.length < 4) null
      else if ((b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') "png"
      else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') "gif"
      else if (b(0) == 'B' && b(1) == 'M') "bmp"
      else if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 && (b(2) & 0xff) == 0xff) "jpeg"
      else if (b(0) == 'I' && b(1) == 'I' && b(2) == 42 && b(3) == 0) "tiff"
      else if (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 42) "tiff"
      else null

    /** This thread's cached reader for `fmt` (resolved once per thread). */
    def reader(fmt: String): javax.imageio.ImageReader = {
      val m = readers.get()
      var r = m.get(fmt)
      if (r == null) {
        r = javax.imageio.ImageIO.getImageReadersByFormatName(fmt).next()
        m.put(fmt, r)
      }
      r
    }

    /** This thread's cached writer for `fmt` (resolved once per thread). */
    def writer(fmt: String): javax.imageio.ImageWriter = {
      val m = writers.get()
      var w = m.get(fmt)
      if (w == null) {
        w = javax.imageio.ImageIO.getImageWritersByFormatName(fmt).next()
        m.put(fmt, w)
      }
      w
    }

    /** Decode `payload`, or null when undecodable — exactly `ImageIO.read`'s
      * quarantine contract, minus the per-call registry walk and temp file. */
    def readImage(payload: Array[Byte]): java.awt.image.BufferedImage = {
      val fmt = sniff(payload)
      try {
        if (fmt == null)
          javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        else {
          val r = reader(fmt)
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(payload))
          try { r.setInput(iis, true, true); r.read(0) } finally iis.close()
        }
      } catch { case _: Exception => null }
    }

    /** Encode `img` as `fmt` bytes — `ImageIO.write`'s exact output (same
      * codec, default write params) via the thread's cached writer. */
    def writeImage(img: java.awt.image.RenderedImage, fmt: String): Array[Byte] = {
      val w = writer(fmt)
      val out = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
      try { w.setOutput(ios); w.write(img) }
      finally { ios.close(); w.setOutput(null) }
      out.toByteArray
    }
  }

  /** Decoder contract: bytes → fixed-length feature vector. One instance per
    * partition (model/codec init amortized across the partition's rows). */
  trait Decoder extends Serializable {
    def decode(payload: Array[Byte]): Array[Float]
  }

  /** Deterministic stand-in "decoder": summary statistics of the raw bytes.
    * STUB — replace with a real image/audio decode in production. Every
    * feature is an integral float (len, byte sum, min, max) so the vector
    * is exactly representable and differential-testable across engines
    * (exact up to 2^24, i.e. payloads ≤ ~64 KiB of 0xff bytes — far above
    * any byte-stat use of this stub). */
  object FakeDecoder extends Decoder {
    def decode(payload: Array[Byte]): Array[Float] = {
      if (payload == null || payload.isEmpty) return Array(0f, 0f, 0f, 0f)
      var sum = 0L; var mn = 255; var mx = 0
      payload.foreach { b => val v = b & 0xff; sum += v; mn = math.min(mn, v); mx = math.max(mx, v) }
      Array(payload.length.toFloat, sum.toFloat, mn.toFloat, mx.toFloat)
    }
  }

  /** REAL image decoder — JDK `javax.imageio` (PNG/BMP/GIF/JPEG), no
    * external codec libraries. Features: [width, height, mean R, mean G,
    * mean B]; non-image payloads decode to [-1, -1, -1, -1, -1] (a real
    * pipeline routes those to quarantine). Means are exact for
    * constant-color images — the property the differential gate uses. */
  object ImageDecoder extends Decoder {
    def decode(payload: Array[Byte]): Array[Float] = {
      val img = Codec.readImage(payload)
      if (img == null) return Array(-1f, -1f, -1f, -1f, -1f)
      val (w, h) = (img.getWidth, img.getHeight)
      var (sr, sg, sb) = (0L, 0L, 0L)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      Array(w.toFloat, h.toFloat, sr.toFloat / n, sg.toFloat / n, sb.toFloat / n)
    }
  }

  /** REAL audio decoder — JDK `javax.sound.sampled` (WAV/PCM), no external
    * codec libraries. Features: [sample rate, frame count, peak |amplitude|]
    * over 16-bit little-endian mono PCM; non-audio payloads decode to
    * [-1, -1, -1]. */
  object WavDecoder extends Decoder {
    def decode(payload: Array[Byte]): Array[Float] = {
      val in =
        try javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        catch { case _: Exception => null }
      if (in == null) return Array(-1f, -1f, -1f)
      val fmt = in.getFormat
      val frames = in.getFrameLength
      val bytes = in.readAllBytes()
      var peak = 0
      var i = 0
      while (i + 1 < bytes.length) {
        val s = ((bytes(i + 1) << 8) | (bytes(i) & 0xff)).toShort
        val a = math.abs(s.toInt)
        if (a > peak) peak = a
        i += 2
      }
      Array(fmt.getSampleRate, frames.toFloat, peak.toFloat)
    }
  }

  /** Deterministic PNG synthesis (JDK ImageIO): one solid-color w×h RGB
    * image. INPUT SYNTHESIS for the decode gate — the operator under test is
    * [[ImageDecoder]], which performs a genuine PNG parse of these bytes. */
  def synthPng(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
    Codec.writeImage(img, "png")
  }

  /** Deterministic PNG synthesis with per-pixel control: pixel (x, y) gets
    * RGB `rgb(x, y)`. INPUT SYNTHESIS for the perceptual-hash gate — PNG is
    * lossless, so [[dHash56]]'s decode recovers exactly these values. */
  def synthPngPixels(w: Int, h: Int, rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb(x, y)); x += 1 }; y += 1 }
    Codec.writeImage(img, "png")
  }

  /** Perceptual difference-hash over decoded image pixels — the IMAGE
    * near-duplicate key (the visual twin of minhash/simhash text dedup):
    * images whose horizontal gradient structure matches collide into one
    * hash bucket, so image dedup is a hash groupBy, never pairwise pixel
    * comparison.
    *
    * Variant: 8×7 = 56 gradient bits (classic dHash is 9×8 → 64), kept at
    * 56 so the hash is portably a NON-NEGATIVE signed 64-bit value in every
    * engine (bit 63 would overflow a signed BIGINT oracle). Bit (x, y) —
    * x < min(w−1, 8), y < min(h, 7) — is set when red(x+1, y) > red(x, y)
    * (the gate's grayscale images carry r = g = b; a production variant
    * luma-weights first), positioned at y·8 + x. A real deployment resizes
    * to 9×8 before hashing; the JDK-only gate synthesizes at target
    * geometry instead, keeping every decoded value exact.
    *
    * One decode per row inside `mapPartitions` (same seam as
    * [[extractFeatures]]); undecodable payloads hash to −1 (quarantine).
    * Output: (idCol, dhash). */
  def dHash56(mm: DataFrame, idCol: String): DataFrame = {
    val spark = mm.sparkSession
    val idIdx = mm.schema.fieldIndex(idCol)
    val payloadIdx = mm.schema.fieldIndex("payload")
    val idType = mm.schema(idIdx).dataType
    val schema = StructType(Seq(
      StructField(idCol, idType),
      StructField("dhash", LongType)))
    val rdd = mm.rdd.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val img = Codec.readImage(payload)
        val hash = if (img == null) -1L else {
          var acc = 0L
          val xs = math.min(img.getWidth - 1, 8)
          val ys = math.min(img.getHeight, 7)
          var y = 0
          while (y < ys) {
            var x = 0
            while (x < xs) {
              val a = (img.getRGB(x, y) >> 16) & 0xff
              val b = (img.getRGB(x + 1, y) >> 16) & 0xff
              if (b > a) acc |= 1L << (y * 8 + x)
              x += 1
            }
            y += 1
          }
          acc
        }
        Row(r.get(idIdx), hash)
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** PNG CHUNK WALK — header-only metadata extraction WITHOUT decoding:
    * validates the 8-byte signature, walks the length-prefixed chunk
    * stream, CRC32-checks every chunk (over type+data, per the PNG spec),
    * and parses the IHDR geometry fields big-endian. This is the 100 TB
    * asset-audit shape: a petabyte of images is inventoried and
    * integrity-checked by reading ~64 header bytes + CRC math per file,
    * never inflating a single IDAT — decode (q112) costs orders of
    * magnitude more than the walk. `crc_ok` is false for a truncated
    * stream, a bad signature, trailing garbage, or any CRC mismatch —
    * the walk itself still reports whatever structure it could parse.
    *
    * Output: (id, n_chunks, chunk_types CSV, width, height, bit_depth,
    * color_type, crc_ok). Unparsed IHDR fields stay −1.
    */
  def pngChunkWalk(mm: DataFrame, idCol: String): DataFrame = {
    val spark = mm.sparkSession
    val idIdx = mm.schema.fieldIndex(idCol)
    val payloadIdx = mm.schema.fieldIndex("payload")
    val idType = mm.schema(idIdx).dataType
    val schema = StructType(Seq(
      StructField(idCol, idType),
      StructField("n_chunks", LongType),
      StructField("chunk_types", StringType),
      StructField("width", LongType),
      StructField("height", LongType),
      StructField("bit_depth", LongType),
      StructField("color_type", LongType),
      StructField("crc_ok", BooleanType)))
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    val rdd = mm.rdd.mapPartitions { rows =>
      rows.map { r =>
        val b = r.getAs[Array[Byte]](payloadIdx)
        def be32(i: Int): Long =
          ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
            ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
        var structOk = b.length > 8 && (0 until 8).forall(j => (b(j) & 0xff) == sig(j))
        var i = 8
        var n = 0L
        val types = new StringBuilder
        var w = -1L; var h = -1L; var depth = -1L; var ct = -1L
        var crcOk = true
        while (structOk && i + 12 <= b.length) {
          val len = be32(i).toInt
          if (len < 0 || i + 12 + len > b.length) structOk = false
          else {
            val tpe = new String(b, i + 4, 4, "US-ASCII")
            val crc = new java.util.zip.CRC32()
            crc.update(b, i + 4, 4 + len)
            if (crc.getValue != be32(i + 8 + len)) crcOk = false
            if (n > 0) types.append(',')
            types.append(tpe)
            if (tpe == "IHDR" && len == 13) {
              w = be32(i + 8); h = be32(i + 12)
              depth = (b(i + 16) & 0xff).toLong; ct = (b(i + 17) & 0xff).toLong
            }
            n += 1
            i += 12 + len
          }
        }
        Row(r.get(idIdx), n, types.toString,
          w, h, depth, ct, structOk && crcOk && i == b.length)
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Deterministic WAV synthesis: 16-bit LE mono PCM, constant amplitude —
    * a well-formed RIFF container [[WavDecoder]] genuinely parses. */
  def synthWav(nSamples: Int, amplitude: Short, sampleRate: Int): Array[Byte] = {
    val dataLen = nSamples * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2) // byte rate
      .putShort(2)            // block align
      .putShort(16)           // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < nSamples) { bb.putShort(amplitude); i += 1 }
    bb.array()
  }

  /** [[synthWav]]'s per-sample variant: 16-bit LE mono PCM with caller-
    * supplied samples. INPUT SYNTHESIS for the segmentation gate — the
    * operator under test is [[silenceSegments]], which genuinely parses the
    * RIFF container these bytes form. */
  def synthWavSamples(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2) // byte rate
      .putShort(2)            // block align
      .putShort(16)           // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** q456: Walsh–Hadamard audio fingerprint — an exact-integer spectral
    * signature for audio dedup/matching: JDK `javax.sound` parses the RIFF
    * container (same 16-bit LE mono PCM contract as [[silenceSegments]];
    * non-conforming payloads quarantine as fp = -1), the first 64 samples
    * run through the fast Walsh–Hadamard transform (sum/difference
    * butterflies ONLY — exact Long arithmetic, the trig-free cousin of an
    * FFT spectral hash, so the fingerprint is bit-reproducible on any
    * engine), and the fingerprint packs the sign bits of coefficients
    * 1..32 (DC skipped: it encodes loudness, not content). Identical
    * leading audio ⟹ identical fingerprint; matching is then a plain
    * equi-join on a 64-bit key — never a waveform comparison.
    *
    * Scale shape: decode + transform per partition (the multimodal seam);
    * only (id, fp) ever reaches a shuffle. */
  def whtFingerprint(mm: DataFrame, idCol: String): DataFrame = {
    val spark = mm.sparkSession
    import spark.implicits._
    mm.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val in =
          try javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(payload))
          catch { case _: Exception => null }
        val conforming = in != null && {
          val f = in.getFormat
          f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
            f.getSampleSizeInBits == 16 && f.getChannels == 1 && !f.isBigEndian
        }
        if (!conforming) (id, -1L)
        else {
          val bytes = in.readAllBytes()
          val n = math.min(bytes.length / 2, 64)
          val a = Array.ofDim[Long](64)
          var i = 0
          while (i < n) {
            a(i) = ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)).toShort.toLong
            i += 1
          }
          var bit = 1
          while (bit < 64) {
            var j = 0
            while (j < 64) {
              if ((j & bit) == 0) {
                val x = a(j); val y = a(j + bit)
                a(j) = x + y; a(j + bit) = x - y
              }
              j += 1
            }
            bit <<= 1
          }
          var fp = 0L
          var k = 1
          while (k <= 32) {
            if (a(k) > 0L) fp |= 1L << (k - 1)
            k += 1
          }
          (id, fp)
        }
      }).toDF(idCol, "fp")
  }

  /** REAL audio silence segmentation — the voice-activity-detection shape a
    * speech-training pipeline runs before transcription/chunking: JDK
    * `javax.sound` parses the RIFF container, 16-bit LE mono PCM splits
    * into `blockSamples`-sample blocks, a block is silent when its peak
    * |amplitude| < `threshold`, and a SPEECH SEGMENT is a maximal run of
    * non-silent blocks (counted at its first block — one pass, O(1) state
    * per doc). Non-audio payloads surface as (-1, -1, -1) quarantine rows.
    *
    * Scale shape: pure per-row work behind one `mapPartitions` (the
    * multimodal seam discipline — a codec swap touches only this method);
    * no shuffle until whatever aggregate the caller adds. Output:
    * (id, n_blocks, n_silent, n_segments). */
  def silenceSegments(mm: DataFrame, idCol: String, blockSamples: Int,
                      threshold: Int): DataFrame = {
    val spark = mm.sparkSession
    import spark.implicits._
    mm.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val in =
          try javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(payload))
          catch { case _: Exception => null }
        // format contract, not just parse success: the PCM loop below reads
        // 16-bit LE mono signed samples, so a VALID-but-different WAV
        // (stereo, 8-bit, big-endian, float) must quarantine rather than
        // yield silently wrong block/segment counts
        val conforming = in != null && {
          val f = in.getFormat
          f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
            f.getSampleSizeInBits == 16 && f.getChannels == 1 && !f.isBigEndian
        }
        if (!conforming) (id, -1L, -1L, -1L)
        else {
          val bytes = in.readAllBytes()
          val n = bytes.length / 2
          val nb = (n + blockSamples - 1) / blockSamples
          var segments = 0; var silent = 0; var prevSilent = true
          var b = 0
          while (b < nb) {
            var peak = 0
            var i = b * blockSamples
            val end = math.min(n, i + blockSamples)
            while (i < end) {
              val s = ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)).toShort
              val a = math.abs(s.toInt)
              if (a > peak) peak = a
              i += 1
            }
            val isSil = peak < threshold
            if (isSil) silent += 1 else if (prevSilent) segments += 1
            prevSilent = isSil
            b += 1
          }
          (id, nb.toLong, silent.toLong, segments.toLong)
        }
      }).toDF(idCol, "n_blocks", "n_silent", "n_segments")
  }

  /** REAL audio downsample (decimate-by-k box filter): genuine WAV parse
    * (same 16-bit LE mono PCM format contract as [[silenceSegments]] —
    * non-conforming payloads quarantine as all-(-1)), then each k-sample
    * block collapses to its floor-mean (`Math.floorDiv`, so negative
    * sums floor exactly like SQL `//`). Only FULL blocks emit — the
    * remainder tail is dropped, the usual decimator contract. The gate row
    * is the per-doc summary (n_in, n_out, sum/min/max of the decimated
    * signal) rather than the sample vector, so rows stay metadata-sized
    * while the decode + decimation are genuinely exercised. Decode and
    * decimation run per partition before any shuffle — at 100 TB this is
    * a pure map pass over audio bytes.
    */
  def downsampleBox(mm: DataFrame, idCol: String, k: Int): DataFrame = {
    val spark = mm.sparkSession
    import spark.implicits._
    mm.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val in =
          try javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(payload))
          catch { case _: Exception => null }
        val conforming = in != null && {
          val f = in.getFormat
          f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
            f.getSampleSizeInBits == 16 && f.getChannels == 1 && !f.isBigEndian
        }
        if (!conforming) (id, -1L, -1L, -1L, -1L, -1L)
        else {
          val bytes = in.readAllBytes()
          val n = bytes.length / 2
          val nOut = n / k
          var sumOut = 0L
          var minOut = Long.MaxValue
          var maxOut = Long.MinValue
          var b = 0
          while (b < nOut) {
            var blockSum = 0L
            var i = b * k
            val end = i + k
            while (i < end) {
              blockSum += ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)).toShort
              i += 1
            }
            val m = Math.floorDiv(blockSum, k.toLong)
            sumOut += m
            if (m < minOut) minOut = m
            if (m > maxOut) maxOut = m
            b += 1
          }
          if (nOut == 0) (id, n.toLong, 0L, 0L, 0L, 0L)
          else (id, n.toLong, nOut.toLong, sumOut, minOut, maxOut)
        }
      }).toDF(idCol, "n_in", "n_out", "sum_out", "min_out", "max_out")
  }

  /** Wrap a text corpus as a multimodal table: payload (binary) + metadata
    * struct. Testdata carries no real media, so payload bytes are the UTF-8
    * text — the schema/partitioning plumbing is what's under test. */
  def asMultimodal(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(
        lit("text/plain").as("mime"),
        octet_length(encode(col(textCol), "UTF-8")).cast("long").as("n_bytes")).as("meta"))

  /** REAL box-filter image downsample — the resize step a vision-language
    * pipeline runs before patch embedding: genuine ImageIO decode per row,
    * then each target pixel is the floor-divided EXACT integer mean of its
    * fx×fy source box per channel (integer sums + one integer division —
    * nothing float, so any engine agrees bit-for-bit; the classic float
    * bilinear resample is neither exact nor portable). Source dims must be
    * integer multiples of the target — non-conforming or undecodable
    * payloads quarantine as a single all-(-1) row (the q112/WAV format-
    * contract pattern) instead of silently vanishing.
    *
    * Scale shape: decode + downsample fan out per-partition before any
    * shuffle (one row in, outW·outH rows out — map-side); the operator
    * never shuffles pixels. Output: (idCol, ox, oy, pr, pg, pb). */
  def resizeBox(mm: DataFrame, idCol: String, outW: Int, outH: Int): DataFrame = {
    val spark = mm.sparkSession
    val idIdx = mm.schema.fieldIndex(idCol)
    val payloadIdx = mm.schema.fieldIndex("payload")
    val idType = mm.schema(idIdx).dataType
    val schema = StructType(Seq(
      StructField(idCol, idType),
      StructField("ox", LongType), StructField("oy", LongType),
      StructField("pr", LongType), StructField("pg", LongType),
      StructField("pb", LongType)))
    val rdd = mm.rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val img = Codec.readImage(payload)
        if (img == null || outW <= 0 || outH <= 0 ||
            img.getWidth % outW != 0 || img.getHeight % outH != 0)
          Iterator.single(Row(r.get(idIdx), -1L, -1L, -1L, -1L, -1L))
        else {
          val fx = img.getWidth / outW
          val fy = img.getHeight / outH
          val box = fx.toLong * fy.toLong
          (for (oy <- 0 until outH; ox <- 0 until outW) yield {
            var sr = 0L; var sg = 0L; var sb = 0L
            var y = oy * fy
            while (y < (oy + 1) * fy) {
              var x = ox * fx
              while (x < (ox + 1) * fx) {
                val p = img.getRGB(x, y)
                sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
                x += 1
              }
              y += 1
            }
            Row(r.get(idIdx), ox.toLong, oy.toLong, sr / box, sg / box, sb / box)
          }).iterator
        }
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Deterministic animated-GIF synthesis: one solid-color frame per entry
    * in `colors`, stored TYPE_BYTE_INDEXED with a 2-entry palette whose
    * index 0 is the frame color — the GIF encoding of an indexed raster is
    * LOSSLESS, so [[sampleGifFrames]]' decoded per-frame means are exactly
    * the synthesized colors (the property the q139 differential gate uses;
    * an RGB raster would get quantized to whatever palette the writer
    * picks). INPUT SYNTHESIS only — the operator under test is the frame
    * walk in [[sampleGifFrames]], which genuinely parses this container. */
  def synthGif(w: Int, h: Int, colors: Seq[Int]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    // memory-backed stream + the thread's cached writer: the previous
    // ImageIO.createImageOutputStream / getImageWritersByFormatName pair
    // paid a disk-cache temp file and a registry walk PER SYNTHESIZED ROW
    // (see [[Codec]]); the cached writer is reusable across calls because
    // every exit releases it from the stream, and a failed sequence also
    // resets its sequence state
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
    val writer = Codec.writer("gif")
    writer.setOutput(ios)
    try {
      writer.prepareWriteSequence(null)
      colors.foreach { rgb =>
        val cm = new java.awt.image.IndexColorModel(8, 2,
          Array(((rgb >> 16) & 0xff).toByte, 0.toByte),
          Array(((rgb >> 8) & 0xff).toByte, 0.toByte),
          Array((rgb & 0xff).toByte, 0.toByte))
        // the fresh indexed raster is all zeros -> every pixel = palette[0]
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } catch { case e: Throwable => writer.reset(); throw e }
    finally { writer.setOutput(null); ios.close() }
    out.toByteArray
  }

  /** REAL video-container frame sampling — multi-frame animated GIF via the
    * JDK ImageIO reader (the one multi-frame container format with a JDK
    * codec; an H.264 deployment swaps the reader behind the same shape).
    * Walks the container index (`getNumImages`), decodes every `step`-th
    * frame, and emits one row per sampled frame with the frame geometry and
    * exact per-channel pixel means — the n-rows-out-per-video fan-out of a
    * production frame sampler, happening map-side before any shuffle.
    *
    * One `ImageReader` instance per PARTITION (`setInput` per payload) —
    * codec lookup is not paid per row. Undecodable payloads emit a single
    * quarantine row (frame_idx −1, features −1), mirroring [[ImageDecoder]].
    *
    * Output: (idCol, n_frames, frame_idx, width, height, mean_r, mean_g,
    * mean_b) — counts and means as longs (means are exact for the
    * solid-color frames the gate synthesizes). */
  def sampleGifFrames(mm: DataFrame, idCol: String, step: Int): DataFrame = {
    require(step > 0, "frame stride must be positive")
    val spark = mm.sparkSession
    val idIdx = mm.schema.fieldIndex(idCol)
    val payloadIdx = mm.schema.fieldIndex("payload")
    val idType = mm.schema(idIdx).dataType
    val schema = StructType(Seq(
      StructField(idCol, idType),
      StructField("n_frames", LongType),
      StructField("frame_idx", LongType),
      StructField("width", LongType),
      StructField("height", LongType),
      StructField("mean_r", LongType),
      StructField("mean_g", LongType),
      StructField("mean_b", LongType)))
    val rdd = mm.rdd.mapPartitions { rows =>
      val reader = Codec.reader("gif") // thread-cached; setInput per payload
      rows.flatMap { r =>
        val id = r.get(idIdx)
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val frames =
          try {
            reader.setInput(new javax.imageio.stream.MemoryCacheImageInputStream(
              new java.io.ByteArrayInputStream(payload)), false, false)
            // a non-GIF payload surfaces as zero readable frames (the JDK
            // reader often reports 0 rather than throwing) — quarantine it
            val n = reader.getNumImages(true)
            if (n <= 0) throw new java.io.IOException("no readable frames")
            (0 until n by step).map { i =>
              val img = reader.read(i)
              val (w, h) = (img.getWidth, img.getHeight)
              var (sr, sg, sb) = (0L, 0L, 0L)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val p = img.getRGB(x, y)
                  sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
                  x += 1
                }
                y += 1
              }
              val np = w.toLong * h
              Row(id, n.toLong, i.toLong, w.toLong, h.toLong, sr / np, sg / np, sb / np)
            }
          } catch { case _: Exception =>
            Seq(Row(id, -1L, -1L, -1L, -1L, -1L, -1L, -1L))
          }
        frames
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Byte-window frame fan-out: emits one row per sampled window index with a
    * deterministic byte-range "frame" slice — the explode/fan-out shape a
    * frame sampler produces (n rows out per payload in) over an OPAQUE
    * payload, no codec involved (the real container walk is
    * [[sampleGifFrames]]). Useful as-is for fixed-record binary blobs. */
  def frameSampleStub(mm: DataFrame, idCol: String, everyNBytes: Int): DataFrame =
    mm.select(col(idCol), col("payload"),
      explode(sequence(lit(0L),
        greatest(ceil(col("meta.n_bytes") / everyNBytes) - 1, lit(0L)).cast("long"))).as("frame_idx"))
      .withColumn("frame",
        expr(s"substring(payload, CAST(frame_idx * $everyNBytes + 1 AS INT), $everyNBytes)"))
      .drop("payload")

  /** Partition-parallel feature extraction over the payload column: the
    * decoder is instantiated once per partition and applied to every row —
    * never per-row init, never a driver-side loop. */
  def extractFeatures(mm: DataFrame, idCol: String, decoder: Decoder): DataFrame = {
    val spark = mm.sparkSession
    val idIdx = mm.schema.fieldIndex(idCol)
    val payloadIdx = mm.schema.fieldIndex("payload")
    val idType = mm.schema(idIdx).dataType
    val schema = StructType(Seq(
      StructField(idCol, idType),
      StructField("features", ArrayType(FloatType))))
    val rdd = mm.rdd.mapPartitions { rows =>
      val d = decoder // partition-local handle; real impl would open codec here
      rows.map(r => Row(r.get(idIdx), d.decode(r.getAs[Array[Byte]](payloadIdx))))
    }
    spark.createDataFrame(rdd, schema)
  }
}
