package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("asMultimodal wraps text into payload bytes + typed metadata") {
    val docs = Seq((1L, "abc"), (2L, "")).toDF("doc_id", "text")
    val mm = Multimodal.asMultimodal(docs, "doc_id", "text").orderBy("doc_id")
    val rows = mm.select("payload", "meta.n_bytes").collect()
    assert(rows(0).getAs[Array[Byte]](0).toSeq == "abc".getBytes("UTF-8").toSeq)
    assert(rows(0).getLong(1) == 3L && rows(1).getLong(1) == 0L)
  }

  test("FakeDecoder emits [len, sum, min, max] byte stats deterministically") {
    val f = Multimodal.FakeDecoder.decode("ab".getBytes("UTF-8"))
    assert(f.toSeq == Seq(2f, 195f, 97f, 98f))
    assert(Multimodal.FakeDecoder.decode(Array.emptyByteArray).toSeq == Seq(0f, 0f, 0f, 0f))
  }

  test("ImageDecoder round-trips a synthesized PNG exactly; rejects non-images") {
    val png = Multimodal.synthPng(5, 3, 0x8a4507)
    val f = Multimodal.ImageDecoder.decode(png)
    assert(f.toSeq == Seq(5f, 3f, 0x8a.toFloat, 0x45.toFloat, 0x07.toFloat))
    assert(Multimodal.ImageDecoder.decode("not an image".getBytes).toSeq ==
      Seq(-1f, -1f, -1f, -1f, -1f))
  }

  test("WavDecoder round-trips a synthesized PCM WAV exactly; rejects non-audio") {
    val wav = Multimodal.synthWav(nSamples = 123, amplitude = 4567, sampleRate = 16000)
    val f = Multimodal.WavDecoder.decode(wav)
    assert(f.toSeq == Seq(16000f, 123f, 4567f))
    assert(Multimodal.WavDecoder.decode("noise".getBytes).toSeq == Seq(-1f, -1f, -1f))
  }

  test("pngChunkWalk: well-formed walk, corruption, truncation, bad signature, trailing garbage") {
    val good = Multimodal.synthPng(5, 3, 0x123456)
    val corrupt = good.clone(); corrupt(41) = (corrupt(41) ^ 0x01).toByte // IDAT data
    val truncated = good.take(good.length - 6) // cuts into IEND
    val badSig = good.clone(); badSig(0) = 0x00
    val trailing = good ++ Array[Byte](1, 2, 3)
    val mm = Seq(
      (1L, good), (2L, corrupt), (3L, truncated), (4L, badSig), (5L, trailing)
    ).toDF("doc_id", "payload")
    val r = Multimodal.pngChunkWalk(mm, "doc_id").orderBy("doc_id").collect()
    // well-formed: 3 chunks, IHDR geometry, crc_ok
    assert(r(0).getLong(1) == 3L && r(0).getString(2) == "IHDR,IDAT,IEND")
    assert(r(0).getLong(3) == 5L && r(0).getLong(4) == 3L &&
      r(0).getLong(5) == 8L && r(0).getLong(6) == 2L && r(0).getBoolean(7))
    // corrupted IDAT: structure fully parsed, crc flags false
    assert(r(1).getLong(1) == 3L && !r(1).getBoolean(7))
    // truncated: walk stops early, not ok
    assert(!r(2).getBoolean(7) && r(2).getLong(1) < 3L)
    // bad signature: nothing parsed, not ok
    assert(!r(3).getBoolean(7) && r(3).getLong(1) == 0L)
    // trailing garbage after IEND: chunks parse but stream is not clean
    assert(r(4).getLong(1) == 3L && !r(4).getBoolean(7))
  }

  test("frameSampleStub fans out one row per frame slice") {
    val docs = Seq((1L, "abcdefgh")).toDF("doc_id", "text") // 8 bytes, 3-byte frames -> 3 rows
    val mm = Multimodal.asMultimodal(docs, "doc_id", "text")
    val frames = Multimodal.frameSampleStub(mm, "doc_id", 3).orderBy("frame_idx")
    val got = frames.select("frame").collect().map(r => new String(r.getAs[Array[Byte]](0)))
    assert(got.toSeq == Seq("abc", "def", "gh"))
  }

  test("sampleGifFrames walks a real animated GIF: stride, geometry, exact colors") {
    // 5 frames, stride 2 -> frames 0, 2, 4
    val colors = Seq(0x102030, 0x405060, 0x708090, 0xa0b0c0, 0xd0e0f0)
    val gif = Multimodal.synthGif(4, 3, colors)
    val mm = Seq((7L, gif)).toDF("doc_id", "payload")
    val got = Multimodal.sampleGifFrames(mm, "doc_id", step = 2)
      .orderBy("frame_idx")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val expect = Seq(0, 2, 4).map { i =>
      val c = colors(i)
      (7L, 5L, i.toLong, 4L, 3L, ((c >> 16) & 0xff).toLong, ((c >> 8) & 0xff).toLong, (c & 0xff).toLong)
    }
    assert(got == expect)
  }

  test("synthGif: a write that throws mid-sequence leaves the thread's cached writer usable") {
    val colors = Seq(0x102030, 0x405060)
    val outcome = new java.util.concurrent.atomic.AtomicReference[Any]()
    // one thread, so both writes share its cached GIF writer
    val t = new Thread(() => outcome.set(try {
      // a zero-width frame throws inside the sequence, after prepareWriteSequence
      val failed = scala.util.Try(Multimodal.synthGif(0, 3, colors)).isFailure
      val released = Multimodal.Codec.writer("gif").getOutput == null
      (failed, released, Multimodal.synthGif(4, 3, colors))
    } catch { case e: Throwable => e }))
    t.start(); t.join()
    val (failed, released, gif) = outcome.get match {
      case e: Throwable => throw e
      case r => r.asInstanceOf[(Boolean, Boolean, Array[Byte])]
    }
    assert(failed, "the zero-width write must throw")
    assert(released, "the failed write left the cached writer bound to its stream")
    val got = Multimodal.sampleGifFrames(Seq((1L, gif)).toDF("doc_id", "payload"), "doc_id", step = 1)
      .orderBy("frame_idx").select("n_frames", "mean_r", "mean_g", "mean_b")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == colors.map(c =>
      (2L, ((c >> 16) & 0xff).toLong, ((c >> 8) & 0xff).toLong, (c & 0xff).toLong)))
  }

  test("sampleGifFrames quarantines undecodable payloads as a single -1 row") {
    val mm = Seq((9L, "definitely not a gif".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val got = Multimodal.sampleGifFrames(mm, "doc_id", step = 1)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((9L, -1L, -1L, -1L, -1L, -1L, -1L, -1L)))
  }

  test("dHash56: gradient bits match a hand computation; identical images collide") {
    // 3×2 ramp: pixel value 10·x + y → every horizontal step rises, so
    // bits (x<2, y<2) all set: positions 0,1,8,9 → 0b1100000011 = 771
    def ramp(mult: Int) = Multimodal.synthPngPixels(3, 2, (x, y) =>
      { val v = mult * x + y; (v << 16) | (v << 8) | v })
    val mm = Seq((1L, ramp(10)), (2L, ramp(10)), (3L, ramp(0)))
      .toDF("doc_id", "payload")
    val got = Multimodal.dHash56(mm, "doc_id")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 771L), (2L, 771L), (3L, 0L)),
      "identical ramps must collide; a flat image has no rising gradient")
  }

  test("dHash56 quarantines undecodable payloads as hash -1") {
    val mm = Seq((9L, "not an image".getBytes("UTF-8"))).toDF("doc_id", "payload")
    assert(Multimodal.dHash56(mm, "doc_id").as[(Long, Long)].collect().toSeq
      == Seq((9L, -1L)))
  }

  test("silenceSegments: hand-built PCM yields exact block/segment counts") {
    // 5 blocks of 10 samples: loud, silent, loud, loud, silent →
    // 2 segments (blocks 0 and 2–3), 2 silent blocks; the ragged tail
    // case appends 5 extra loud samples → a 6th (short) block = segment 3
    def wav(pattern: Seq[Boolean], tail: Int) = Multimodal.synthWavSamples(
      (pattern.zipWithIndex.flatMap { case (loud, _) =>
        Array.fill[Short](10)(if (loud) 3000 else 0)
      } ++ Array.fill[Short](tail)(3000)).toArray, 8000)
    val mm = Seq(
      (1L, wav(Seq(true, false, true, true, false), 0)),
      (2L, wav(Seq(true, false, true, true, false), 5)),
      (3L, "not audio".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val out = Multimodal.silenceSegments(mm, "doc_id", blockSamples = 10,
        threshold = 250)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 5L, 2L, 2L), (2L, 6L, 2L, 3L), (3L, -1L, -1L, -1L)))
  }

  test("silenceSegments quarantines valid-but-nonconforming WAVs (stereo)") {
    // a VALID stereo RIFF container decodes fine, but the PCM loop assumes
    // 16-bit LE mono — it must quarantine, not yield wrong counts. Patch a
    // mono synth into a well-formed stereo header (channels@22, byteRate@28,
    // blockAlign@32; 20 samples = 10 stereo frames).
    val bytes = Multimodal.synthWavSamples(Array.fill[Short](20)(3000), 8000)
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putShort(22, 2.toShort); bb.putInt(28, 8000 * 4); bb.putShort(32, 4.toShort)
    // sanity: the patched container is genuinely decodable as stereo
    val fmt = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes)).getFormat
    assert(fmt.getChannels == 2)
    val mm = Seq((7L, bytes)).toDF("doc_id", "payload")
    val out = Multimodal.silenceSegments(mm, "doc_id", blockSamples = 10,
      threshold = 250).as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((7L, -1L, -1L, -1L)))
  }

  test("extractFeatures runs the decoder per partition over every row") {
    val docs = Seq((1L, "abc"), (2L, "xyz"), (3L, "")).toDF("doc_id", "text")
    val mm = Multimodal.asMultimodal(docs, "doc_id", "text")
    val feats = Multimodal.extractFeatures(mm, "doc_id", Multimodal.FakeDecoder)
    assert(feats.count() == 3)
    val m = feats.orderBy("doc_id").as[(Long, Array[Float])].collect()
    assert(m(0)._2(0) == 3f && m(2)._2.toSeq == Seq(0f, 0f, 0f, 0f))
  }

  test("q456: fingerprints group the planted '+ dup' docs with their source") {
    // the dup family shares its leading 40 chars with the source doc, so
    // their synthesized audio — and the WHT fingerprint — must collide
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val out = SparkEntry.queries("q456_audio_fingerprint")(spark, sf)
      .select("doc_id", "fp").as[(Long, Long)].collect().toMap
    assert(out.values.forall(_ != -1L), "every synthesized WAV must parse")
    val byPrefix = docs.groupBy(_._2.take(40))
    byPrefix.values.filter(_.size > 1).foreach { grp =>
      val fps = grp.map(d => out(d._1)).distinct
      assert(fps.size == 1, s"same leading content must share a fingerprint: $grp")
    }
  }
}
