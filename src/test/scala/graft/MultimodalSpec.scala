package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "abcdefgh" * 40), // 320 bytes -> frames at 0 and 256
    (2L, "xy") // 2 bytes -> one (short) frame
  ).toDF("doc_id", "text")

  test("attachBlob produces binary payload with stable byte length") {
    val m = Multimodal.attachBlob(docs, "doc_id", "text", "text/plain")
    val lens = Multimodal.meta(m).select("media_id", "byte_len")
      .as[(Long, Int)].collect().toMap
    assert(lens === Map(1L -> 320, 2L -> 2))
  }

  test("sampleFrames emits one frame per stride, hex-sliced") {
    val m = Multimodal.attachBlob(docs, "doc_id", "text", "text/plain")
    val frames = Multimodal.sampleFrames(m, frameBytes = 64, strideBytes = 256)
    val counts = frames.groupBy("media_id").count().as[(Long, Long)].collect().toMap
    assert(counts === Map(1L -> 2L, 2L -> 1L))
  }

  test("resizeStub keeps every factor-th byte") {
    val m = Multimodal.attachBlob(
      Seq((1L, "abcdefgh")).toDF("doc_id", "text"), "doc_id", "text", "text/plain")
    val r = Multimodal.resizeStub(m, factor = 4)
      .select("media_id", "resized_len", "resized_md5")
      .as[(Long, Int, String)].head()
    assert(r._2 === 2) // bytes at offsets 0 and 4: 'a', 'e'
    // md5 of hex("a") + hex("e") = md5("6165")
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest("6165".getBytes).map("%02x".format(_)).mkString
    assert(r._3 === expect)
  }

  test("empty payloads: zero frames, zero-length resize (floor-div parity)") {
    // DuckDB's (blen-1)//stride floor-divides: blen=0 ⇒ -1 ⇒ no frames and
    // resized_len 0. Truncating division would wrongly emit one frame.
    val m = Multimodal.attachBlob(
      Seq((1L, ""), (2L, "xy")).toDF("doc_id", "text"), "doc_id", "text", "text/plain")
    val frames = Multimodal.sampleFrames(m, frameBytes = 64, strideBytes = 256)
      .groupBy("media_id").count().as[(Long, Long)].collect().toMap
    assert(frames === Map(2L -> 1L)) // media 1 emits no rows at all
    val resized = Multimodal.resizeStub(m, factor = 4)
      .select("media_id", "resized_len", "resized_md5")
      .as[(Long, Int, String)].collect().sortBy(_._1).toSeq
    assert(resized.head._1 === 1L && resized.head._2 === 0)
    val md5empty = java.security.MessageDigest.getInstance("MD5")
      .digest("".getBytes).map("%02x".format(_)).mkString
    assert(resized.head._3 === md5empty)
    assert(resized(1)._2 === 1)
  }

  // brute-force CDC in plain Scala: same boundary rule, same digests
  private def bruteCdc(text: String, w: Int, maskBits: Int): Seq[(Long, Long, Long, String)] = {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val hx = text.getBytes("UTF-8").map("%02X".format(_)).mkString
    val len = text.getBytes("UTF-8").length
    val bounds = (w until len).filter { pp =>
      java.lang.Long.parseLong(md5hex(hx.substring((pp - w) * 2, pp * 2)).take(15), 16) %
        (1L << maskBits) == 0
    }
    val starts = 0 +: bounds
    val ends = bounds :+ len
    starts.zip(ends).zipWithIndex.map { case ((st, en), i) =>
      (i.toLong, st.toLong, (en - st).toLong, md5hex(hx.substring(st * 2, en * 2)))
    }
  }

  test("cdcChunks equals brute force; chunks tile the payload") {
    val rnd = new scala.util.Random(13)
    val docs = Seq.tabulate(30)(i =>
      (i.toLong, Seq.fill(rnd.nextInt(400))(('a' + rnd.nextInt(4)).toChar).mkString))
    val m = Multimodal.attachBlob(docs.toDF("doc_id", "text"), "doc_id", "text", "b")
    val got = Multimodal.cdcChunks(m, windowBytes = 8, maskBits = 4)
      .as[(Long, Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(c => (c._2, c._3, c._4, c._5)).toSeq).toMap
    docs.foreach { case (id, text) =>
      assert(got(id) === bruteCdc(text, 8, 4), s"doc $id")
      // tiling: starts/lengths partition [0, len)
      val chs = got(id)
      assert(chs.map(_._3).sum === text.getBytes("UTF-8").length.toLong)
      chs.sliding(2).foreach {
        case Seq(a, b) => assert(a._2 + a._3 === b._2); case _ =>
      }
    }
  }

  test("CDC is shift-invariant: a prefix insertion preserves downstream chunks") {
    // non-repeating content so distinct digests measure true re-alignment
    val rnd = new scala.util.Random(99)
    val base = Seq.fill(3000)(('a' + rnd.nextInt(26)).toChar).mkString
    val docs = Seq((1L, base), (2L, "XYZPREFIX-" + base))
    val m = Multimodal.attachBlob(docs.toDF("doc_id", "text"), "doc_id", "text", "b")
    val chunks = Multimodal.cdcChunks(m, windowBytes = 8, maskBits = 4)
      .as[(Long, Long, Long, Long, String)].collect()
    val d1 = chunks.filter(_._1 == 1L).map(_._5).toSet
    val d2 = chunks.filter(_._1 == 2L).map(_._5).toSet
    // all but the head chunk(s) re-align after the insertion
    val shared = d1.intersect(d2).size.toDouble / d1.size
    assert(shared > 0.8, s"only ${shared * 100}%% of chunks survived the shift")
    // and the dedup inventory sees the cross-doc repeats
    val dd = Multimodal.cdcDedup(Multimodal.cdcChunks(m, 8, 4))
      .filter(col("n_docs") === 2).count()
    assert(dd >= 1)
  }

  test("cdcChunks: empty payload is one zero-length chunk; short payload one whole chunk") {
    val m = Multimodal.attachBlob(
      Seq((1L, ""), (2L, "tiny")).toDF("doc_id", "text"), "doc_id", "text", "b")
    val got = Multimodal.cdcChunks(m, windowBytes = 8, maskBits = 4)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1)
    assert(got.length === 2)
    assert(got(0) === ((1L, 0L, 0L, 0L,
      java.security.MessageDigest.getInstance("MD5")
        .digest("".getBytes).map("%02x".format(_)).mkString)))
    assert(got(1)._3 === 0L && got(1)._4 === 4L)
  }

  test("decodeFeaturesStub: deterministic bucket sums of unsigned bytes") {
    val m = Multimodal.attachBlob(
      Seq((7L, "ab")).toDF("doc_id", "text"), "doc_id", "text", "text/plain")
    val f = Multimodal.decodeFeaturesStub(m, dim = 8).collect().head
    assert(f.media_id === 7L)
    assert(f.n_bytes === 2)
    assert(f.features.toSeq === Seq('a'.toLong, 'b'.toLong, 0L, 0L, 0L, 0L, 0L, 0L))
  }

  test("decodeImageMeta: real ImageIO decode of generated BMPs matches the closed form (all pad widths)") {
    // w = 4..8 exercises every 4-byte row padding (pad 0,1,2,3); the
    // closed-form luma of gray pixel v is v, so the decoded sum equals
    // sum over i < w*h of ((id*31 + i)*7) % 256 — if ANY pixel, row
    // order, or padding byte were misdecoded, some sum would differ
    val dims = Seq((10L, 4, 3), (11L, 5, 4), (12L, 6, 5), (13L, 7, 2), (14L, 8, 1))
    val media = Multimodal.encodeBmpGray(
      dims.toDF("doc_id", "w", "h"), "doc_id", "w", "h")
    val got = Multimodal.decodeImageMeta(media)
      .collect().map(m => m.media_id -> m).toMap
    for ((id, w, h) <- dims) {
      val m = got(id)
      assert(m.format === "bmp", s"media $id")
      assert((m.width, m.height) === ((w, h)), s"media $id")
      assert(m.n_pixels === w.toLong * h)
      val expect = (0L until w.toLong * h).map(i => ((id * 31 + i) * 7) % 256).sum
      assert(m.luma_sum === expect, s"media $id: decoded luma must equal closed form")
    }
  }

  test("decodeImageMeta: format-agnostic — the same pixels as PNG decode to the same metadata") {
    // route one image through a DIFFERENT codec: re-encode the BMP's
    // pixels as PNG with ImageIO and decode through the same operator —
    // proves decodeImageMeta drives the codec registry, not a BMP header
    // walk (and that the luma sum is a property of the pixels, not the
    // container format)
    import spark.implicits._
    val bmp = Multimodal.encodeBmpGray(
      Seq((42L, 6, 5)).toDF("doc_id", "w", "h"), "doc_id", "w", "h")
      .select("payload").as[Array[Byte]].head()
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bmp))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val pngMedia = Seq((42L, "image/png", baos.toByteArray))
      .toDF("media_id", "mime", "payload")
    val m = Multimodal.decodeImageMeta(pngMedia).collect().head
    assert(m.format === "png")
    assert((m.width, m.height, m.n_pixels) === ((6, 5, 30L)))
    val expect = (0L until 30L).map(i => ((42L * 31 + i) * 7) % 256).sum
    assert(m.luma_sum === expect)
    // corrupt payload fails loudly with the media id
    val bad = Seq((7L, "x", Array[Byte](1, 2, 3))).toDF("media_id", "mime", "payload")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeImageMeta(bad).collect()
    }
    assert(e.getMessage.contains("media 7") ||
      Option(e.getCause).exists(_.getMessage.contains("media 7")))
  }

  test("decodeAudioMeta: real javax.sound decode of generated WAVs matches the closed form (incl. zero-frame)") {
    // n spans odd/even and a zero-sample payload; the decoded signed sum
    // equals sum over i < n of ((id*31 + i)*7) % 65536 - 32768 — if ANY
    // sample, byte order, or header field were misdecoded, a sum or
    // frame count would differ
    val dims = Seq((10L, 5, 8000), (11L, 256, 12000), (12L, 257, 16000),
      (13L, 0, 8000))
    val media = Multimodal.encodeWavPcm(
      dims.toDF("doc_id", "n", "sr"), "doc_id", "n", "sr")
    val got = Multimodal.decodeAudioMeta(media)
      .collect().map(m => m.media_id -> m).toMap
    for ((id, n, sr) <- dims) {
      val m = got(id)
      assert(m.container === "wave", s"media $id")
      assert(m.encoding === "PCM_SIGNED", s"media $id")
      assert((m.sample_rate, m.channels, m.bits) === ((sr, 1, 16)), s"media $id")
      assert(m.n_frames === n.toLong, s"media $id")
      val expect = (0L until n.toLong)
        .map(i => ((id * 31 + i) * 7) % 65536 - 32768).sum
      assert(m.sample_sum === expect,
        s"media $id: decoded sample sum must equal closed form")
    }
  }

  test("decodeAudioMeta: container-agnostic (AU big-endian), 8-bit unsigned branch, corrupt fails loudly, streams stateless") {
    import javax.sound.sampled.{AudioFileFormat, AudioSystem}
    // route the same samples through a DIFFERENT container: re-encode the
    // WAV as AU (big-endian signed PCM) with AudioSystem and decode
    // through the same operator — proves decodeAudioMeta drives the codec
    // registry (and the big-endian sample path), not a RIFF header walk
    val wav = Multimodal.encodeWavPcm(
        Seq((42L, 100, 8000)).toDF("doc_id", "n", "sr"), "doc_id", "n", "sr")
      .select("payload").as[Array[Byte]].head()
    val ais = AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val baos = new java.io.ByteArrayOutputStream()
    try AudioSystem.write(ais, AudioFileFormat.Type.AU, baos)
    finally ais.close()
    val auMedia = Seq((42L, "audio/basic", baos.toByteArray))
      .toDF("media_id", "mime", "payload")
    val au = Multimodal.decodeAudioMeta(auMedia).collect().head
    assert(au.container === "au")
    assert((au.encoding, au.bits, au.n_frames) === (("PCM_SIGNED", 16, 100L)))
    val expect = (0L until 100L).map(i => ((42L * 31 + i) * 7) % 65536 - 32768).sum
    assert(au.sample_sum === expect,
      "AU re-encode must decode to the same sample sum as the WAV")

    // 8-bit WAV PCM is UNSIGNED by the format's own rule — hand-built
    // payload with a known byte sum exercises the unsigned-8 branch
    val samples = (0 until 300).map(i => (i * 7) % 256)
    val b = java.nio.ByteBuffer.allocate(44 + samples.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + samples.length)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(8000).putShort(1).putShort(8)
    b.put("data".getBytes("US-ASCII")).putInt(samples.length)
    samples.foreach(s => b.put(s.toByte))
    val m8 = Multimodal.decodeAudioMeta(
      Seq((5L, "audio/wav", b.array())).toDF("media_id", "mime", "payload"))
      .collect().head
    assert((m8.encoding, m8.bits, m8.n_frames) === (("PCM_UNSIGNED", 8, 300L)))
    assert(m8.sample_sum === samples.map(_.toLong).sum)

    // corrupt payload fails loudly with the media id
    val bad = Seq((7L, "x", Array[Byte](1, 2, 3))).toDF("media_id", "mime", "payload")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeAudioMeta(bad).collect()
    }
    assert(e.getMessage.contains("media 7") ||
      Option(e.getCause).exists(_.getMessage.contains("media 7")))

    // per-window stats: windows tile the stream exactly and every
    // integer (sum, energy, peak) matches the closed form — the audio
    // quality-gate primitives (silence = near-zero sum_sq, clipping =
    // peak_abs pinned) are decode-exact, not approximations
    val wMedia = Multimodal.encodeWavPcm(
      Seq((9L, 300, 8000)).toDF("doc_id", "n", "sr"), "doc_id", "n", "sr")
    val ws = Multimodal.audioWindowStats(wMedia, windowFrames = 128)
      .collect().sortBy(_.window_no)
    assert(ws.map(_.n_samples).toSeq === Seq(128, 128, 44),
      "windows must tile the stream with a short tail")
    def v(i: Long) = (((9L * 31 + i) * 7) % 65536 - 32768).toInt
    for (w <- ws) {
      val r = (w.window_no * 128) until (w.window_no * 128 + w.n_samples)
      assert(w.sample_sum === r.map(v(_).toLong).sum, s"window ${w.window_no}")
      assert(w.sum_sq === r.map(i => v(i).toLong * v(i)).sum, s"window ${w.window_no}")
      assert(w.peak_abs === r.map(i => math.abs(v(i))).max, s"window ${w.window_no}")
    }
    assert(ws.map(_.sample_sum).sum ===
      Multimodal.decodeAudioMeta(wMedia).collect().head.sample_sum,
      "window sums must re-aggregate to the whole-stream decode sum")
    // zero-sample payload emits no windows (and decodeAudioMeta's meta
    // row, not this operator, is where an empty stream is visible)
    assert(Multimodal.audioWindowStats(Multimodal.encodeWavPcm(
      Seq((1L, 0, 8000)).toDF("doc_id", "n", "sr"), "doc_id", "n", "sr"),
      windowFrames = 128).collect().isEmpty)

    // stateless on a streaming frame: the at-the-door deployment — the
    // typed per-partition decode needs no state store or watermark
    val dims = Seq((20L, 64, 8000), (21L, 65, 16000))
    val mediaRows = Multimodal.encodeWavPcm(
        dims.toDF("doc_id", "n", "sr"), "doc_id", "n", "sr")
      .as[(Long, String, Array[Byte])].collect().toSeq
    val batchRows = Multimodal.decodeAudioMeta(
      mediaRows.toDF("media_id", "mime", "payload")).collect().toSet
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Array[Byte])](spark)
    val out = Multimodal.decodeAudioMeta(
      mem.toDF().toDF("media_id", "mime", "payload"))
    assert(out.isStreaming, "audio decode must stream without state")
    val q = out.toDF().writeStream.format("memory")
      .queryName("audio_decode_sink").outputMode("append").start()
    try {
      mem.addData(mediaRows: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("audio_decode_sink")
      .as[Multimodal.AudioMeta].collect().toSet
    assert(streamed === batchRows,
      "streamed decode must equal the batch decode row-for-row")
  }

  test("decodeVideoMeta: a classpath SPI provider decodes for real; no provider refuses loudly") {
    import spark.implicits._
    // TestVideoDecoder is registered via META-INF/services exactly as a
    // deployment's codec jar would be — this runs the REAL ServiceLoader
    // per-partition plug path, not a mock
    val frames = Array.tabulate(48)(_.toByte) // 3 frames of 4×4 gray
    val got = Multimodal.decodeVideoMeta(
      Seq((1L, "video/x-graft-raw", frames))
        .toDF("media_id", "mime", "payload")).head()
    assert(got === Multimodal.VideoMeta(1L, "x-graft-raw", 4, 4, 3L,
      (0 until 48).sum.toLong))

    // a MIME no provider claims refuses loudly, naming the media id AND
    // the plug mechanism — never a silent skip or a fake row
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeVideoMeta(
        Seq((9L, "video/mp4", Array[Byte](1, 2, 3)))
          .toDF("media_id", "mime", "payload")).collect()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("media 9") && msg.contains("VideoDecoderSpi"),
      s"refusal must name the media and the SPI mechanism: $msg")

    // a corrupt payload fails in the PROVIDER, with the media id
    val c = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeVideoMeta(
        Seq((7L, "video/x-graft-raw", Array[Byte](1, 2, 3)))
          .toDF("media_id", "mime", "payload")).collect()
    }
    val cmsg = c.getMessage + Option(c.getCause).map(_.getMessage).getOrElse("")
    assert(cmsg.contains("media 7"), s"corrupt decode must name the media: $cmsg")
  }

  test("audioGate: silence/clipping verdicts, ≡ window-stats refold, stream ≡ batch") {
    import spark.implicits._
    // 16-bit mono PCM WAV from explicit samples (the public RIFF layout)
    def wav16(samples: Array[Int]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(44 + samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(36 + samples.length * 2)
        .put("WAVE".getBytes("US-ASCII"))
      b.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
        .putInt(8000).putInt(16000).putShort(2).putShort(16)
      b.put("data".getBytes("US-ASCII")).putInt(samples.length * 2)
      samples.foreach(s => b.putShort(s.toShort))
      b.array()
    }
    // media 1: 256 silent + 128 loud samples → 2 of 3 windows silent;
    // media 2: one -32768 sample pins |sample| at 32768 ≥ 32767 → clipped;
    // media 3: all moderate → keep
    val rows = Seq(
      (1L, "audio/wav", wav16(Array.fill(256)(0) ++ Array.fill(128)(1000))),
      (2L, "audio/wav", wav16(Array.fill(127)(5) :+ -32768)),
      (3L, "audio/wav", wav16(Array.tabulate(200)(i => (i % 100) - 50))))
    val media = rows.toDF("media_id", "mime", "payload")
    val g = Multimodal.audioGate(media, windowFrames = 128,
        maxSilencePpm = 500000L, peakCeiling = 32767)
      .collect().map(r => r.media_id -> r).toMap
    assert((g(1L).n_windows, g(1L).n_silent, g(1L).n_clipped) === ((3L, 2L, 0L)))
    assert(!g(1L).keep, "2/3 silent windows exceed 500000 ppm")
    assert((g(2L).n_windows, g(2L).n_clipped, g(2L).peak_abs) === ((1L, 1L, 32768)))
    assert(!g(2L).keep, "a pinned peak must fail the gate")
    assert(g(3L).keep && g(3L).n_silent === 0L && g(3L).n_clipped === 0L)
    assert(g(3L).peak_abs === 50)

    // verdict ≡ refolding audioWindowStats (same decode, same integers)
    val refold = Multimodal.audioWindowStats(media, windowFrames = 128)
      .collect().groupBy(_.media_id).map { case (id, ws) =>
        id -> ((ws.length.toLong, ws.count(_.sum_sq == 0L).toLong,
          ws.count(_.peak_abs >= 32767).toLong, ws.map(_.peak_abs).max))
      }
    refold.foreach { case (id, (nw, ns, nc, pk)) =>
      assert((g(id).n_windows, g(id).n_silent, g(id).n_clipped,
        g(id).peak_abs) === ((nw, ns, nc, pk)), s"media $id")
    }

    // zero-sample payload: one row, vacuous silence bound, keep
    val empty = Multimodal.audioGate(
      Seq((4L, "audio/wav", wav16(Array.empty[Int])))
        .toDF("media_id", "mime", "payload"),
      windowFrames = 128, maxSilencePpm = 0L, peakCeiling = 32767).head()
    assert((empty.n_windows, empty.keep) === ((0L, true)))

    // at ingest: the same operator, stateless on a streaming frame,
    // stream ≡ batch
    val batchRows = Multimodal.audioGate(
      media, 128, 500000L, 32767).toDF().collect().toSet
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Array[Byte])](spark)
    val out = Multimodal.audioGate(
      mem.toDF().toDF("media_id", "mime", "payload"), 128, 500000L, 32767).toDF()
    assert(out.isStreaming, "the audio gate must stream without state")
    val q = out.writeStream.format("memory")
      .queryName("audio_gate_sink").outputMode("append").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("audio_gate_sink").collect().toSet
    assert(streamed === batchRows,
      "streamed gate verdicts must equal the batch gate row-for-row")
  }

  test("audioFingerprint: closed form, volume/container invariance, pairs ≡ brute force, short refuses") {
    import spark.implicits._
    // closed form: expected fp computed from the generator formula in
    // the test — matches only if encode + real codec decode + window
    // energies + comparator all agree
    def vq(seed: Long, i: Long, s: Int) =
      ((seed + 1) * (i + 7) % 65536L * 2654435761L % 16384L - 8192L).toInt * s
    def fpOf(seed: Long, n: Int, s: Int): Long = {
      val e = (0 until 65).map { w =>
        ((w * 7) until math.min(n, w * 7 + 7)).map { i =>
          val v = vq(seed, i, s); v.toLong * v
        }.sum
      }
      (0 until 64).foldLeft(0L)((acc, b) =>
        if (e(b + 1) > e(b)) acc | (1L << b) else acc)
    }
    val dims = Seq((42L, 500, 8000)).toDF("doc_id", "n", "sr")
    val base = Multimodal.audioFingerprint(
      Multimodal.encodeWavPcmQuiet(dims, "doc_id", "n", "sr", 1),
      windowFrames = 7).head()
    assert(base.fp === fpOf(42L, 500, 1))
    assert(base.n_windows === (500L + 6) / 7)

    // VOLUME invariance: 2× and 4× payloads share no bytes with the
    // base, but every window energy scales by the same factor — the
    // fingerprint must be identical (the duplicate byte dedup can't see)
    for (s <- Seq(2, 4)) {
      val scaled = Multimodal.audioFingerprint(
        Multimodal.encodeWavPcmQuiet(dims, "doc_id", "n", "sr", s),
        windowFrames = 7).head()
      assert(scaled.fp === base.fp, s"volume x$s must not move the fingerprint")
    }

    // CONTAINER invariance: the same samples re-encoded as AU
    // (big-endian) decode to the same PCM → same fingerprint
    import javax.sound.sampled.{AudioFileFormat, AudioSystem}
    val wavBytes = Multimodal.encodeWavPcmQuiet(dims, "doc_id", "n", "sr", 1)
      .select("payload").as[Array[Byte]].head()
    val ais = AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wavBytes))
    val baos = new java.io.ByteArrayOutputStream()
    try AudioSystem.write(ais, AudioFileFormat.Type.AU, baos)
    finally ais.close()
    val au = Multimodal.audioFingerprint(
      Seq((42L, "audio/basic", baos.toByteArray))
        .toDF("media_id", "mime", "payload"), windowFrames = 7).head()
    assert(au.fp === base.fp, "an AU re-encode must hash identically")

    // pairs ≡ brute force on a mixed corpus (pigeonhole: 3 < 4 bands)
    val docs = (0L until 60L).map(d => (d, 500 + (d % 257).toInt, 8000))
      .toDF("doc_id", "n", "sr")
    val media = Multimodal.encodeWavPcmQuiet(docs, "doc_id", "n", "sr", 1)
      .unionByName(Multimodal.encodeWavPcmQuiet(
          docs.filter(pmod(col("doc_id"), lit(5)) === 0),
          "doc_id", "n", "sr", 2)
        .withColumn("media_id", col("media_id") + 1000))
    val got = Multimodal.audioNearDupPairs(media, windowFrames = 7,
      maxHamming = 3, bands = 4).as[(Long, Long, Int)].collect().toSet
    val all = Multimodal.audioFingerprint(media, windowFrames = 7).collect()
    val brute = (for {
      a <- all; b <- all if a.media_id < b.media_id
      ham = java.lang.Long.bitCount(a.fp ^ b.fp) if ham <= 3
    } yield (a.media_id, b.media_id, ham)).toSet
    assert(got === brute, "banded pairs must equal the brute-force join")
    assert((0L until 60L by 5).forall(d => got.contains((d, d + 1000L, 0))),
      "every planted volume-normalized dup must surface at Hamming 0")

    // below 65 windows there is no energy profile to hash — refuse loudly
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.audioFingerprint(Multimodal.encodeWavPcmQuiet(
        Seq((3L, 64, 8000)).toDF("doc_id", "n", "sr"),
        "doc_id", "n", "sr", 1), windowFrames = 1).collect()
    }
    assert(e.getMessage.contains("media 3") ||
      Option(e.getCause).exists(_.getMessage.contains("media 3")))
  }

  test("imageDHash: closed form, re-encode/resize invariance, pairs ≡ brute force, tiny image refuses") {
    import spark.implicits._
    // closed-form pins (independently computed): if any pixel, box
    // boundary, comparator, or bit position drifted, these constants break
    val dims = Seq((42L, 20, 12), (7L, 9, 8)).toDF("doc_id", "w", "h")
    val sigs = Multimodal.imageDHash(
        Multimodal.encodeBmpGray(dims, "doc_id", "w", "h"))
      .collect().map(s => s.media_id -> s).toMap
    assert(sigs(42L).dhash === -6953558950075707457L)
    assert((sigs(42L).width, sigs(42L).height) === ((20, 12)))
    assert(sigs(7L).dhash === -17179869189L)

    // RE-ENCODE invariance: the PNG twin's payload shares no bytes with
    // the BMP, but the decoded pixels are identical — dHash must match
    // exactly (this is the duplicate CDC/md5 dedup can never see)
    val png = Multimodal.imageDHash(
        Multimodal.encodePngGray(dims, "doc_id", "w", "h"))
      .collect().map(s => s.media_id -> s.dhash).toMap
    assert(png === sigs.view.mapValues(_.dhash).toMap,
      "PNG re-encode must hash identically to its BMP twin")

    // RESIZE: a pixel-replicated 2× upscale with grid-divisible dims
    // scales every box sum and count by 4 — comparisons, and so the
    // hash, are unchanged (18 = 2·9, 16 = 2·8 divide the grid exactly)
    val divisible = Seq((42L, 18, 16)).toDF("doc_id", "w", "h")
    val base = Multimodal.imageDHash(
      Multimodal.encodeBmpGray(divisible, "doc_id", "w", "h")).head()
    val up = Multimodal.imageDHash(
      Multimodal.encodeBmpGrayScaled(divisible, "doc_id", "w", "h", 2)).head()
    assert((up.width, up.height) === ((36, 32)))
    assert(up.dhash === base.dhash,
      "a grid-divisible 2x upscale must hash identically")

    // pairs ≡ brute force on a mixed corpus (pigeonhole: 3 < 4 bands)
    val docs = (0L until 60L).map(d => (d, (9 + d % 24).toInt, (8 + d % 16).toInt))
      .toDF("doc_id", "w", "h")
    val media = Multimodal.encodeBmpGray(docs, "doc_id", "w", "h")
      .unionByName(Multimodal.encodePngGray(
          docs.filter(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "w", "h")
        .withColumn("media_id", col("media_id") + 1000))
    val got = Multimodal.imageNearDupPairs(media, maxHamming = 3, bands = 4)
      .as[(Long, Long, Int)].collect().toSet
    val all = Multimodal.imageDHash(media).collect()
    val brute = (for {
      a <- all; b <- all if a.media_id < b.media_id
      ham = java.lang.Long.bitCount(a.dhash ^ b.dhash) if ham <= 3
    } yield (a.media_id, b.media_id, ham)).toSet
    assert(got === brute, "banded pairs must equal the brute-force join")
    assert((0L until 60L by 5).forall(d => got.contains((d, d + 1000L, 0))),
      "every planted PNG re-encode must surface at Hamming 0")

    // below the 9×8 grid there is no gradient structure — refuse loudly
    val tiny = Multimodal.encodeBmpGray(
      Seq((3L, 8, 8)).toDF("doc_id", "w", "h"), "doc_id", "w", "h")
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.imageDHash(tiny).collect()
    }
    assert(e.getMessage.contains("media 3") ||
      Option(e.getCause).exists(_.getMessage.contains("media 3")))
  }
}
