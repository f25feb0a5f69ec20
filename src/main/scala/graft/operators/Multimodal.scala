package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column handling for training-data pipelines: image/audio/
  * video payloads travel as opaque `binary` columns with typed metadata,
  * and decode / feature-extract / frame-sample run as distributed
  * per-partition batch transforms.
  *
  * IMAGE and AUDIO decode are REAL: [[decodeImageMeta]] runs each
  * payload through `javax.imageio` (the JDK's own codec registry —
  * BMP/PNG/JPEG/GIF with no external library) and [[decodeAudioMeta]]
  * through `javax.sound.sampled.AudioSystem` (WAVE/AU/AIFF — the same
  * `java.desktop` module), one reader per row inside the same
  * per-partition batch shape, and both metadata queries are
  * DuckDB-oracled end-to-end (deterministic [[encodeBmpGray]] /
  * [[encodeWavPcm]] payloads, closed-form pixel/sample math on the
  * oracle side — the engine output matches iff the actual decode is
  * bit-correct). VIDEO has no JDK codec (none ships in `java.desktop`,
  * none in this container), so [[decodeVideoMeta]] is SPI-PLUGGABLE:
  * a deployment drops a jar implementing [[Multimodal.VideoDecoderSpi]]
  * (standard `java.util.ServiceLoader` discovery) and gets real decode
  * through the same per-partition registry discipline as audio; with
  * no provider the decode REFUSES loudly, naming the mechanism.
  * [[decodeFeaturesStub]] remains the codec-free *deterministic* fake
  * (unsigned-byte bucket sums), so the distributed surface around
  * video (binary schema, partition batching, typed Dataset encoders,
  * downstream joins/aggs) is real and verified byte-for-byte even
  * codec-less.
  *
  * Scale: payloads never pass through the driver; frame sampling and
  * feature extraction are narrow per-row/per-partition ops, so the only
  * shuffles are whatever the caller's aggregation needs. For real media
  * (MBs per row) set `spark.sql.files.maxPartitionBytes` so a partition's
  * worth of payloads fits executor memory.
  */
object Multimodal {

  /** Typed record: the canonical wire shape of a media row. */
  final case class MediaRecord(media_id: Long, mime: String, payload: Array[Byte])

  /** Stub decoder output: per-bucket unsigned-byte sums as fake "features".
    */
  final case class MediaFeatures(media_id: Long, n_bytes: Int, features: Array[Long])

  /** Wrap a text column as a binary payload (the testdata has no real media
    * files; UTF-8 bytes stand in for encoded frames — the engine treats
    * them as opaque either way).
    */
  def attachBlob(df: DataFrame, id: String, text: String, mime: String): DataFrame =
    df.select(
      col(id).cast("long").as("media_id"),
      lit(mime).as("mime"),
      encode(col(text), "UTF-8").as("payload"))

  /** Typed metadata projection over the opaque payload: byte length,
    * content digest, leading-bytes signature (all codegen'd expressions).
    * `hx` is the hex rendering used for engine-portable slicing.
    */
  def meta(media: DataFrame): DataFrame =
    media.select(
      col("media_id"), col("mime"),
      length(col("payload")).as("byte_len"),
      hex(col("payload")).as("hx")) // uppercase in Spark AND DuckDB

  /** Exact integer floor division (toward -inf, matching DuckDB `//`) —
    * Spark's int `/` yields double and `cast("int")` truncates toward zero,
    * which disagrees on negative numerators (byte_len = 0 ⇒ (0-1)/s).
    */
  private def floorDiv(a: Column, b: Int): Column =
    ((a - pmod(a, lit(b))) / b).cast("int")

  /** Frame sampling: one `frameBytes`-sized frame every `strideBytes`,
    * digested. Slicing happens on the hex rendering (2 chars/byte) so the
    * identical arithmetic runs on engines without blob slicing. Output:
    * (media_id, frame_no, frame_md5) — one row per sampled frame; empty
    * payloads emit no frames (floor((0-1)/stride) = -1, as in the oracle).
    */
  def sampleFrames(media: DataFrame, frameBytes: Int, strideBytes: Int): DataFrame = {
    val m = meta(media)
    val maxIdx = floorDiv(col("byte_len") - 1, strideBytes) // 0-based max index; -1 ⇒ none
    val frames = when(maxIdx < 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), greatest(maxIdx, lit(0))),
        i => md5(col("hx").substr(i * (strideBytes * 2) + 1, lit(frameBytes * 2)))))
    m.select(col("media_id"), posexplode(frames))
      .select(col("media_id"), col("pos").as("frame_no"), col("col").as("frame_md5"))
  }

  /** STUB resize (see class doc): downsample the payload by keeping every
    * `factor`-th byte — the deterministic stand-in for an image resize
    * kernel, operating on the same opaque-binary plumbing (a real decoder
    * would resize pixels; the engine-side schema, slicing arithmetic, and
    * verification are identical). Hex-plane slicing keeps the op
    * engine-portable. Output: (media_id, resized_len, resized_md5).
    */
  def resizeStub(media: DataFrame, factor: Int): DataFrame = {
    val m = meta(media)
    val keptBytes = floorDiv(col("byte_len") - 1, factor) + 1 // 0 for empty payloads
    val resizedHex = array_join(
      when(keptBytes <= 0, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0), greatest(keptBytes - 1, lit(0))),
          i => col("hx").substr(i * (factor * 2) + 1, lit(2)))),
      "")
    m.select(
      col("media_id"),
      keptBytes.as("resized_len"),
      md5(resizedHex).as("resized_md5"))
  }

  /** Content-defined chunking (Rabin-style CDC) over opaque binary
    * payloads — the byte-level dedup primitive for multimodal corpora:
    * identical media segments dedup across documents even when embedded
    * at different offsets, because chunk boundaries depend only on LOCAL
    * content. A boundary sits at byte offset p (`windowBytes` ≤ p <
    * byte_len) iff the portable 60-bit hash of the `windowBytes`-byte
    * window ending at p has its low `maskBits` bits zero — expected
    * chunk length 2^maskBits bytes. The predicate is stateless per
    * position (no sequential min/max-chunk clamps), which is what makes
    * it shift-invariant AND fully relational: both engines replay every
    * boundary exactly.
    *
    * Boundary scan AND chunk assembly run as ONE native pass per payload
    * ([[graft.functions.CdcChunks]], r13): the per-position md5 window
    * predicate and the per-chunk md5 are one JVM loop over the hex
    * bytes — bit-identical digests to the former exploded
    * `substr`+`md5` Column chain (the oracle replays the same formula),
    * with the per-byte-position row explode, the boundary∪start union,
    * the payload re-join, and the per-media window shuffle all gone: the
    * query plan is scan → project → posexplode, ZERO exchanges
    * (plan-pinned). Empty payloads yield one zero-length chunk (md5 of
    * the empty string, engine-portable). NULL payloads yield NO rows —
    * `cdc_chunks(null)` is null and posexplode drops the media (r13
    * advisory: the pre-r13 relational form emitted one all-NULL chunk row
    * per null-payload media; this drop-null contract is the operator's
    * documented behavior — filter upstream if null media must survive).
    * Output: (media_id, chunk_no, start, chunk_len, chunk_md5).
    */
  def cdcChunks(media: DataFrame, windowBytes: Int, maskBits: Int): DataFrame = {
    require(windowBytes >= 1, s"need windowBytes >= 1, got $windowBytes")
    require(maskBits >= 0 && maskBits <= 32, s"need 0 <= maskBits <= 32, got $maskBits")
    graft.GraftExtensions.ensure(media.sparkSession)
    meta(media)
      .select(col("media_id"),
        posexplode(call_function("cdc_chunks",
          col("hx"), lit(windowBytes), lit(maskBits)))
          .as(Seq("_mmNo", "_mmC")))
      .select(col("media_id"), col("_mmNo").cast("long").as("chunk_no"),
        col("_mmC.start").as("start"), col("_mmC.chunk_len").as("chunk_len"),
        col("_mmC.chunk_md5").as("chunk_md5"))
  }

  /** Cross-document chunk dedup over [[cdcChunks]] output: every chunk
    * digest occurring more than once, with its occurrence and document
    * counts and the least witness — the "store each block once" CAS
    * inventory. One partial-agg shuffle on the digest.
    */
  def cdcDedup(chunks: DataFrame): DataFrame =
    chunks.groupBy("chunk_md5", "chunk_len")
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("media_id")).as("n_docs"),
        min(col("media_id")).as("keep_media"))
      .filter(col("n_copies") >= 2)

  /** Decoded-image metadata record: codec-reported format and dimensions
    * plus the exact integer luma sum (ITU-R BT.601 integer weights:
    * ⌊(299·r + 587·g + 114·b + 500) / 1000⌋ per pixel — equals the gray
    * value exactly on r = g = b payloads, which is what makes the decode
    * oracle-checkable in closed form).
    */
  final case class ImageMeta(media_id: Long, format: String,
      width: Int, height: Int, n_pixels: Long, luma_sum: Long)

  /** REAL image decode over opaque binary payloads via `javax.imageio` —
    * the JDK's pluggable codec registry (BMP, PNG, JPEG, GIF, WBMP ship
    * with every JRE; a deployment drops TwelveMonkeys-style plugins on
    * the classpath for TIFF/WebP and this code is unchanged). Runs as a
    * typed per-partition batch transform like every decode in this file:
    * payloads never touch the driver, each task decodes its partition's
    * rows and emits fixed-size metadata, so the shuffle cost downstream
    * is metadata-sized regardless of payload size. A corrupt or
    * unsupported payload fails LOUDLY with the media id (a silent skip
    * would undercount a 100 TB corpus audit; filter upstream if bad rows
    * are expected).
    */
  def decodeImageMeta(media: DataFrame): Dataset[ImageMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          // MemoryCacheImageInputStream, NOT ImageIO.createImageInputStream:
          // the default factory disk-caches every stream — one /tmp file
          // per image, which exhausts the process's file handles at corpus
          // scale (measured: "Too many open files" at 500k images × 32
          // tasks). The payload is already an in-memory byte array; a
          // memory-cached stream touches no file system at all.
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            // reader lookup runs INSIDE the try so an unrecognized
            // payload still closes the stream on its failure path
            val readers = javax.imageio.ImageIO.getImageReaders(iis)
            require(readers.hasNext,
              s"media $id: no ImageIO codec recognizes this payload")
            val reader = readers.next()
            try {
              reader.setInput(iis)
              val fmt = reader.getFormatName.toLowerCase
              val img = reader.read(0)
              val (w, h) = (img.getWidth, img.getHeight)
              var sum = 0L
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val rgb = img.getRGB(x, y)
                  val r = (rgb >> 16) & 0xff
                  val g = (rgb >> 8) & 0xff
                  val b = rgb & 0xff
                  sum += (299L * r + 587L * g + 114L * b + 500L) / 1000L
                  x += 1
                }
                y += 1
              }
              ImageMeta(id, fmt, w, h, w.toLong * h, sum)
            } finally reader.dispose()
          } finally iis.close()
        }
      }
  }

  /** One difference-hash row per image: 64-bit perceptual signature +
    * decoded dimensions. */
  final case class ImageDHash(media_id: Long, width: Int, height: Int,
      dhash: Long)

  /** Perceptual 64-bit difference hash (dHash) over decoded pixels —
    * the image-modality entry into the dedup family: a re-encoded
    * (PNG↔BMP↔JPEG-lossless) or pixel-replicated resized duplicate
    * hashes identically or within a few bits, where every byte-level
    * signature (CDC chunks, md5) sees unrelated payloads.
    *
    * All integer arithmetic, so the signature is engine-portable and
    * closed-form oracle-able over [[encodeBmpGray]] payloads:
    *   1. decode; per-pixel luma = (299r + 587g + 114b + 500) / 1000
    *      (the [[decodeImageMeta]] rounding);
    *   2. integer box-downscale to a 9×8 grid — cell (cx, cy) covers
    *      x ∈ [cx·w/9, (cx+1)·w/9), y ∈ [cy·h/8, (cy+1)·h/8) (floor
    *      division; w ≥ 9, h ≥ 8 keeps every box nonempty), carrying
    *      the exact SUM and COUNT, never a rounded average;
    *   3. bit cy·8+cx (cx ∈ 0..7) set iff cell (cx+1, cy)'s mean
    *      exceeds cell (cx, cy)'s — compared cross-multiplied
    *      (sumR·cntL > sumL·cntR), exact for ragged box sizes.
    *
    * Same per-partition decode shape as [[decodeImageMeta]]: payloads
    * never shuffle, fixed-size rows out, corrupt payloads fail loudly
    * with the media id.
    */
  def imageDHash(media: DataFrame): Dataset[ImageDHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            val readers = javax.imageio.ImageIO.getImageReaders(iis)
            require(readers.hasNext,
              s"media $id: no ImageIO codec recognizes this payload")
            val reader = readers.next()
            try {
              reader.setInput(iis)
              val img = reader.read(0)
              val (w, h) = (img.getWidth, img.getHeight)
              require(w >= 9 && h >= 8,
                s"media $id: ${w}x$h is below the 9x8 dHash grid — a " +
                  s"thumbnail this small has no gradient structure to hash")
              // per-cell exact sums: each pixel visited once, boxes
              // partition the image
              val sums = new Array[Long](72)
              val cnts = new Array[Long](72)
              var cy = 0
              while (cy < 8) {
                val y0 = cy * h / 8; val y1 = (cy + 1) * h / 8
                var cx = 0
                while (cx < 9) {
                  val x0 = cx * w / 9; val x1 = (cx + 1) * w / 9
                  var s = 0L
                  var y = y0
                  while (y < y1) {
                    var x = x0
                    while (x < x1) {
                      val rgb = img.getRGB(x, y)
                      val r = (rgb >> 16) & 0xff
                      val g = (rgb >> 8) & 0xff
                      val b = rgb & 0xff
                      s += (299L * r + 587L * g + 114L * b + 500L) / 1000L
                      x += 1
                    }
                    y += 1
                  }
                  val c = cy * 9 + cx
                  sums(c) = s
                  cnts(c) = (x1 - x0).toLong * (y1 - y0)
                  cx += 1
                }
                cy += 1
              }
              var sig = 0L
              var b = 0
              while (b < 64) {
                val l = (b / 8) * 9 + b % 8
                if (sums(l + 1) * cnts(l) > sums(l) * cnts(l + 1))
                  sig |= 1L << b
                b += 1
              }
              ImageDHash(id, w, h, sig)
            } finally reader.dispose()
          } finally iis.close()
        }
      }
  }

  /** Perceptual image near-duplicate pairs: [[imageDHash]] signatures
    * through [[Dedup.hammingPairs]]'s banded-block engine — one decode
    * pass (zero shuffles, payloads stay put), then the candidate join
    * runs over 8-byte signatures only. Exact ≡ brute force for
    * `maxHamming < bands` (the pigeonhole argument); output
    * (a_id, b_id, hamming) with a_id < b_id.
    */
  def imageNearDupPairs(media: DataFrame, maxHamming: Int,
      bands: Int = 4): DataFrame =
    graft.operators.Dedup.hammingPairs(
      imageDHash(media).toDF(), "media_id", "dhash", maxHamming, bands)

  /** Deterministic gray 24-bit BMP payloads (BITMAPFILEHEADER +
    * BITMAPINFOHEADER, uncompressed, bottom-up rows padded to 4 bytes —
    * the public Windows DIB layout): pixel (x, y) of image `id` has
    * r = g = b = ((id·31 + y·w + x)·7) mod 256. Pure integer arithmetic,
    * so an oracle can compute any decoded statistic in closed form
    * WITHOUT a codec — [[decodeImageMeta]] over these payloads matches
    * DuckDB iff the real ImageIO decode reproduces every pixel. Also the
    * synthetic-media generator for decode benchmarks.
    */
  def encodeBmpGray(df: DataFrame, id: String, w: String, h: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(id).cast("long"), col(w).cast("int"), col(h).cast("int"))
      .as[(Long, Int, Int)]
      .mapPartitions { rows =>
        rows.map { case (mid, wi, hi) =>
          MediaRecord(mid, "image/bmp", bmpGrayBytes(mid, wi, hi))
        }
      }.toDF()
  }

  private def bmpGrayBytes(seed: Long, w: Int, h: Int,
      scale: Int = 1): Array[Byte] = {
    require(w >= 1 && h >= 1, s"media $seed: bad dimensions ${w}x$h")
    require(scale >= 1, s"media $seed: bad scale $scale")
    val (sw, sh) = (w * scale, h * scale)
    val rowBytes = (sw * 3 + 3) / 4 * 4 // each row padded to 4 bytes
    val size = 54 + rowBytes * sh
    val b = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(size)
      .putShort(0).putShort(0).putInt(54) // reserved ×2, pixel offset
    b.putInt(40).putInt(sw).putInt(sh) // info header size, dims (h>0 ⇒ bottom-up)
      .putShort(1).putShort(24) // planes, bpp
      .putInt(0).putInt(rowBytes * sh) // BI_RGB, image size
      .putInt(2835).putInt(2835).putInt(0).putInt(0) // 72 dpi, palette unused
    var fy = 0
    while (fy < sh) {
      val y = sh - 1 - fy // file rows run bottom-up
      var x = 0
      while (x < sw) {
        // scale > 1 is a pixel-replicated upscale of the base pattern —
        // the closed form stays ((seed·31 + (y/s)·w + x/s)·7) mod 256
        val v = (((seed * 31 +
          ((y / scale).toLong * w + x / scale)) * 7) % 256).toInt
        b.put(v.toByte).put(v.toByte).put(v.toByte)
        x += 1
      }
      var pad = sw * 3
      while (pad < rowBytes) { b.put(0.toByte); pad += 1 }
      fy += 1
    }
    b.array()
  }

  /** [[encodeBmpGray]]'s pixel-replicated `scale`× upscale: image
    * (scale·w)×(scale·h) whose pixel (x, y) carries the base pattern's
    * value at (x/scale, y/scale) — a deterministic stand-in for a
    * RESIZED duplicate (same picture, more pixels, different bytes),
    * still fully closed-form for the oracle.
    */
  def encodeBmpGrayScaled(df: DataFrame, id: String, w: String, h: String,
      scale: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(id).cast("long"), col(w).cast("int"), col(h).cast("int"))
      .as[(Long, Int, Int)]
      .mapPartitions { rows =>
        rows.map { case (mid, wi, hi) =>
          MediaRecord(mid, "image/bmp", bmpGrayBytes(mid, wi, hi, scale))
        }
      }.toDF()
  }

  /** The same deterministic gray pattern RE-ENCODED as PNG through the
    * JDK's ImageIO writer — a true re-encoded duplicate: byte-level
    * dedup (CDC, md5) sees an unrelated payload, while any
    * pixel-derived signature ([[imageDHash]]) must match the BMP twin
    * exactly. Pixels are written r = g = b = v into a TYPE_INT_RGB
    * raster (NOT TYPE_BYTE_GRAY: gray→sRGB conversion in `getRGB` is
    * color-managed and would bend the values; an RGB raster round-trips
    * every channel byte-exactly through the lossless PNG path).
    */
  def encodePngGray(df: DataFrame, id: String, w: String, h: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(id).cast("long"), col(w).cast("int"), col(h).cast("int"))
      .as[(Long, Int, Int)]
      .mapPartitions { rows =>
        rows.map { case (mid, wi, hi) =>
          require(wi >= 1 && hi >= 1, s"media $mid: bad dimensions ${wi}x$hi")
          val img = new java.awt.image.BufferedImage(
            wi, hi, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < hi) {
            var x = 0
            while (x < wi) {
              val v = (((mid * 31 + (y.toLong * wi + x)) * 7) % 256).toInt
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          val out = new java.io.ByteArrayOutputStream()
          require(javax.imageio.ImageIO.write(img, "png", out),
            s"media $mid: no PNG writer on this JVM")
          MediaRecord(mid, "image/png", out.toByteArray)
        }
      }.toDF()
  }

  /** Decoded-audio metadata record: container type and codec-reported
    * format fields plus the exact integer sum of every decoded sample
    * across all channels — closed-form checkable on [[encodeWavPcm]]
    * payloads, exactly as [[ImageMeta]]'s luma sum is on BMPs.
    */
  final case class AudioMeta(media_id: Long, container: String,
      encoding: String, sample_rate: Int, channels: Int, bits: Int,
      n_frames: Long, sample_sum: Long)

  /** REAL audio decode over opaque binary payloads via
    * `javax.sound.sampled.AudioSystem` — the JDK's pluggable audio codec
    * registry (WAVE, AU, AIFF ship in `java.desktop`, the same module as
    * the `javax.imageio` codecs [[decodeImageMeta]] drives; a deployment
    * drops an SPI jar on the classpath for MP3/OGG/FLAC and this code is
    * unchanged). Same discipline as the image decode: a typed
    * per-partition batch transform — payloads never touch the driver,
    * each task decodes its partition's rows and emits fixed-size
    * metadata — and a corrupt or unsupported payload fails LOUDLY with
    * the media id (a silent skip would undercount a corpus audit).
    * Streams are in-memory (`ByteArrayInputStream` is mark/reset-capable,
    * so the readers need no temp files — the
    * MemoryCacheImageInputStream lesson) and close on every failure
    * path. Sample math is exact-integer over the decoded PCM frames:
    * 8-bit (signed or unsigned) and 16-bit (either endianness) PCM sum
    * exactly; any other encoding refuses rather than approximating.
    *
    * The codec REGISTRY resolves once per partition, not per row:
    * `AudioSystem.getAudioInputStream`'s per-call provider lookup
    * funnels through a synchronized JDK-internal service registry,
    * measured serializing 32 decode threads to ~30× below the direct
    * form on 500k rows (18.7 s → 0.6 s) — the audio twin of the
    * ImageIO disk-cache lesson. The partition loads the same pluggable
    * `javax.sound.sampled.spi.AudioFileReader` SPI list `AudioSystem`
    * itself consults (so classpath codec plugins still work), probes
    * readers directly, and keeps a move-to-front hint so a homogeneous
    * corpus pays one probe per row with zero registry traffic.
    */
  /** One per-partition audio decode context: the SPI reader list (see
    * [[decodeAudioMeta]]'s registry note) plus a move-to-front probe
    * hint, and the shared exact PCM sample decode. Instantiate ONE per
    * partition — never per row (the registry scan) and never shared
    * across tasks (the hint is unsynchronized by design).
    */
  private final class AudioDecoder {
    import javax.sound.sampled.{AudioFormat, AudioInputStream}
    import javax.sound.sampled.spi.AudioFileReader
    private val readers = {
      val it = java.util.ServiceLoader.load(classOf[AudioFileReader],
        classOf[AudioFileReader].getClassLoader).iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[AudioFileReader]
      while (it.hasNext) buf += it.next()
      buf.toArray
    }
    private var preferred = 0

    /** Container type from the payload's magic bytes — replaces a full
      * second header parse for every container the JDK ships a reader
      * for (wave/au/aiff/aifc; names match the JDK
      * `AudioFileFormat.Type.toString.toLowerCase` this code always
      * reported). None for anything else — a third-party SPI container
      * falls back to asking the reader that accepted the stream, so the
      * reported type can never disagree with the codec that decodes it.
      */
    private def sniff(bytes: Array[Byte]): Option[String] = {
      def ascii(off: Int, s: String): Boolean =
        bytes.length >= off + s.length &&
          (0 until s.length).forall(i => bytes(off + i) == s.charAt(i).toByte)
      if (ascii(0, "RIFF") && ascii(8, "WAVE")) Some("wave")
      else if (ascii(0, ".snd")) Some("au")
      else if (ascii(0, "FORM") && ascii(8, "AIFF")) Some("aiff")
      else if (ascii(0, "FORM") && ascii(8, "AIFC")) Some("aiff-c")
      else None
    }

    /** (container type, open stream) from the first recognizing reader,
      * preferred-first. ONE codec header parse per row
      * (`getAudioInputStream`); the container type comes from the
      * 12-byte magic sniff, with the reader's own `getAudioFileFormat`
      * as the rare-container fallback — on the SAME reader, so the type
      * can never disagree with the stream.
      */
    def open(id: Long, bytes: Array[Byte]): (String, AudioInputStream) = {
      var i = 0
      while (i < readers.length) {
        val r = readers((preferred + i) % readers.length)
        try {
          val ais = r.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          preferred = (preferred + i) % readers.length
          val t = sniff(bytes).getOrElse(r.getAudioFileFormat(
            new java.io.ByteArrayInputStream(bytes)).getType.toString.toLowerCase)
          return (t, ais)
        } catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => ()
        }
        i += 1
      }
      throw new IllegalArgumentException(
        s"media $id: no javax.sound codec recognizes this payload")
    }

    /** Decode every PCM sample (all channels, stream order) to exact
      * integers. 8-bit (signed/unsigned) and 16-bit (either endianness)
      * only; anything else refuses loudly — a silent skip or a float
      * approximation would corrupt a corpus audit.
      */
    def samples(id: Long, ais: AudioInputStream): Array[Int] = {
      val f = ais.getFormat
      val bits = f.getSampleSizeInBits
      val enc = f.getEncoding
      val signed = enc == AudioFormat.Encoding.PCM_SIGNED
      require(signed || enc == AudioFormat.Encoding.PCM_UNSIGNED,
        s"media $id: encoding $enc is not PCM — refusing the exact " +
          s"sample math rather than approximating")
      require(bits == 8 || bits == 16,
        s"media $id: $bits-bit PCM is outside the exact sample math")
      val data = ais.readAllBytes()
      if (bits == 8) {
        val out = new Array[Int](data.length)
        var i = 0
        while (i < data.length) {
          out(i) = if (signed) data(i).toInt else data(i) & 0xff
          i += 1
        }
        out
      } else {
        require(data.length % 2 == 0,
          s"media $id: torn 16-bit frame (${data.length} bytes)")
        val (lo, hi) = if (f.isBigEndian) (1, 0) else (0, 1)
        val out = new Array[Int](data.length / 2)
        var i = 0
        while (i < data.length) {
          val u = ((data(i + hi) & 0xff) << 8) | (data(i + lo) & 0xff)
          out(i / 2) = if (signed) u.toShort.toInt else u
          i += 2
        }
        out
      }
    }
  }

  def decodeAudioMeta(media: DataFrame): Dataset[AudioMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val dec = new AudioDecoder
        rows.map { case (id, bytes) =>
          val (container, ais) = dec.open(id, bytes)
          try {
            val f = ais.getFormat
            val s = dec.samples(id, ais)
            var sum = 0L
            var i = 0
            while (i < s.length) { sum += s(i); i += 1 }
            AudioMeta(id, container, f.getEncoding.toString,
              math.round(f.getSampleRate), f.getChannels,
              f.getSampleSizeInBits, ais.getFrameLength, sum)
          } finally ais.close()
        }
      }
  }

  /** Per-window exact sample statistics over decoded PCM — the audio
    * QUALITY GATE primitives for a training corpus: windows whose
    * `sum_sq` (energy) sits near zero are silence, windows whose
    * `peak_abs` pins the sample range are clipped, and both verdicts
    * are pure integers (sum of 16-bit squares over a window of W ≤ 2^20
    * frames fits a long with > 20 bits to spare), so the whole gate is
    * engine-portable and oracle-checkable — no float RMS. One row per
    * (media, window of `windowFrames` samples, channels interleaved in
    * stream order; the tail window is short). Runs in the same
    * per-partition decode shape as [[decodeAudioMeta]] with the SAME
    * per-partition codec context — fixed-size rows out, payloads never
    * shuffle.
    */
  final case class AudioWindow(media_id: Long, window_no: Long,
      n_samples: Int, sample_sum: Long, sum_sq: Long, peak_abs: Int)

  def audioWindowStats(media: DataFrame, windowFrames: Int): Dataset[AudioWindow] = {
    require(windowFrames >= 1, s"need windowFrames >= 1, got $windowFrames")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val dec = new AudioDecoder
        rows.flatMap { case (id, bytes) =>
          val (_, ais) = dec.open(id, bytes)
          val s = try dec.samples(id, ais) finally ais.close()
          (0 until s.length by windowFrames).iterator.map { start =>
            val end = math.min(start + windowFrames, s.length)
            var sum = 0L
            var sq = 0L
            var peak = 0
            var i = start
            while (i < end) {
              val v = s(i)
              sum += v
              sq += v.toLong * v
              val a = math.abs(v)
              if (a > peak) peak = a
              i += 1
            }
            AudioWindow(id, start.toLong / windowFrames, end - start,
              sum, sq, peak)
          }
        }
      }
  }

  /** Per-media audio quality VERDICT — the gate decision over
    * [[audioWindowStats]]'s primitives, folded per media INSIDE the same
    * per-partition decode pass (no shuffle, no streaming state): a
    * window is SILENT iff its energy is at most
    * `silenceEnergyPerSample · n_samples` (cross-multiplied, exact; the
    * default 0 means digital silence), the media is CLIPPED iff any
    * window's `peak_abs` reaches `peakCeiling` (32767 pins the 16-bit
    * range), and `keep` holds iff silent windows stay within
    * `maxSilencePpm` parts-per-million of all windows
    * (`n_silent · 10⁶ ≤ maxSilencePpm · n_windows` — integer
    * cross-multiplication, no float ratio) AND nothing clipped. A
    * zero-sample payload emits one row with `n_windows = 0` and
    * `keep = true` (the silence bound is vacuous; [[decodeAudioMeta]]'s
    * meta row, not the gate, is where emptiness is visible).
    *
    * Stateless per record, so the SAME call is the streaming at-ingest
    * deployment: it runs unchanged on a `readStream` frame (no state
    * store, no watermark, append-safe; MultimodalSpec pins stream ≡ batch).
    */
  final case class AudioGate(media_id: Long, n_windows: Long,
      n_silent: Long, n_clipped: Long, peak_abs: Int, keep: Boolean)

  def audioGate(media: DataFrame, windowFrames: Int,
      maxSilencePpm: Long, peakCeiling: Int,
      silenceEnergyPerSample: Long = 0L): Dataset[AudioGate] = {
    require(windowFrames >= 1, s"need windowFrames >= 1, got $windowFrames")
    require(maxSilencePpm >= 0 && maxSilencePpm <= 1000000L,
      s"maxSilencePpm is parts-per-million, got $maxSilencePpm")
    require(peakCeiling >= 1, s"need peakCeiling >= 1, got $peakCeiling")
    require(silenceEnergyPerSample >= 0,
      s"need silenceEnergyPerSample >= 0, got $silenceEnergyPerSample")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val dec = new AudioDecoder
        rows.map { case (id, bytes) =>
          val (_, ais) = dec.open(id, bytes)
          val s = try dec.samples(id, ais) finally ais.close()
          var nWin = 0L
          var nSilent = 0L
          var nClipped = 0L
          var peakAll = 0
          var start = 0
          while (start < s.length) {
            val end = math.min(start + windowFrames, s.length)
            var sq = 0L
            var peak = 0
            var i = start
            while (i < end) {
              val v = s(i)
              sq += v.toLong * v
              val a = math.abs(v)
              if (a > peak) peak = a
              i += 1
            }
            nWin += 1
            if (sq <= silenceEnergyPerSample * (end - start)) nSilent += 1
            if (peak >= peakCeiling) nClipped += 1
            if (peak > peakAll) peakAll = peak
            start = end
          }
          AudioGate(id, nWin, nSilent, nClipped, peakAll,
            nSilent * 1000000L <= maxSilencePpm * nWin && nClipped == 0L)
        }
      }
  }

  /** Per-media 64-bit audio fingerprint: the ENERGY-PROFILE difference
    * hash — [[imageDHash]]'s gradient trick in the time domain. The
    * first 65 windows of `windowFrames` samples each yield 64 exact
    * integer energies e_w = Σ sample² (the [[audioWindowStats]]
    * primitive); bit w is set iff e_{w+1} > e_w. Because uniform volume
    * scaling multiplies EVERY energy by the same c², the comparisons —
    * and so the fingerprint — are invariant under volume normalization,
    * and a re-encoded (WAV↔AU↔AIFF) duplicate decodes to the same PCM
    * and hashes identically: the duplicates byte-level dedup (CDC, md5)
    * can never see. All integer arithmetic — closed-form oracle-able
    * over [[encodeWavPcmQuiet]] payloads. `n_windows` reports the FULL
    * window count (context for the caller); media shorter than 65
    * windows refuse loudly (no gradient structure to hash — the audio
    * analogue of the image 9×8 floor).
    */
  final case class AudioFingerprint(media_id: Long, n_windows: Long, fp: Long)

  def audioFingerprint(media: DataFrame,
      windowFrames: Int): Dataset[AudioFingerprint] = {
    require(windowFrames >= 1, s"need windowFrames >= 1, got $windowFrames")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val dec = new AudioDecoder
        rows.map { case (id, bytes) =>
          val (_, ais) = dec.open(id, bytes)
          val s = try dec.samples(id, ais) finally ais.close()
          val nWin = (s.length.toLong + windowFrames - 1) / windowFrames
          require(nWin >= 65,
            s"media $id: $nWin windows of $windowFrames samples is below " +
              "the 65-window energy fingerprint — shrink windowFrames or " +
              "gate short media out upstream")
          val e = new Array[Long](65)
          var w = 0
          while (w < 65) {
            var sq = 0L
            var i = w * windowFrames
            val end = math.min(i + windowFrames, s.length)
            while (i < end) { sq += s(i).toLong * s(i); i += 1 }
            e(w) = sq
            w += 1
          }
          var fp = 0L
          var b = 0
          while (b < 64) {
            if (e(b + 1) > e(b)) fp |= 1L << b
            b += 1
          }
          AudioFingerprint(id, nWin, fp)
        }
      }
  }

  /** Audio near-duplicate pairs: [[audioFingerprint]] signatures through
    * [[Dedup.hammingPairs]]'s banded-block engine — the THIRD client of
    * the shared candidate machinery (text SimHash, image dHash, audio
    * energy-hash), so text/image/audio dedup all scale the same way:
    * one decode pass (zero shuffles, payloads stay put), candidates by
    * (band, block) equi-join over 8-byte signatures, exact Hamming
    * verify, exact ≡ brute force for `maxHamming < bands`.
    */
  def audioNearDupPairs(media: DataFrame, windowFrames: Int,
      maxHamming: Int, bands: Int = 4): DataFrame =
    graft.operators.Dedup.hammingPairs(
      audioFingerprint(media, windowFrames).toDF(),
      "media_id", "fp", maxHamming, bands)

  /** Deterministic mono 16-bit PCM WAV payloads (RIFF + `fmt ` + `data`
    * chunks, little-endian samples — the public canonical WAV layout):
    * sample i of audio `id` is ((id·31 + i)·7) mod 65536 − 32768. Pure
    * integer arithmetic, so an oracle computes any decoded statistic in
    * closed form WITHOUT a codec — [[decodeAudioMeta]] over these
    * payloads matches DuckDB iff the real javax.sound decode reproduces
    * every sample (≙ [[encodeBmpGray]] for the image path). Also the
    * synthetic-media generator for decode benchmarks.
    */
  def encodeWavPcm(df: DataFrame, id: String, n: String,
      sampleRate: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(id).cast("long"), col(n).cast("int"),
        col(sampleRate).cast("int"))
      .as[(Long, Int, Int)]
      .mapPartitions { rows =>
        rows.map { case (mid, ni, sr) =>
          MediaRecord(mid, "audio/wav", wavPcmBytes(mid, ni, sr))
        }
      }.toDF()
  }

  private def wavPcmBytes(seed: Long, n: Int, sampleRate: Int): Array[Byte] =
    wav16Bytes(seed, n, sampleRate,
      i => ((((seed * 31 + i) * 7) % 65536L) - 32768L).toInt)

  /** [[encodeWavPcm]]'s QUIET sibling scaled by an integer volume
    * factor: sample i = ((((id+1)·(i+7) mod 65536)·2654435761)
    * mod 16384 − 8192) · scale, scale ∈ 1..4 (the full range stays
    * inside 16-bit PCM: |−8192·4| = 32768 = the signed floor). The
    * product term makes the per-sample STEP seed-dependent and the
    * Knuth-constant scramble decorrelates consecutive samples, so
    * window energies — and [[audioFingerprint]] bits — vary
    * pseudo-randomly PER SEED: distinct streams get distinct
    * fingerprints, unlike [[encodeWavPcm]]'s slope-7 sawtooth whose
    * energy envelope is phase-only (hundreds of near-identical
    * fingerprints across seeds — a synthetic-density trap for any
    * pair query over it; a phase-and-step mix measured 3041 spurious
    * Hamming-≤3 pairs over 600 media where this form yields only the
    * planted ones). Every intermediate stays far below 2⁶³ at any
    * benchmark scale. A `scale > 1` payload is a deterministic
    * stand-in for a VOLUME-NORMALIZED duplicate — every window energy
    * multiplies by scale², so [[audioFingerprint]] must hash it
    * identically to its scale-1 twin while every byte-level signature
    * sees an unrelated payload. Still fully closed-form for the oracle.
    */
  def encodeWavPcmQuiet(df: DataFrame, id: String, n: String,
      sampleRate: String, scale: Int): DataFrame = {
    require(scale >= 1 && scale <= 4,
      s"scale $scale is outside 1..4 (|-8192*4| = 32768 is the 16-bit floor)")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(id).cast("long"), col(n).cast("int"),
        col(sampleRate).cast("int"))
      .as[(Long, Int, Int)]
      .mapPartitions { rows =>
        rows.map { case (mid, ni, sr) =>
          MediaRecord(mid, "audio/wav", wav16Bytes(mid, ni, sr,
            i => (((mid + 1) * (i + 7) % 65536L * 2654435761L % 16384L)
              - 8192L).toInt * scale))
        }
      }.toDF()
  }

  private def wav16Bytes(seed: Long, n: Int, sampleRate: Int,
      sample: Long => Int): Array[Byte] = {
    require(n >= 0, s"media $seed: bad sample count $n")
    // header is 44 bytes; past this, `44 + n * 2` overflows Int and the
    // allocate would fail with an unrelated NegativeArraySizeException
    require(n <= (Int.MaxValue - 44) / 2,
      s"media $seed: sample count $n exceeds the single-buffer WAV cap")
    // the documented closed forms assume a nonnegative seed: a negative
    // one drives the signed % below the range floor and the toShort
    // silently wraps, diverging from what an oracle computes
    require(seed >= 0, s"media $seed: seed must be nonnegative")
    require(sampleRate >= 1, s"media $seed: bad sample rate $sampleRate")
    val dataSize = n * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)            // PCM
      .putShort(1)            // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2) // byte rate = rate × block align
      .putShort(2)            // block align = channels × bytes/sample
      .putShort(16)           // bits per sample
    b.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0L
    while (i < n) {
      b.putShort(sample(i).toShort)
      i += 1
    }
    b.array()
  }

  /** Decoded-video metadata record — the contract a [[VideoDecoderSpi]]
    * provider fills: container name, frame geometry, frame count, and
    * the exact integer luma sum over every decoded frame (the video
    * analogue of [[AudioMeta]]'s `sample_sum` / the image dHash's pixel
    * sums — a bit-correctness witness, not a float approximation).
    */
  final case class VideoMeta(media_id: Long, container: String,
      width: Int, height: Int, n_frames: Long, luma_sum: Long)

  /** Video-codec service-provider interface: the JDK ships NO video
    * codec (unlike `javax.imageio` / `javax.sound.sampled`, which back
    * the real image/audio decodes), so video decode is PLUGGABLE by the
    * standard `java.util.ServiceLoader` mechanism — a deployment drops
    * a jar exposing an implementation via
    * `META-INF/services/graft.operators.Multimodal$VideoDecoderSpi`
    * and [[decodeVideoMeta]] decodes for real with no code change,
    * through the same per-partition registry discipline as the audio
    * path (providers resolved ONCE per partition — the synchronized
    * JDK-registry lesson, measured 30× under 32 threads).
    */
  trait VideoDecoderSpi {
    /** Whether this provider decodes payloads of the given MIME type. */
    def supports(mime: String): Boolean
    /** Decode one payload; implementations must throw (not return
      * garbage) on corrupt payloads, naming the media id. */
    def decode(mediaId: Long, mime: String, payload: Array[Byte]): VideoMeta
  }

  /** Decode video payloads through whatever [[VideoDecoderSpi]]
    * providers the classpath carries. With no provider claiming a
    * payload's MIME type this fails LOUDLY, naming the plug mechanism —
    * never a silent skip or a fake row; [[decodeFeaturesStub]] remains
    * the codec-free deterministic stand-in for pipeline plumbing tests.
    * Same shape as the real image/audio decodes: one pruned scan, a
    * narrow per-partition typed transform, payloads never shuffle.
    */
  def decodeVideoMeta(media: DataFrame): Dataset[VideoMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("mime"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        // provider list resolved once per partition, not per row
        val loader = Option(Thread.currentThread.getContextClassLoader)
          .getOrElse(classOf[VideoDecoderSpi].getClassLoader)
        val providers = {
          val it = java.util.ServiceLoader
            .load(classOf[VideoDecoderSpi], loader).iterator()
          val b = Array.newBuilder[VideoDecoderSpi]
          while (it.hasNext) b += it.next()
          b.result()
        }
        rows.map { case (id, mime, bytes) =>
          providers.find(_.supports(mime)).fold[VideoMeta](
            sys.error(s"media $id: no VideoDecoderSpi provider on the " +
              s"classpath supports '$mime' — video decode is pluggable: " +
              "ship a codec jar exposing graft.operators.Multimodal$" +
              "VideoDecoderSpi via META-INF/services (the image/audio " +
              "decoders ride the JDK's own registries the same way); " +
              "decodeFeaturesStub is the codec-free stand-in")
          )(_.decode(id, mime, bytes))
        }
      }
  }

  /** STUB feature extraction (see class doc — the codec-free VIDEO
    * stand-in; image and audio decode are real, and [[decodeVideoMeta]]
    * decodes video for real when a [[VideoDecoderSpi]] jar is on the
    * classpath): features[j] = Σ of unsigned
    * byte values at positions ≡ j (mod dim). Runs as a typed per-partition
    * batch transform — the exact execution shape a vectorized decoder
    * (one codec context per partition, rows streamed through it) would use.
    */
  def decodeFeaturesStub(media: DataFrame, dim: Int): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // real codepath: open one decoder per partition here, close after
        rows.map { case (id, bytes) =>
          val feats = new Array[Long](dim)
          var i = 0
          while (i < bytes.length) {
            feats(i % dim) += (bytes(i) & 0xff)
            i += 1
          }
          MediaFeatures(id, bytes.length, feats)
        }
      }
  }
}
