package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads are opaque
  * `binary` columns with typed metadata; decode / feature-extraction
  * runs as a partition-wise batch transform (`mapPartitions` over a
  * typed Dataset — the Scala analog of `mapInPandas`): the executor-side
  * schema, batching and partitioning are real, while the actual media
  * decoder is pluggable.
  *
  * Image decoding is REAL ([[decodeImages]]/[[realDecoder]]:
  * javax.imageio's built-in PNG/JPEG/BMP/GIF readers), audio decoding
  * is REAL ([[decodeAudio]]: javax.sound's WAV/AIFF/AU readers), and
  * frame sampling is REAL for the one multi-frame container the JDK
  * decodes natively ([[sampleFrames]]: animated GIF) — all inside the
  * partition iterator, with corrupt or undecodable payloads degrading
  * to an `ok = false` row instead of killing the job. Video codecs
  * are not available in this environment, so the generic video path
  * keeps `fakeDecoder`/[[frameSample]] — deterministic byte-level
  * featurizers — to exercise the same distributed plumbing.
  */
object MultimodalOps {

  final case class MediaFeatures(id: Long, n_bytes: Long, checksum: Long,
                                 head_byte: Long)

  type Decoder = Array[Byte] => (Long, Long, Long)

  /** NULL payloads (missing media) are treated as empty: a null byte
    * array would NPE inside a task at corpus scale, and a decoder stub
    * shouldn't be the thing that kills a 100 TB job. Callers that need
    * null-vs-empty distinction should filter upstream.
    */
  @inline private def orEmpty(b: Array[Byte]): Array[Byte] =
    if (b == null) Array.emptyByteArray else b

  /** Deterministic fake decode: (n_bytes, byte-sum mod 997, first byte).
    * Stands in for image resize / audio feature-extract / frame-sample.
    */
  val fakeDecoder: Decoder = bytes => {
    var sum = 0L
    var k = 0
    while (k < bytes.length) { sum += (bytes(k) & 0xff); k += 1 }
    (bytes.length.toLong, sum % 997,
      if (bytes.isEmpty) -1L else (bytes(0) & 0xff).toLong)
  }

  final case class ImageFeatures(id: Long, ok: Boolean, width: Int,
                                 height: Int, luma_sum: Long)

  /** Headers are validated BEFORE pixel allocation: a corrupt or
    * adversarial header declaring absurd dimensions would otherwise
    * drive ImageIO into a multi-GB BufferedImage and an
    * OutOfMemoryError — which is fatal (NonFatal doesn't catch it)
    * and WOULD kill the scan the ok=false contract protects. */
  private val MaxImagePixels = 64L * 1024 * 1024

  /** Σ integer luma over every pixel (ITU-R 601 integer form — exactly
    * `g` for gray pixels). Bulk row reads: per-pixel getRGB pays a
    * ColorModel conversion call per pixel — ~an order of magnitude
    * slower in the hot loop for identical output.
    */
  private def lumaSum(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    var sum = 0L
    val row = new Array[Int](w)
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, row, 0, w)
      var x = 0
      while (x < w) {
        val p = row(x)
        sum += (299 * ((p >> 16) & 0xff) +
          587 * ((p >> 8) & 0xff) + 114 * (p & 0xff)) / 1000
        x += 1
      }
      y += 1
    }
    sum
  }

  /** Explicit MEMORY-cached ImageIO stream over in-heap bytes.
    * `ImageIO.createImageInputStream` consults `ImageIO.getUseCache`
    * (default TRUE) and then backs even a ByteArrayInputStream with a
    * TEMP FILE per image in java.io.tmpdir — a create+write+delete of
    * a local-disk file in the decode hot loop, whose cost tracks tmpfs
    * pressure (measured: the sf0.1 decode line drifted 0.9 → 2+ s as
    * /tmp filled with scale fixtures). The payload is already in
    * memory; executors must not depend on local-disk state to decode
    * it. */
  private def memIis(bytes: Array[Byte])
      : javax.imageio.stream.ImageInputStream =
    new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))

  /** Decode one image payload with javax.imageio: (width, height,
    * Σ integer luma) where per-pixel luma is the ITU-R 601 integer
    * form `(299·R + 587·G + 114·B) / 1000` — exactly `g` for gray
    * pixels, so features stay engine-exact integers. Returns None for
    * null/empty/corrupt/non-image payloads.
    */
  private def decodeImage(raw: Array[Byte]): Option[(Int, Int, Long)] = {
    val bytes = orEmpty(raw)
    if (bytes.isEmpty) None
    else try {
      val iis = memIis(bytes)
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis)
            val w = reader.getWidth(0); val h = reader.getHeight(0)
            if (w <= 0 || h <= 0 || w.toLong * h > MaxImagePixels) None
            else Some((w, h, lumaSum(reader.read(0))))
          } finally reader.dispose()
        }
      } finally if (iis != null) iis.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Real image decoder behind the [[Decoder]] plug point:
    * (width, height, luma_sum), or (-1, -1, -1) for undecodable
    * payloads. */
  val realDecoder: Decoder = bytes =>
    decodeImage(bytes).getOrElse((-1, -1, -1L)) match {
      case (w, h, s) => (w.toLong, h.toLong, s)
    }

  /** Partition-wise REAL image decode (javax.imageio): one
    * ImageFeatures row per payload; undecodable payloads come back
    * `ok = false` with sentinel dimensions — a corrupt object must
    * never kill a 100 TB scan. Same batch shape as [[decodeFeatures]].
    */
  def decodeImages(spark: SparkSession, df: DataFrame, idCol: String,
      payloadCol: String): Dataset[ImageFeatures] = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, raw) =>
          decodeImage(raw) match {
            case Some((w, h, s)) => ImageFeatures(id, ok = true, w, h, s)
            case None => ImageFeatures(id, ok = false, -1, -1, -1L)
          }
        }
      }
  }

  /** Deterministic synthetic PNG for fixtures and oracle-gated
    * queries: `(8 + id % 5) × (8 + id % 3)` pixels, left half gray
    * `id % 200`, right half gray `(id · 7) % 200` — every feature
    * [[decodeImages]] extracts is closed-form in `id`, so a SQL
    * oracle can verify a REAL ImageIO round-trip without decoding
    * anything itself. */
  def synthPng(id: Long): Array[Byte] = {
    val w = (8 + id % 5).toInt; val h = (8 + id % 3).toInt
    val a = (id % 200).toInt; val b = (id * 7 % 200).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = if (x < w / 2) a else b
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    // ImageIO.write(img, fmt, OutputStream) internally opens the
    // default (FILE-cached) image output stream — same per-image
    // temp-file hazard as memIis documents; encode through an
    // explicit memory-cached stream instead
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    try {
      val w2 = javax.imageio.ImageIO
        .getImageWritersByFormatName("png").next()
      try { w2.setOutput(ios); w2.write(img) } finally w2.dispose()
    } finally ios.close()
    baos.toByteArray
  }

  /** `(id, payload)` frame of [[synthPng]] images for the id column of
    * `df` — the encode half of the real-decode round trip, run
    * partition-wise like the decoders. */
  def synthImages(spark: SparkSession, df: DataFrame, idCol: String)
      : DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions(it => it.map(id => (id, synthPng(id))))
      .toDF(idCol, "payload")
  }

  final case class FrameSample(id: Long, n_frames: Long, digest: String)

  final case class Resized(id: Long, n_out: Long, digest: String)

  /** Resize stub: nearest-neighbor resample of the payload to exactly
    * `outLen` bytes (the image-resize analog at byte granularity —
    * output index i reads source index ⌊i·len/outLen⌋). Deterministic,
    * engine-portable integer math; empty payloads resize to empty.
    * The distributed shape (typed partition-wise batch transform,
    * amortized digest instance) is the real thing; a media library
    * would replace only the per-row byte arithmetic.
    */
  def resize(spark: SparkSession, df: DataFrame, idCol: String,
      payloadCol: String, outLen: Int): Dataset[Resized] = {
    require(outLen > 0, s"outLen must be positive, got $outLen")
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, raw) =>
          val bytes = orEmpty(raw)
          val len = bytes.length
          val out =
            if (len == 0) Array.emptyByteArray
            else Array.tabulate(outLen)(i =>
              bytes((i.toLong * len / outLen).toInt))
          md.reset()
          val hex = md.digest(out).map("%02x".format(_)).mkString
          Resized(id, out.length.toLong, hex)
        }
      }
  }

  /** Frame sampling stub: keep every k-th byte of the payload (the
    * video-frame-sampling analog) and fingerprint the sampled stream.
    * The MessageDigest instance is reused across a partition's rows —
    * the batch-amortized pattern a real decoder would use.
    */
  def frameSample(spark: SparkSession, df: DataFrame, idCol: String,
      payloadCol: String, k: Int): Dataset[FrameSample] = {
    // fail on the driver: k=0 would throw an opaque per-task
    // 'step cannot be 0' from Array.range, k<0 silently empty output
    require(k > 0, s"sampling stride k must be positive, got $k")
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, raw) =>
          val bytes = orEmpty(raw)
          val sampled = Array.range(0, bytes.length, k).map(bytes(_))
          md.reset()
          val hex = md.digest(sampled).map("%02x".format(_)).mkString
          FrameSample(id, sampled.length.toLong, hex)
        }
      }
  }

  final case class FrameFeatures(id: Long, ok: Boolean, n_frames: Long,
      n_sampled: Long, luma_sum: Long, truncated: Boolean)

  /** Cap on frames walked per payload: a corrupt/adversarial frame
    * count must bound work the same way MaxImagePixels bounds one
    * frame's allocation. */
  private val MaxFrames = 4096

  /** Decode a MULTI-FRAME image payload (animated GIF — the one
    * multi-frame container the JDK decodes natively) and sample every
    * k-th frame: (total frames, frames sampled, Σ luma over sampled
    * frames, truncated). Skipped frames are counted via metadata only —
    * the reader never materializes their pixels, which is the point of
    * frame sampling. None for undecodable payloads. `truncated = true`
    * means the `maxFrames` work cap stopped the walk with frames
    * UNREAD — counts cover a prefix of the clip, not the clip
    * (disambiguated from an exact-cap-length clip by one metadata
    * probe past the cap): the caller sees the degradation instead of
    * trusting a silently short count, mirroring how MaxImagePixels
    * degrades a too-large single frame to ok = false.
    */
  private def decodeFrames(raw: Array[Byte], k: Int, maxFrames: Int)
      : Option[(Long, Long, Long, Boolean)] = {
    val bytes = orEmpty(raw)
    if (bytes.isEmpty) None
    else try {
      val iis = memIis(bytes)
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            // seekForwardOnly=false: frame index access is random
            reader.setInput(iis, false)
            var n = 0L; var sampled = 0L; var sum = 0L
            var bad = false
            var i = 0
            var more = true
            while (more && !bad && i < maxFrames) {
              try {
                val w = reader.getWidth(i); val h = reader.getHeight(i)
                if (w <= 0 || h <= 0 || w.toLong * h > MaxImagePixels)
                  bad = true
                else {
                  if (i % k == 0) {
                    sum += lumaSum(reader.read(i))
                    sampled += 1
                  }
                  n += 1
                }
              } catch {
                case _: IndexOutOfBoundsException => more = false
              }
              i += 1
            }
            // stopped BY the cap, not by the container's end: one
            // metadata probe tells an exact-cap clip (not truncated)
            // from one with unread frames (truncated)
            val truncated = more && !bad && i >= maxFrames &&
              (try { reader.getWidth(i); true }
               catch {
                 case _: IndexOutOfBoundsException => false
                 // a corrupt header AT the cap is exactly the
                 // adversarial tail the cap bounds: anything else the
                 // reader throws here must not void the decoded prefix
                 // (the cap guarantees a result) — report it truncated
                 case scala.util.control.NonFatal(_) => true
               })
            if (bad || n == 0) None else Some((n, sampled, sum, truncated))
          } finally reader.dispose()
        }
      } finally if (iis != null) iis.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Partition-wise REAL frame sampling over multi-frame payloads
    * (animated GIF via javax.imageio — in-JDK, no codec deps): one
    * FrameFeatures row per payload with every k-th frame decoded and
    * luma-summed, undecodable payloads degrading to `ok = false` —
    * the real-decode sibling of the byte-stride [[frameSample]] stub,
    * which remains the fallback for containers the environment has no
    * codec for. */
  def sampleFrames(spark: SparkSession, df: DataFrame, idCol: String,
      payloadCol: String, k: Int,
      maxFrames: Int = MaxFrames): Dataset[FrameFeatures] = {
    require(k > 0, s"sampling stride k must be positive, got $k")
    require(maxFrames > 0, s"maxFrames must be positive, got $maxFrames")
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, raw) =>
          decodeFrames(raw, k, maxFrames) match {
            case Some((n, s, l, t)) =>
              FrameFeatures(id, ok = true, n, s, l, truncated = t)
            case None =>
              FrameFeatures(id, ok = false, -1L, -1L, -1L,
                truncated = false)
          }
        }
      }
  }

  /** Deterministic synthetic animated GIF: `2 + id % 4` frames of
    * `8 × (4 + id % 3)` pixels, frame f solid gray
    * `(id·7 + f·13) % 200` — single-color frames survive GIF's
    * palette quantization exactly, so every [[sampleFrames]] feature
    * is closed-form in `id` and a SQL oracle can verify a REAL
    * ImageIO multi-frame round trip: luma of gray g is exactly g,
    * so luma_sum = Σ_{f ≡ 0 mod k} g_f · 8 · (4 + id % 3). */
  def synthGif(id: Long): Array[Byte] = {
    val nf = (2 + id % 4).toInt
    val w = 8; val h = (4 + id % 3).toInt
    val baos = new java.io.ByteArrayOutputStream()
    // memory-cached for the same reason as memIis: the default
    // createImageOutputStream writes a temp FILE per encoded clip
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nf) {
        val g = ((id * 7 + f * 13) % 200).toInt
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { img.setRGB(x, y, (g << 16) | (g << 8) | g); x += 1 }
          y += 1
        }
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    baos.toByteArray
  }

  /** `(id, payload)` frame of [[synthGif]] clips for the id column of
    * `df` — the encode half of the multi-frame round trip. */
  def synthGifs(spark: SparkSession, df: DataFrame, idCol: String)
      : DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions(it => it.map(id => (id, synthGif(id))))
      .toDF(idCol, "payload")
  }

  /** Perceptual average-hash (aHash) of a payload viewed as bytes —
    * the image near-dup fingerprint, at byte granularity like the
    * other multimodal stubs (a media library would replace the
    * sampling with decoded-pixel luma; the hashing, banding and
    * Hamming machinery downstream are the real thing): sample
    * `bits` = [[DedupOps.SimhashBits]] evenly-spaced positions (the
    * [[resize]] nearest-neighbor rule), set bit i when
    * sample·bits > Σsamples (integer compare — no division,
    * engine-exact), pack little-endian into a long.
    *
    * The output plugs STRAIGHT into [[DedupOps.simhashPairs]] (same
    * 60-bit width and banding), giving banded perceptual near-dup
    * pairs with guaranteed recall at Hamming ≤ 3. Map-side only; the
    * sample array is staged as an attribute so it is computed once
    * per row. ASCII-payload view (`string` column), matching the
    * fixture's text-as-bytes convention.
    */
  def withAHash(df: DataFrame, idCol: String, payloadCol: String)
      : DataFrame = {
    val bits = DedupOps.SimhashBits
    val n = length(col(payloadCol))
    // UNROLLED over the (static) bit positions instead of HOF lambdas:
    // higher-order functions evaluate interpreted per element, while
    // these 60 scalar expressions stay inside whole-stage codegen —
    // measured 1.4× at 100× scale (substr/ascii dominate; the lambda
    // interpretation was the rest). i·n in LONG: an int product
    // overflows past ~36M-char payloads.
    val vals = array((0 until bits).map { i =>
      ascii(col(payloadCol).substr(
        floor(lit(i.toLong) * n / lit(bits)).cast("int") + 1, lit(1)))
    }: _*)
    val staged = df.select(col(idCol).as("id"), vals.as("__v"))
    val total = (0 until bits).map(i => element_at(col("__v"), i + 1))
      .reduce(_ + _)
    staged
      .select(col("id"), col("__v"), total.cast("long").as("__s"))
      .select(col("id"),
        (0 until bits).map { i =>
          when(element_at(col("__v"), i + 1).cast("long") * bits
            > col("__s"), lit(1L << i)).otherwise(lit(0L))
        }.reduce(_ + _).as("ahash"))
  }

  final case class AudioFeatures(id: Long, ok: Boolean, sample_rate: Int,
      channels: Int, n_samples: Long, amp_sum: Long, peak: Long)

  /** javax.sound SPI providers loaded ONCE per JVM and called
    * directly. `AudioSystem.getAudioInputStream`/`AudioSystem.write`
    * route every call through JDK13Services' GLOBAL synchronized
    * provider lookup — measured on 32 threads as a ×35 serialization
    * of the whole decode (20k clips: 0.97 s one thread, 33.8 s wall
    * for 32 threads × the same work — zero parallelism). The provider
    * instances themselves (WaveFileReader etc.) are stateless and
    * thread-safe; holding them in a lazy val makes the hot loop
    * lock-free. Same ServiceLoader universe AudioSystem consults, so
    * format coverage (WAV/AIFF/AU) is identical.
    */
  private lazy val audioReaders
      : Seq[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    val loaded = java.util.ServiceLoader.load(
      classOf[javax.sound.sampled.spi.AudioFileReader])
      .iterator().asScala.toSeq
    // MIDI/soundbank probes LAST: SoftMidiAudioFileReader's sniff
    // calls MidiSystem.getSequence, which re-enters the global
    // JDK13Services lock PER PROBE — jstack'd as the residual ×40
    // serialization after the lookup fix. The container readers
    // (WAV/AIFF/AU) sniff magic bytes lock-free and accept our
    // payloads before any MIDI probe runs.
    val (midi, plain) = loaded.partition(
      _.getClass.getName.toLowerCase.contains("midi"))
    plain ++ midi
  }
  private lazy val audioWriters
      : Seq[javax.sound.sampled.spi.AudioFileWriter] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(
      classOf[javax.sound.sampled.spi.AudioFileWriter])
      .iterator().asScala.toSeq
  }

  /** AudioSystem.getAudioInputStream semantics (first provider that
    * recognizes the container wins) without its global lock. */
  private def audioStreamOf(bytes: Array[Byte])
      : Option[javax.sound.sampled.AudioInputStream] = {
    val it = audioReaders.iterator
    while (it.hasNext) {
      val r = it.next()
      try return Some(r.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes)))
      catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => ()
      }
    }
    None
  }

  /** Decode one audio payload with javax.sound.sampled (JDK-built-in
    * WAV/AIFF/AU): container-level format plus integer-exact PCM
    * features — sample count, signed-sample sum, peak |amplitude| —
    * over 16-bit little-endian frames. None for undecodable payloads.
    */
  private def decodeAudioBytes(raw: Array[Byte])
      : Option[AudioFeatures] = {
    val bytes = orEmpty(raw)
    if (bytes.isEmpty) None
    else try {
      val inOpt = audioStreamOf(bytes)
      if (inOpt.isEmpty) return None
      val in = inOpt.get
      try {
        val fmt = in.getFormat
        // PCM_SIGNED required: a 16-bit PCM_UNSIGNED (or μ-law etc.)
        // stream would pass the width/endianness guard and produce
        // wrong amp_sum/peak with ok=true, breaking the "undecodable
        // degrades to ok=false" contract (ADVICE r5)
        if (fmt.getSampleSizeInBits != 16 || fmt.isBigEndian ||
            fmt.getEncoding !=
              javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) None
        else {
          val buf = new Array[Byte](8192)
          var sum = 0L; var peak = 0L; var n = 0L
          var carry = -1 // low byte of a sample split across reads
          var read = in.read(buf)
          while (read > 0) {
            var k = 0
            if (carry >= 0 && read >= 1) {
              val s = ((buf(0) << 8) | carry).toShort.toLong
              sum += s; peak = math.max(peak, math.abs(s)); n += 1
              carry = -1; k = 1
            }
            while (k + 1 < read) {
              val s = ((buf(k + 1) << 8) | (buf(k) & 0xff)).toShort.toLong
              sum += s; peak = math.max(peak, math.abs(s)); n += 1
              k += 2
            }
            if (k < read) carry = buf(k) & 0xff
            read = in.read(buf)
          }
          Some(AudioFeatures(0L, ok = true,
            fmt.getSampleRate.toInt, fmt.getChannels, n, sum, peak))
        }
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Partition-wise REAL audio decode: one AudioFeatures row per
    * payload, `ok = false` sentinels for undecodable ones — the audio
    * sibling of [[decodeImages]]. */
  def decodeAudio(spark: SparkSession, df: DataFrame, idCol: String,
      payloadCol: String): Dataset[AudioFeatures] = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, raw) =>
          decodeAudioBytes(raw) match {
            case Some(f) => f.copy(id = id)
            case None =>
              AudioFeatures(id, ok = false, -1, -1, -1L, -1L, -1L)
          }
        }
      }
  }

  /** Deterministic synthetic WAV (PCM 16-bit mono, 8 kHz):
    * `800 + (id % 5)·80` samples, `sample[i] = ((i·k) % 200 − 100)·50`
    * with `k = id % 7 + 1` — every feature [[decodeAudio]] extracts is
    * SQL-recomputable from `id`, the audio analog of [[synthPng]]. */
  def synthWav(id: Long): Array[Byte] = {
    val n = (800 + id % 5 * 80).toInt
    val k = (id % 7 + 1).toInt
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = ((i.toLong * k % 200 - 100) * 50).toShort
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true,
      false)
    val ain = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    // direct provider call: AudioSystem.write routes through the same
    // global synchronized lookup audioReaders documents (x35 on 32
    // threads); WAVE support is mandatory in the JDK, so the find
    // cannot miss
    val wavType = javax.sound.sampled.AudioFileFormat.Type.WAVE
    audioWriters.find(_.isFileTypeSupported(wavType, ain))
      .getOrElse(throw new IllegalStateException(
        "no JDK WAVE AudioFileWriter provider"))
      .write(ain, wavType, baos)
    baos.toByteArray
  }

  /** `(id, payload)` frame of [[synthWav]] clips — the encode half of
    * the real-audio round trip. */
  def synthAudio(spark: SparkSession, df: DataFrame, idCol: String)
      : DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions(it => it.map(id => (id, synthWav(id))))
      .toDF(idCol, "payload")
  }

  /** Decode a binary payload column partition-wise. Input: (id, payload);
    * output one feature row per media object. The decoder runs once per
    * row inside a partition iterator — batch-shaped like an Arrow-based
    * `mapInPandas` worker, with no per-row task overhead.
    */
  def decodeFeatures(spark: SparkSession, df: DataFrame, idCol: String,
      payloadCol: String, decoder: Decoder = fakeDecoder)
      : Dataset[MediaFeatures] = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, raw) =>
          val (n, checksum, head) = decoder(orEmpty(raw))
          MediaFeatures(id, n, checksum, head)
        }
      }
  }
}
