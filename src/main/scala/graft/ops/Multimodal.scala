package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Typed metadata for an opaque media blob. */
final case class MediaMeta(
    doc_id: Long,
    media_type: String,
    n_bytes: Long,
    width: Int,
    height: Int,
    n_frames: Int,
    feature: Array[Float] // extracted feature vector (batched "decode" output)
)

/**
 * Multimodal-column plumbing: image/audio/video as opaque `binary` columns
 * with typed metadata, processed in partition-sized batches via
 * `mapPartitions` (the Scala analog of `mapInPandas` batch processing —
 * same batch shape: the iterator hands the whole partition to native code
 * once, not row-at-a-time).
 *
 * All three synthetic media types run REAL in-JDK codecs end to end:
 * PNG (javax.imageio) for images, RIFF/WAV (javax.sound.sampled) for
 * audio, multi-frame animated GIF (ImageReader/ImageWriter sequences)
 * for video. The clearly-marked deterministic STUB (`decodeStub`/
 * `resizeStub`) remains only as the documented fallback for container
 * formats whose codecs do not ship in the JDK (mp4/mkv/jpeg-XL …) —
 * swap in a JNI/FFI codec there at deployment; the Spark-side shape
 * (schema, binary columns, partition-batched iteration) is identical.
 */
object Multimodal {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /**
   * Loud per-hash MULTIPLICITY cap for the near-dup identity expansion
   * (the [[Dedup.idPairsFromBuckets]] hot-bucket convention applied to
   * the hamming-0 axis). The pair expansion joins key on the raw 64-bit
   * hash, so a hash carried by m rows emits Θ(m²) joined rows through
   * ONE join key — and bit-identical mass (re-uploads, template intros,
   * black frames) is exactly the mass a dedup operator meets at scale.
   * Hashes whose row multiplicity exceeds `cap` are therefore dropped
   * from pair emission ENTIRELY and LOUDLY: counted + logged +
   * published in `Dedup.lastDropReport(label)` as
   * (nHotHashes, nRowsCovered) before the operator returns. Exact
   * duplicates past the cap are the exact-dedup operator's job
   * ([[Dedup.exact]] on the hash value collapses them in one
   * group-by, no quadratic anywhere).
   *
   * Cost: the multiplicity table derives from the already-checkpointed
   * hash frame (one partial-agg pass over KB-scale state), and when
   * nothing is hot — every board SF — the input is returned UNCHANGED
   * (no anti-join enters the plan).
   */
  private def dropHotHashes(rows: DataFrame, cap: Long,
                            label: String): DataFrame = {
    val mult = rows.groupBy(col("ahash")).agg(count(lit(1)).as("m"))
    val hot = mult.filter(col("m") > cap)
    val dropRow = hot.agg(count(lit(1)).as("n"),
      coalesce(sum(col("m")), lit(0L)).as("slots")).head()
    val (n, slots) = (dropRow.getLong(0), dropRow.getLong(1))
    graft.ops.Dedup.lastDropReport(label) = (n, slots)
    if (n == 0L) rows
    else {
      log.warn(s"[$label] dropped $n hot hash value(s) covering " +
        s"$slots rows (cap=$cap)")
      rows.join(hot.select(col("ahash")), Seq("ahash"), "left_anti")
    }
  }

  /** Synthetic-image SPEC (the contract the twin re-derives independently):
    * dims w = 16 + doc_id mod 48, h = 16 + doc_id mod 32; pixel (x, y) has
    * r = (7x + 13y + doc_id) mod 256, g = (3x + 5y + 2 doc_id) mod 256,
    * b = (x + y + 3 doc_id) mod 256. */
  def synthImageDims(docId: Long): (Int, Int) =
    (16 + Math.floorMod(docId, 48L).toInt, 16 + Math.floorMod(docId, 32L).toInt)

  def synthPixelRgb(docId: Long, x: Int, y: Int): Int = {
    val r = Math.floorMod(7L * x + 13L * y + docId, 256L).toInt
    val g = Math.floorMod(3L * x + 5L * y + 2L * docId, 256L).toInt
    val b = Math.floorMod(x.toLong + y + 3L * docId, 256L).toInt
    (r << 16) | (g << 8) | b
  }

  /** A REAL deterministic PNG for image rows (javax.imageio — in the JDK,
    * no external codec dep), pixels per `synthPixelRgb`. */
  def pngFor(docId: Long): Array[Byte] = {
    val (w, h) = synthImageDims(docId)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, synthPixelRgb(docId, x, y)); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private[graft] def isPng(blob: Array[Byte]): Boolean =
    blob.length >= 8 && (blob(0) & 0xff) == 0x89 && blob(1) == 'P' && blob(2) == 'N' && blob(3) == 'G'

  /** Synthetic-audio SPEC (the analytic contract the twin re-derives
    * without the codec): sample rate = 8000·(1 + doc_id mod 3) Hz,
    * channels = 1 + doc_id mod 2, frames = 256 + doc_id mod 512; 16-bit
    * signed little-endian PCM, frame i channel c carrying
    * amp = ((31·doc_id + 7·i + 13·c) mod 65536) − 32768. Canonical RIFF:
    * n_bytes = 44 + frames·channels·2. Returns (rate, channels, frames). */
  def synthAudioSpec(docId: Long): (Int, Int, Int) =
    (8000 * (1 + Math.floorMod(docId, 3L).toInt),
      1 + Math.floorMod(docId, 2L).toInt,
      256 + Math.floorMod(docId, 512L).toInt)

  def synthAmp(docId: Long, frame: Int, channel: Int): Int =
    Math.floorMod(31L * docId + 7L * frame + 13L * channel, 65536L).toInt - 32768

  /** A REAL deterministic WAV for audio rows (javax.sound.sampled — in
    * the JDK, no external codec dep), samples per [[synthAmp]]. */
  def wavFor(docId: Long): Array[Byte] = {
    val (rate, channels, frames) = synthAudioSpec(docId)
    val data = new Array[Byte](frames * channels * 2)
    var i = 0
    while (i < frames) {
      var c = 0
      while (c < channels) {
        val v = synthAmp(docId, i, c)
        val off = (i * channels + c) * 2
        data(off) = (v & 0xff).toByte
        data(off + 1) = ((v >> 8) & 0xff).toByte
        c += 1
      }
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, channels, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private[graft] def isRiffWave(blob: Array[Byte]): Boolean =
    blob.length >= 12 && blob(0) == 'R' && blob(1) == 'I' && blob(2) == 'F' &&
      blob(3) == 'F' && blob(8) == 'W' && blob(9) == 'A' && blob(10) == 'V' && blob(11) == 'E'

  /** Synthetic-video SPEC (the analytic contract the twin re-derives
    * without the codec): w = 16 + doc_id mod 24, h = 16 + doc_id mod 16,
    * n_frames = 4 + doc_id mod 12; frame f pixel (x, y) is the GRAY
    * level (5x + 11y + 17f + doc_id) mod 256, r = g = b = gray.
    * Grayscale is deliberate: 256 gray levels fit EXACTLY in one GIF
    * palette, so the in-JDK animated-GIF encode is LOSSLESS and the twin
    * can predict every decoded pixel in closed form (an RGB spec would
    * force the writer to quantize >256 colors and break bit-exactness).
    * Returns (w, h, nFrames). */
  def synthVideoSpec(docId: Long): (Int, Int, Int) =
    (16 + Math.floorMod(docId, 24L).toInt, 16 + Math.floorMod(docId, 16L).toInt,
      4 + Math.floorMod(docId, 12L).toInt)

  def synthVideoGray(docId: Long, frame: Int, x: Int, y: Int): Int =
    Math.floorMod(5L * x + 11L * y + 17L * frame + docId, 256L).toInt

  /** A REAL deterministic multi-frame ANIMATED GIF for video rows
    * (javax.imageio — in the JDK, no external codec dep): each frame a
    * full 256-gray indexed image per [[synthVideoGray]], written with
    * `ImageWriter.writeToSequence`. GIF is the one video-ish container
    * the JDK both encodes and decodes, so the video path gets the same
    * real-codec treatment as PNG (images) and WAV (audio). */
  def gifFor(docId: Long): Array[Byte] = {
    val (w, h, nf) = synthVideoSpec(docId)
    val grays = Array.tabulate(256)(_.toByte)
    val cm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nf) {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { raster.setSample(x, y, 0, synthVideoGray(docId, f, x, y)); x += 1 }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally { ios.close(); writer.dispose() }
    bos.toByteArray
  }

  private[graft] def isGif(blob: Array[Byte]): Boolean =
    blob.length >= 6 && blob(0) == 'G' && blob(1) == 'I' && blob(2) == 'F' && blob(3) == '8'

  /** Deterministic synthetic media blobs — image rows carry a REAL PNG,
    * audio rows a REAL WAV, video rows a REAL multi-frame animated GIF
    * (all three decoded by real in-JDK codecs downstream; the disclosed
    * stub codec remains only as the documented fallback for container
    * formats with no in-JDK codec, e.g. mp4/mkv).
    *
    * `types` pre-filters by the id-dispatch rule BEFORE any blob is
    * encoded (guide §1.2: don't compute things you throw away) — a
    * consumer that needs only video rows previously paid the PNG/WAV
    * encodes of the other two thirds of the corpus only to filter them
    * out after the opaque mapPartitions (where Catalyst cannot push the
    * media_type predicate). The dispatch congruence (doc_id mod 3) lives
    * HERE, beside the dispatch itself.
    *
    * The id frame is hash-repartitioned to the session's parallelism
    * before generation (guide §2.5: the single-split parquet source
    * otherwise caps the encode+decode stage at ONE core — measured 2-4 s
    * single-task stages across the whole media query family; the
    * repartition moves 8-byte ids, the heavy blob bytes are born already
    * spread). Scale-adaptive (defaultParallelism), deterministic
    * (id-hash, not round-robin), result-identical (row set is a pure
    * per-id function). */
  def syntheticMedia(docs: DataFrame,
                     types: Set[String] = Set("image/png", "audio/wav",
                       "video/gif")): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val residues = types.map {
      case "image/png" => 0L
      case "audio/wav" => 1L
      case "video/gif" => 2L
      case t => throw new IllegalArgumentException(s"unknown media type $t")
    }
    // only doc_id is read — the blobs derive from the id alone, so the
    // text column never leaves the scan (column pruning reaches parquet)
    val ids0 = docs.select(col("doc_id"))
    val ids = if (residues.size == 3) ids0
      else ids0.filter(pmod(col("doc_id"), lit(3L)).isin(residues.toSeq: _*))
    // spread the encode+decode stage across the session's parallelism
    Similarity.spread(ids, "doc_id")
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          Math.floorMod(id, 3L) match {
            case 0L => (id, "image/png", pngFor(id))
            case 1L => (id, "audio/wav", wavFor(id))
            case _  => (id, "video/gif", gifFor(id))
          }
        }
      }
      .toDF("doc_id", "media_type", "blob")
  }

  /** Dispatching codec — all three synthetic media types decode through
    * REAL in-JDK codecs: PNG via javax.imageio for image rows (dimensions
    * read from the actual bitstream; 8-dim feature = mean R/G/B over the
    * pixels (÷255) then w/256, h/256, and the corner pixel's R/G/B
    * (÷255) — a deterministic stand-in for a learned embedding), WAV via
    * javax.sound.sampled, animated GIF via ImageReader sequences. The
    * disclosed stub remains only for container formats with no in-JDK
    * codec (mp4/mkv/jpeg-in-this-container …). */
  def decode(mediaType: String, blob: Array[Byte]): (Int, Int, Int, Array[Float]) =
    if (mediaType == "image/png" && isPng(blob)) {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob))
      val (w, h) = (img.getWidth, img.getHeight)
      var sr = 0.0; var sg = 0.0; var sb = 0.0
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
      val n = (w.toLong * h).toDouble * 255.0
      val corner = img.getRGB(w - 1, h - 1)
      val feat = Array(
        (sr / n).toFloat, (sg / n).toFloat, (sb / n).toFloat,
        w / 256f, h / 256f,
        ((corner >> 16) & 0xff) / 255f, ((corner >> 8) & 0xff) / 255f,
        (corner & 0xff) / 255f)
      (w, h, 1, feat)
    } else if (mediaType == "audio/wav" && isRiffWave(blob)) decodeWav(blob)
    else if (mediaType == "video/gif" && isGif(blob)) decodeGif(blob)
    else decodeStub(mediaType, blob)

  /** REAL animated-GIF decode via `javax.imageio` (in the JDK): width /
    * height / frame count read from the actual bitstream
    * (`ImageReader.getNumImages`). The 8-dim feature is the mean gray of
    * 8 evenly-spaced frames (frame s·n/8 for segment s; Long pixel sum,
    * ONE double division per segment, /255) — so the analytic twin
    * reproduces it bit-for-bit from the pixel spec without the codec. */
  def decodeGif(blob: Array[Byte]): (Int, Int, Int, Array[Float]) = {
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(blob))
    try {
      reader.setInput(iis)
      val nf = reader.getNumImages(true)
      val feat = new Array[Float](8)
      var w = 0; var h = 0
      var s = 0
      var lastIdx = -1
      var img: java.awt.image.BufferedImage = null
      while (s < 8) {
        val fi = s * nf / 8
        if (fi != lastIdx) { img = reader.read(fi); lastIdx = fi }
        if (s == 0) { w = img.getWidth; h = img.getHeight }
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y) // same gray convention as aHash64
            sum += (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
            x += 1
          }
          y += 1
        }
        feat(s) = (sum.toDouble / (w.toLong * h * 255.0)).toFloat
        s += 1
      }
      (w, h, nf, feat)
    } finally { iis.close(); reader.dispose() }
  }

  /** REAL WAV decode via `javax.sound.sampled` (in the JDK): metadata
    * read from the actual RIFF bitstream — in the returned tuple, width
    * carries the SAMPLE RATE (Hz), height the CHANNEL count, n_frames
    * the PCM frame count (duration = n_frames / rate). The 8-dim feature
    * is the mean |amplitude| of channel 0 over 8 equal frame segments
    * (Long accumulation, ONE double division per segment, /32768) — so
    * the analytic twin reproduces it bit-for-bit from the sample spec
    * without ever touching the codec. */
  def decodeWav(blob: Array[Byte]): (Int, Int, Int, Array[Float]) = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(blob))
    try {
      val fmt = in.getFormat
      val rate = fmt.getSampleRate.toInt
      val channels = fmt.getChannels
      val frames = in.getFrameLength.toInt
      val bytes = in.readAllBytes()
      val feat = new Array[Float](8)
      var s = 0
      while (s < 8) {
        val lo = s * frames / 8
        val hi = (s + 1) * frames / 8
        var sum = 0L
        var j = lo
        while (j < hi) {
          val off = j * channels * 2 // channel 0, 16-bit LE
          sum += math.abs(((bytes(off) & 0xff) | (bytes(off + 1) << 8)).toLong)
          j += 1
        }
        feat(s) = if (hi > lo) (sum.toDouble / ((hi - lo) * 32768.0)).toFloat else 0f
        s += 1
      }
      (rate, channels, frames, feat)
    } finally in.close()
  }

  /** STUB codec: a real implementation would decode the container and
    * return pixel/sample planes. This stand-in derives metadata and an
    * 8-dim feature deterministically from the bytes so tests are exact. */
  def decodeStub(mediaType: String, blob: Array[Byte]): (Int, Int, Int, Array[Float]) = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < blob.length) { h ^= blob(i); h *= 0x100000001b3L; i += 1 }
    val width = 64 + (Math.floorMod(h, 1024L)).toInt
    val height = 64 + (Math.floorMod(h >>> 10, 1024L)).toInt
    val nFrames = if (mediaType.startsWith("video")) 1 + Math.floorMod(h >>> 20, 240L).toInt else 1
    val feat = new Array[Float](8)
    var k = 0
    var s = h
    while (k < 8) {
      s = graft.ner.Embeddings.xorshift(s)
      feat(k) = ((s >>> 11).toDouble / (1L << 53).toDouble).toFloat - 0.5f
      k += 1
    }
    (width, height, nFrames, feat)
  }

  /** Batched decode/feature-extract over the binary column. Partition-level
    * batching: the per-batch setup cost (codec init) is paid once per
    * partition, as with mapInPandas' Arrow batches. */
  def extract(media: DataFrame): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media_type"), col("blob"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { batch =>
        // codec init would happen here, once per partition
        batch.map { case (id, mt, blob) =>
          val (w, h, f, feat) = decode(mt, blob)
          MediaMeta(id, mt, blob.length.toLong, w, h, f, feat)
        }
      }
  }

  /** One resized media rendition: dimensions fitted to a bounding box
    * (aspect preserved) plus the rendition bytes (stub: a deterministic
    * 64-byte signature standing in for the re-encoded payload). */
  final case class Resized(
      doc_id: Long,
      media_type: String,
      src_w: Int,
      src_h: Int,
      out_w: Int,
      out_h: Int,
      thumb: Array[Byte]
  )

  /** Aspect-preserving fit of (w, h) into `box` x `box`, never upscaling —
    * shared by the real and stub resize kernels (and re-derived by the
    * twin). */
  def fitBox(w: Int, h: Int, box: Int): (Int, Int) = {
    val scale = math.min(1.0, box.toDouble / math.max(w, h))
    (math.max(1, math.round(w * scale).toInt), math.max(1, math.round(h * scale).toInt))
  }

  /** REAL resize kernel for PNG: decode, NEAREST-NEIGHBOR sample (out
    * pixel (ox, oy) reads source pixel (ox*w/ow, oy*h/oh), integer floor —
    * an explicitly specified kernel, not Graphics2D's unspecified filter
    * chain, so the sequential twin can reproduce the bytes from the pixel
    * spec alone), re-encode as PNG. */
  def resizePng(blob: Array[Byte], box: Int): (Int, Int, Int, Int, Array[Byte]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob))
    val (w, h) = (img.getWidth, img.getHeight)
    val (ow, oh) = fitBox(w, h, box)
    val out = new java.awt.image.BufferedImage(ow, oh, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var oy = 0
    while (oy < oh) {
      val sy = (oy.toLong * h / oh).toInt
      var ox = 0
      while (ox < ow) {
        out.setRGB(ox, oy, img.getRGB((ox.toLong * w / ow).toInt, sy))
        ox += 1
      }
      oy += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", bos)
    (w, h, ow, oh, bos.toByteArray)
  }

  /** REAL resize kernel for video (animated GIF): decode FRAME 0, apply
    * the same explicit nearest-neighbor kernel as [[resizePng]], emit the
    * thumbnail re-encoded as PNG (the rendition is a still poster frame —
    * the standard video-thumbnail shape). Returns (src_w, src_h, out_w,
    * out_h, pngBytes). */
  def resizeGifPoster(blob: Array[Byte], box: Int): (Int, Int, Int, Int, Array[Byte]) = {
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(blob))
    val img = try { reader.setInput(iis); reader.read(0) }
      finally { iis.close(); reader.dispose() }
    val (w, h) = (img.getWidth, img.getHeight)
    val (ow, oh) = fitBox(w, h, box)
    val out = new java.awt.image.BufferedImage(ow, oh, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var oy = 0
    while (oy < oh) {
      val sy = (oy.toLong * h / oh).toInt
      var ox = 0
      while (ox < ow) {
        out.setRGB(ox, oy, img.getRGB((ox.toLong * w / ow).toInt, sy))
        ox += 1
      }
      oy += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", bos)
    (w, h, ow, oh, bos.toByteArray)
  }

  /** STUB resize kernel: fits (w, h) into `box` x `box` preserving aspect
    * ratio (never upscales), and derives the rendition bytes
    * deterministically from the source bytes + target dims — a real
    * implementation swaps in the decoder/scaler, the shape stays. */
  def resizeStub(blob: Array[Byte], w: Int, h: Int, box: Int): (Int, Int, Array[Byte]) = {
    val (ow, oh) = fitBox(w, h, box)
    var s = 0xcbf29ce484222325L
    var i = 0
    while (i < blob.length) { s ^= blob(i); s *= 0x100000001b3L; i += 1 }
    s ^= (ow.toLong << 32) | (oh.toLong & 0xffffffffL)
    val out = new Array[Byte](64)
    var k = 0
    while (k < 64) {
      s = graft.ner.Embeddings.xorshift(s)
      out(k) = (s >>> 56).toByte
      k += 1
    }
    (ow, oh, out)
  }

  /** Batched image/video resize over the opaque binary column — the same
    * mapPartitions batch shape as `extract` (codec/scaler init once per
    * partition, whole-partition batches like mapInPandas' Arrow batches).
    * Audio rows pass through untouched (resize is a no-op for them). */
  def resize(media: DataFrame, box: Int = 256): Dataset[Resized] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media_type"), col("blob"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { batch =>
        // scaler init would happen here, once per partition
        batch.flatMap { case (id, mt, blob) =>
          if (!mt.startsWith("image") && !mt.startsWith("video")) Iterator.empty
          else if (mt == "image/png" && isPng(blob)) {
            val (w, h, ow, oh, thumb) = resizePng(blob, box)
            Iterator.single(Resized(id, mt, w, h, ow, oh, thumb))
          } else if (mt == "video/gif" && isGif(blob)) {
            val (w, h, ow, oh, thumb) = resizeGifPoster(blob, box)
            Iterator.single(Resized(id, mt, w, h, ow, oh, thumb))
          } else {
            val (w, h, _, _) = decodeStub(mt, blob)
            val (ow, oh, thumb) = resizeStub(blob, w, h, box)
            Iterator.single(Resized(id, mt, w, h, ow, oh, thumb))
          }
        }
      }
  }

  /** Deterministic frame sampling plan for video rows: every `stride`-th
    * frame index — the shuffle-free precursor to a real frame decode.
    * `n_frames` is the REAL frame count (read from the GIF bitstream by
    * [[decodeGif]] upstream). */
  def frameSample(meta: Dataset[MediaMeta], stride: Int = 10): DataFrame = {
    val spark = meta.sparkSession
    import spark.implicits._
    meta.toDF()
      .filter(col("media_type").startsWith("video"))
      .select(col("doc_id"), explode(sequence(lit(0), col("n_frames") - 1, lit(stride))).as("frame_idx"))
  }

  /** Per video row the [[aHash64]] of every `stride`-th REAL decoded
    * frame — (doc_id, frame_idx, ahash). The frame-level perceptual
    * fingerprint is the standard video near-dup primitive (two uploads of
    * one clip share sampled-frame hashes even after re-encoding); feed
    * the output to the same banded join as [[imageNearDup]]. One decode
    * pass per blob inside mapPartitions: the reader is opened once per
    * row and only the sampled frames are materialized — at 10^12 docs the
    * work is (docs/3)·(frames/stride) bounded decodes, map-only, zero
    * shuffle. Golden-oracled against the analytic twin that predicts
    * every hash from the closed-form gray spec without the codec. */
  def videoFrameHashes(media: DataFrame, stride: Int = 4): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("media_type") === "video/gif")
      .select(col("doc_id"), col("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, blob) =>
          val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(blob))
          try {
            reader.setInput(iis)
            val nf = reader.getNumImages(true)
            (0 until nf by stride).map { fi => (id, fi, aHash64(reader.read(fi))) }
          } finally { iis.close(); reader.dispose() }
        }
      }
      .toDF("doc_id", "frame_idx", "ahash")
  }

  /**
   * Perceptual NEAR-DUP video pairs — the banded join [[videoFrameHashes]]'s
   * scaladoc prescribes, shipped: two videos are near-dups when at least
   * `minMatchPct`% of EACH video's sampled frames perceptually match a
   * frame of the other (frame match = aHash hamming <= `maxHamming`; two
   * uploads of one clip share sampled-frame hashes even after
   * re-encoding / brightness shifts, the [[aHash64]] invariance).
   *
   * Plan: DISTINCT 64-bit hashes band 4x16 bits through the shared
   * `idPairsFromBuckets` — banding over VALUES, not frame rows, so
   * exact-duplicate frame mass (bit-identical re-uploads, template
   * intros, black frames — the dominant mass at scale) collapses to one
   * banded id per value and the loud `maxBucket` cap guards only genuine
   * band degeneracy (> maxBucket DISTINCT values in one 16-bit slice).
   * Pigeonhole makes the band join LOSSLESS for `maxHamming` <= 3: any
   * two hashes within hamming 3 agree on >= 1 of the 4 bands. Verified
   * near-hash pairs (plus the hamming-0 identity) then EXPAND to
   * cross-video frame pairs by two hash-keyed joins — the expansion is
   * the true match relation and feeds straight into the aggregation —
   * and per video pair the DISTINCT matched frame indices of each side
   * count up with the integer-exact match-fraction gate
   * (m·100 >= pct·n, no doubles). Result equals the definitional
   * all-pairs semantics the sequential twin computes quadratically.
   * Returns (doc1, doc2, matched1, matched2, n1, n2).
   */
  def videoNearDup(media: DataFrame, stride: Int = 4, maxHamming: Int = 3,
                   minMatchPct: Int = 50, maxBucket: Int = 1024,
                   maxHashMult: Long = 1024L): DataFrame = {
    val fhAll = videoFrameHashes(media, stride).localCheckpoint(true)
    val nPerVideo = fhAll.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // PAIR-OUTPUT CONTRACT: the expansion joins below key on the raw
    // 64-bit hash, so pair-level semantics are inherently quadratic in
    // per-hash multiplicity (m same-hash frames -> ~m² joined rows in ONE
    // task's key — and bit-identical frame mass, black frames above all,
    // dominates at real scale). Frames whose hash exceeds `maxHashMult`
    // corpus-wide are therefore LOUDLY excluded from matching
    // (lastDropReport("videoNearDup.hotHash")); their videos keep their
    // true n1/n2 denominators, so a video made of dropped frames simply
    // cannot reach the match gate — dropped, never silently paired.
    val fh = dropHotHashes(fhAll, maxHashMult, "videoNearDup.hotHash")
    // Band DISTINCT 64-bit hashes, not frame rows: identical frames — the
    // DOMINANT mass at scale (bit-identical re-uploads, template intros,
    // black frames) — all collapse to one banded id each, so bucket
    // population counts distinct VALUES per 16-bit slice and the loud cap
    // guards only genuine band degeneracy (an earlier frame-row banding
    // overflowed the cap at sf0.1 from exact-duplicate mass alone and
    // dropped everything in 134 buckets; the oracle caught it).
    val hashes = fh.select(col("ahash")).distinct().localCheckpoint(true)
    val banded = hashes.select(col("ahash").as("doc_id"),
      posexplode(expr(
        "transform(sequence(0, 3), c -> shiftright(ahash, c * 16) & 65535)"))
        .as(Seq("band", "bucket")))
    // near-hash pairs (pigeonhole-lossless at hamming <= 3 over 4x16 bands)
    val hp = graft.ops.Dedup.idPairsFromBuckets(banded, maxBucket,
        dropLabel = "videoNearDup")
      .select(col("doc1").as("h1"), col("doc2").as("h2"))
      .filter(bit_count(col("h1").bitwiseXOR(col("h2"))) <= lit(maxHamming))
    // matching-hash relation: both orientations of each near pair PLUS the
    // identity (same hash = hamming 0) so the frame expansion below sees
    // every cross-video match exactly once after the d1 < d2 cut
    val hpBoth = hp
      .unionAll(hp.select(col("h2").as("h1"), col("h1").as("h2")))
      .unionAll(hashes.select(col("ahash").as("h1"), col("ahash").as("h2")))
    val verified = fh
      .select(col("doc_id").as("d1"), col("frame_idx").as("f1"), col("ahash").as("h1"))
      .join(hpBoth, Seq("h1"))
      .join(fh.select(col("doc_id").as("d2"), col("frame_idx").as("f2"),
        col("ahash").as("h2")), Seq("h2"))
      .filter(col("d1") < col("d2"))
    verified.groupBy(col("d1").as("doc1"), col("d2").as("doc2"))
      .agg(countDistinct(col("f1")).as("matched1"),
        countDistinct(col("f2")).as("matched2"))
      .join(nPerVideo.select(col("doc_id").as("doc1"), col("n").as("n1")), Seq("doc1"))
      .join(nPerVideo.select(col("doc_id").as("doc2"), col("n").as("n2")), Seq("doc2"))
      .filter(col("matched1") * 100 >= lit(minMatchPct) * col("n1") &&
        col("matched2") * 100 >= lit(minMatchPct) * col("n2"))
      .select(col("doc1"), col("doc2"), col("matched1"), col("matched2"),
        col("n1"), col("n2"))
  }

  /**
   * 64-bit AVERAGE HASH (aHash, the classic perceptual image
   * fingerprint): nearest-neighbor 8×8 grayscale downsample — sample at
   * (x·w/8, y·h/8), gray = (r+g+b)/3, all integer — then bit i set iff
   * gray_i > floor(mean). Brightness-SHIFT INVARIANT (adding a constant
   * to every pixel moves the mean identically, so no bit flips) — the
   * property that makes re-encoded / re-exposed copies of one image
   * hash together while structurally different images do not.
   */
  def aHash64(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    val g = new Array[Long](64)
    var s = 0L
    var i = 0
    while (i < 64) {
      val px = img.getRGB((i % 8) * w / 8, (i / 8) * h / 8)
      val gray = (((px >> 16) & 0xff) + ((px >> 8) & 0xff) + (px & 0xff)) / 3
      g(i) = gray.toLong; s += gray
      i += 1
    }
    val mean = s / 64
    var bits = 0L
    i = 0
    while (i < 64) { if (g(i) > mean) bits |= (1L << i); i += 1 }
    bits
  }

  /** Per image row the aHash of the REAL `javax.imageio` decode —
    * (doc_id, ahash). Golden-oracled against the analytic twin (which
    * predicts the hash from the closed-form pixel spec and never touches
    * a codec), so any decode/resample drift breaks the fixture. */
  def imageHashes(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("media_type") === "image/png")
      .select(col("doc_id"), col("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, blob) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob))
          (id, aHash64(img))
        }
      }
      .toDF("doc_id", "ahash")
  }

  /**
   * Perceptual NEAR-DUP image pairs: the simhash discipline
   * (`Dedup.simhashNearDup`) applied to [[aHash64]] — 4×16-bit band
   * equi-join (pigeonhole: hamming <= 3 shares a band; higher
   * `maxHamming` still prunes hard), hot buckets capped LOUDLY through
   * the shared `idPairsFromBuckets`, candidates verified by true
   * hamming distance. Returns (doc1, doc2, hamming).
   */
  def imageNearDup(media: DataFrame, maxHamming: Int = 3,
                   maxBucket: Int = 1024,
                   maxHashMult: Long = 1024L): DataFrame = {
    // PAIR-OUTPUT CONTRACT: pair-level semantics are quadratic in
    // per-hash multiplicity (m bit-identical images -> ~m² pairs through
    // ONE hash join key), so hashes carried by more than `maxHashMult`
    // images corpus-wide are LOUDLY excluded from pair emission
    // (lastDropReport("imageNearDup.hotHash")) — the videoNearDup
    // discipline; exact-duplicate collapse past the cap belongs to
    // [[Dedup.exact]] on the hash value, which is linear.
    val hashes = dropHotHashes(imageHashes(media).localCheckpoint(true),
      maxHashMult, "imageNearDup.hotHash")
    // band DISTINCT hash VALUES (the videoNearDup discipline): B
    // bit-identical images collapse to one banded id instead of B bucket
    // members — past maxBucket identical copies a doc-id banding dropped
    // every one of their buckets; value banding caps only genuine band
    // degeneracy (> maxBucket distinct values in one 16-bit slice)
    val dh = hashes.select(col("ahash")).distinct().localCheckpoint(true)
    val banded = dh.select(col("ahash").as("doc_id"),
      posexplode(expr(
        "transform(sequence(0, 3), c -> shiftright(ahash, c * 16) & 65535)"))
        .as(Seq("band", "bucket")))
    val hp = graft.ops.Dedup.idPairsFromBuckets(banded, maxBucket,
        dropLabel = "imageNearDup")
      .select(col("doc1").as("h1"), col("doc2").as("h2"))
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .filter(col("hamming") <= maxHamming)
    val hpBoth = hp
      .unionAll(hp.select(col("h2").as("h1"), col("h1").as("h2"), col("hamming")))
      .unionAll(dh.select(col("ahash").as("h1"), col("ahash").as("h2"),
        bit_count(lit(0L)).as("hamming")))
    hashes.select(col("doc_id").as("doc1"), col("ahash").as("h1"))
      .join(hpBoth, Seq("h1"))
      .join(hashes.select(col("doc_id").as("doc2"), col("ahash").as("h2")), Seq("h2"))
      .filter(col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2"), col("hamming"))
  }
}
