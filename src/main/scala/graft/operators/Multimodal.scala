package graft.operators

import graft.functions.Portable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}

/** Multimodal-column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata, and per-batch "decode / feature
  * extract" runs as a partition-parallel transform (LLM-pipeline surface).
  *
  * The image path uses a REAL codec: `javax.imageio` (in every JRE)
  * encodes/decodes 8-bit grayscale PNGs, and [[resizeImage]] is a real
  * nearest-neighbor resampler over the decoded raster. Payloads are
  * synthesized ([[synthImageTable]]) because no external media ships in
  * the container — but synthesized DETERMINISTICALLY from arithmetic on
  * `doc_id`, so the decoded statistics (width/height/mean luma, before and
  * after resize) are oracle-checkable in plain SQL: the gate proves the
  * codec round-trip, not just the plumbing. Audio/video remain opaque
  * binary + metadata/frame-slicing plumbing ([[metadata]], [[frameSample]]).
  */
object Multimodal {

  case class ImageRecord(doc_id: Long, payload: Array[Byte])
  case class ImageFeatures(doc_id: Long, width: Int, height: Int, mean_luma: Double,
      rz_width: Int, rz_height: Int, rz_mean_luma: Double)

  /** Wrap a text corpus as a binary "media" table: payload = utf-8 bytes,
    * modality assigned deterministically. Stands in for reading real blobs
    * (at scale: parquet binary columns or object-store pointers). */
  def synthMediaTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col(idCol), lit(3)) + 1).cast("int")).as("modality"),
      col(textCol).cast("binary").as("payload"))

  /** Deterministic test image for `doc_id`: an 8-bit grayscale raster whose
    * dimensions and pixel values are pure arithmetic on the id —
    * `w = 8 + id%7`, `h = 8 + id%5`, `luma(x,y) = (id*7 + x*5 + y*3) % 256`
    * — so every statistic a decoder recovers is replayable in plain SQL.
    * Grayscale PNG is lossless, so the codec round-trip must be bit-exact. */
  private[operators] def imageDims(id: Long): (Int, Int) =
    (8 + (id % 7).toInt, 8 + (id % 5).toInt)

  private[operators] def imageLuma(id: Long, x: Int, y: Int): Int =
    ((id * 7 + x * 5 + y * 3) % 256).toInt

  // --- codec plumbing (r13: the q61 variance root-cause) -------------------
  // The convenience API (`ImageIO.read(InputStream)` / `ImageIO.write`)
  // hides two per-call costs that made the q61 gate's wall breathe 4×
  // across same-code runs (r12 verdict item 2):
  //  1. `ImageIO.getUseCache()` defaults TRUE, so every read/write wraps
  //     its stream in a FileCache stream — a TEMP FILE created, written,
  //     and deleted PER IMAGE. The q61 gate runs ~2,000 codec calls across
  //     32 concurrent tasks: thousands of file create/delete syscalls in
  //     one tmp directory, whose cost rides kernel/dentry/page-cache state
  //     the JVM cannot see — exactly the shape of unexplainable
  //     cross-run variance. These rasters are ≤ a few KiB: memory-cached
  //     streams are strictly better.
  //  2. Each call re-scans the IIORegistry for a matching SPI (header
  //     sniff across providers) and constructs a fresh reader/writer.
  // Both are removed: explicit per-THREAD reader/writer instances (an
  // ImageReader is stateful and not thread-safe; executor pool threads are
  // long-lived, so this is ≤ nCores instances) over Memory-cache streams
  // (BASELINE.md q61 section).

  private val pngReaderTL = new ThreadLocal[javax.imageio.ImageReader] {
    override def initialValue(): javax.imageio.ImageReader =
      javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
  }
  private val pngWriterTL = new ThreadLocal[javax.imageio.ImageWriter] {
    override def initialValue(): javax.imageio.ImageWriter =
      javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
  }

  private def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val writer = pngWriterTL.get()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(img)
      ios.flush()
    } finally {
      writer.setOutput(null)
      ios.close()
    }
    bos.toByteArray
  }

  private[operators] def synthPng(id: Long): Array[Byte] = {
    val (w, h) = imageDims(id)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    for (y <- 0 until h; x <- 0 until w) raster.setSample(x, y, 0, imageLuma(id, x, y))
    encodePng(img)
  }

  /** PNG-encode one deterministic image per document — the "read a blob
    * column" stand-in (at scale: parquet binary columns or object-store
    * pointers). Encoding runs partition-parallel on executors; only ids
    * ride the wire in — and because the ids are 8 bytes, they are first
    * REPARTITIONED to the session's default parallelism: a codec kernel's
    * parallelism must follow cores, not the input file's split count (a
    * small parquet reads as 1-2 partitions, which would run the whole
    * CPU-bound codec chain nearly single-threaded — measured 2× on the
    * q61 gate). Real media tables carry heavy payloads, so there the
    * caller decides where the shuffle goes; an id-only frame shuffles
    * for free. */
  def synthImageTable(spark: SparkSession, docs: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(it => it.map(id => ImageRecord(id, synthPng(id))))
      .toDF()
  }

  /** REAL image decode + feature extraction, partition-parallel (the
    * Dataset analog of a Pandas-UDF `mapInPandas`: one JVM call per
    * partition, rows streamed through the kernel, no per-row UDF dispatch).
    * Each payload is decoded with `javax.imageio`, per-pixel mean luma is
    * computed from the raster, then the raster is resized with
    * [[resizeImage]] (factor 2) and re-decoded — so the emitted columns
    * prove a full encode→decode→resample→encode→decode round-trip, and
    * all of them are oracle-checked against the SQL replay of the
    * generator arithmetic (gate q61). */
  def decodeImageFeatures(spark: SparkSession, media: DataFrame): Dataset[ImageFeatures] = {
    import spark.implicits._
    media.select("doc_id", "payload").as[ImageRecord]
      .mapPartitions { it =>
        it.map { r =>
          val img = decodeGray(r.payload)
          val rz = decodeGray(resizeImage(r.payload, 2))
          ImageFeatures(r.doc_id,
            img.getWidth, img.getHeight, meanLuma(img),
            rz.getWidth, rz.getHeight, meanLuma(rz))
        }
      }
  }

  private def decodeGray(payload: Array[Byte]): java.awt.image.BufferedImage = {
    val reader = pngReaderTL.get()
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      reader.setInput(iis, true, true)
      reader.read(0)
    } finally {
      reader.setInput(null)
      iis.close()
    }
  }

  /** Integer pixel sum divided once in double — a single IEEE-754 division
    * of two exact integers, so the oracle's `CAST(sum AS DOUBLE)/(w*h)`
    * reproduces it bit-for-bit (no rounding-tie hazard). */
  private def meanLuma(img: java.awt.image.BufferedImage): Double = {
    val raster = img.getRaster
    var sum = 0L
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
      sum += raster.getSample(x, y, 0)
    sum.toDouble / (img.getWidth.toLong * img.getHeight)
  }

  /** REAL image resize: decode, nearest-neighbor resample (output pixel
    * (x,y) takes source pixel (x*factor, y*factor); output dims
    * ceil(dim/factor)), re-encode as PNG. Nearest-neighbor is chosen over
    * interpolating kernels because it is exactly reproducible — the gate
    * oracle replays the sampled grid in SQL. Same partition-parallel
    * per-row contract as [[decodeImageFeatures]]'s kernel. */
  def resizeImage(payload: Array[Byte], factor: Int): Array[Byte] = {
    require(factor >= 1, "factor >= 1")
    val src = decodeGray(payload)
    val (w, h) = ((src.getWidth + factor - 1) / factor, (src.getHeight + factor - 1) / factor)
    val out = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val (sr, or) = (src.getRaster, out.getRaster)
    for (y <- 0 until h; x <- 0 until w)
      or.setSample(x, y, 0, sr.getSample(x * factor, y * factor, 0))
    encodePng(out)
  }

  /** Frame sampling: split a binary payload into fixed-size frames and
    * keep every `everyK`-th — the video-frame-sampling plumbing (frame
    * boundaries here are byte-offset stubs; a real container demuxer
    * would replace the slicing, not the plan). Pure Catalyst: sequence +
    * substring on binary, exploded with position — codegen-friendly and
    * fully distributed. */
  def frameSample(media: DataFrame, frameSize: Int, everyK: Int): DataFrame = {
    require(frameSize > 0 && everyK > 0)
    val nFramesMinus1 = floor((octet_length(col("payload")) - 1) / frameSize).cast("int")
    media
      .filter(octet_length(col("payload")) > 0)
      .select(col("doc_id"), col("modality"),
        posexplode(transform(sequence(lit(0), nFramesMinus1),
          i => substring(col("payload"), (i * frameSize + 1).cast("int"), lit(frameSize))))
          .as(Seq("frame_idx", "frame")))
      .filter(col("frame_idx") % everyK === 0)
  }

  case class AudioRecord(doc_id: Long, payload: Array[Byte])
  case class AudioFeatures(doc_id: Long, sample_rate: Int, n_samples: Int,
      peak_amp: Int, mean_square: Double)

  /** Deterministic PCM test signal for `doc_id`: 16-bit mono at 8 kHz,
    * `n = 64 + id%64` samples, `sample(t) = (id*31 + t*17) % 2003 - 1001`
    * — pure arithmetic, so decoded statistics are replayable in SQL. */
  private[operators] def audioSamples(id: Long): Array[Short] = {
    val n = 64 + (id % 64).toInt
    Array.tabulate(n)(t => (((id * 31 + t.toLong * 17) % 2003) - 1001).toShort)
  }

  private val WavFormat = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)

  private[operators] def synthWav(id: Long): Array[Byte] = {
    val samples = audioSamples(id)
    val pcm = java.nio.ByteBuffer.allocate(samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(pcm.putShort)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm.array), WavFormat, samples.length),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** WAV-encode one deterministic PCM clip per document (the audio twin of
    * [[synthImageTable]]); encoding runs partition-parallel, ids
    * repartitioned to cores first for the same reason as the image side. */
  def synthAudioTable(spark: SparkSession, docs: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(it => it.map(id => AudioRecord(id, synthWav(id))))
      .toDF()
  }

  /** REAL audio decode, partition-parallel: each payload runs through
    * `javax.sound.sampled.AudioSystem` (WAV container parse + PCM frame
    * extraction), then sample statistics are computed from the decoded
    * frames. Lossless PCM means the round-trip must be bit-exact, and
    * every emitted column is oracle-checked against the SQL replay of the
    * generator arithmetic (gate q63). `mean_square` = exact integer
    * sum-of-squares divided once in double (same no-tie trick as q61). */
  def decodeAudioFeatures(spark: SparkSession, media: DataFrame): Dataset[AudioFeatures] = {
    import spark.implicits._
    media.select("doc_id", "payload").as[AudioRecord]
      .mapPartitions { it =>
        it.map { r =>
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(r.payload))
          val fmt = in.getFormat
          require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
            s"expected 16-bit mono PCM, got $fmt")
          val raw = in.readAllBytes()
          in.close()
          val buf = java.nio.ByteBuffer.wrap(raw).order(
            if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN else java.nio.ByteOrder.LITTLE_ENDIAN)
          val n = raw.length / 2
          var peak = 0
          var sumSq = 0L
          var i = 0
          while (i < n) {
            val s = buf.getShort(i * 2).toInt
            if (math.abs(s) > peak) peak = math.abs(s)
            sumSq += s.toLong * s
            i += 1
          }
          AudioFeatures(r.doc_id, fmt.getSampleRate.toInt, n, peak, sumSq.toDouble / n)
        }
      }
  }

  /** Column-only metadata extraction (no kernel boundary) — what a pure
    * Catalyst plan can get from a binary column: sizes, headers, hashes. */
  def metadata(media: DataFrame): DataFrame =
    media.select(
      col("doc_id"),
      col("modality"),
      octet_length(col("payload")).as("n_bytes"),
      substring(hex(col("payload")), 1, 12).as("header_hex"),
      Portable.md5Long60(col("payload")).as("content_hash"))
}
