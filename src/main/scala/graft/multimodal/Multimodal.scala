package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing for a training-data
  * pipeline: media ride along as opaque `binary` columns with typed
  * metadata, and per-asset compute (decode, feature extraction) runs
  * batched per partition.
  *
  * The actual codec step is STUBBED — media libraries are not in this
  * container — behind [[MediaDecoder]]; [[FakeDecoder]] is a
  * deterministic stand-in that parses our synthetic header. Everything
  * Spark-side is real and tested: schema, binary handling, partition-
  * batched execution via mapPartitions over a typed Dataset (the JVM
  * analog of mapInPandas: one decoder instantiation per partition, rows
  * streamed through it), and partitioning/skew notes below.
  *
  * Scale notes: media blobs dominate row size, so (a) never groupBy/
  * shuffle rows carrying the blob — extract features first, project the
  * blob away, then shuffle the small feature rows (featurize() enforces
  * this shape); (b) size partitions by bytes not rows
  * (`spark.sql.files.maxPartitionBytes`) since blob sizes are skewed;
  * (c) the decoder is per-partition state — expensive codec init
  * amortizes across the partition's rows.
  */
object Multimodal {

  /** Typed media asset row: opaque payload + declared kind. */
  case class MediaAsset(asset_id: Long, kind: String, payload: Array[Byte])

  /** Extracted features — fixed schema regardless of media kind. */
  case class MediaFeatures(asset_id: Long, kind: String, byte_len: Long,
      width: Int, height: Int, duration_ms: Long, channels: Int,
      content_hash: String)

  /** Pluggable decoder boundary. A real implementation would wrap e.g.
    * javacv/ffmpeg; it MUST be Serializable (instantiated per partition
    * on executors).
    */
  trait MediaDecoder extends Serializable {
    def decode(kind: String, payload: Array[Byte]): (Int, Int, Long, Int)
  }

  /** Deterministic stub: reads the synthetic 16-byte header produced by
    * [[synthesizeAssets]] (big-endian: width, height, durationMs,
    * channels). Stands in for the codec; the Spark plumbing around it is
    * the thing under test.
    */
  object FakeDecoder extends MediaDecoder {
    def decode(kind: String, payload: Array[Byte]): (Int, Int, Long, Int) = {
      val bb = java.nio.ByteBuffer.wrap(payload)
      (bb.getInt(0), bb.getInt(4), bb.getInt(8).toLong, bb.getInt(12))
    }
  }

  /** REAL image decoder over `javax.imageio` (JDK-builtin, offline-safe):
    * decodes actual PNG/JPEG/GIF/BMP bytes — width/height from the
    * decoded raster, channels = raster band count (RGB → 3, grayscale
    * → 1), duration 0 (still image). Non-image kinds delegate to
    * `fallback` (audio/video codecs are not in the JDK), so one decoder
    * instance still serves a mixed-kind asset table. Serialization
    * contract identical to [[FakeDecoder]] (driver-built, deserialized
    * per task); ImageIO is display-free (no headless concerns on
    * executors).
    */
  class ImageIoDecoder(fallback: MediaDecoder = FakeDecoder) extends MediaDecoder {
    def decode(kind: String, payload: Array[Byte]): (Int, Int, Long, Int) =
      if (kind == "image") {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        require(img != null,
          "ImageIoDecoder: ImageIO could not decode payload (unsupported format or corrupt bytes)")
        (img.getWidth, img.getHeight, 0L, img.getRaster.getNumBands)
      } else fallback.decode(kind, payload)
  }

  /** REAL audio decoder over `javax.sound.sampled` (JDK-builtin,
    * offline-safe): parses actual WAV/AIFF/AU container bytes —
    * channels and sample width from the format chunk, duration from
    * the exact frame count (`round(frames * 1000 / frameRate)` —
    * double math because AU/AIFF mu-law rates are non-integral),
    * width repurposed as the sample rate and height as bits per
    * sample (the [[MediaFeatures]] schema is fixed across kinds by
    * design — the mapping is declared here and in the q132 oracle).
    * Non-audio kinds delegate to `fallback`, mirroring
    * [[ImageIoDecoder]]'s contract, so a mixed asset table can chain
    * image → audio → stub decoders. Serialization contract identical
    * to [[FakeDecoder]].
    */
  class AudioDecoder(fallback: MediaDecoder = FakeDecoder) extends MediaDecoder {
    def decode(kind: String, payload: Array[Byte]): (Int, Int, Long, Int) =
      if (kind == "audio") {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val fmt = in.getFormat
          val frames = in.getFrameLength
          require(frames >= 0 && fmt.getFrameRate > 0,
            "AudioDecoder: stream does not declare a frame count/rate")
          // double math, then round: AU/AIFF mu-law rates are
          // non-integral (8012.8 Hz) — truncating the rate to a long
          // would skew the duration (and a sub-1 Hz rate would divide
          // by zero)
          val durationMs = math.round(frames * 1000.0 / fmt.getFrameRate)
          (fmt.getSampleRate.toInt, fmt.getSampleSizeInBits, durationMs,
            fmt.getChannels)
        } finally in.close()
      } else fallback.decode(kind, payload)
  }

  /** 64-bit difference hash (dHash) of real image bytes — the standard
    * perceptual fingerprint for image near-dup detection: downsample to
    * a 9×8 grayscale grid by integer area-averaging, then emit one bit
    * per horizontally adjacent cell pair (right > left). Uniform
    * brightness shifts preserve every comparison (hamming 0 by
    * construction, absent clipping); small local edits flip only the
    * comparisons they touch — which is exactly the metric property the
    * banded-Hamming join needs.
    *
    * Determinism: the downsample is integer block sums over floor-
    * partitioned cell boundaries (x·w/9 … (x+1)·w/9) and the luma is
    * the integer (299r + 587g + 114b) / 1000 — no floats anywhere, so
    * the hash is bit-identical across JVMs/platforms.
    */
  def dHash64(payload: Array[Byte]): Long = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null,
      "dHash64: ImageIO could not decode payload (unsupported format or corrupt bytes)")
    val (w, h) = (img.getWidth, img.getHeight)
    require(w >= 9 && h >= 8, s"dHash64: image too small ($w x $h; need 9x8)")
    val grid = Array.ofDim[Long](8, 9)
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 9) {
        val x0 = gx * w / 9; val x1 = (gx + 1) * w / 9
        val y0 = gy * h / 8; val y1 = (gy + 1) * h / 8
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
            sum += (299L * r + 587L * g + 114L * b) / 1000L
            x += 1
          }
          y += 1
        }
        grid(gy)(gx) = sum / ((x1 - x0).toLong * (y1 - y0))
        gx += 1
      }
      gy += 1
    }
    var hash = 0L
    var bit = 0
    gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        if (grid(gy)(gx + 1) > grid(gy)(gx)) hash |= (1L << bit)
        bit += 1
        gx += 1
      }
      gy += 1
    }
    hash
  }

  /** Synthesize a deterministic media table from `documents`: payload =
    * 16-byte header + utf8 text bytes; kind cycles image/audio/video.
    * Gives the pipeline real binary columns with skewed sizes.
    */
  def synthesizeAssets(docs: DataFrame): DataFrame = {
    val kind = element_at(
      array(lit("image"), lit("audio"), lit("video")),
      (col("doc_id") % 3 + 1).cast("int"))
    val header = concat(
      // big-endian int32s, built from the doc's own attributes
      lpad(conv((col("doc_id") % 1920 + 1).cast("string"), 10, 16), 8, "0"),
      lpad(conv((col("doc_id") % 1080 + 1).cast("string"), 10, 16), 8, "0"),
      lpad(conv((col("n_chars") * 10).cast("string"), 10, 16), 8, "0"),
      lpad(conv((col("doc_id") % 2 + 1).cast("string"), 10, 16), 8, "0"))
    docs.select(
      col("doc_id").as("asset_id"),
      kind.as("kind"),
      concat(unhex(header), col("text").cast("binary")).as("payload"))
  }

  /** Partition-batched feature extraction: one decoder per partition,
    * blob projected away in the same pass (output rows are small and
    * safe to shuffle downstream). This is the mapInPandas-shaped batch
    * boundary, typed.
    */
  def featurize(assets: Dataset[MediaAsset],
      decoder: MediaDecoder = FakeDecoder): Dataset[MediaFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      // NB lifecycle: `decoder` is constructed on the DRIVER and each
      // task gets its own deserialized copy of the closure (object
      // decoders like FakeDecoder stay JVM singletons). A codec whose
      // warm-up must run in-task (non-serializable native handles)
      // should instead be built HERE from a serializable factory.
      val d = decoder
      it.map { a =>
        val (w, h, dur, ch) = d.decode(a.kind, a.payload)
        val md = java.security.MessageDigest.getInstance("MD5")
        val hash = md.digest(a.payload).map("%02x".format(_)).mkString
        MediaFeatures(a.asset_id, a.kind, a.payload.length.toLong, w, h, dur, ch, hash)
      }
    }
  }

  /** Expression-only metadata path (no decoder): byte length + payload
    * hash + header fields via substring arithmetic. Pure Catalyst —
    * used by the oracle-gated query since DuckDB can mirror it.
    */
  def metadataExpr(assets: DataFrame): DataFrame =
    assets.select(
      col("asset_id"), col("kind"),
      length(col("payload")).cast("long").as("byte_len"),
      conv(hex(substring(col("payload"), 1, 4)), 16, 10).cast("int").as("width"),
      conv(hex(substring(col("payload"), 5, 4)), 16, 10).cast("int").as("height"),
      conv(hex(substring(col("payload"), 9, 4)), 16, 10).cast("long").as("duration_ms"),
      conv(hex(substring(col("payload"), 13, 4)), 16, 10).cast("int").as("channels"),
      // hash of the payload BODY (bytes after the 16-byte header): binary
      // slicing in-engine; equals md5 of the original text bytes.
      md5(expr("substring(payload, 17, length(payload))")).as("content_hash"))
}
