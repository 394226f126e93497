package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.Tables
import graft.multimodal.Multimodal

/** Multimodal plumbing query: synthesize binary media assets from
  * `documents` (16-byte header + text bytes), then recover typed
  * metadata by parsing the binary column in-engine. The oracle
  * recomputes the expected values directly from `documents` — so the
  * query proves the binary round-trip (hex/unhex/substring over
  * BinaryType) produces exactly the declared metadata.
  */
object MultimodalQueries {

  def q40MediaMetadata(s: SparkSession, dir: String): DataFrame =
    Multimodal.metadataExpr(
        Multimodal.synthesizeAssets(Tables.documents(s, dir)))
      .orderBy(col("asset_id"))

  val q40Sql: String =
    """SELECT doc_id AS asset_id,
      |  ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
      |  CAST(16 + octet_length(encode(text)) AS BIGINT) AS byte_len,
      |  CAST(doc_id % 1920 + 1 AS INTEGER) AS width,
      |  CAST(doc_id % 1080 + 1 AS INTEGER) AS height,
      |  CAST(n_chars * 10 AS BIGINT) AS duration_ms,
      |  CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
      |  md5(text) AS content_hash
      |FROM documents ORDER BY asset_id""".stripMargin

  /** q41: the DECODER path (typed mapPartitions, [[Multimodal.featurize]])
    * driver-verified — q40 gates only the expression path. Per-kind
    * rollup of the decoded features; the oracle recomputes every value
    * from `documents` arithmetic, so a decoder that misparses the
    * header, drops rows, or double-runs a partition hash-mismatches.
    * (content_hash is excluded: its input spans raw header bytes, which
    * DuckDB's VARCHAR-only md5 cannot ingest.)
    */
  def q41MediaFeatureRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val assets = Multimodal.synthesizeAssets(Tables.documents(s, dir))
      .as[Multimodal.MediaAsset]
    Multimodal.featurize(assets).toDF()
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_assets"),
        sum(col("byte_len")).as("total_bytes"),
        round(avg(col("duration_ms")), 6).as("avg_duration_ms"),
        max(col("width")).as("max_width"),
        max(col("channels")).as("max_channels"))
      .orderBy(col("kind"))
  }

  val q41Sql: String =
    """WITH feat AS (
      |  SELECT ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
      |    CAST(16 + octet_length(encode(text)) AS BIGINT) AS byte_len,
      |    CAST(n_chars * 10 AS BIGINT) AS duration_ms,
      |    CAST(doc_id % 1920 + 1 AS INTEGER) AS width,
      |    CAST(doc_id % 2 + 1 AS INTEGER) AS channels
      |  FROM documents)
      |SELECT kind, count(*) AS n_assets,
      |  CAST(sum(byte_len) AS BIGINT) AS total_bytes,
      |  round(avg(duration_ms), 6) AS avg_duration_ms,
      |  max(width) AS max_width,
      |  max(channels) AS max_channels
      |FROM feat GROUP BY kind ORDER BY kind""".stripMargin

  // ---------------------------------------------------------------- q45
  /** REAL decode path: checked-in PNG fixtures (17×9 RGB, 64×32 RGB,
    * 1×1 grayscale — generated deterministically, dims known a priori)
    * read via the `binaryFile` source and decoded by
    * [[Multimodal.ImageIoDecoder]] (javax.imageio) inside the same
    * per-partition decoder contract as [[Multimodal.featurize]]. The
    * oracle pins the expected (name, width, height, channels) — a
    * decoder that misparses IHDR, drops a file, or miscounts raster
    * bands hash-mismatches. This closes the "decoder is a stub" gap:
    * q40/q41 verify the synthetic-header plumbing; q45 verifies a
    * genuine JDK image decode. (The query reads a fixed fixture dir —
    * like q54/q55 it ignores sfDir by design.)
    */
  val MediaFixtureDir: String =
    new java.io.File("src/test/resources/media").getAbsolutePath

  def q45MediaDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val files = s.read.format("binaryFile").load(s"$MediaFixtureDir/*.png")
      .select(col("path"), col("content")).as[(String, Array[Byte])]
    val decoder = new Multimodal.ImageIoDecoder()
    files.mapPartitions { it =>
      val d = decoder // driver-built; each task deserializes its own copy
      it.map { case (path, bytes) =>
        val (w, h, _, ch) = d.decode("image", bytes)
        (path.substring(path.lastIndexOf('/') + 1), w, h, ch)
      }
    }.toDF("name", "width", "height", "channels")
      .orderBy(col("name"))
  }

  val q45Sql: String =
    """SELECT * FROM (VALUES
      |  ('gray_1x1.png', 1, 1, 1),
      |  ('rgb_17x9.png', 17, 9, 3),
      |  ('rgb_64x32.png', 64, 32, 3)) t(name, width, height, channels)
      |ORDER BY name""".stripMargin

  // --------------------------------------------------------------- q132
  /** REAL audio decode path — q45's WAV sibling: checked-in PCM WAV
    * fixtures (8 kHz/16-bit mono 100 ms, 44.1 kHz/16-bit stereo 50 ms,
    * 16 kHz/8-bit mono 25 ms — generated deterministically, parameters
    * known a priori) read via `binaryFile` and decoded by
    * [[Multimodal.AudioDecoder]] (javax.sound.sampled) inside the same
    * per-partition decoder contract. The oracle pins (name, sample_rate,
    * bits, duration_ms, channels) — a decoder that misparses the fmt
    * chunk, miscounts frames, or confuses frame and byte rates
    * hash-mismatches. With q45 this makes two of the three media kinds
    * decode GENUINE bytes through JDK codecs; video stays an honest
    * stub (the JDK ships no video codec). Fixture-dir query like
    * q45/q54 — ignores sfDir by design.
    */
  def q132AudioDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val files = s.read.format("binaryFile").load(s"$MediaFixtureDir/*.wav")
      .select(col("path"), col("content")).as[(String, Array[Byte])]
    val decoder = new Multimodal.AudioDecoder()
    files.mapPartitions { it =>
      val d = decoder // driver-built; each task deserializes its own copy
      it.map { case (path, bytes) =>
        val (rate, bits, durMs, ch) = d.decode("audio", bytes)
        (path.substring(path.lastIndexOf('/') + 1), rate, bits, durMs, ch)
      }
    }.toDF("name", "sample_rate", "bits", "duration_ms", "channels")
      .orderBy(col("name"))
  }

  val q132Sql: String =
    """SELECT name, sample_rate, bits, CAST(duration_ms AS BIGINT) AS duration_ms,
      |       channels
      |FROM (VALUES
      |  ('mono_16k_8bit.wav', 16000, 8, 25, 1),
      |  ('mono_8000hz.wav', 8000, 16, 100, 1),
      |  ('stereo_44100hz.wav', 44100, 16, 50, 2))
      |  t(name, sample_rate, bits, duration_ms, channels)
      |ORDER BY name""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q40_media_metadata", q40MediaMetadata _, q40Sql),
    Query("q41_media_feature_rollup", q41MediaFeatureRollup _, q41Sql),
    Query("q45_media_decode", q45MediaDecode _, q45Sql),
    Query("q132_audio_decode", q132AudioDecode _, q132Sql),
  )
}
