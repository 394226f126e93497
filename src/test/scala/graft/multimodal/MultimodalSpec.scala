package graft.multimodal

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val assets =
    Multimodal.synthesizeAssets(graft.Tables.documents(spark, sf001))

  test("synthesized assets carry a parseable binary payload") {
    val r = assets.limit(5).collect()
    r.foreach { row =>
      val payload = row.getAs[Array[Byte]]("payload")
      assert(payload.length > 16)
      val (w, h, dur, ch) = Multimodal.FakeDecoder.decode(
        row.getAs[String]("kind"), payload)
      assert(w >= 1 && w <= 1920 && h >= 1 && h <= 1080)
      assert(dur > 0 && (ch == 1 || ch == 2))
    }
  }

  test("mapPartitions featurize path agrees with the expression path") {
    val viaExpr = Multimodal.metadataExpr(assets)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getInt(3), r.getInt(4), r.getLong(5), r.getInt(6))))
      .toMap
    val viaMp = Multimodal.featurize(assets.as[Multimodal.MediaAsset])
      .collect().map(f => f.asset_id ->
        ((f.kind, f.byte_len, f.width, f.height, f.duration_ms, f.channels)))
      .toMap
    assert(viaMp.size === 500)
    assert(viaMp === viaExpr)
  }

  test("featurize drops the blob: output rows are shuffle-safe") {
    val out = Multimodal.featurize(assets.as[Multimodal.MediaAsset])
    assert(!out.schema.fieldNames.contains("payload"))
    // and the features aggregate cleanly post-extraction
    val agg = out.groupBy($"kind").agg(count(lit(1)).as("n"), sum($"byte_len").as("bytes"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(agg.values.sum === 500)
    assert(agg.keySet === Set("image", "audio", "video"))
  }

  test("partition batching: decoder sees each row exactly once across partitions") {
    val repart = assets.repartition(7).as[Multimodal.MediaAsset]
    val n = Multimodal.featurize(repart).select($"asset_id").distinct().count()
    assert(n === 500)
  }

  test("ImageIoDecoder: real PNG fixtures decode to known dims and bands") {
    val dir = new java.io.File("src/test/resources/media")
    val d = new Multimodal.ImageIoDecoder()
    def decode(name: String) = {
      val bytes = java.nio.file.Files.readAllBytes(new java.io.File(dir, name).toPath)
      d.decode("image", bytes)
    }
    assert(decode("rgb_17x9.png") === ((17, 9, 0L, 3)))
    assert(decode("rgb_64x32.png") === ((64, 32, 0L, 3)))
    assert(decode("gray_1x1.png") === ((1, 1, 0L, 1)))
  }

  test("ImageIoDecoder: JPEG round-trip through ImageIO and fallback for non-image kinds") {
    // write a real JPEG in-memory (no fixture needed) and decode it back
    val img = new java.awt.image.BufferedImage(23, 11,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    (0 until 11).foreach(y => (0 until 23).foreach(x =>
      img.setRGB(x, y, (x * 7 + y * 13) % 0xffffff)))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val d = new Multimodal.ImageIoDecoder()
    val (w, h, dur, ch) = d.decode("image", bos.toByteArray)
    assert((w, h, dur, ch) === ((23, 11, 0L, 3)))
    // non-image kinds delegate to the fallback (synthetic-header stub)
    val synth = assets.filter($"kind" === "audio").as[Multimodal.MediaAsset].head()
    assert(d.decode(synth.kind, synth.payload) ===
      Multimodal.FakeDecoder.decode(synth.kind, synth.payload))
    // corrupt image bytes fail loudly, not with a null-deref
    intercept[IllegalArgumentException] {
      d.decode("image", Array[Byte](1, 2, 3))
    }
  }

  test("AudioDecoder: WAV fixtures agree with an independent RIFF header parse") {
    val d = new Multimodal.AudioDecoder()
    val dir = new java.io.File("src/test/resources/media")
    val wavs = dir.listFiles().filter(_.getName.endsWith(".wav")).sortBy(_.getName)
    assert(wavs.length === 3)
    wavs.foreach { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      // independent parse: canonical RIFF layout — fmt chunk fields at
      // fixed little-endian offsets, then walk to the data chunk
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      assert(new String(bytes, 0, 4, "US-ASCII") === "RIFF")
      assert(new String(bytes, 8, 4, "US-ASCII") === "WAVE")
      val channels = bb.getShort(22).toInt
      val rate = bb.getInt(24)
      val bits = bb.getShort(34).toInt
      var off = 36 // first chunk after the canonical 16-byte fmt
      while (new String(bytes, off, 4, "US-ASCII") != "data")
        off += 8 + bb.getInt(off + 4)
      val dataLen = bb.getInt(off + 4)
      val frames = dataLen / (channels * bits / 8)
      val durMs = frames.toLong * 1000L / rate
      assert(d.decode("audio", bytes) === (rate, bits, durMs, channels),
        s"decoder disagrees with header parse for ${f.getName}")
    }
    // non-audio kinds delegate; corrupt audio bytes fail loudly
    val synth = assets.filter($"kind" === "image").as[Multimodal.MediaAsset].head()
    assert(d.decode(synth.kind, synth.payload) ===
      Multimodal.FakeDecoder.decode(synth.kind, synth.payload))
    intercept[Exception] {
      d.decode("audio", Array[Byte](1, 2, 3, 4))
    }
  }

}
