package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{AudioCodec, ImageCodec}
import graft.operators.Multimodal

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("media table carries binary payload + typed metadata") {
    val m = Multimodal.mediaTable(spark, TestSpark.sf)
    assert(m.schema("media").dataType.typeName == "binary")
    val kinds = m.select("kind").distinct().as[String].collect().toSet
    assert(kinds == Set("image", "audio", "video"))
  }

  test("feature extraction is deterministic; payloads are real per kind (PNG/WAV magic, video=doc bytes)") {
    val f1 = Multimodal.features(spark, TestSpark.sf).collect()
    val marker = new java.io.File(Multimodal.ensureMediaTable(spark, TestSpark.sf), "_COMPLETE")
    assert(marker.exists(), "features should persist the media table once per dir")
    val built = marker.lastModified()
    val f2 = Multimodal.features(spark, TestSpark.sf).collect()
    assert(f1.sameElements(f2))
    assert(marker.lastModified() == built, "second invocation re-synthesized the payloads")
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), length(col("text")).as("n")).as[(Long, Int)].collect().toMap
    val payloads = Multimodal.mediaTable(spark, TestSpark.sf)
      .select(col("doc_id"), col("kind"), col("media"))
      .as[(Long, String, Array[Byte])].collect()
    assert(payloads.map(_._2).toSet == Set("image", "audio", "video"))
    payloads.foreach { case (id, kind, bytes) =>
      kind match {
        case "image" => // BMP container magic
          assert(bytes(0) == 'B' && bytes(1) == 'M')
        case "audio" => // RIFF/WAVE container
          assert(bytes.take(4).map(_.toChar).mkString == "RIFF" &&
            bytes.slice(8, 12).map(_.toChar).mkString == "WAVE")
        case _ => // video falls back to the document bytes (no JDK codec)
          assert(bytes.length == docs(id))
      }
    }
  }

  test("resize takes the real decode path for PNG payloads; byte fallback keeps the shrink contract") {
    val media = Multimodal.mediaTable(spark, TestSpark.sf)
    val r1 = Multimodal.resize(spark, media, 32, 32).collect()
    val r2 = Multimodal.resize(spark, media, 32, 32).collect()
    assert(r1.nonEmpty)
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Array[Byte]]("media").toSeq))
      .sortBy(_._1)
    assert(canon(r1).sameElements(canon(r2)))
    // every image payload is a real PNG now: output must decode at 32x32
    r1.foreach { row =>
      val img = ImageCodec.decode(row.getAs[Array[Byte]]("media"))
      assert(img.isDefined && img.get.getWidth == 32 && img.get.getHeight == 32,
        s"doc ${row.getAs[Long]("doc_id")}")
    }
    // undecodable payload: proportional byte-sample fallback
    val fake = Seq((1L, "image", Array.fill[Byte](2000)(7), 100, 100, 1))
      .toDF("doc_id", "kind", "media", "width", "height", "n_frames")
    val fb = Multimodal.resize(spark, fake, 32, 32).collect().head
    assert(fb.getAs[Array[Byte]]("media").length == 2000L * 32 * 32 / (100L * 100))
  }

  test("real WAV payloads decode through the audio codec (javax.sound path)") {
    val wav = AudioCodec.syntheticWav(440.0, 8000, 8000f, 0.5)
    val a = AudioCodec.decode(wav).get
    assert(a.sampleRate == 8000f && a.channels == 1 && a.nSamples == 8000)
    assert(math.abs(AudioCodec.durationSec(a) - 1.0) < 1e-9)
    // sine RMS = amp/sqrt(2); zero-cross rate = 2f; peak <= amp
    assert(math.abs(AudioCodec.rms(a) - 0.5 / math.sqrt(2)) < 0.01)
    assert(math.abs(AudioCodec.zeroCrossRate(a) - 880.0) < 20.0)
    assert(AudioCodec.peak(a) <= 0.501)
    assert(AudioCodec.decode("definitely not audio bytes".getBytes("UTF-8")).isEmpty)
  }

  test("real PNG payloads decode through the feature pipeline (javax.imageio path)") {
    import graft.functions.ImageCodec
    // a genuine PNG payload, synthesized deterministically
    val png = ImageCodec.syntheticPng(48, 32, seed = 7L)
    val img = ImageCodec.decode(png).get
    assert(img.getWidth == 48 && img.getHeight == 32)
    val rows = Seq(Multimodal.MediaRow(1L, "image", png, 48, 32, 1)).toDF()
    val out = Multimodal.extractFeatures(spark, rows).collect().head
    // the feature is computed from DECODED PIXELS, not payload bytes:
    // it must equal the norm of the channel-mean vector exactly
    val expected = math.sqrt(ImageCodec.channelMeans(img).map(x => x * x).sum)
    assert(out.getAs[Double]("feat_norm") == expected)
    assert(out.getAs[Int]("n_bytes") == png.length)
  }

  test("real PNG resize decodes, area-resamples, and re-encodes") {
    import graft.functions.ImageCodec
    val png = ImageCodec.syntheticPng(64, 64, seed = 11L)
    val rows = Seq(Multimodal.MediaRow(2L, "image", png, 64, 64, 1)).toDF()
    val out = Multimodal.resize(spark, rows, 16, 16).collect().head
    val decoded = ImageCodec.decode(out.getAs[Array[Byte]]("media")).get
    assert(decoded.getWidth == 16 && decoded.getHeight == 16)
    // area-averaging preserves overall brightness within integer-floor
    // error: compare channel means of source and resampled image
    val srcMeans = ImageCodec.channelMeans(ImageCodec.decode(png).get)
    val dstMeans = ImageCodec.channelMeans(decoded)
    srcMeans.zip(dstMeans).foreach { case (s, d) =>
      assert(math.abs(s - d) < 0.02, s"channel mean drifted: $s vs $d")
    }
    // determinism: same input → byte-identical PNG
    val again = Multimodal.resize(spark, rows, 16, 16).collect().head
    assert(out.getAs[Array[Byte]]("media").toSeq ==
      again.getAs[Array[Byte]]("media").toSeq)
  }

  test("frame sampling reassembles to a prefix-consistent byte slicing") {
    val media = Multimodal.mediaTable(spark, TestSpark.sf)
    val frames = Multimodal.sampleFrames(spark, media, stride = 1)
    // stride=1: concatenating all frames restores the original payload
    val rebuilt = frames.orderBy("doc_id", "frame_idx")
      .as[Multimodal.Frame].collect()
      .groupBy(_.doc_id).view.mapValues(_.sortBy(_.frame_idx).flatMap(_.frame_bytes).toSeq).toMap
    val original = media.filter(col("kind") === "video")
      .select("doc_id", "media").as[(Long, Array[Byte])].collect().toMap
    assert(rebuilt.keySet == original.keySet)
    rebuilt.foreach { case (id, bytes) => assert(bytes == original(id).toSeq, s"doc $id") }
    // stride=2 keeps roughly half the frames
    val n1 = frames.count()
    val n2 = Multimodal.sampleFrames(spark, media, stride = 2).count()
    assert(n2 < n1 && n2 > 0)
  }

  test("aHash is brightness-invariant; a small patch flips few bits; distinct patterns are far") {
    import graft.functions.ImageCodec
    val base = ImageCodec.decode(ImageCodec.syntheticBmp(64, 64, 7L)).get
    val h0 = ImageCodec.aHash64(base)
    // uniform brightness shift on mid-range pixels: identical hash
    val shifted = ImageCodec.decode(ImageCodec.syntheticBmp(64, 64, 7L)).get
    for (y <- 0 until 64; x <- 0 until 64) {
      val p = shifted.getRGB(x, y)
      def ch(v: Int) = math.min(v + 9, 255)
      shifted.setRGB(x, y,
        (ch((p >> 16) & 0xFF) << 16) | (ch((p >> 8) & 0xFF) << 8) | ch(p & 0xFF))
    }
    val hShift = ImageCodec.aHash64(shifted)
    assert(java.lang.Long.bitCount(h0 ^ hShift) <= 2,
      s"brightness shift moved ${java.lang.Long.bitCount(h0 ^ hShift)} bits")
    // 8x8 corner patch: localized, flips only a few bits
    val patched = ImageCodec.decode(ImageCodec.syntheticBmp(64, 64, 7L)).get
    for (y <- 0 until 8; x <- 0 until 8) patched.setRGB(x, y, 0)
    assert(java.lang.Long.bitCount(h0 ^ ImageCodec.aHash64(patched)) <= 4)
    // a different pattern is tens of bits away
    val other = ImageCodec.decode(ImageCodec.syntheticBmp(64, 64, 8L)).get
    assert(java.lang.Long.bitCount(h0 ^ ImageCodec.aHash64(other)) >= 16)
  }

  test("q_image_dedup: planted same-family pairs surface within Hamming 3, distinct families don't pair") {
    val out = Multimodal.imageDedup(spark, TestSpark.sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Int]("hamming") <= 3))
    // doc 1 and doc 41 share family 1 (41 % 40 = 1), neither is patched
    // (not % 5 == 0) — they must appear in the pair set; re-derive
    // membership from the histogram's totals by recomputing directly
    val pairs = out.map(r => (r.getAs[Long]("n_pairs"))).sum
    assert(pairs > 0)
    val hashes = Seq(1L, 41L, 2L).map { id =>
      // family 1, family 1, family 2 — independent scalar replica
      val img = graft.functions.ImageCodec.decode(
        graft.functions.ImageCodec.syntheticBmp(64, 64, id % 40)).get
      graft.functions.ImageCodec.aHash64(img)
    }
    assert(hashes(0) == hashes(1)) // same family base pattern
    assert(java.lang.Long.bitCount(hashes(0) ^ hashes(2)) > 3) // cross-family far
  }
}
