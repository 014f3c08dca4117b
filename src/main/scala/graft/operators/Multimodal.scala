package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{AudioCodec, ImageCodec}
import graft.sources.{Parquet, Tables}

/** Multimodal (binary) column plumbing (SURVEY §2 E12).
  *
  * Models the media pipeline of a training-data system: an opaque
  * `binary` payload column + typed metadata, with decode/feature-extract
  * running as a per-partition batch transform (`mapPartitions`) — the
  * Spark shape under which a real decoder (image/audio libs, GPU
  * batches) would run. The decode step is REAL for JDK-decodable
  * formats (PNG/BMP/GIF via `javax.imageio` — see ImageCodec): bytes →
  * pixels → channel statistics / interpolating resample → re-encoded
  * payload. Payloads the JDK can't read (JPEG2000, video containers,
  * audio, and this table's synthesized text bytes) fall back to a
  * clearly-marked deterministic byte-level path — the production shape,
  * where a codec plugin handles what it can and flags the rest.
  */
object Multimodal {

  case class MediaRow(doc_id: Long, kind: String, media: Array[Byte],
                      width: Int, height: Int, n_frames: Int)
  case class MediaFeature(doc_id: Long, kind: String, n_bytes: Int,
                          checksum: Long, feat_norm: Double)

  /** Synthesize the media table with REAL payloads where a JDK codec
    * exists: image rows carry an actual PNG (ImageCodec.syntheticPng),
    * audio rows an actual 16-bit WAV (AudioCodec.syntheticWav, pitch
    * and length varying by doc_id), video rows the document bytes (no
    * JDK video codec — the documented sandbox boundary). Payload
    * synthesis is partition-local codec work — the same mapPartitions
    * batch shape the decode stage uses.
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // codec synthesis is per-row CPU work: run at compute parallelism,
    // not scan-split parallelism (one parquet file = one task)
    Tables.atComputeParallelism(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val kind = (id % 3) match {
            case 0 => "image"; case 1 => "audio"; case _ => "video"
          }
          val width = (64 + id % 512).toInt
          val height = (64 + id % 256).toInt
          val media: Array[Byte] = kind match {
            case "image" => // BMP: real JDK codec, no deflate cost
              ImageCodec.syntheticBmp(math.min(width, 96), math.min(height, 96), id)
            case "audio" =>
              AudioCodec.syntheticWav(200.0 + (id % 20) * 40.0, (2000 + (id % 10) * 400).toInt)
            case _ => text.getBytes("UTF-8")
          }
          MediaRow(id, kind, media, width, height, (id % 30 + 1).toInt)
        }
      }.toDF()
  }

  /** Per-partition batch decode + feature extraction.
    *
    * JDK-decodable payloads (PNG/BMP/GIF) take the REAL path: decode to
    * pixels, feature = per-channel mean-intensity vector. Everything
    * else falls back to `decodeStub`'s byte-histogram feature. Both
    * paths share the batch shape — iterate the partition, emit one row
    * per item, no shuffle — and the payload checksum is byte-level in
    * both (it fingerprints the stored bytes, not the decoded pixels).
    */
  def extractFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val (checksum, stubFeat) = decodeStub(r.media)
        // codec dispatch by sniffing: image readers, then audio
        // readers, then the byte-level fallback — a plugin chain
        val featNorm = ImageCodec.decode(r.media) match {
          case Some(img) =>
            math.sqrt(ImageCodec.channelMeans(img).map(x => x * x).sum)
          case None => AudioCodec.decode(r.media) match {
            case Some(a) =>
              val f = Array(AudioCodec.rms(a), AudioCodec.peak(a),
                AudioCodec.zeroCrossRate(a) / 1000.0, AudioCodec.durationSec(a))
              math.sqrt(f.map(x => x * x).sum)
            case None =>
              math.sqrt(stubFeat.map(x => x.toDouble * x).sum)
          }
        }
        MediaFeature(r.doc_id, r.kind, r.media.length, checksum, featNorm)
      }
    }.toDF()
  }

  /** The deterministic byte-level fallback for payloads no JDK codec
    * reads (also supplies the payload checksum for every row).
    */
  private def decodeStub(bytes: Array[Byte]): (Long, Array[Float]) = {
    val feat = new Array[Float](8)
    var sum = 0L
    var i = 0
    while (i < bytes.length) {
      sum = sum * 31 + (bytes(i) & 0xFF)
      feat(i % 8) += (bytes(i) & 0xFF) / 255.0f
      i += 1
    }
    (sum, feat)
  }

  case class Resized(doc_id: Long, kind: String, media: Array[Byte],
                     width: Int, height: Int)

  /** Resize stage: scale each image payload to `targetW`×`targetH`.
    *
    * Decodable payloads take the REAL path: decode → area-averaging
    * resample (ImageCodec.resample — deterministic pixel arithmetic)
    * → PNG re-encode. Undecodable payloads fall back to
    * nearest-neighbor sampling over the raw byte buffer, which keeps
    * the proportional-shrink contract (output bytes scale with
    * target/source area). Both paths are partition-local (no shuffle)
    * — exactly how a batch image-resize stage feeds a
    * fixed-input-size trainer.
    */
  def resize(spark: SparkSession, media: DataFrame,
             targetW: Int = 32, targetH: Int = 32): DataFrame = {
    import spark.implicits._
    media.filter(col("kind") === "image")
      .select(col("doc_id"), col("kind"), col("media"), col("width"), col("height"))
      .as[(Long, String, Array[Byte], Int, Int)]
      .mapPartitions { rows =>
        rows.map { case (id, kind, bytes, w, h) =>
          ImageCodec.decode(bytes) match {
            case Some(img) =>
              Resized(id, kind,
                ImageCodec.encodePng(ImageCodec.resample(img, targetW, targetH)),
                targetW, targetH)
            case None =>
              val srcArea = math.max(w.toLong * h, 1L)
              val outLen = math.max(
                (bytes.length.toLong * targetW * targetH / srcArea).toInt, 1)
              val out = new Array[Byte](math.min(outLen, bytes.length))
              var i = 0
              while (i < out.length) {
                // nearest-neighbor over the byte buffer (fallback resampler)
                out(i) = bytes((i.toLong * bytes.length / out.length).toInt)
                i += 1
              }
              Resized(id, kind, out, targetW, targetH)
          }
        }
      }.toDF()
  }

  case class Frame(doc_id: Long, frame_idx: Int, frame_bytes: Array[Byte])

  /** Frame sampling: split each "video" payload into n_frames equal
    * byte slices and keep every `stride`-th frame — the batch shape of
    * a real decode-and-sample stage (STUB decode, real plumbing: one
    * output row per sampled frame, partition-local, no shuffle).
    */
  def sampleFrames(spark: SparkSession, media: DataFrame, stride: Int = 2): DataFrame = {
    import spark.implicits._
    media.filter(col("kind") === "video")
      .select(col("doc_id"), col("media"), col("n_frames"))
      .as[(Long, Array[Byte], Int)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes, nFrames) =>
          val frameLen = math.max(bytes.length / math.max(nFrames, 1), 1)
          (0 until nFrames by stride).iterator
            .map { i =>
              val from = math.min(i * frameLen, bytes.length)
              val until = if (i == nFrames - 1) bytes.length
                          else math.min(from + frameLen, bytes.length)
              Frame(id, i, java.util.Arrays.copyOfRange(bytes, from, until))
            }
            .filter(_.frame_bytes.nonEmpty)
        }
      }.toDF()
  }

  /** Synthesize-once: the media table is a stand-in for a STORED input
    * (a real pipeline reads payload bytes from object storage, it does
    * not synthesize them per query). Write it per data generation on
    * first use ([[graft.sources.Scratch.ensure]]); every later query
    * decodes the stored payloads — so the E12 query times codec decode,
    * not payload synthesis.
    */
  def ensureMediaTable(spark: SparkSession, dir: String): String =
    // v2: r14 changed the audio synthesis to exact integer phase
    // range reduction — a v1 media table carries the old waveform
    graft.sources.Scratch.ensure(spark, "media-v2", dir, "documents.parquet")(
      mediaTable(spark, dir).write.mode("overwrite").parquet(_))

  // ---- E90: perceptual image dedup (aHash) ---------------------------

  case class ImgHash(doc_id: Long, ahash: Long)

  /** Synthetic image corpus for the perceptual-dedup path: every doc
    * renders the pattern of its `doc_id % 40` family, brightness-shifted
    * per member (aHash-invariant by design) and, for every fifth doc, an
    * 8×8 corner patch (flips ~1 hash bit) — exact-dup families with
    * planted near-dup members and 40 distinct base patterns.
    */
  private def syntheticVariant(id: Long): Array[Byte] = {
    val img = ImageCodec.decode(ImageCodec.syntheticBmp(64, 64, id % 40)).get
    val shift = ((id % 7) * 3).toInt
    var y = 0
    while (y < 64) {
      var x = 0
      while (x < 64) {
        val p = img.getRGB(x, y)
        def ch(v: Int) = math.min(v + shift, 255)
        img.setRGB(x, y,
          (ch((p >> 16) & 0xFF) << 16) | (ch((p >> 8) & 0xFF) << 8) | ch(p & 0xFF))
        x += 1
      }
      y += 1
    }
    if (id % 5 == 0) {
      var py = 0
      while (py < 8) { var px = 0; while (px < 8) { img.setRGB(px, py, 0); px += 1 }; py += 1 }
    }
    ImageCodec.encodeBmp(img)
  }

  /** E90 — near-duplicate image detection by perceptual hash (the
    * image-side sibling of E3 SimHash: decode → aHash64 → banded
    * Hamming join; the multimodal-corpus dedup step every image
    * training set runs). Candidate generation is the pigeonhole band
    * trick — 4×16-bit bands, a pair within Hamming ≤ 3 MUST share a
    * band — so no all-pairs kernel exists at any scale; band buckets
    * carry a declared skew cap (oversized buckets are boilerplate
    * patterns, dropped like E2's). Decode+hash is partition-local
    * codec work at compute parallelism; the output is the bounded
    * Hamming histogram with sample pairs.
    */
  def imageDedup(spark: SparkSession, dir: String,
                 maxHamming: Int = 3, bucketCap: Int = 1000): DataFrame = {
    import spark.implicits._
    val hashes = Tables.atComputeParallelism(
        Tables.documents(spark, dir).select(col("doc_id")))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val img = ImageCodec.decode(syntheticVariant(id)).get
          ImgHash(id, ImageCodec.aHash64(img))
        }
      }.toDF()
    val bands = hashes.select(col("doc_id"), col("ahash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("ahash"), b * 16).bitwiseAND(lit(0xFFFFL)).as("bkey"))): _*)).as("bk"))
      .select(col("doc_id"), col("ahash"), col("bk.band"), col("bk.bkey"))
    val small = bands.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("bn")).filter(col("bn") <= bucketCap)
      .select(col("band"), col("bkey"))
    val capped = bands.join(small, Seq("band", "bkey"))
    val pairs = capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.ahash").bitwiseXOR(col("b.ahash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    pairs.groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"),
        min(struct(col("doc_a"), col("doc_b"))).as("s"))
      .select(col("hamming"), col("n_pairs"),
        col("s.doc_a").as("sample_a"), col("s.doc_b").as("sample_b"))
      .orderBy(col("hamming"))
  }

  /** E90 oracle (r13, was ☆): the BMP byte layer is LOSSLESS for
    * 24-bit pixels, so decode(syntheticVariant(id)) returns exactly
    * the synthetic pixel formula — (seed·A + i·B) >>> 40, brightness
    * shift min(+3·(id%7), 255), corner patch zeroed — and the whole
    * aHash chain (8×8 block means, integer divisions, gray sums,
    * mean threshold) is pure integer arithmetic. The hash therefore
    * depends only on (id%40, id%7, id%5≡0): the oracle computes the
    * ≤560 distinct hashes from the formula with the E2 HUGEINT macros
    * and replays the banding/Hamming pipeline. No byte parsing
    * anywhere — the codec boundary stays a JVM concern; the MATH is
    * what gets checked.
    */
  val imageDedupSql: String =
    s"""CREATE OR REPLACE MACRO mul64(a, b) AS
       |  ((a % 4294967296) * (b % 4294967296)
       |   + (((a % 4294967296) * (b // 4294967296) + (a // 4294967296) * (b % 4294967296)) % 4294967296)
       |     * 4294967296) % 18446744073709551616;
       |CREATE OR REPLACE TEMP TABLE img_px AS
       |SELECT seed, i,
       |  CAST((u // 1099511627776) // 65536 AS BIGINT) AS r,
       |  CAST(((u // 1099511627776) // 256) % 256 AS BIGINT) AS g,
       |  CAST((u // 1099511627776) % 256 AS BIGINT) AS b
       |FROM (
       |  SELECT s.range AS seed, i.range AS i,
       |    (mul64(CAST(s.range AS HUGEINT), 6364136223846793005::HUGEINT)
       |     + mul64(CAST(i.range AS HUGEINT), 1442695040888963407::HUGEINT))
       |    % 18446744073709551616 AS u
       |  FROM range(40) s, range(4096) i);
       |-- 8x8 block means of the brightness-shifted pixels, per (seed, shift)
       |CREATE OR REPLACE TEMP TABLE img_blocks AS
       |SELECT seed, m7, blk,
       |  (sum(least(r + m7 * 3, 255)) // 64)
       |    + (sum(least(g + m7 * 3, 255)) // 64)
       |    + (sum(least(b + m7 * 3, 255)) // 64) AS gray
       |FROM (SELECT p.seed, m.range AS m7,
       |        ((p.i // 64) // 8) * 8 + ((p.i % 64) // 8) AS blk,
       |        p.r, p.g, p.b
       |      FROM img_px p, range(7) m)
       |GROUP BY seed, m7, blk;
       |-- hash per (seed, shift, corner-patch flag): corner patch zeroes
       |-- exactly block 0, the rest is threshold-vs-integer-mean
       |CREATE OR REPLACE TEMP TABLE img_hash AS
       |SELECT seed, m7, corner,
       |  CAST(sum(CASE WHEN gray2 > mean THEN CAST(1 AS HUGEINT) << CAST(blk AS INT)
       |                ELSE 0::HUGEINT END) AS HUGEINT) AS hu
       |FROM (
       |  SELECT seed, m7, corner, blk, gray2,
       |    sum(gray2) OVER (PARTITION BY seed, m7, corner) // 64 AS mean
       |  FROM (SELECT b.seed, b.m7, c.corner, b.blk,
       |          CASE WHEN c.corner = 1 AND b.blk = 0 THEN 0 ELSE b.gray END AS gray2
       |        FROM img_blocks b, (SELECT unnest([0, 1]) AS corner) c))
       |GROUP BY seed, m7, corner;
       |CREATE OR REPLACE TEMP TABLE img_doc AS
       |SELECT d.doc_id, h.hu,
       |  CAST(CASE WHEN h.hu >= 9223372036854775808::HUGEINT
       |            THEN h.hu - 18446744073709551616::HUGEINT ELSE h.hu END AS BIGINT) AS hs
       |FROM documents d
       |JOIN img_hash h ON h.seed = d.doc_id % 40 AND h.m7 = d.doc_id % 7
       |  AND h.corner = CASE WHEN d.doc_id % 5 = 0 THEN 1 ELSE 0 END;
       |CREATE OR REPLACE TEMP TABLE img_bands AS
       |SELECT doc_id, hs, b.range AS band,
       |  CAST((hu // (CAST(1 AS HUGEINT) << CAST(b.range * 16 AS INT))) % 65536 AS BIGINT) AS bkey
       |FROM img_doc, range(4) b;
       |CREATE OR REPLACE TEMP TABLE img_pairs AS
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  bit_count(xor(a.hs, b.hs)) AS hamming
       |FROM (SELECT i.* FROM img_bands i
       |      JOIN (SELECT band, bkey FROM img_bands GROUP BY band, bkey
       |            HAVING count(*) <= 1000) ok USING (band, bkey)) a
       |JOIN (SELECT i.* FROM img_bands i
       |      JOIN (SELECT band, bkey FROM img_bands GROUP BY band, bkey
       |            HAVING count(*) <= 1000) ok USING (band, bkey)) b
       |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.hs, b.hs)) <= 3;
       |SELECT hamming, count(*) AS n_pairs, sample_a, sample_b FROM (
       |  SELECT hamming, doc_a, doc_b,
       |    first_value(doc_a) OVER (PARTITION BY hamming ORDER BY doc_a, doc_b) AS sample_a,
       |    first_value(doc_b) OVER (PARTITION BY hamming ORDER BY doc_a, doc_b) AS sample_b
       |  FROM img_pairs)
       |GROUP BY hamming, sample_a, sample_b
       |ORDER BY hamming""".stripMargin

  /** E12 oracle (r13, was ☆): the media payloads are deterministic
    * functions of doc_id, and the JDK writers emit canonical
    * containers — BMP: 54-byte BITMAPINFOHEADER + bottom-up BGR rows
    * padded to 4 (byte-verified against ImageIO's output); WAV: the
    * canonical 44-byte RIFF/fmt/data header + LE int16 PCM
    * (byte-verified against AudioSystem's output) — so the oracle
    * reconstructs every byte from the formulas and evaluates the
    * polynomial checksum in CLOSED FORM (Σ bᵢ·31^(n−1−i) mod 2⁶⁴ over
    * a precomputed power table: order-free grouped sums instead of a
    * 27k-step fold). Features replay per kind: channel means from the
    * pixel formula (image), rms/peak/zcr/duration from the
    * reconstructed samples (audio; the per-sample sin is the one libm
    * call, and its argument is integer-range-reduced to [0, 2π) on
    * BOTH engines — see AudioCodec.syntheticWav — so a flip needs two
    * correctly-rounded-regime sins to straddle a trunc boundary,
    * ~1e-9 odds corpus-wide vs ~1e-5 for the r13 unreduced
    * thousands-of-radians arguments), and the byte-histogram stub
    * with bit-exact float-accumulation emulation (video; float adds
    * of sub-2⁸-exponent-spread values are exact in double, so
    * CAST-after-add reproduces binary32 arithmetic).
    */
  val multimodalMetaSql: String = {
    def le(v: String, k: Int) = s"(($v) // ${BigInt(256).pow(k)}) % 256"
    val imgHeader = // BITMAPINFOHEADER byte p of a (w, h, pad) image
      s"""CASE p
         |  WHEN 0 THEN 66 WHEN 1 THEN 77
         |  WHEN 2 THEN ${le("fsize", 0)} WHEN 3 THEN ${le("fsize", 1)}
         |  WHEN 4 THEN ${le("fsize", 2)} WHEN 5 THEN ${le("fsize", 3)}
         |  WHEN 10 THEN 54 WHEN 14 THEN 40
         |  WHEN 18 THEN ${le("w", 0)} WHEN 19 THEN ${le("w", 1)}
         |  WHEN 22 THEN ${le("h", 0)} WHEN 23 THEN ${le("h", 1)}
         |  WHEN 26 THEN 1 WHEN 28 THEN 24
         |  WHEN 34 THEN ${le("isize", 0)} WHEN 35 THEN ${le("isize", 1)}
         |  WHEN 36 THEN ${le("isize", 2)} WHEN 37 THEN ${le("isize", 3)}
         |  ELSE 0 END""".stripMargin
    val wavHeader = // canonical RIFF header byte p of an ns-sample WAV
      s"""CASE p
         |  WHEN 0 THEN 82 WHEN 1 THEN 73 WHEN 2 THEN 70 WHEN 3 THEN 70
         |  WHEN 4 THEN ${le("36 + 2 * ns", 0)} WHEN 5 THEN ${le("36 + 2 * ns", 1)}
         |  WHEN 6 THEN ${le("36 + 2 * ns", 2)} WHEN 7 THEN ${le("36 + 2 * ns", 3)}
         |  WHEN 8 THEN 87 WHEN 9 THEN 65 WHEN 10 THEN 86 WHEN 11 THEN 69
         |  WHEN 12 THEN 102 WHEN 13 THEN 109 WHEN 14 THEN 116 WHEN 15 THEN 32
         |  WHEN 16 THEN 16 WHEN 20 THEN 1 WHEN 22 THEN 1
         |  WHEN 24 THEN 64 WHEN 25 THEN 31 WHEN 28 THEN 128 WHEN 29 THEN 62
         |  WHEN 32 THEN 2 WHEN 34 THEN 16
         |  WHEN 36 THEN 100 WHEN 37 THEN 97 WHEN 38 THEN 116 WHEN 39 THEN 97
         |  WHEN 40 THEN ${le("2 * ns", 0)} WHEN 41 THEN ${le("2 * ns", 1)}
         |  WHEN 42 THEN ${le("2 * ns", 2)} WHEN 43 THEN ${le("2 * ns", 3)}
         |  ELSE 0 END""".stripMargin
    s"""CREATE OR REPLACE MACRO mul64(a, b) AS
       |  ((a % 4294967296) * (b % 4294967296)
       |   + (((a % 4294967296) * (b // 4294967296) + (a // 4294967296) * (b % 4294967296)) % 4294967296)
       |     * 4294967296) % 18446744073709551616;
       |CREATE OR REPLACE MACRO to_signed(u) AS CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
       |  THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT);
       |CREATE OR REPLACE TEMP TABLE mm_pow AS
       |WITH RECURSIVE pw(k, p) AS (
       |  SELECT 0, 1::HUGEINT
       |  UNION ALL SELECT k + 1, mul64(p, 31::HUGEINT) FROM pw WHERE k < 30000)
       |SELECT k, p FROM pw;
       |CREATE OR REPLACE TEMP TABLE mm_doc AS
       |SELECT doc_id, doc_id % 3 AS kind3, text,
       |  least(64 + doc_id % 512, 96) AS w,
       |  least(64 + doc_id % 256, 96) AS h,
       |  (4 - (least(64 + doc_id % 512, 96) * 3) % 4) % 4 AS pad,
       |  2000 + (doc_id % 10) * 400 AS ns,
       |  CAST(200 + (doc_id % 20) * 40 AS DOUBLE) AS freq
       |FROM documents;
       |CREATE OR REPLACE TEMP TABLE mm_n AS
       |SELECT doc_id, kind3,
       |  CASE kind3 WHEN 0 THEN 54 + h * (3 * w + pad)
       |             WHEN 1 THEN 44 + 2 * ns
       |             ELSE length(text) END AS n_bytes
       |FROM mm_doc;
       |-- image pixels: (seed = doc_id)·A + i·B >>> 40; byte offsets of
       |-- the BGR triple in the bottom-up padded layout
       |CREATE OR REPLACE TEMP TABLE mm_ipx AS
       |SELECT doc_id, i,
       |  CAST((u // 1099511627776) // 65536 AS BIGINT) AS r,
       |  CAST(((u // 1099511627776) // 256) % 256 AS BIGINT) AS g,
       |  CAST((u // 1099511627776) % 256 AS BIGINT) AS b,
       |  54 + (h - 1 - i // w) * (3 * w + pad) + 3 * (i % w) AS base
       |FROM (
       |  SELECT d.doc_id, d.w, d.h, d.pad, i.range AS i,
       |    (mul64(CAST(d.doc_id AS HUGEINT), 6364136223846793005::HUGEINT)
       |     + mul64(CAST(i.range AS HUGEINT), 1442695040888963407::HUGEINT))
       |    % 18446744073709551616 AS u
       |  FROM (SELECT * FROM mm_doc WHERE kind3 = 0) d, range(9216) i
       |  WHERE i.range < d.w * d.h);
       |-- audio samples: v = trunc(sin(2π·((f·i) mod 8000)/8000)·0.5·32767)
       |-- (exact integer range reduction before the ONE libm call, so
       |-- sin args stay in [0,2π) where engines agree to ~1 ulp —
       |-- mirrors AudioCodec.syntheticWav's WHOLE-FREQ branch bit for
       |-- bit; the pitch ladder above is all-integer by construction)
       |CREATE OR REPLACE TEMP TABLE mm_apx AS
       |SELECT d.doc_id, i.range AS i,
       |  CAST(trunc((sin((6.283185307179586 * ((CAST(d.freq AS BIGINT) * i.range) % 8000)) / 8000.0) * 0.5) * 32767) AS BIGINT) AS v
       |FROM (SELECT * FROM mm_doc WHERE kind3 = 1) d, range(5600) i
       |WHERE i.range < d.ns;
       |-- closed-form polynomial checksum: every nonzero byte contributes
       |-- value · 31^(n-1-pos); padding and zero header bytes drop out
       |CREATE OR REPLACE TEMP TABLE mm_ck AS
       |SELECT doc_id, to_signed(CAST(sum(t) AS HUGEINT) % 18446744073709551616) AS checksum
       |FROM (
       |  SELECT p.doc_id, mul64(CAST(p.r AS HUGEINT), w1.p) AS t
       |  FROM mm_ipx p JOIN mm_n n USING (doc_id)
       |  JOIN mm_pow w1 ON w1.k = n.n_bytes - 1 - (p.base + 2) WHERE p.r <> 0
       |  UNION ALL
       |  SELECT p.doc_id, mul64(CAST(p.g AS HUGEINT), w1.p)
       |  FROM mm_ipx p JOIN mm_n n USING (doc_id)
       |  JOIN mm_pow w1 ON w1.k = n.n_bytes - 1 - (p.base + 1) WHERE p.g <> 0
       |  UNION ALL
       |  SELECT p.doc_id, mul64(CAST(p.b AS HUGEINT), w1.p)
       |  FROM mm_ipx p JOIN mm_n n USING (doc_id)
       |  JOIN mm_pow w1 ON w1.k = n.n_bytes - 1 - p.base WHERE p.b <> 0
       |  UNION ALL
       |  SELECT hd.doc_id, mul64(CAST(hd.v AS HUGEINT), w1.p)
       |  FROM (SELECT doc_id, p AS pos, $imgHeader AS v
       |        FROM (SELECT d.doc_id, p.range AS p, d.w, d.h,
       |                d.h * (3 * d.w + d.pad) AS isize,
       |                54 + d.h * (3 * d.w + d.pad) AS fsize
       |              FROM (SELECT * FROM mm_doc WHERE kind3 = 0) d, range(54) p)) hd
       |  JOIN mm_n n ON n.doc_id = hd.doc_id
       |  JOIN mm_pow w1 ON w1.k = n.n_bytes - 1 - hd.pos WHERE hd.v <> 0
       |  UNION ALL
       |  SELECT s.doc_id, mul64(CAST(((s.v % 65536 + 65536) % 65536) % 256 AS HUGEINT), w1.p)
       |  FROM mm_apx s JOIN mm_n n USING (doc_id)
       |  JOIN mm_pow w1 ON w1.k = n.n_bytes - 1 - (44 + 2 * s.i)
       |  WHERE ((s.v % 65536 + 65536) % 65536) % 256 <> 0
       |  UNION ALL
       |  SELECT s.doc_id, mul64(CAST(((s.v % 65536 + 65536) % 65536) // 256 AS HUGEINT), w1.p)
       |  FROM mm_apx s JOIN mm_n n USING (doc_id)
       |  JOIN mm_pow w1 ON w1.k = n.n_bytes - 1 - (45 + 2 * s.i)
       |  WHERE ((s.v % 65536 + 65536) % 65536) // 256 <> 0
       |  UNION ALL
       |  SELECT hd.doc_id, mul64(CAST(hd.v AS HUGEINT), w1.p)
       |  FROM (SELECT doc_id, p AS pos, $wavHeader AS v
       |        FROM (SELECT d.doc_id, p.range AS p, d.ns AS ns
       |              FROM (SELECT * FROM mm_doc WHERE kind3 = 1) d, range(44) p)) hd
       |  JOIN mm_n n USING (doc_id)
       |  JOIN mm_pow w1 ON w1.k = n.n_bytes - 1 - hd.pos WHERE hd.v <> 0
       |  UNION ALL
       |  SELECT t.doc_id, mul64(CAST(ord(t.c) AS HUGEINT), w1.p)
       |  FROM (SELECT d.doc_id, i.range AS pos, substr(d.text, CAST(i.range + 1 AS INT), 1) AS c
       |        FROM (SELECT * FROM mm_doc WHERE kind3 = 2) d, range(100000) i
       |        WHERE i.range < length(d.text)) t
       |  JOIN mm_n n USING (doc_id)
       |  JOIN mm_pow w1 ON w1.k = n.n_bytes - 1 - t.pos WHERE ord(t.c) <> 0)
       |GROUP BY doc_id;
       |-- per-kind feature norms
       |CREATE OR REPLACE TEMP TABLE mm_feat AS
       |SELECT d.doc_id,
       |  sqrt(((rm * rm + gm * gm) + bm * bm)) AS feat_norm
       |FROM (SELECT * FROM mm_doc WHERE kind3 = 0) d
       |JOIN (SELECT doc_id,
       |        CAST(sum(r) AS DOUBLE) / den AS rm,
       |        CAST(sum(g) AS DOUBLE) / den AS gm,
       |        CAST(sum(b) AS DOUBLE) / den AS bm
       |      FROM mm_ipx JOIN (SELECT doc_id, CAST(w * h AS DOUBLE) * 255 AS den
       |                        FROM mm_doc) dd USING (doc_id)
       |      GROUP BY doc_id, den) s USING (doc_id)
       |UNION ALL
       |SELECT a.doc_id,
       |  sqrt((((rms * rms + peak * peak) + (zcr / 1000.0) * (zcr / 1000.0)) + dur * dur))
       |FROM (
       |  SELECT s.doc_id,
       |    sqrt(sum((s.v / 32768.0) * (s.v / 32768.0)) / greatest(d.ns, 1)) AS rms,
       |    max(abs(s.v / 32768.0)) AS peak,
       |    CAST(sum(CASE WHEN s.i > 0 AND (lagv >= 0) <> (s.v >= 0) THEN 1 ELSE 0 END) AS DOUBLE)
       |      / greatest(d.ns / 8000.0, 1e-9) AS zcr,
       |    d.ns / 8000.0 AS dur
       |  FROM (SELECT doc_id, i, v,
       |          lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS lagv
       |        FROM mm_apx) s
       |  JOIN mm_doc d USING (doc_id)
       |  GROUP BY s.doc_id, d.ns) a
       |UNION ALL
       |SELECT f.doc_id,
       |  sqrt((((((((CAST(f0 AS DOUBLE) * f0 + CAST(f1 AS DOUBLE) * f1) + CAST(f2 AS DOUBLE) * f2)
       |    + CAST(f3 AS DOUBLE) * f3) + CAST(f4 AS DOUBLE) * f4) + CAST(f5 AS DOUBLE) * f5)
       |    + CAST(f6 AS DOUBLE) * f6) + CAST(f7 AS DOUBLE) * f7))
       |FROM (
       |  SELECT doc_id,
       |    ${(0 until 8).map(k =>
             s"""list_reduce(list_prepend(CAST(0.0 AS FLOAT),
                |      coalesce(list(CAST(CAST(bv AS FLOAT) / CAST(255 AS FLOAT) AS FLOAT) ORDER BY pos)
                |        FILTER (WHERE pos % 8 = $k), CAST([] AS FLOAT[]))),
                |      (a, x) -> CAST(a + x AS FLOAT)) AS f$k""".stripMargin).mkString(",\n|    ")}
       |  FROM (SELECT d.doc_id, i.range AS pos,
       |          ord(substr(d.text, CAST(i.range + 1 AS INT), 1)) AS bv
       |        FROM (SELECT * FROM mm_doc WHERE kind3 = 2) d, range(100000) i
       |        WHERE i.range < length(d.text))
       |  GROUP BY doc_id) f;
       |SELECT d.doc_id,
       |  CASE d.kind3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       |  CAST(n.n_bytes AS INT) AS n_bytes,
       |  coalesce(c.checksum, 0) AS checksum,
       |  round(coalesce(f.feat_norm, 0.0), 4) AS feat_norm
       |FROM mm_doc d
       |JOIN mm_n n USING (doc_id)
       |LEFT JOIN mm_ck c USING (doc_id)
       |LEFT JOIN mm_feat f USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** E12 query surface: metadata + extracted features, deterministic. */
  def features(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(spark,
        Tables.atComputeParallelism(
          Parquet.read(spark, ensureMediaTable(spark, dir))))
      .select(col("doc_id"), col("kind"), col("n_bytes"), col("checksum"),
        round(col("feat_norm"), 4).as("feat_norm"))
      .orderBy(col("doc_id"))
}
