package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import graft.QueryDef
import graft.util.Tables._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video as opaque `binary` payloads with
  * typed metadata, decoded/feature-extracted in distributed batches.
  *
  * The image decode is REAL: JDK `javax.imageio` parses the payload
  * (PNG/JPEG/BMP/GIF — no external library) and the features are
  * per-channel pixel means computed from the decoded raster. Payloads the
  * decoder cannot parse fall back to the deterministic byte-stripe stub
  * ([[decodeStub]] semantics) with null dimensions, so a corrupt payload
  * degrades to a flagged row instead of failing the task.
  *
  * Execution shape: `mapPartitions` batches (the Scala analog of
  * `mapInPandas` — one streaming iterator per partition, no per-row JVM
  * boundary); payloads are hash-distributed by key before decode so
  * decode parallelism = partition count, and the wide binary column never
  * shuffles after decode.
  */
object Multimodal {

  /** Decoded-asset schema. `width`/`height`/`channels` are null when the
    * payload is not a decodable image; `features` are per-channel pixel
    * means in [0,1] (decodable) or byte-stripe means (fallback). */
  val decodedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("media_type", StringType),
    StructField("n_bytes", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("features", ArrayType(DoubleType)),
  ))

  /** Wrap a table as a binary-asset table (payload = opaque bytes). */
  def asBinaryAssets(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("doc_id"),
      col(payloadCol).cast("binary").as("payload"),
      lit("image/fake").as("media_type"))

  /** Deterministic RGB PNG payload for a doc id — the testdata tables
    * carry no real media, so the pipeline synthesizes its own images
    * with a closed-form pixel rule the DuckDB oracle can replay:
    * width = id%13+4, height = id%11+4, pixel (x,y) channel c
    * = (id*7 + c*31 + x + y) % 256. Encoded through the SAME ImageIO
    * codec family the decode side parses, so the oracle checks a true
    * encode→decode→aggregate roundtrip. */
  def pngPayload(id: Long): Array[Byte] = {
    val w = (id % 13 + 4).toInt
    val h = (id % 11 + 4).toInt
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((id * 7 + x + y) % 256).toInt
        val g = ((id * 7 + 31 + x + y) % 256).toInt
        val b = ((id * 7 + 62 + x + y) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** documents → (doc_id, payload=deterministic PNG, media_type). The
    * payload generation runs distributed (mapPartitions over doc ids). */
  def pngAssets(docs: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType),
      StructField("media_type", StringType))))
    docs.select(col("doc_id").cast("long")).mapPartitions { it =>
      // disable ImageIO's temp-FILE stream cache (one file create+delete
      // per encode/decode otherwise — measured 20 s over 10k calls at
      // sf0.1); in-memory streams are strictly better for small images
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val id = r.getLong(0)
        Row(id, pngPayload(id), "image/png")
      }
    }(enc)
  }

  /** REAL image decode: ImageIO header+pixel parse per payload, one
    * streaming batch per partition. Features = per-channel means of the
    * decoded pixels (exact integer sums, one double division — both
    * engines reproduce it bit-for-bit). Undecodable payloads degrade to
    * the stub features with null dimensions. */
  def decodeImage(assets: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(decodedSchema)
    assets.select("doc_id", "payload", "media_type").mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // in-memory streams (see pngAssets)
      it.map { r =>
        val id = r.getLong(0)
        val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        val mt = r.getString(2)
        // a recognized-but-corrupt payload (e.g. a PNG truncated mid-IDAT)
        // makes ImageIO.read THROW rather than return null — both cases
        // must degrade to the flagged stub row, not fail the task
        val img =
          if (bytes.length == 0) null
          else
            try javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
            catch { case _: java.io.IOException | _: RuntimeException => null }
        if (img == null) {
          Row(id, mt, bytes.length, null, null, null, stubFeatures(bytes).toSeq)
        } else {
          val w = img.getWidth
          val h = img.getHeight
          val raster = img.getRaster
          val channels = raster.getNumBands
          // per-DECODED-channel means, exact: integer sample sums over
          // the raster (raw bit depth per band), shipped as truncated
          // ppm of the full scale — features hold exact integer values
          // (cast to double only for the shared schema), so downstream
          // comparisons never depend on float rounding; features.length
          // == channels for gray/RGB/RGBA alike and 16-bit samples
          // normalize by their own full scale
          val feats = Array.tabulate(channels) { c =>
            val maxVal = (1L << raster.getSampleModel.getSampleSize(c)) - 1
            var s = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { s += raster.getSample(x, y, c); x += 1 }
              y += 1
            }
            ((1000000L * s) / (w.toLong * h * maxVal)).toDouble
          }
          Row(id, mt, bytes.length, w, h, channels, feats.toSeq)
        }
      }
    }(enc)
  }

  /** REAL-decode perceptual fingerprint: ImageIO-parsed pixels → 16-bit
    * average-hash over a 4×4 grid. Block of pixel (x,y) is
    * (4y/h)·4 + 4x/w (forward integer map — a valid 16-cell partition
    * for any w,h ≥ 4 without float boundaries); a block's bit is set
    * iff its gray mean exceeds the image mean, compared CROSS-MULTIPLIED
    * (sum_b·N > total·n_b) so no division ever rounds. Gray is the
    * integer (r+g+b)/3 of the DECODED channels — PNG is lossless, so
    * the oracle's closed-form replay matches bit-for-bit. Undecodable
    * payloads drop (flatMap None) rather than fake a fingerprint. */
  def imagePhash(assets: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("doc_id", LongType), StructField("phash", LongType))))
    assets.select("doc_id", "payload").mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // in-memory streams (see pngAssets)
      it.flatMap { r =>
        val id = r.getLong(0)
        val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        val img =
          if (bytes.length == 0) null
          else
            try javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
            catch { case _: java.io.IOException | _: RuntimeException => null }
        if (img == null) None
        else {
          val (s, n) = grayBlockSums(img, 4)
          var t = 0L; var np = 0L
          var i = 0
          while (i < 16) { t += s(i); np += n(i); i += 1 }
          var ph = 0L
          i = 0
          while (i < 16) { if (s(i) * np > t * n(i)) ph |= (1L << i); i += 1 }
          Some(Row(id, ph))
        }
      }
    }(enc)
  }

  /** Per-block gray sums/counts over a grid×grid partition of a decoded
    * image — the shared kernel of [[imagePhash]] (hash bits) and
    * [[imageResize]] (box-filter downscale). */
  private def grayBlockSums(img: java.awt.image.BufferedImage, grid: Int)
      : (Array[Long], Array[Long]) = {
    val w = img.getWidth
    val h = img.getHeight
    val s = new Array[Long](grid * grid)
    val n = new Array[Long](grid * grid)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        val gray = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
        val b = (grid * y / h) * grid + (grid * x / w)
        s(b) += gray; n(b) += 1
        x += 1
      }
      y += 1
    }
    (s, n)
  }

  /** REAL image resize: ImageIO decode → grid×grid box-filter downscale
    * (area averaging — INTER_AREA semantics), each output pixel the
    * FLOORED integer mean of its source block, so the closed-form
    * oracle reproduces every cell exactly. Long-format output
    * (doc_id, by, bx, gray) — one row per output pixel. */
  def imageResize(assets: DataFrame, grid: Int): DataFrame = {
    val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("doc_id", LongType),
      StructField("by", LongType),
      StructField("bx", LongType),
      StructField("gray", LongType))))
    assets.select("doc_id", "payload").mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { r =>
        val id = r.getLong(0)
        val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        val img =
          if (bytes.length == 0) null
          else
            try javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
            catch { case _: java.io.IOException | _: RuntimeException => null }
        if (img == null) Iterator.empty
        else {
          val (s, n) = grayBlockSums(img, grid)
          (0 until grid * grid).iterator.filter(n(_) > 0L).map { b =>
            Row(id, (b / grid).toLong, (b % grid).toLong, s(b) / n(b))
          }
        }
      }
    }(enc)
  }

  /** Deterministic byte-stripe features — the fallback for payloads that
    * are not decodable images (and the stub decode for media kinds with
    * no in-container codec, e.g. audio/video): mean of each of 8 byte
    * stripes, as truncated ppm of full scale (same exact-integer
    * convention as the real decode). Empty payloads get zeroed
    * features. */
  private def stubFeatures(bytes: Array[Byte]): Array[Double] = {
    val n = bytes.length
    if (n == 0) Array.fill(8)(0.0)
    else Array.tabulate(8) { k =>
      val lo = k * n / 8
      val hi = math.max(lo + 1, (k + 1) * n / 8)
      var s = 0L
      var i = lo
      while (i < hi) { s += (bytes(i) & 0xff); i += 1 }
      ((1000000L * s) / ((hi - lo).toLong * 255L)).toDouble
    }
  }

  /** Stub decode for opaque (non-image) payloads: byte-derived fake
    * dimensions + stripe features. Kept alongside [[decodeImage]] for
    * media kinds whose real decoder isn't available in-container
    * (audio/video) — same schema, same batch execution shape. */
  def decodeStub(assets: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(decodedSchema)
    assets.select("doc_id", "payload", "media_type").mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        val mt = r.getString(2)
        val n = bytes.length
        val w = (n % 64) + 1
        val h = (n / 64) + 1
        Row(id, mt, n, w, h, 3, stubFeatures(bytes).toSeq)
      }
    }(enc)
  }

  /** "Resize" analog over decoded features: downsample the feature vector
    * by striding — stands in for image resize / audio frame-sampling. */
  def sampleFeatures(decoded: DataFrame, stride: Int): DataFrame =
    decoded.withColumn("features",
      expr(s"filter(features, (x, i) -> i % $stride = 0)"))

  /** Deterministic PCM16-LE mono payload for a doc id — the audio twin
    * of [[pngPayload]]: 2048 samples, sample i =
    * ((id·31 + i·7) % 4096) − 2048, with every third 256-sample block
    * silenced — so VAD has real structure to find and the DuckDB
    * oracle can replay the closed-form rule without ever seeing the
    * bytes. */
  def pcmPayload(id: Long): Array[Byte] = {
    val n = 2048
    val out = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = if ((i / 256) % 3 == 0) 0
        else (((id * 31 + i.toLong * 7) % 4096) - 2048).toInt
      out(2 * i) = (v & 0xff).toByte
      out(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** documents → (doc_id, payload=PCM16-LE bytes, media_type). */
  def pcmAssets(docs: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType),
      StructField("media_type", StringType))))
    docs.select(col("doc_id").cast("long")).mapPartitions { it =>
      it.map { r => Row(r.getLong(0), pcmPayload(r.getLong(0)), "audio/pcm16") }
    }(enc)
  }

  /** REAL audio parse: little-endian signed 16-bit samples from the
    * binary payload, windowed energy per fixed-size frame — the
    * voice-activity-detection primitive. Exact integer sums (energy =
    * Σ v² as BIGINT), one output row per window, stateless per payload
    * — at 100 TB this is a pure map stage bounded by payload size. */
  def decodePcmWindows(assets: DataFrame, window: Int): DataFrame = {
    val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("doc_id", LongType),
      StructField("win", LongType),
      StructField("n_samples", LongType),
      StructField("energy", LongType),
      StructField("active", BooleanType))))
    assets.select("doc_id", "payload").mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        val n = bytes.length / 2
        (0 until (n + window - 1) / window).iterator.map { w =>
          val lo = w * window
          val hi = math.min(lo + window, n)
          var e = 0L
          var i = lo
          while (i < hi) {
            val v = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort.toLong
            e += v * v
            i += 1
          }
          Row(id, w.toLong, (hi - lo).toLong, e, e > 0L)
        }
      }
    }(enc)
  }

  /** Windowed-energy audio fingerprint from a real PCM16-LE parse: the
    * audio twin of [[imagePhash]] — bit w set iff window w's exact
    * integer energy, cross-multiplied against the payload total, exceeds
    * the mean. Empty payloads drop. */
  def audioFingerprint(assets: DataFrame, window: Int): DataFrame = {
    val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("doc_id", LongType), StructField("ahash", LongType))))
    assets.select("doc_id", "payload").mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        val n = bytes.length / 2
        if (n == 0) None
        else {
          val nw = (n + window - 1) / window
          val e = new Array[Long](nw)
          var i = 0
          while (i < n) {
            val v = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort.toLong
            e(i / window) += v * v
            i += 1
          }
          var tot = 0L
          var w = 0
          while (w < nw) { tot += e(w); w += 1 }
          var ph = 0L
          w = 0
          while (w < nw) { if (e(w) * nw > tot) ph |= (1L << w); w += 1 }
          Some(Row(id, ph))
        }
      }
    }(enc)
  }

  /** The image-fingerprint oracle (closed-form pixel replay), shared
    * verbatim by the live and stored queries. */
  /** The closed-form phash derivation (through `ph`), shared by the
    * fingerprint oracles and the near-dup pairing oracle. */
  private val ImagePhashChain: String =
    """WITH dims AS (
      |  SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS i
      |  FROM dims),
      |g AS (
      |  SELECT doc_id, w, h, i % w AS x, i // w AS y,
      |    (((doc_id * 7 + i % w + i // w) % 256)
      |     + ((doc_id * 7 + 31 + i % w + i // w) % 256)
      |     + ((doc_id * 7 + 62 + i % w + i // w) % 256)) // 3 AS gray
      |  FROM px),
      |bsum AS (
      |  SELECT doc_id, ((4 * y) // h) * 4 + (4 * x) // w AS b,
      |    sum(gray) AS s, count(*) AS n
      |  FROM g GROUP BY 1, 2),
      |tot AS (SELECT doc_id, sum(s) AS t, sum(n) AS np FROM bsum GROUP BY doc_id),
      |ph AS (
      |  SELECT b.doc_id,
      |    CAST(sum(CASE WHEN b.s * t.np > t.t * b.n THEN 1::BIGINT << b.b ELSE 0 END) AS BIGINT) AS phash
      |  FROM bsum b JOIN tot t ON t.doc_id = b.doc_id
      |  GROUP BY b.doc_id)""".stripMargin

  private val ImagePhashOracleSql: String =
    s"""$ImagePhashChain
      |SELECT doc_id, phash,
      |  CAST(count(*) OVER (PARTITION BY phash) AS BIGINT) AS n_same
      |FROM ph ORDER BY doc_id""".stripMargin

  /** The frame-pair L1-energy derivation (through `pairs`), shared by
    * the shot-boundary and keyframe oracles. */
  private val FrameDiffChain: String =
    """WITH f AS (
      |  SELECT doc_id, text AS payload, length(text) // 32 AS nframes
      |  FROM documents),
      |fr AS (
      |  SELECT doc_id, unnest(generate_series(0, nframes - 1)) AS idx, payload
      |  FROM f WHERE nframes >= 2),
      |fx AS (
      |  SELECT doc_id, idx,
      |    substring(payload, CAST(idx * 32 + 1 AS INT), 32) AS frame,
      |    lead(substring(payload, CAST(idx * 32 + 1 AS INT), 32))
      |      OVER (PARTITION BY doc_id ORDER BY idx) AS nxt
      |  FROM fr),
      |pairs AS (
      |  SELECT doc_id, idx,
      |    CAST((SELECT sum(abs(ord(substring(fx.frame, p.p, 1))
      |                       - ord(substring(fx.nxt, p.p, 1))))
      |          FROM generate_series(1, 32) p(p)) AS BIGINT) AS diff_l1
      |  FROM fx WHERE nxt IS NOT NULL),
      |m AS (
      |  SELECT doc_id, CAST(sum(diff_l1) AS HUGEINT) AS s,
      |    CAST(count(*) AS BIGINT) AS np
      |  FROM pairs GROUP BY doc_id)""".stripMargin

  /** Shared verbatim by `mm_shot_boundaries` and its stored twin. */
  private val ShotBoundariesOracleSql: String =
    s"""$FrameDiffChain
      |SELECT p.doc_id, p.idx AS frame_idx, p.diff_l1,
      |  CAST(CASE WHEN CAST(p.diff_l1 AS HUGEINT) * 4 * m.np > 5 * m.s
      |       THEN 1 ELSE 0 END AS BIGINT) AS is_boundary
      |FROM pairs p JOIN m ON m.doc_id = p.doc_id
      |ORDER BY p.doc_id, frame_idx""".stripMargin

  /** Shared verbatim by `mm_keyframe_pick` and its stored twin. */
  private val KeyframeOracleSql: String =
    s"""$FrameDiffChain,
      |b AS (
      |  SELECT p.doc_id, p.idx, p.diff_l1,
      |    CASE WHEN CAST(p.diff_l1 AS HUGEINT) * 4 * m.np > 5 * m.s
      |         THEN 1 ELSE 0 END AS cut
      |  FROM pairs p JOIN m ON m.doc_id = p.doc_id),
      |sg AS (
      |  SELECT doc_id, idx, diff_l1,
      |    CAST(coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY idx
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS shot
      |  FROM b)
      |SELECT doc_id, shot, CAST(idx AS BIGINT) AS keyframe_idx,
      |  diff_l1 AS energy,
      |  CAST(count(*) OVER (PARTITION BY doc_id, shot) AS BIGINT) AS n_pairs
      |FROM sg
      |QUALIFY row_number() OVER (PARTITION BY doc_id, shot
      |  ORDER BY diff_l1 DESC, idx) = 1
      |ORDER BY doc_id, shot""".stripMargin

  /** Per-video frame-pair motion energy (doc_id, idx, diff_l1) — the
    * shared kernel of `mm_shot_boundaries` / `mm_keyframe_pick`, and the
    * build stage of the frame-diff store
    * ([[SignatureStore.ensureFrameDiffs]]). Computed by the native
    * [[graft.functions.FramePairDiffs]] codegen expression: one
    * sequential codepoint pass per payload, emitted as a STATELESS MAP
    * (scan → generate) — the relational encoding this replaced needed a
    * doc-keyed lead() window, a 32-way position explode, and a
    * (doc, idx) re-aggregate: three corpus-scale stages and one full
    * shuffle for the same rows (PlanAssertSpec pins the window-free,
    * exchange-free shape). */
  def frameDiffs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(graft.functions.FramePairDiffs.frame_pair_diffs(col("text"))).as("pk"))
      .select(col("doc_id"),
        expr("pk div 4294967296").as("idx"),
        expr("pk % 4294967296").as("diff_l1"))

  /** Cut-flag stage shared by the live and stored boundary queries:
    * `pairs` is the (doc_id, idx, diff_l1) table (live kernel or store
    * read); a pair is a cut when its energy exceeds 1.25× the video's
    * own mean (codec-relative threshold, cross-multiplied integers). */
  def shotBoundaryReport(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val m = pairs.groupBy("doc_id")
      .agg(sum(col("diff_l1").cast(DecimalType(38, 0))).as("s"),
        count(lit(1)).as("np"))
    pairs.join(m, Seq("doc_id"))
      .select(col("doc_id"), col("idx").as("frame_idx"), col("diff_l1"),
        when(col("diff_l1").cast(DecimalType(38, 0)) * 4 * col("np") >
          col("s") * 5, 1L).otherwise(0L).as("is_boundary"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Shot segmentation + per-shot argmax keyframe, shared by the live
    * and stored keyframe queries. All three windows ride one doc-keyed
    * shuffle. */
  def keyframeReport(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val m = pairs.groupBy("doc_id")
      .agg(sum(col("diff_l1").cast(DecimalType(38, 0))).as("s"),
        count(lit(1)).as("np"))
    val cutW = Window.partitionBy(col("doc_id")).orderBy(col("idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val segW = Window.partitionBy(col("doc_id"), col("shot"))
    val rnW = segW.orderBy(col("diff_l1").desc, col("idx"))
    pairs.join(m, Seq("doc_id"))
      .select(col("doc_id"), col("idx"), col("diff_l1"),
        when(col("diff_l1").cast(DecimalType(38, 0)) * 4 * col("np") >
          col("s") * 5, 1L).otherwise(0L).as("cut"))
      .withColumn("shot", coalesce(sum(col("cut")).over(cutW), lit(0L)))
      .withColumn("n_pairs", count(lit(1)).over(segW))
      .withColumn("rn", row_number().over(rnW))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("shot"), col("idx").as("keyframe_idx"),
        col("diff_l1").as("energy"), col("n_pairs"))
      .orderBy("doc_id", "shot")
  }

  val defs: Map[String, QueryDef] = Map(

    // ----- audio windowed-energy VAD over PCM16 payloads -----
    // The audio leg of the multimodal surface: synthesize PCM16-LE
    // payloads (closed-form samples, every third 256-sample block
    // silent), parse the BYTES back (real little-endian int16 decode,
    // sign bit and all), and emit per-window exact integer energy with
    // the voice-activity flag. The oracle replays the sample rule
    // directly — it checks what a correct byte-parse MUST yield, the
    // same encode→decode→aggregate contract as mm_decode_pipeline.
    "mm_audio_vad" -> QueryDef.sql(
      """WITH i AS (
        |  SELECT doc_id, unnest(generate_series(0, 2047)) AS i
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, i // 256 AS win,
        |    CASE WHEN (i // 256) % 3 = 0 THEN 0
        |         ELSE ((doc_id * 31 + i * 7) % 4096) - 2048 END AS v
        |  FROM i)
        |SELECT doc_id, win, CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(v * v) AS BIGINT) AS energy, (sum(v * v) > 0) AS active
        |FROM s GROUP BY doc_id, win
        |ORDER BY doc_id, win""".stripMargin) { (s, d) =>
      val assets = pcmAssets(documents(s, d)).repartition(col("doc_id"))
      decodePcmWindows(assets, 256).orderBy("doc_id", "win")
    },

    // ----- audio near-dup fingerprinting: windowed-energy hash -----
    // The audio member of the dedup family (the image twin is
    // mm_image_phash): parse PCM16-LE bytes, 8 window energies, bit w
    // set iff energy_w · n_windows > total (cross-multiplied — no
    // division rounds), bucket size per fingerprint. Re-encodes of the
    // same signal share the hash; byte-md5 does not. One mapPartitions
    // parse; only (doc_id, ahash) shuffles.
    "mm_audio_fingerprint" -> QueryDef.sql(
      """WITH i AS (
        |  SELECT doc_id, unnest(generate_series(0, 2047)) AS i
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, i // 256 AS w,
        |    CASE WHEN (i // 256) % 3 = 0 THEN 0
        |         ELSE ((doc_id * 31 + i * 7) % 4096) - 2048 END AS v
        |  FROM i),
        |e AS (SELECT doc_id, w, sum(v * v) AS energy FROM s GROUP BY 1, 2),
        |t AS (SELECT doc_id, sum(energy) AS tot, count(*) AS nw FROM e GROUP BY doc_id),
        |ph AS (
        |  SELECT e.doc_id,
        |    CAST(sum(CASE WHEN e.energy * t.nw > t.tot THEN 1::BIGINT << e.w ELSE 0 END) AS BIGINT) AS ahash
        |  FROM e JOIN t ON t.doc_id = e.doc_id
        |  GROUP BY e.doc_id)
        |SELECT doc_id, ahash,
        |  CAST(count(*) OVER (PARTITION BY ahash) AS BIGINT) AS n_same
        |FROM ph ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val assets = pcmAssets(documents(s, d)).repartition(col("doc_id"))
      audioFingerprint(assets, 256)
        .withColumn("n_same",
          count(lit(1)).over(Window.partitionBy("ahash")).cast("long"))
        .select("doc_id", "ahash", "n_same")
        .orderBy("doc_id")
    },
    // ----- real image decode pipeline, hash-checked oracle -----
    // Spark: synthesize PNG → ImageIO decode → per-channel means.
    // DuckDB: replay the closed-form pixel rule directly (it never sees
    // the PNG bytes — it recomputes what a correct decode MUST yield).
    "mm_decode_pipeline" -> QueryDef.sql(
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 13 + 4 AS width, doc_id % 11 + 4 AS height
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, width, height,
        |    unnest(generate_series(0, width * height - 1)) AS i
        |  FROM dims),
        |m AS (
        |  SELECT doc_id, width, height,
        |    sum((doc_id * 7 + i % width + i // width) % 256) AS sr,
        |    sum((doc_id * 7 + 31 + i % width + i // width) % 256) AS sg,
        |    sum((doc_id * 7 + 62 + i % width + i // width) % 256) AS sb
        |  FROM px GROUP BY doc_id, width, height)
        |SELECT doc_id, width, height, CAST(3 AS BIGINT) AS channels,
        |  CAST((1000000 * sr) // (width * height * 255) AS BIGINT) AS mean_r_ppm,
        |  CAST((1000000 * sg) // (width * height * 255) AS BIGINT) AS mean_g_ppm,
        |  CAST((1000000 * sb) // (width * height * 255) AS BIGINT) AS mean_b_ppm
        |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
      val assets = pngAssets(documents(s, d))
        .repartition(col("doc_id")) // decode parallelism = partition count
      decodeImage(assets)
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          element_at(col("features"), 1).cast("long").as("mean_r_ppm"),
          element_at(col("features"), 2).cast("long").as("mean_g_ppm"),
          element_at(col("features"), 3).cast("long").as("mean_b_ppm"))
        .orderBy("doc_id")
    },

    // ----- image near-dup fingerprinting: perceptual average-hash -----
    // The multimodal member of the dedup family: a 16-bit aHash over a
    // 4×4 gray grid from REAL ImageIO-decoded pixels (the hash two
    // re-encodes of the same picture share, which byte-exact md5 does
    // not), plus each hash's bucket size — the image analog of
    // cluster_size_histogram's dup signal. The DuckDB oracle never sees
    // a PNG: it replays the closed-form pixel rule and must land on the
    // identical 16 bits, checking the whole encode→decode→hash pipeline.
    // Scale shape: decode + hash are one mapPartitions pass; only the
    // 8-byte (doc_id, phash) rows shuffle for the bucket-size window.
    "mm_image_phash" -> QueryDef.sql(ImagePhashOracleSql) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val assets = pngAssets(documents(s, d)).repartition(col("doc_id"))
      imagePhash(assets)
        .withColumn("n_same",
          count(lit(1)).over(Window.partitionBy("phash")).cast("long"))
        .select("doc_id", "phash", "n_same")
        .orderBy("doc_id")
    },

    // ----- image fingerprints from the persisted store -----
    // The amortization twin (and the ELEVENTH store family — the first
    // multimodal one): decode+hash run once per image version
    // ([[SignatureStore.ensureImagePhash]]); every dedup/audit run reads
    // 16 bytes per image instead of re-decoding pixels, and
    // stream-ingested images join via `EventStream.maintainImagePhash`
    // (latest-wins per doc). Same oracle: stored must be bit-identical.
    "mm_image_phash_stored" -> QueryDef.sql(ImagePhashOracleSql) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      SignatureStore.ensureImagePhash(s, d)
        .withColumn("n_same",
          count(lit(1)).over(Window.partitionBy("phash")).cast("long"))
        .select("doc_id", "phash", "n_same")
        .orderBy("doc_id")
    },

    // ----- phash near-dup pairing: hamming ≤ 2 via nibble banding -----
    // The pairing stage on top of the fingerprint: re-encoded /
    // slightly-retouched copies land a few bits apart, so near-dup
    // detection is a hamming ball, not equality. Scale design: docs
    // group to their DISTINCT phash first (≤ 2^16 groups by
    // construction — the corpus-cardinality never enters the pairing),
    // then the 16-bit space bands into 4 nibbles and hamming ≤ 2 < 4
    // guarantees ≥ 2 identical nibbles (pigeonhole), so an equi-join on
    // (band, nibble) over distinct hashes finds every qualifying pair;
    // exact bit_count(xor) verifies. Output rows are hash pairs with
    // their doc-pair mass — identical-phash duplicates are the n_same
    // column of mm_image_phash, deliberately not re-emitted here.
    "mm_phash_neardup" -> QueryDef.sql(
      s"""$ImagePhashChain,
        |hp AS (SELECT phash, CAST(count(*) AS BIGINT) AS n FROM ph GROUP BY 1),
        |bands AS (
        |  SELECT phash, n, g.b, (phash >> (4 * g.b)) & 15 AS nib
        |  FROM hp, (SELECT unnest(generate_series(0, 3)) AS b) g),
        |cand AS (
        |  SELECT DISTINCT a.phash AS phash_a, b.phash AS phash_b
        |  FROM bands a JOIN bands b
        |    ON a.b = b.b AND a.nib = b.nib AND a.phash < b.phash),
        |near AS (
        |  SELECT c.phash_a, c.phash_b,
        |    CAST(bit_count(xor(c.phash_a, c.phash_b)) AS BIGINT) AS hamming
        |  FROM cand c WHERE bit_count(xor(c.phash_a, c.phash_b)) <= 2)
        |SELECT nr.phash_a, nr.phash_b, nr.hamming,
        |  CAST(ha.n * hb.n AS BIGINT) AS pair_mass
        |FROM near nr
        |JOIN hp ha ON ha.phash = nr.phash_a
        |JOIN hp hb ON hb.phash = nr.phash_b
        |ORDER BY nr.phash_a, nr.phash_b""".stripMargin) { (s, d) =>
      val hp = SignatureStore.ensureImagePhash(s, d)
        .groupBy("phash").agg(count(lit(1)).as("n"))
        .localCheckpoint() // bounded (<= 2^16 rows); feeds bands + both mass joins
      val bands = hp.select(col("phash"), col("n"),
          explode(sequence(lit(0), lit(3))).as("b"))
        .withColumn("nib", expr("shiftright(phash, 4 * b) % 16"))
      val a = bands.select(col("phash").as("phash_a"), col("b"), col("nib"))
      val bb = bands.select(col("phash").as("phash_b"), col("b"), col("nib"))
      val cand = a.join(bb, Seq("b", "nib"))
        .filter(col("phash_a") < col("phash_b"))
        .select("phash_a", "phash_b").distinct()
      cand
        .withColumn("hamming",
          expr("bit_count(phash_a ^ phash_b)").cast("long"))
        .filter(col("hamming") <= 2)
        .join(hp.select(col("phash").as("phash_a"), col("n").as("na")), Seq("phash_a"))
        .join(hp.select(col("phash").as("phash_b"), col("n").as("nb")), Seq("phash_b"))
        .select(col("phash_a"), col("phash_b"), col("hamming"),
          (col("na") * col("nb")).as("pair_mass"))
        .orderBy("phash_a", "phash_b")
    },

    // ----- real image resize: 4×4 box-filter downscale -----
    // The resize stage of an image-training pipeline (area averaging —
    // what INTER_AREA does), from REAL decoded pixels to a long-format
    // (doc_id, by, bx, gray) thumbnail: every output pixel is the exact
    // FLOORED integer mean of its source block, so the oracle's
    // closed-form replay checks each cell. Blocks partition by the
    // forward map (4y/h, 4x/w) — no float boundary ever computed. One
    // mapPartitions pass; output is 16 rows per image regardless of
    // input size — the bounded-output property that makes thumbnailing
    // at 100 TB a pure map stage.
    "mm_image_resize" -> QueryDef.sql(
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS i
        |  FROM dims),
        |g AS (
        |  SELECT doc_id, (4 * (i // w)) // h AS by, (4 * (i % w)) // w AS bx,
        |    (((doc_id * 7 + i % w + i // w) % 256)
        |     + ((doc_id * 7 + 31 + i % w + i // w) % 256)
        |     + ((doc_id * 7 + 62 + i % w + i // w) % 256)) // 3 AS gray
        |  FROM px)
        |SELECT doc_id, by, bx, CAST(sum(gray) // count(*) AS BIGINT) AS gray
        |FROM g GROUP BY doc_id, by, bx
        |ORDER BY doc_id, by, bx""".stripMargin) { (s, d) =>
      val assets = pngAssets(documents(s, d)).repartition(col("doc_id"))
      imageResize(assets, 4).orderBy("doc_id", "by", "bx")
    },

    // ----- video-style frame sampling over opaque payloads -----
    // The frame-sample plumbing of a video pipeline with the codec
    // abstracted to fixed-size byte frames: payloads split into 32-byte
    // frames, every 4th frame sampled, each sampled frame fingerprinted.
    // The shape is what matters at 100 TB — a stateless per-row explode
    // bounded by payload size (no shuffle before the per-frame
    // projection), with the decode seam exactly where a real demuxer
    // would slot in. Hash-checked: both engines fingerprint the same
    // byte slices (payloads are ASCII, so char and byte offsets agree —
    // a real container would carry binary and the Spark side already
    // works on `binary`; the oracle slices the varchar twin).
    "mm_frame_sample" -> QueryDef.sql(
      """WITH f AS (
        |  SELECT doc_id, text AS payload, length(text) // 32 AS nframes
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, payload,
        |    unnest(generate_series(0, nframes - 1, 4)) AS frame_idx
        |  FROM f WHERE nframes >= 1)
        |SELECT doc_id, frame_idx,
        |  md5(substring(payload, CAST(frame_idx * 32 + 1 AS INT), 32)) AS frame_md5
        |FROM x ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
      documents(s, d)
        .select(col("doc_id"), col("text").as("payload"),
          expr("length(text) div 32").cast("long").as("nframes"))
        .filter(col("nframes") >= 1) // sequence(0,-1) would descend
        // stride directly in the sequence: only sampled indices ever
        // materialize (a GB-scale payload would otherwise build the
        // full frame-index array per row before the filter)
        .select(col("doc_id"), col("payload"),
          explode(sequence(lit(0L), col("nframes") - 1, lit(4L))).as("frame_idx"))
        .select(col("doc_id"), col("frame_idx"),
          md5(expr("substring(payload, cast(frame_idx * 32 + 1 as int), 32)")
            .cast("binary")).as("frame_md5"))
        .orderBy("doc_id", "frame_idx")
    },

    // ----- shot-boundary detection over the frame stream -----
    // The temporal-difference stage of a video pipeline: per
    // consecutive-frame pair, the L1 difference energy (sum of absolute
    // per-position code deltas over the 32-byte frame), and a boundary
    // flag where a pair's energy exceeds 1.25× its own video's mean —
    // the cut detector every keyframe-selection / scene-dedup pass
    // starts from, thresholded RELATIVE per video because absolute
    // energies depend on the codec. Shape: the lead frame comes from
    // ONE doc-keyed window (never a self-join on idx+1), the 32-way
    // position explode is a bounded narrow stage (a native Expression
    // would fuse it ShingleHashes-style if this became the hot path),
    // and the per-doc mean joins back from the pair aggregate itself.
    // All-integer, so both engines land on identical flags.
    "mm_shot_boundaries" -> QueryDef.sql(ShotBoundariesOracleSql) { (s, d) =>
      shotBoundaryReport(frameDiffs(documents(s, d)))
    },

    // ----- keyframe selection: one representative frame per shot -----
    // The stage after cut detection in a video-curation pipeline: cuts
    // partition each video into shots (gaps-and-islands over the
    // boundary flags — running boundary count BEFORE the row is the
    // shot id), and each shot contributes its highest-motion frame
    // (argmax diff_l1, earliest index on ties) as the keyframe — a
    // constant-factor sample of the frame stream for downstream
    // embedding. Shares the frame-pair kernel with mm_shot_boundaries;
    // the shot window rides the SAME (doc, idx) partitioning as the
    // lead() window, so the whole chain is one doc-keyed shuffle.
    "mm_keyframe_pick" -> QueryDef.sql(KeyframeOracleSql) { (s, d) =>
      keyframeReport(frameDiffs(documents(s, d)))
    },

    // ----- shot boundaries / keyframes from the FRAME-DIFF store -----
    // The amortization twins: the frame-pair kernel (the expensive
    // corpus pass — 32 byte deltas per consecutive-frame pair) persists
    // once ([[SignatureStore.ensureFrameDiffs]], with streaming
    // maintenance and latest-wins supersession like every doc-keyed
    // store), and the cut/segment/keyframe consumers read
    // pair-cardinality rows. Same oracles as the live queries: stored
    // must be bit-identical.
    "mm_shot_boundaries_stored" -> QueryDef.sql(ShotBoundariesOracleSql) { (s, d) =>
      shotBoundaryReport(SignatureStore.ensureFrameDiffs(s, d))
    },
    "mm_keyframe_pick_stored" -> QueryDef.sql(KeyframeOracleSql) { (s, d) =>
      keyframeReport(SignatureStore.ensureFrameDiffs(s, d))
    },
  )
}
