package graft.llm

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata,
  * with decode / feature-extract / resize / frame-sample stages.
  *
  * The codec is REAL as of r8: payloads are genuine PNG byte streams
  * encoded with `javax.imageio` (pure JDK, no JNI) from a deterministic
  * per-id pixel pattern, and the decode/resize kernels run
  * `ImageIO.read` on those bytes. The production shape is unchanged:
  *  - media rows are (id, payload: binary, meta: struct<mime,width,
  *    height,n_frames>) — the schema a lakehouse media table has;
  *  - pixel paths are Dataset.mapPartitions over an iterator of rows
  *    (the JVM twin of mapInPandas: per-partition batch processing, one
  *    codec init per partition, streaming iterator in/out — the ONE
  *    legitimate mapPartitions shape in the codebase: imperative
  *    per-batch logic a Column expression can't express);
  *  - resize / frame-sample emit the same typed shape downstream
  *    consumers join on.
  *
  * Oracle strategy: PNG (TYPE_INT_RGB) round-trips pixels LOSSLESSLY, so
  * every declared output column is a pure function of the deterministic
  * pixel pattern and the DuckDB oracle recomputes it from the formula —
  * while the Spark side really encodes and really decodes. The one
  * engine-specific artifact (the PNG byte stream itself — encoder
  * implementations differ across JDKs) is deliberately never surfaced
  * in a declared output.
  *
  * Scale notes: encode/decode are map-side (zero exchanges; pinned in
  * PlanShapeSpec), CPU cost is per-row and embarrassingly parallel — at
  * 100 TB the same kernels run per-partition with the codec context
  * initialized once per task, and the payload column is prunable for
  * metadata-only queries (frame-sample never touches it).
  */
object Multimodal {

  type Q = (SparkSession, String) => DataFrame

  /** Deterministic pixel pattern — the contract shared by the encode
    * kernel and the DuckDB oracles. Intrinsic dims are small (4..19 ×
    * 4..15) to keep per-row codec cost bench-friendly; the channel
    * formulas are cheap affine-mod patterns with full 0..255 range. */
  private[llm] def pngWidth(id: Long): Int = ((id % 16) + 4).toInt
  private[llm] def pngHeight(id: Long): Int = ((id % 12) + 4).toInt
  private[llm] def chanR(id: Long, x: Int, y: Int): Int = ((id * 31 + x * 7 + y * 13) % 256).toInt
  private[llm] def chanG(id: Long, x: Int, y: Int): Int = ((id * 17 + x * 11 + y * 3) % 256).toInt
  private[llm] def chanB(id: Long, x: Int, y: Int): Int = ((id * 29 + x * 5 + y * 19) % 256).toInt

  /** Encode kernel: deterministic pixels → REAL PNG bytes via ImageIO. */
  private[llm] def encodeKernel(id: Long): Array[Byte] = {
    val (w, h) = (pngWidth(id), pngHeight(id))
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y,
        (chanR(id, x, y) << 16) | (chanG(id, x, y) << 8) | chanB(id, x, y))
    val bos = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Decode kernel: REAL `ImageIO.read` of the PNG payload → decoded
    * dims + row-major pixel matrix (r, g, b per pixel). */
  private[llm] def decodeKernel(payload: Array[Byte]): (Int, Int, Array[Array[Int]]) = {
    val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(payload))
    val (w, h) = (img.getWidth, img.getHeight)
    val px = Array.ofDim[Array[Int]](w * h)
    var i = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        px(i) = Array((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
        i += 1; x += 1
      }
      y += 1
    }
    (w, h, px)
  }

  /** Features of a pixel matrix: 48-bit fingerprint = first 12 hex chars
    * of md5 over the row-major "%02x%02x%02x"-per-pixel hex string
    * (byte-identical to the oracle's printf/array_to_string spelling),
    * plus the integer-weighted luminance sum 299r+587g+114b (kept as an
    * exact Long so the one engine-crossing division happens once,
    * identically, downstream). */
  private[llm] def pixelFeatures(px: Array[Array[Int]]): (Long, Long) = {
    val sb = new StringBuilder(px.length * 6)
    var lumSum = 0L
    px.foreach { p =>
      sb.append(f"${p(0)}%02x${p(1)}%02x${p(2)}%02x")
      lumSum += 299L * p(0) + 587L * p(1) + 114L * p(2)
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(sb.toString.getBytes("US-ASCII"))
      .take(6).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex, 16), lumSum)
  }

  /** Media table: (id, payload, meta) with REAL PNG payloads. meta
    * carries the intrinsic image dims; n_frames is the video-twin
    * planning field (frame-sample picks indices from it). Built in the
    * batch-kernel shape; metadata-only consumers use [[metaTable]]
    * instead so column pruning keeps the codec out of their plans. */
  def mediaTable(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables.load(spark, dir, "documents").select(col("doc_id"))
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType),
      StructField("meta", StructType(Seq(
        StructField("mime", StringType),
        StructField("width", IntegerType),
        StructField("height", IntegerType),
        StructField("n_frames", IntegerType))))))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    ids.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false) // per-partition codec init
      rows.map { r =>
        val id = r.getLong(0)
        Row(id, encodeKernel(id),
          Row("image/png", pngWidth(id), pngHeight(id),
            ((id % 24) + 1).toInt))
      }
    }(enc)
  }

  /** Metadata-only twin of [[mediaTable]] (pure columns, no codec). */
  def metaTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents").select(
      $"doc_id".as("media_id"),
      struct(
        lit("image/png").as("mime"),
        (($"doc_id" % 16) + 4).cast("int").as("width"),
        (($"doc_id" % 12) + 4).cast("int").as("height"),
        (($"doc_id" % 24) + 1).cast("int").as("n_frames")).as("meta"))
  }

  private val decodeSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("fp48", LongType),
    StructField("lum_sum", LongType)))

  /** Decode + feature-extract: encode → REAL decode → pixel features.
    * Dims come from the DECODED image (not metadata) — the round-trip is
    * part of what's verified. */
  def decodeFeatures(spark: SparkSession, dir: String): DataFrame = {
    val media = mediaTable(spark, dir)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(decodeSchema)
    media.select("media_id", "payload")
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // per-partition codec init
        rows.map { r =>
          val (w, h, px) = decodeKernel(r.getAs[Array[Byte]]("payload"))
          val (fp, lum) = pixelFeatures(px)
          Row(r.getAs[Long]("media_id"), w, h, fp, lum)
        }
      }(enc)
  }

  private val resizeSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("out_width", IntegerType),
    StructField("out_height", IntegerType),
    StructField("fp48_out", LongType),
    StructField("lum_sum_out", LongType)))

  /** REAL resize: decode the PNG, nearest-neighbor sample down to
    * `maxSide` (source index = (out·in)/outDim in INTEGER arithmetic, so
    * the oracle replicates it exactly), fingerprint the resized pixels.
    * NN rather than bilinear is deliberate: interpolation arithmetic is
    * engine-float-soup, index sampling is exact — and at 100 TB the
    * kernel cost profile (decode + per-output-pixel gather) is the
    * same. */
  def resizeFeatures(spark: SparkSession, dir: String, maxSide: Int): DataFrame = {
    val media = mediaTable(spark, dir)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(resizeSchema)
    media.select("media_id", "payload")
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // per-partition codec init
        rows.map { r =>
          val id = r.getAs[Long]("media_id")
          val (w, h, px) = decodeKernel(r.getAs[Array[Byte]]("payload"))
          val scale = math.min(1.0, maxSide.toDouble / math.max(w, h))
          val (ow, oh) = (math.floor(w * scale).toInt, math.floor(h * scale).toInt)
          val out = Array.ofDim[Array[Int]](ow * oh)
          var i = 0
          var yo = 0
          while (yo < oh) {
            var xo = 0
            while (xo < ow) {
              out(i) = px((yo * h / oh) * w + (xo * w / ow))
              i += 1; xo += 1
            }
            yo += 1
          }
          val (fp, lum) = pixelFeatures(out)
          Row(id, w, h, ow, oh, fp, lum)
        }
      }(enc)
  }

  /** Perceptual average-hash (aHash) of a decoded image: nearest-
    * neighbor sample to the 8×8 grid (the SAME integer index
    * arithmetic as the resize kernel, so the oracle replays it
    * exactly), integer luminance 299R+587G+114B per cell, bit = 1 iff
    * cell luminance strictly exceeds the 64-cell mean (spelled
    * lum·64 > total — no division anywhere). Emitted as the 64-char
    * bit string: portable, exact, and band-sliceable downstream the
    * way the simhash family slices its 48 bits. */
  private[llm] def phashKernel(w: Int, h: Int, px: Array[Array[Int]]): String = {
    val lums = new Array[Long](64)
    var tot = 0L
    var i = 0
    var yo = 0
    while (yo < 8) {
      var xo = 0
      while (xo < 8) {
        val p = px((yo * h / 8) * w + (xo * w / 8))
        val l = 299L * p(0) + 587L * p(1) + 114L * p(2)
        lums(i) = l
        tot += l
        i += 1; xo += 1
      }
      yo += 1
    }
    val sb = new StringBuilder(64)
    var j = 0
    while (j < 64) { sb.append(if (lums(j) * 64 > tot) '1' else '0'); j += 1 }
    sb.toString
  }

  private val phashSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("phash", StringType)))

  /** media_id → aHash over the REALLY-decoded payload (codec in the
    * loop, like decode/resize — never the metadata shortcut). */
  def phashTable(spark: SparkSession, dir: String): DataFrame = {
    val media = mediaTable(spark, dir)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(phashSchema)
    media.select("media_id", "payload")
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // per-partition codec init
        rows.map { r =>
          val (w, h, px) = decodeKernel(r.getAs[Array[Byte]]("payload"))
          Row(r.getAs[Long]("media_id"), phashKernel(w, h, px))
        }
      }(enc)
  }

  /** mm_phash_dedup: IMAGE near-dup grouping by perceptual hash — the
    * multimodal member of the dedup family (dedup_exact groups on a
    * content hash that flips on any byte; aHash groups on a perceptual
    * signature that survives re-encoding and resampling, which is how
    * image corpora actually duplicate). Each image carries its group's
    * occupancy and canonical (min) id — the same contract as
    * dedup_exact/dedup_canonical.
    *
    * Scale shape: the kernel is map-side per-partition batch decode
    * (zero exchanges); the group stats and the mark join re-shuffle the
    * SAME phash relation on the SAME key, so Catalyst serves the second
    * consumer from the first shuffle's files (ReusedExchange — the
    * dedup_substring pattern), or AQE broadcasts the group table when
    * it is small. No pair expansion: a thousand-copy image is one group
    * row, never a thousand² join. */
  private val phashQ: Q = (spark, dir) => {
    import spark.implicits._
    val p = phashTable(spark, dir)
    val groups = p.groupBy($"phash")
      .agg(count(lit(1)).as("n_same"), min($"media_id").as("canonical_id"))
    p.join(groups, "phash")
      .select($"media_id", $"phash", $"n_same", $"canonical_id")
  }

  /** Frame sampling: k evenly spaced frame indices from n_frames —
    * the video-side planning step (which frames to decode). Metadata
    * only: the plan must never pay for payloads it doesn't read. */
  def sampleFrames(media: DataFrame, k: Int): DataFrame =
    media.withColumn("frame_ids",
      transform(sequence(lit(0), lit(k - 1)),
        i => floor(i * col("meta.n_frames") / k).cast("int")))

  private def withLuminance(df: DataFrame, lumSum: String, w: String, h: String,
                            out: String): DataFrame =
    // 6-dp mean luminance via the exact floor-ratio (round(double, 6)
    // is the documented cross-engine boundary hazard — d_lm_score
    // lesson, TextOps.scala): round(lum_sum·1000/(w·h)) as a pure
    // integer, then ONE IEEE division by 1e6 on identical longs.
    df.withColumn(out,
        floor((col(lumSum) * 1000L * 2 + col(w) * col(h)) /
          (col(w) * col(h) * 2)) / 1e6)
      .drop(lumSum)

  private val decodeQ: Q = (spark, dir) =>
    withLuminance(decodeFeatures(spark, dir), "lum_sum", "width", "height",
      "luminance")

  private val resizeQ: Q = (spark, dir) =>
    withLuminance(resizeFeatures(spark, dir, maxSide = 8),
      "lum_sum_out", "out_width", "out_height", "lum_out")

  private val framesQ: Q = (spark, dir) => {
    import spark.implicits._
    sampleFrames(metaTable(spark, dir), 4)
      .select($"media_id", $"meta.n_frames".as("n_frames"),
        concat_ws(",", transform($"frame_ids", i => i.cast("string")))
          .as("frame_ids"))
  }

  // ---- audio: PCM payloads + framed energy --------------------------

  /** Deterministic PCM pattern — the audio twin of the PNG pixel
    * contract: sample i of clip id is ((id·37 + i·17) mod 4096) − 2048,
    * a full-swing 12-bit signed pattern; clip length 800 + (id%5)·160
    * samples (kept small for bench cost — the kernel shape is
    * length-independent). */
  private[llm] def audioLen(id: Long): Int = (800 + (id % 5) * 160).toInt
  private[llm] def audioSample(id: Long, i: Int): Int =
    (((id * 37 + i.toLong * 17) % 4096) - 2048).toInt

  /** Encode kernel: deterministic samples → REAL 16-bit little-endian
    * PCM bytes (the wire format a WAV data chunk carries). */
  private[llm] def pcmEncodeKernel(id: Long): Array[Byte] = {
    val n = audioLen(id)
    val out = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = audioSample(id, i)
      out(2 * i) = (s & 0xff).toByte
      out(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** Decode kernel: REAL PCM16LE byte parse → signed samples. */
  private[llm] def pcmDecodeKernel(payload: Array[Byte]): Array[Int] = {
    val n = payload.length / 2
    val s = new Array[Int](n)
    var i = 0
    while (i < n) {
      s(i) = ((payload(2 * i) & 0xff) | (payload(2 * i + 1).toInt << 8)).toShort.toInt
      i += 1
    }
    s
  }

  /** Audio table: (media_id, payload: PCM16LE binary, meta
    * struct<mime,sample_rate,n_samples>) — the lakehouse audio-column
    * shape, built in the same per-partition batch-kernel style as
    * [[mediaTable]]. */
  def audioTable(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables.load(spark, dir, "documents").select(col("doc_id"))
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType),
      StructField("meta", StructType(Seq(
        StructField("mime", StringType),
        StructField("sample_rate", IntegerType),
        StructField("n_samples", IntegerType))))))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    ids.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        Row(id, pcmEncodeKernel(id),
          Row("audio/pcm", 16000, audioLen(id)))
      }
    }(enc)
  }

  private val audioSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("n_samples", LongType),
    StructField("n_frames", LongType),
    StructField("frame_idx", LongType),
    StructField("energy", LongType),
    StructField("rk", LongType)))

  /** mm_audio_energy: the audio feature-extraction stage — encode →
    * REAL PCM16 decode → 320-sample/160-hop framing → per-frame energy
    * (Σ s², exact Long) → each clip's top-2 frames by (energy desc,
    * frame asc). The framing/top-k is PER-CLIP local state, so the
    * whole operator is ONE map-side kernel pass — zero exchanges, like
    * decode/resize (a VAD or loudness-normalization stage at 100 TB has
    * exactly this profile: decode + per-window integer reduction,
    * embarrassingly parallel, payload column pruned for any
    * metadata-only consumer). The oracle recomputes energies from the
    * deterministic sample formula and replays the top-2 pick as a
    * window — the byte stream itself (engine-neutral by construction
    * here, unlike PNG) stays unsurfaced for symmetry with the image
    * contract. */
  private val audioEnergyQ: Q = (spark, dir) => {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(audioSchema)
    audioTable(spark, dir).select("media_id", "payload")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getAs[Long]("media_id")
          val s = pcmDecodeKernel(r.getAs[Array[Byte]]("payload"))
          val n = s.length
          val nFrames = (n - 320) / 160 + 1
          val frames = Array.tabulate(nFrames) { j =>
            var e = 0L
            var k = j * 160
            val end = k + 320
            while (k < end) { e += s(k).toLong * s(k); k += 1 }
            (j.toLong, e)
          }
          frames.sortBy { case (j, e) => (-e, j) }.take(2).zipWithIndex
            .map { case ((j, e), rk) =>
              Row(id, n.toLong, nFrames.toLong, j, e, rk + 1L)
            }
        }
      }(enc)
  }

  val queries: Map[String, Q] = Map(
    "mm_decode"        -> decodeQ,
    "mm_resize"        -> resizeQ,
    "mm_frame_sample"  -> framesQ,
    "mm_phash_dedup"   -> phashQ,
    "mm_audio_energy"  -> audioEnergyQ)

  /** Shared oracle fragment: the pixel-pattern CTE (id, w, h). */
  private val dimsCte =
    """WITH d AS (SELECT doc_id AS id, (doc_id % 16) + 4 AS w,
      |                  (doc_id % 12) + 4 AS h FROM documents)""".stripMargin

  private def chanSql(xi: String, yi: String): (String, String, String) = (
    s"(id*31 + ($xi)*7 + ($yi)*13) % 256",
    s"(id*17 + ($xi)*11 + ($yi)*3) % 256",
    s"(id*29 + ($xi)*5 + ($yi)*19) % 256")

  /** hex-string + luminance-sum oracle expressions over an out-grid of
    * ow×oh pixels sampling source indices (xiOf(xo), yiOf(yo)). */
  private def featureSql(ow: String, oh: String,
                         xiOf: String => String, yiOf: String => String): (String, String) = {
    val (r, g, b) = chanSql(xiOf("x"), yiOf("y"))
    val hexes =
      s"""array_to_string(flatten(list_transform(range(0, $oh), y ->
         |    list_transform(range(0, $ow), x ->
         |      printf('%02x%02x%02x', $r, $g, $b)))), '')""".stripMargin
    val lum =
      s"""list_sum(list_transform(range(0, $oh), y ->
         |    list_sum(list_transform(range(0, $ow), x ->
         |      299*($r) + 587*($g) + 114*($b)))))""".stripMargin
    (TextOps.hash48Sql(hexes), lum)
  }

  val oracles: Map[String, String] = Map(
    // PNG is lossless, so decoded pixels == the generator formula; the
    // oracle recomputes fingerprint + luminance straight from it.
    "mm_decode" -> {
      val (fp, lum) = featureSql("w", "h", identity, identity)
      s"""$dimsCte
         |SELECT id AS media_id, CAST(w AS INT) AS width,
         |  CAST(h AS INT) AS height,
         |  $fp AS fp48,
         |  floor((($lum) * 1000 * 2 + w * h) / (w * h * 2)) / 1e6 AS luminance
         |FROM d""".stripMargin
    },
    "mm_resize" -> {
      val (fp, lum) = featureSql("ow", "oh",
        xo => s"(($xo) * w) // ow", yo => s"(($yo) * h) // oh")
      s"""$dimsCte,
         |o AS (SELECT id, w, h,
         |  CAST(floor(w * least(1.0, 8.0 / greatest(w, h))) AS INT) AS ow,
         |  CAST(floor(h * least(1.0, 8.0 / greatest(w, h))) AS INT) AS oh
         |  FROM d)
         |SELECT id AS media_id, CAST(w AS INT) AS width,
         |  CAST(h AS INT) AS height, ow AS out_width, oh AS out_height,
         |  $fp AS fp48_out,
         |  floor((($lum) * 1000 * 2 + ow * oh) / (ow * oh * 2)) / 1e6 AS lum_out
         |FROM o""".stripMargin
    },
    "mm_frame_sample" ->
      """SELECT doc_id AS media_id,
        |  CAST((doc_id % 24) + 1 AS INT) AS n_frames,
        |  array_to_string(list_transform(generate_series(0, 3),
        |    i -> CAST(CAST(floor(i * ((doc_id % 24) + 1) / 4.0) AS BIGINT) AS VARCHAR)), ',')
        |    AS frame_ids
        |FROM documents""".stripMargin,

    "mm_phash_dedup" -> {
      val (r, g, b) = chanSql("xs", "ys")
      s"""$dimsCte,
         |grid AS (
         |  SELECT id, xo, yo,
         |         ((yo * h) // 8) AS ys, ((xo * w) // 8) AS xs
         |  FROM d,
         |       (SELECT unnest(range(0, 8)) AS xo) tx,
         |       (SELECT unnest(range(0, 8)) AS yo) ty),
         |l AS (SELECT id, xo, yo,
         |        299*($r) + 587*($g) + 114*($b) AS lum
         |      FROM grid),
         |bt AS (SELECT id, xo, yo, lum,
         |         SUM(lum) OVER (PARTITION BY id) AS tot FROM l),
         |p AS (SELECT id,
         |        string_agg(CASE WHEN lum * 64 > tot THEN '1' ELSE '0' END,
         |          '' ORDER BY yo, xo) AS phash
         |      FROM bt GROUP BY id),
         |grp AS (SELECT phash, COUNT(*) AS n_same, MIN(id) AS canonical_id
         |        FROM p GROUP BY 1)
         |SELECT p.id AS media_id, p.phash,
         |       CAST(grp.n_same AS BIGINT) AS n_same, grp.canonical_id
         |FROM p JOIN grp USING (phash)""".stripMargin
    },

    // PCM16 round-trips samples losslessly, so frame energies == the
    // generator formula; the top-2 pick replays as a per-clip window.
    "mm_audio_energy" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         800 + (doc_id % 5) * 160 AS n FROM documents),
        |fr AS (
        |  SELECT media_id, n, (n - 320) // 160 + 1 AS n_frames,
        |         unnest(range(0, (n - 320) // 160 + 1)) AS frame_idx
        |  FROM m),
        |en AS (
        |  SELECT media_id, n, n_frames, frame_idx,
        |         CAST(list_sum(list_transform(
        |           list_transform(range(0, 320),
        |             k -> (media_id * 37 + (frame_idx * 160 + k) * 17)
        |                    % 4096 - 2048),
        |           s -> s * s)) AS BIGINT) AS energy
        |  FROM fr)
        |SELECT media_id, CAST(n AS BIGINT) AS n_samples,
        |       CAST(n_frames AS BIGINT) AS n_frames, frame_idx, energy, rk
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY media_id
        |        ORDER BY energy DESC, frame_idx) AS rk FROM en)
        |WHERE rk <= 2""".stripMargin)
}
