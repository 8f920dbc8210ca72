package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video ride along as opaque
  * `binary` payloads with typed metadata, and feature extraction runs
  * per-partition over the binary column.
  *
  * [[decodeFeatures]] is a REAL decode path for images: payloads whose
  * magic bytes say PNG, JPEG or GIF are decoded (first frame) with
  * `javax.imageio` (in every JDK — no extra dependency) into
  * width/height/pixel statistics plus a normalized luminance histogram.
  * Payloads of any other modality (audio/video codecs genuinely absent
  * here, plain text) fall back to a normalized byte histogram — the
  * same output shape, so downstream schema does not fork on modality.
  * The Spark-side contract is the 100 TB-relevant part either way:
  * payload bytes never hit the driver, each partition streams its rows
  * once, and results come back columnar. [[frameSamples]] is the
  * SQL-expressible frame slice over a text column.
  */
object Multimodal {

  /** Wrap a text/bytes source as a multimodal asset table. */
  def asAssets(df: DataFrame, idCol: String, payload: org.apache.spark.sql.Column,
      modality: String): DataFrame =
    df.select(col(idCol).as("asset_id"), payload.as("payload"))
      .withColumn("modality", lit(modality))
      .withColumn("n_bytes", length(col("payload")).cast("long"))
      .withColumn("sha", sha2(col("payload"), 256))
      .withColumn("n_chunks", ceil(col("n_bytes") / 4096.0).cast("long"))

  /** Container sniff by magic bytes: the dispatch key for the decode
    * path. PNG = 89 50 4E 47 0D 0A 1A 0A, JPEG = FF D8 FF, GIF =
    * "GIF87a"/"GIF89a". Anything else is treated as an opaque payload
    * (text, audio, unknown) — sniffing is per-row and never trusts the
    * `modality` column, which is caller-asserted metadata, not evidence.
    */
  private[operators] def imageKind(bytes: Array[Byte]): Option[String] =
    if (bytes.length >= 8 && bytes(0) == 0x89.toByte && bytes(1) == 'P' &&
        bytes(2) == 'N' && bytes(3) == 'G' && bytes(4) == 0x0d &&
        bytes(5) == 0x0a && bytes(6) == 0x1a && bytes(7) == 0x0a) Some("png")
    else if (bytes.length >= 3 && bytes(0) == 0xff.toByte &&
        bytes(1) == 0xd8.toByte && bytes(2) == 0xff.toByte) Some("jpeg")
    else if (bytes.length >= 6 && bytes(0) == 'G' && bytes(1) == 'I' &&
        bytes(2) == 'F' && bytes(3) == '8' &&
        (bytes(4) == '7' || bytes(4) == '9') && bytes(5) == 'a') Some("gif")
    else None

  /** Decode cap: max pixels a payload may DECLARE before the decode is
    * refused. `ImageIO.read` allocates the output raster from the
    * untrusted container header, so a dimension bomb (valid magic, huge
    * declared width×height) would raise OutOfMemoryError — an Error,
    * not an Exception, so it would sail past a `catch Exception`
    * fallback and kill the executor. 16M pixels ≈ 64 MB ARGB: large
    * enough for any sane corpus image, small enough that 32 concurrent
    * tasks cannot OOM a worker.
    */
  private[operators] val maxDecodePixels: Long = 16L * 1024 * 1024

  /** Full image decode behind a HEADER-ONLY dimension guard: the reader
    * parses just the container header for width/height (no raster
    * allocation), the product is checked against [[maxDecodePixels]],
    * and only then is the raster decoded. None for non-image magic,
    * unreadable containers, or over-cap declarations — the caller falls
    * back to the opaque path rather than failing the task, because at
    * corpus scale some payloads ARE hostile or corrupt and a poison row
    * must not kill a 100-partition stage. Only frame 0 is read, so the
    * stream is seek-forward-only.
    */
  private[operators] def readImage(bytes: Array[Byte])
      : Option[(String, java.awt.image.BufferedImage)] =
    imageKind(bytes).flatMap { kind =>
      try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (readers == null || !readers.hasNext) None
          else {
            val reader = readers.next()
            try {
              reader.setInput(iis, true, true)
              val w = reader.getWidth(0).toLong
              val h = reader.getHeight(0).toLong
              if (w <= 0 || h <= 0 || w * h > maxDecodePixels) None
              else Option(reader.read(0)).map((kind, _))
            } finally reader.dispose()
          }
        } finally iis.close()
      } catch { case _: Exception => None }
    }

  /** Rec. 601 luma statistics over the ARGB pixels: normalized
    * `bins`-bin histogram, mean, stddev.
    */
  private[operators] def lumStats(img: java.awt.image.BufferedImage,
      bins: Int): (Array[Double], Double, Double) = {
    val w = img.getWidth; val h = img.getHeight
    val hist = new Array[Double](bins)
    var sum = 0.0; var sumSq = 0.0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
          0.114 * (rgb & 0xff)
        hist(math.min(bins - 1, (lum * bins / 256.0).toInt)) += 1.0
        sum += lum; sumSq += lum * lum
        x += 1
      }
      y += 1
    }
    val n = math.max(w.toLong * h, 1L).toDouble
    val mean = sum / n
    (hist.map(_ / n), mean,
      math.sqrt(math.max(0.0, sumSq / n - mean * mean)))
  }

  /** Decoded-image features: (kind, width, height, normalized luminance
    * histogram, mean luminance, luminance stddev); None → opaque path.
    */
  private[operators] def decodeImage(bytes: Array[Byte], bins: Int)
      : Option[(String, Int, Int, Array[Double], Double, Double)] =
    readImage(bytes).map { case (kind, img) =>
      val (hist, mean, std) = lumStats(img, bins)
      (kind, img.getWidth, img.getHeight, hist, mean, std)
    }

  /** Normalized byte histogram — the opaque-payload feature head (and
    * the deterministic stand-in for modalities whose codecs are not on
    * the classpath), shaped exactly like the image path's histogram.
    */
  private[operators] def byteHistogram(bytes: Array[Byte], bins: Int): Array[Double] = {
    val hist = new Array[Double](bins)
    var i = 0
    while (i < bytes.length) { hist((bytes(i) & 0xff) * bins / 256) += 1.0; i += 1 }
    val total = math.max(bytes.length, 1).toDouble
    hist.map(_ / total)
  }

  /** Feature extraction over the payload column, mapPartitions form.
    *
    * Per row: sniff the container (magic bytes), and
    *   - PNG/JPEG/GIF → REAL `javax.imageio` decode (first frame, behind
    *     the [[readImage]] dimension guard): `kind`/`width`/`height`/
    *     `mean_lum`/`std_lum` populated, `features` = the normalized
    *     `bins`-bin luminance histogram;
    *   - anything else (or an image that fails the guard or the decode)
    *     → `kind` "opaque", image columns null, `features` = the
    *     normalized byte histogram.
    * Both paths return the same feature shape, so downstream consumers
    * (m2's per-bin corpus means, ANN over the feature head) do not fork
    * on modality. Decode runs inside the partition iterator — payload
    * bytes never leave the executor, no driver round-trip, no UDF
    * serialization of the image buffer.
    */
  def decodeFeatures(assets: DataFrame, bins: Int = 16): DataFrame = {
    val schema = StructType(Seq(
      StructField("asset_id", assets.schema("asset_id").dataType, nullable = false),
      StructField("features", ArrayType(DoubleType, containsNull = false), nullable = true),
      StructField("kind", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("mean_lum", DoubleType, nullable = true),
      StructField("std_lum", DoubleType, nullable = true)))
    implicit val enc = Encoders.row(schema)
    val idIdx = assets.schema.fieldIndex("asset_id")
    val pIdx = assets.schema.fieldIndex("payload")
    assets.mapPartitions { rows =>
      // ImageIO's default read path spills to a disk-backed cache file
      // per stream — pure overhead for byte-array inputs, and temp-file
      // churn per row at scale. JVM-global flag; setting it per task is
      // an idempotent store, racing writers all write the same value
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](pIdx)
        if (bytes == null) // null payload -> null features
          Row(r.get(idIdx), null, null, null, null, null, null)
        else decodeImage(bytes, bins) match {
          case Some((k, w, h, hist, mean, std)) =>
            Row(r.get(idIdx), hist.toSeq, k, w, h, mean, std)
          case None =>
            Row(r.get(idIdx), byteHistogram(bytes, bins).toSeq, "opaque",
              null, null, null, null)
        }
      }
    }
  }

  /** Deterministic TEXT frame slices: fixed-offset substrings of a text
    * column, hex-encoded — the SQL-expressible sampling shape (oracle-
    * mirrored by `m1_multimodal_stats`).
    */
  def frameSamples(df: DataFrame, textCol: String, offsets: Seq[Int], width: Int): DataFrame =
    offsets.foldLeft(df) { (d, off) =>
      d.withColumn(s"frame_$off",
        lower(hex(encode(substring(col(textCol), off, width), "UTF-8"))))
    }
}
