package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.ops.Pin._

/** Multimodal-column operators (north-star): treat image/audio/video as
  * opaque `binary` columns with typed metadata, and run decode /
  * feature-extract / frame-sample as batch-shaped partition-local
  * transforms.
  *
  * The Spark-side plumbing is real — binary columns, typed Dataset rows,
  * `mapPartitions` with per-partition (batch) processing, fixed-width
  * feature schema. IMAGE decode/resize is real too: `decodeImage` uses
  * the JDK's `javax.imageio` (PNG/JPEG/GIF/BMP, headless-safe, zero
  * external jars), so dimensions, pixel-hashed features, and bilinear
  * resampling come from actual rasters. Payloads no registered reader
  * understands (audio/video in this jar-less build) fall back to
  * `decodeStub`, which derives deterministic fake dimensions/frames
  * from the bytes — link an audio/video codec behind the same interface
  * and nothing else changes.
  *
  * Scale notes: decode is embarrassingly parallel (mapPartitions, no
  * shuffle); payload bytes never shuffle — downstream aggregations group
  * on the extracted metadata/features only.
  */
object MediaOps {

  // ImageIO's default ImageInputStream is FILE-cache-backed: every
  // read/sniff creates, writes, and deletes a temp file, so per-row
  // decode cost tracks /tmp latency instead of CPU (measured 5x drift
  // on this exact code when the host's /tmp slowed — r14 bench
  // adjudication of q75/q183). Payloads are already heap-resident byte
  // arrays, so the disk round-trip buys nothing: force the in-memory
  // stream. Object-init runs once per JVM, on driver and executors,
  // before any decode (every decode path lives in this object).
  javax.imageio.ImageIO.setUseCache(false)

  /** One media item: opaque payload + source metadata. */
  case class MediaRow(media_id: Long, media_type: String, payload: Array[Byte])

  /** Decoded metadata + fixed-width feature vector per item. */
  case class MediaFeatures(
      media_id: Long, media_type: String,
      width: Int, height: Int, n_frames: Int, n_bytes: Long,
      features: Array[Float])

  val FeatureDim = 16

  /** Synthesizes a media table from `documents` (the fixtures ship no
    * binary table): payload = utf8 bytes, media_type from the source id. */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
      col("text").cast("binary").as("payload"))

  /** ---- STUB ---- deterministic fake decode for payloads no available
    * codec understands (audio/video in this build): metadata is a pure
    * function of byte length (so it is oracle-checkable); "frames" are
    * byte slices. Image payloads take the REAL [[decodeImage]] path. */
  def decodeStub(m: MediaRow): (Int, Int, Int, Array[Array[Byte]]) = {
    val len = m.payload.length
    val width = 64 + len % 640
    val height = 64 + len % 480
    val frameSize = 32
    val frames = m.payload.grouped(frameSize).toArray // frame-sample stub
    (width, height, frames.length, frames)
  }

  /** REAL image decode via the JDK's `javax.imageio` (PNG/JPEG/GIF/BMP
    * readers ship with every JVM — no external jar, works headless).
    * None when no registered reader recognizes the payload (audio/video/
    * text bytes) — callers fall back to [[decodeStub]], so the stub now
    * covers only genuinely absent codecs. */
  def decodeImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload)))
    catch { case _: java.io.IOException => None }

  /** Cheap header sniff: does any registered ImageIO reader recognize
    * the payload's magic bytes? No raster is ever decoded — this is the
    * branch test for paths that need "is this an image?" without the
    * pixels (frame counting), where a full [[decodeImage]] would pay a
    * complete decode just to call `.isDefined` on the result. Contract:
    * a recognized header whose pixel data is later found corrupt still
    * sniffs true — header-level decisions (n_frames) may differ from
    * pixel-level fallbacks (features/resize/histogram) on corrupt
    * payloads, which is the honest behavior for each. */
  def sniffImage(payload: Array[Byte]): Boolean =
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try javax.imageio.ImageIO.getImageReaders(iis).hasNext
      finally if (iis != null) iis.close()
    } catch { case _: java.io.IOException => false }

  /** Batch feature extraction. Decodable images get REAL metadata
    * (pixel width/height, 1 frame) and features hashed from the decoded
    * ARGB raster — the actual pixels, not the container bytes — so two
    * encodings of the same image featurize identically. Everything else
    * runs the deterministic stub. Partition-local, allocation-light. */
  private def extract(m: MediaRow): MediaFeatures = {
    val acc = new Array[Long](FeatureDim)
    decodeImage(m.payload) match {
      case Some(img) =>
        val w = img.getWidth; val h = img.getHeight
        var i = 0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            acc(i % FeatureDim) = acc(i % FeatureDim) * 31 + (img.getRGB(x, y) & 0xffffff)
            i += 1; x += 1
          }
          y += 1
        }
        val feats = acc.map(v => (v & 0xffffff).toFloat / 0xffffff)
        MediaFeatures(m.media_id, m.media_type, w, h, 1,
          m.payload.length.toLong, feats)
      case None =>
        val (w, h, nf, _) = decodeStub(m)
        var i = 0
        while (i < m.payload.length) {
          val b = m.payload(i) & 0xff
          acc(i % FeatureDim) = acc(i % FeatureDim) * 31 + b
          i += 1
        }
        val feats = acc.map(v => (v & 0xffffff).toFloat / 0xffffff)
        MediaFeatures(m.media_id, m.media_type, w, h, nf,
          m.payload.length.toLong, feats)
    }
  }

  /** The decode/feature pipeline: typed rows → mapPartitions (batch shape:
    * one iterator per partition, reusable buffers) → typed features. */
  def decodeAndFeaturize(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions(_.map(extract))
  }

  /** Metadata + feature-norm summary per media item. */
  def mediaFeatures(docs: DataFrame): DataFrame = {
    decodeAndFeaturize(mediaFromDocuments(docs)).toDF()
      .select(col("media_id"), col("media_type"),
        col("width"), col("height"), col("n_frames"), col("n_bytes"),
        col("features"))
  }

  /** Resize result: original + target dimensions and the resized raster
    * size (TYPE_INT_RGB accounting: 3 color bytes/pixel). */
  case class Resized(media_id: Long, width: Int, height: Int,
      new_w: Int, new_h: Int, resized_bytes: Long)

  /** Aspect-preserving resize into a `box`×`box` bounding box.
    * Decodable images get a REAL pixel resample (BufferedImage +
    * Graphics2D bilinear, headless-safe, JDK-only); other payloads keep
    * the deterministic dimension arithmetic on stub dims — the part a
    * pipeline plans around (shapes, batch memory) either way. Partition-
    * local map, no shuffle. */
  def resize(media: DataFrame, box: Int = 64): Dataset[Resized] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions(_.map { m =>
      def fit(w: Int, h: Int): (Int, Int) = {
        val mx = math.max(w, h)
        val scale = if (mx > box) box.toDouble / mx else 1.0
        (math.max(1, math.floor(w * scale).toInt),
          math.max(1, math.floor(h * scale).toInt))
      }
      decodeImage(m.payload) match {
        case Some(img) =>
          val (w, h) = (img.getWidth, img.getHeight)
          val (nw, nh) = fit(w, h)
          val out = new java.awt.image.BufferedImage(
            nw, nh, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          g.setRenderingHint(
            java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, nw, nh, null)
          g.dispose()
          Resized(m.media_id, w, h, nw, nh, nw.toLong * nh * 3)
        case None =>
          val (w, h, _, _) = decodeStub(m)
          val (nw, nh) = fit(w, h)
          Resized(m.media_id, w, h, nw, nh, nw.toLong * nh * 3)
      }
    })
  }

  /** One sampled frame: position, size, content digest. */
  case class Frame(media_id: Long, frame_idx: Int, frame_bytes: Int,
      frame_md5: String)

  /** Frame sampling: the decode stub's frame slices, flat-mapped to
    * (media_id, frame_idx, size, md5) rows — the batch shape a video/audio
    * pipeline hands to per-frame feature extraction. Partition-local
    * flatMap; payload bytes never shuffle, only digests do. */
  def frameSample(media: DataFrame): Dataset[Frame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = "0123456789abcdef".toCharArray
      def md5Hex(b: Array[Byte]): String = {
        md.reset()
        val d = md.digest(b)
        val out = new Array[Char](32)
        var i = 0
        while (i < 16) {
          out(2 * i) = hex((d(i) >> 4) & 0xf); out(2 * i + 1) = hex(d(i) & 0xf)
          i += 1
        }
        new String(out)
      }
      it.flatMap { m =>
        // a still image is its own single frame; payloads no reader
        // recognizes (audio/video stand-ins) keep the stub's byte
        // slices. Header sniff only — frame COUNTING never needs the
        // raster, so decoding here would be a discarded full decode
        // per image row (the round-8 advice finding).
        val frames =
          if (sniffImage(m.payload)) Array(m.payload)
          else decodeStub(m)._4
        frames.iterator.zipWithIndex.map { case (f, i) =>
          Frame(m.media_id, i, f.length, md5Hex(f))
        }
      }
    }
  }

  /** 64-bit perceptual average-hash: 16 four-bit LSH bands plus the
    * same 64 bits packed into one long for codegen popcount. */
  case class MediaHash(media_id: Long, bands: Array[Int], h: Long)

  /** aHash bits: decodable images hash the REAL raster — 8×8 grid of
    * integer Rec.601 luma sums, bit c set iff cell average exceeds the
    * image average (cross-multiplied exact integer compare, no float
    * threshold). Other payloads hash the bytes through the SAME
    * algorithm with the byte stream as a 1×64 "raster" (cell of byte
    * i = i·64/len): a real average-hash over the stub's fake pixels,
    * deterministic and engine-mirrorable. */
  private def aHashBits(m: MediaRow): Array[Int] = {
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    decodeImage(m.payload) match {
      case Some(img) =>
        val w = img.getWidth; val h = img.getHeight
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff
            val b = rgb & 0xff
            val cell = (y * 8 / h) * 8 + x * 8 / w
            sums(cell) += (77 * r + 150 * g + 29 * b) >> 8
            cnts(cell) += 1
            x += 1
          }
          y += 1
        }
      case None =>
        val len = m.payload.length
        var i = 0
        while (i < len) {
          val cell = (i.toLong * 64 / len).toInt
          sums(cell) += m.payload(i) & 0xff
          cnts(cell) += 1
          i += 1
        }
    }
    var s = 0L; var l = 0L
    var c = 0
    while (c < 64) { s += sums(c); l += cnts(c); c += 1 }
    val bits = new Array[Int](64)
    c = 0
    while (c < 64) {
      if (sums(c) * l > s * cnts(c)) bits(c) = 1
      c += 1
    }
    bits
  }

  /** Per-item aHash, packed into 16 four-bit bands (bit c → band c/4,
    * bit position c%4). Empty/null payloads are dropped — there is
    * nothing to hash. Partition-local; payload bytes never shuffle,
    * the (id, bands) digest rows do. */
  def aHashes(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow]
      .filter(m => m.payload != null && m.payload.nonEmpty)
      .mapPartitions(_.map { m =>
        val bits = aHashBits(m)
        val bands = new Array[Int](16)
        var h = 0L
        var c = 0
        while (c < 64) {
          bands(c / 4) |= bits(c) << (c % 4)
          h |= bits(c).toLong << c
          c += 1
        }
        MediaHash(m.media_id, bands, h)
      }).toDF()
  }

  /** Near-duplicate media pairs by aHash Hamming distance — the
    * image-dedup primitive next to the text family (q62/q63/q156), run
    * entirely on 64-bit digests: payloads are hashed once
    * partition-locally and never join. Banding is LOSSLESS for the
    * default bound (≤12 differing bits across 16 disjoint 4-bit bands
    * leave at least one band identical — pigeonhole), so the pair set
    * equals the brute-force one except inside `dfCap`-hot bands. The
    * 4-bit bands are deliberately permissive (16 values each): at
    * corpus scale the df-cap is the valve that keeps hot-band
    * candidate lists bounded — the same documented trade every LSH
    * family here makes. Candidates are an equi-join on (band, value);
    * the final Hamming filter is an exact popcount over the 16 band
    * nibbles. */
  def aHashNearDupPairs(media: DataFrame, maxHamming: Int = 12,
      dfCap: Int = 1000): DataFrame = {
    // three consumers (banding + both sides of the verify join) — pin
    // the digests so payloads are decoded/hashed exactly once
    val h = aHashes(media).pinLazy
    val banded = h.select(col("media_id"), col("h"),
      posexplode(col("bands")).as(Seq("band_idx", "band_val")))
    val capped = banded.groupBy(col("band_idx"), col("band_val"))
      .agg(count(lit(1)).as("n")).filter(col("n") <= dfCap).drop("n")
    // ONE digest self-join; the exact popcount is a codegen'd
    // bit_count(xor) on the packed longs and prunes INSIDE the join
    // stage, so only true near-dup pairs reach the distinct — the
    // permissive 4-bit bands never materialize an all-pairs frame
    banded.join(capped, Seq("band_idx", "band_val"))
      .select(col("band_idx"), col("band_val"), col("media_id").as("ma"),
        col("h").as("ha"))
      .join(banded.select(col("band_idx"), col("band_val"),
        col("media_id").as("mb"), col("h").as("hb")),
        Seq("band_idx", "band_val"))
      .filter(col("ma") < col("mb"))
      .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("ma").as("media_a"), col("mb").as("media_b"),
        col("hamming"))
      .distinct()
  }
}
