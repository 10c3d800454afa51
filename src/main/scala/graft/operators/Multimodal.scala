package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata alongside — the columnar shape a
  * 100 TB media pipeline needs (parquet stores the blobs page-compressed;
  * metadata predicates prune scans without touching payload bytes).
  *
  * Three layers:
  *   - [[withMetadata]] — typed metadata struct derived from the payload
  *     (length, content digest, magic prefix) as native expressions: one
  *     scan, codegen'd, no decode;
  *   - [[frameSample]] — fixed-stride byte-range sampling (the "grab N
  *     frames" access pattern) as native `substring` on binary, so frame
  *     extraction pushes down to a projection, not a UDF;
  *   - [[decodeFeatures]] — per-batch decode + feature extraction via
  *     `mapPartitions` with explicit micro-batching: the iterator is
  *     chunked so a real codec would amortize per-batch setup (model
  *     load, GPU transfer) across `batchSize` rows — the Scala analogue
  *     of a vectorized/Arrow UDF.
  *
  * CODEC NOTE: this container has no external codec libraries, so the
  * dispatch layers what IS real: binary-PPM (P6) decodes via the
  * pure-Scala [[decodePpm]] (header parse + luminance histogram over
  * actual pixels), PNG/JPEG/BMP/GIF decode via `javax.imageio` — the
  * JDK's stdlib codecs, zero new dependencies — and only payloads no
  * codec recognizes fall back to the clearly-marked deterministic fake
  * (byte statistics standing in for pixels; audio/video stay there).
  * The Spark-side contract — schema, batching, partitioning, null
  * passthrough — is identical on every path; extend the dispatch for
  * more formats to productionize.
  */
object Multimodal {

  /** media payload metadata: length, md5 digest, first-4-bytes magic. */
  def withMetadata(df: DataFrame, binCol: String = "media"): DataFrame =
    df.withColumn(
      "media_meta",
      struct(
        octet_length(col(binCol)).as("byte_len"),
        md5(col(binCol)).as("digest"),
        hex(substring(col(binCol), 1, 4)).as("magic")))

  /** n fixed-size byte frames sampled at stride `stride` from offset 1.
    * Pure projection — at scale this reads only the pages backing the
    * sampled ranges when the payload column is chunked.
    */
  def frameSample(bin: org.apache.spark.sql.Column, n: Int, frameLen: Int, stride: Int)
      : org.apache.spark.sql.Column =
    array((0 until n).map(i => substring(bin, 1 + i * stride, frameLen)): _*)

  /** REAL nearest-neighbor thumbnail resize over a binary-PPM (P6)
    * payload: parse the header, keep source pixel (r·factor, c·factor)
    * for every output position, re-encode as a minimal `P6\nW H\nMAXV\n`
    * image. Output dims are ceil(dim / factor), so every source image
    * (multiple-of-factor or not) resizes. Returns None for anything that
    * is not a complete, valid P6 payload — a text blob can never
    * half-resize. The byte loop touches exactly the kept pixels.
    */
  def resizePpm(bytes: Array[Byte], factor: Int): Option[Array[Byte]] = {
    require(factor >= 1, s"downsample factor must be >= 1, got $factor")
    parsePpmHeader(bytes).flatMap { case (w, h, maxv, off) =>
      if (bytes.length - off != w.toLong * h * 3) None
      else {
        val ow = (w + factor - 1) / factor
        val oh = (h + factor - 1) / factor
        val header = s"P6\n$ow $oh\n$maxv\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        val out = new Array[Byte](header.length + ow * oh * 3)
        System.arraycopy(header, 0, out, 0, header.length)
        var q = header.length
        var r = 0
        while (r < oh) {
          val rowOff = off + r * factor * w * 3
          var c = 0
          while (c < ow) {
            val src = rowOff + c * factor * 3
            out(q) = bytes(src); out(q + 1) = bytes(src + 1); out(q + 2) = bytes(src + 2)
            q += 3; c += 1
          }
          r += 1
        }
        Some(out)
      }
    }
  }

  /** javax.imageio decode — the JDK's own stdlib codecs (PNG, JPEG, BMP,
    * GIF), no external dependency. Returns None when no registered
    * reader recognizes the payload (ImageIO.read yields null on
    * unrecognized magic without throwing, and fails fast: readers are
    * chosen by header sniff, so a text/garbage payload costs a few byte
    * compares). The memory-cache flag keeps decode off the local disk —
    * payloads already sit in executor memory.
    */
  private[operators] def decodeJdkImage(
      bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try {
      javax.imageio.ImageIO.setUseCache(false)
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
    } catch { case _: java.io.IOException => None }

  /** The SAME nearest-neighbor kept-pixel loop as [[resizePpm]], over a
    * decoded raster instead of raw P6 bytes: keep source pixel
    * (r·factor, c·factor) per output position, re-encode as minimal P6
    * (the pipeline's uniform thumbnail format — downstream stages see
    * one format regardless of source codec). Touches exactly the kept
    * pixels; alpha is dropped (P6 is RGB).
    */
  private[operators] def resizeRasterP6(
      img: java.awt.image.BufferedImage, factor: Int): Array[Byte] = {
    val w = img.getWidth
    val h = img.getHeight
    val ow = (w + factor - 1) / factor
    val oh = (h + factor - 1) / factor
    val header = s"P6\n$ow $oh\n255\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + ow * oh * 3)
    System.arraycopy(header, 0, out, 0, header.length)
    var q = header.length
    var r = 0
    while (r < oh) {
      var c = 0
      while (c < ow) {
        val rgb = img.getRGB(c * factor, r * factor)
        out(q) = (rgb >> 16).toByte; out(q + 1) = (rgb >> 8).toByte; out(q + 2) = rgb.toByte
        q += 3; c += 1
      }
      r += 1
    }
    out
  }

  /** Resize dispatch: P6 payloads take the raw byte loop ([[resizePpm]],
    * byte-identical to before the JDK codecs existed); PNG/JPEG/BMP/GIF
    * decode via [[decodeJdkImage]] and resize through the same loop over
    * the raster. None = recognized by no codec — resize is only defined
    * on images.
    */
  private[operators] def resizeAny(bytes: Array[Byte], factor: Int): Option[Array[Byte]] =
    resizePpm(bytes, factor)
      .orElse(decodeJdkImage(bytes).map(resizeRasterP6(_, factor)))

  /** Output schema of [[resizePpmBatched]]. */
  val resizedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("thumb", BinaryType, nullable = false)))

  /** (id, media) → (doc_id, width, height, thumb) real resize in the
    * same micro-batched mapPartitions shape as [[decodeFeatures]] (a
    * production codec amortizes setup per batch). P6 resizes via the raw
    * byte loop; PNG/JPEG/BMP/GIF via javax.imageio ([[resizeAny]]);
    * unrecognized and null payloads are dropped — resize is only defined
    * on images.
    */
  def resizePpmBatched(
      df: DataFrame,
      factor: Int,
      idCol: String = "doc_id",
      binCol: String = "media",
      batchSize: Int = 64): DataFrame = {
    val in = df.select(col(idCol).cast("long"), col(binCol))
    val enc = org.apache.spark.sql.Encoders.row(resizedSchema)
    in.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap {
          case r if !r.isNullAt(1) =>
            resizeAny(r.getAs[Array[Byte]](1), factor).map { thumb =>
              val (w, h, _, _) = parsePpmHeader(thumb).get
              Row(r.getLong(0), w, h, thumb)
            }
          case _ => None
        }
      }
    }(enc)
  }

  /** Output schema of [[decodeFeatures]]. */
  val decodedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("features", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** Fallback for payloads that are not a recognized image format —
    * deterministic fake standing in for the codecs this container lacks:
    * "dimensions" from the first payload bytes, "features" = a 16-bin
    * byte histogram normalized to frequencies.
    */
  private[operators] def fakeDecode(bytes: Array[Byte]): (Int, Int, Int, Array[Double]) = {
    val w = 1 + (if (bytes.length > 0) bytes(0) & 0x7f else 0)
    val h = 1 + (if (bytes.length > 1) bytes(1) & 0x7f else 0)
    val hist = new Array[Double](16)
    bytes.foreach(b => hist((b & 0xff) >> 4) += 1.0)
    val n = math.max(1, bytes.length)
    (w, h, 3, hist.map(_ / n))
  }

  /** Strict P6 header parse: `P6` magic, whitespace/`#`-comment-separated
    * width/height/maxval (maxval <= 255), one whitespace byte. Returns
    * (width, height, maxval, pixelDataOffset); None when malformed.
    * Callers validate the pixel-section length against their own needs.
    */
  private[operators] def parsePpmHeader(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6') return None
    var i = 2
    def skipWs(): Unit = {
      var go = true
      while (go && i < bytes.length) {
        val b = bytes(i)
        if (b == ' ' || b == '\t' || b == '\n' || b == '\r') i += 1
        else if (b == '#') { while (i < bytes.length && bytes(i) != '\n') i += 1 }
        else go = false
      }
    }
    def int(): Int = { // -1 = malformed
      skipWs()
      val start = i
      var v = 0L
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9' && v <= Int.MaxValue) {
        v = v * 10 + (bytes(i) - '0'); i += 1
      }
      if (i == start || v > Int.MaxValue) -1 else v.toInt
    }
    val w = int(); val h = int(); val maxv = int()
    if (w <= 0 || h <= 0 || maxv <= 0 || maxv > 255) return None
    // exactly one whitespace byte between header and pixel data
    if (i >= bytes.length || !(bytes(i) == '\n' || bytes(i) == '\r' ||
        bytes(i) == ' ' || bytes(i) == '\t')) return None
    Some((w, h, maxv, i + 1))
  }

  /** Strict pure-Scala binary-PPM (P6) decoder — the one real codec in the
    * pipeline. Accepts only a COMPLETE valid image (header per
    * [[parsePpmHeader]] + exactly width*height*3 pixel bytes) — so a text
    * payload can never misparse as an image. Features: the 16-bin
    * histogram of per-pixel luminance (Rec.601 integer luma), normalized
    * to frequencies — a real decoded-pixel statistic, same shape as the
    * fallback's byte histogram.
    */
  private[operators] def decodePpm(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Double])] = {
    val parsed = parsePpmHeader(bytes)
    if (parsed.isEmpty) return None
    val (w, h, _, i) = parsed.get
    if (bytes.length - i != w.toLong * h * 3) return None
    val hist = new Array[Double](16)
    var p = i
    while (p + 2 < bytes.length) {
      val luma = ((bytes(p) & 0xff) * 299 + (bytes(p + 1) & 0xff) * 587 +
        (bytes(p + 2) & 0xff) * 114) / 1000
      hist(luma >> 4) += 1.0
      p += 3
    }
    val n = w.toDouble * h
    Some((w, h, 3, hist.map(_ / n)))
  }

  /** [[decodePpm]]'s luminance-histogram features computed from a
    * JDK-decoded raster — the same Rec.601 integer luma per pixel, so a
    * PNG and a P6 of identical pixels yield identical features.
    */
  private[operators] def decodeJdk(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Double])] =
    decodeJdkImage(bytes).map { img =>
      val w = img.getWidth
      val h = img.getHeight
      val hist = new Array[Double](16)
      var r = 0
      while (r < h) {
        var c = 0
        while (c < w) {
          val rgb = img.getRGB(c, r)
          val luma = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000
          hist(luma >> 4) += 1.0
          c += 1
        }
        r += 1
      }
      (w, h, 3, hist.map(_ / (w.toDouble * h)))
    }

  /** Per-payload decode dispatch: real PPM first, then the JDK codecs
    * (PNG/JPEG/BMP/GIF), deterministic fake stand-in otherwise.
    */
  private[operators] def decodeAny(bytes: Array[Byte]): (Int, Int, Int, Array[Double]) =
    decodePpm(bytes).orElse(decodeJdk(bytes)).getOrElse(fakeDecode(bytes))

  /** (id, media) → (doc_id, width, height, channels, features), decoding
    * in micro-batches of `batchSize` rows per partition.
    */
  def decodeFeatures(
      df: DataFrame,
      idCol: String = "doc_id",
      binCol: String = "media",
      batchSize: Int = 64): DataFrame = {
    val in = df.select(col(idCol).cast("long"), col(binCol))
    val enc = org.apache.spark.sql.Encoders.row(decodedSchema)
    in.mapPartitions { rows =>
      // explicit micro-batching: a real decoder would set up once per
      // batch (codec context / model / device buffer) and decode the
      // batch vectorized — same shape as a pandas/Arrow batch UDF.
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.collect {
          case r if !r.isNullAt(1) =>
            val (w, h, c, feat) = decodeAny(r.getAs[Array[Byte]](1))
            Row(r.getLong(0), w, h, c, feat.toSeq)
        }
      }
    }(enc)
  }

  /** Perceptual difference-hash (dHash) of an image payload: the raster
    * is box-binned to a `gridRows x gridCols` luminance grid and each bit
    * records whether a cell is brighter than its right neighbor —
    * `gridRows x (gridCols-1)` bits, default 8x8 grid = 56 (positive-
    * BIGINT-safe, so the DuckDB oracle can sum literal bit weights
    * without overflow games). Robust to re-encoding, scaling and mild
    * brightness shifts; Hamming distance between hashes is the
    * perceptual distance. All arithmetic is exact integer: cell sums of
    * Rec.601 luma numerators (299r+587g+114b, /1000 deferred — it
    * cancels), unequal cell sizes compared by cross-multiplied averages,
    * so a PNG and a P6 of identical pixels hash identically on any
    * engine. P6 payloads bin straight off the bytes; PNG/JPEG/BMP/GIF go
    * through [[decodeJdkImage]]. None: unrecognized payload, raster
    * smaller than the grid, or > 2^30 pixels (the cross-multiply's Long
    * headroom; gigapixel inputs should thumbnail first).
    */
  def dHash(bytes: Array[Byte], gridCols: Int = 8, gridRows: Int = 8): Option[Long] = {
    require(gridCols >= 2 && gridRows >= 1, s"grid must be >= 1x2, got ${gridRows}x$gridCols")
    require(gridRows * (gridCols - 1) <= 62, "hash must fit a positive Long")
    val p6 = parsePpmHeader(bytes).filter { case (w, h, _, off) =>
      bytes.length - off == w.toLong * h * 3
    }
    p6 match {
      case Some((w, h, _, off)) =>
        dHashGrid(w, h, gridCols, gridRows, (y, x) => {
          val p = off + (y * w + x) * 3
          (bytes(p) & 0xff) * 299 + (bytes(p + 1) & 0xff) * 587 + (bytes(p + 2) & 0xff) * 114
        })
      case None =>
        decodeJdkImage(bytes).flatMap { img =>
          dHashGrid(img.getWidth, img.getHeight, gridCols, gridRows, (y, x) => {
            val rgb = img.getRGB(x, y)
            ((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114
          })
        }
    }
  }

  private def dHashGrid(
      w: Int, h: Int, gridCols: Int, gridRows: Int,
      luma: (Int, Int) => Int): Option[Long] = {
    if (w < gridCols || h < gridRows || w.toLong * h > (1L << 30)) return None
    val sums = new Array[Long](gridRows * gridCols)
    val cnts = new Array[Long](gridRows * gridCols)
    var y = 0
    while (y < h) {
      val rowBase = ((y.toLong * gridRows / h) * gridCols).toInt
      var x = 0
      while (x < w) {
        val cell = rowBase + (x.toLong * gridCols / w).toInt
        sums(cell) += luma(y, x)
        cnts(cell) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var r = 0
    while (r < gridRows) {
      var c = 0
      while (c < gridCols - 1) {
        val i = r * gridCols + c
        // avg(i) > avg(i+1) without division: floor-boundary binning can
        // leave neighbor cells unequal-sized, so compare cross-products
        if (sums(i) * cnts(i + 1) > sums(i + 1) * cnts(i))
          hash |= 1L << (r * (gridCols - 1) + c)
        c += 1
      }
      r += 1
    }
    Some(hash)
  }

  /** Output schema of [[dHashBatched]]. */
  val dHashSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("dhash", LongType, nullable = false)))

  /** (id, media) → (doc_id, dhash) in the same micro-batched
    * mapPartitions shape as [[decodeFeatures]]; null and non-image
    * payloads are dropped (a perceptual hash is only defined on images).
    */
  def dHashBatched(
      df: DataFrame,
      idCol: String = "doc_id",
      binCol: String = "media",
      batchSize: Int = 64): DataFrame = {
    val in = df.select(col(idCol).cast("long"), col(binCol))
    val enc = org.apache.spark.sql.Encoders.row(dHashSchema)
    in.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap {
          case r if !r.isNullAt(1) =>
            dHash(r.getAs[Array[Byte]](1)).map(hv => Row(r.getLong(0), hv))
          case _ => None
        }
      }
    }(enc)
  }

  // ------------------------------------------------------------------
  // Video: a frame-indexed container (the third modality). Format GVI0 —
  // 4-byte magic, u32-BE frame count, u32-BE per-frame length table,
  // then the frame payloads back to back, each a complete IMAGE FILE
  // (PPM/PNG/JPEG/...). This is the MJPEG/AVI shape reduced to its
  // essentials: an index that locates self-contained frames, which is
  // exactly what a distributed frame extractor needs (no inter-frame
  // state, every row decodes independently). Extracted frames feed the
  // EXISTING image pipeline unchanged — [[decodeAny]] features, [[dHash]]
  // fingerprints, the pigeonhole near-dup join.
  // ------------------------------------------------------------------

  private val VideoMagic: Array[Byte] = "GVI0".getBytes("US-ASCII")

  /** Parse a GVI0 container into its frame payloads; None for anything
    * malformed (bad magic, absurd count, index overrunning the payload) —
    * corrupt containers drop, they never throw a 100 TB scan.
    */
  private[operators] def parseVideo(bytes: Array[Byte]): Option[Seq[Array[Byte]]] = {
    if (bytes == null || bytes.length < 8) return None
    if (!java.util.Arrays.equals(bytes.take(4), VideoMagic)) return None
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.BIG_ENDIAN)
    val n = bb.getInt(4)
    if (n < 0 || n > 65536 || bytes.length < 8 + 4L * n) return None
    val lens = (0 until n).map(i => bb.getInt(8 + 4 * i))
    if (lens.exists(_ < 0)) return None
    val total = lens.foldLeft(8L + 4L * n)(_ + _)
    if (total > bytes.length) return None
    var off = 8 + 4 * n
    Some(lens.map { l =>
      val f = java.util.Arrays.copyOfRange(bytes, off, off + l)
      off += l
      f
    })
  }

  /** Build a GVI0 container (writer side + test fixtures). */
  def packVideo(frames: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(VideoMagic)
    val bb = java.nio.ByteBuffer.allocate(4 + 4 * frames.size)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.putInt(frames.size)
    frames.foreach(f => bb.putInt(f.length))
    out.write(bb.array())
    frames.foreach(out.write)
    out.toByteArray
  }

  /** Output schema of [[videoFrameDHashes]]. */
  val videoDHashSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("frame_no", IntegerType, nullable = false),
    StructField("dhash", LongType, nullable = false)))

  /** Container → per-frame perceptual fingerprints in ONE mapPartitions
    * pass (parse + real frame decode + dHash, no intermediate frame
    * materialization): (doc_id, frame_no, dhash). The output joins
    * straight into the pigeonhole hamming near-dup machinery that
    * already serves still images.
    */
  def videoFrameDHashes(
      df: DataFrame,
      idCol: String = "doc_id",
      binCol: String = "media",
      batchSize: Int = 64): DataFrame = {
    val in = df.select(col(idCol).cast("long"), col(binCol))
    val enc = org.apache.spark.sql.Encoders.row(videoDHashSchema)
    in.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap {
          case r if !r.isNullAt(1) =>
            parseVideo(r.getAs[Array[Byte]](1)).toSeq.flatMap(_.zipWithIndex.flatMap {
              case (f, i) => dHash(f).map(hv => Row(r.getLong(0), i, hv))
            })
          case _ => Nil
        }
      }
    }(enc)
  }
}
