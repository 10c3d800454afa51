package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  private def media = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id"), col("text").cast("binary").as("media"))

  test("decodeFeatures is deterministic and batch-size invariant") {
    val a = Multimodal.decodeFeatures(media, batchSize = 3).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    val b = Multimodal.decodeFeatures(media, batchSize = 1000).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("stub features are a normalized byte histogram") {
    val rows = Multimodal.decodeFeatures(media).limit(20).collect()
    rows.foreach { r =>
      val feats = r.getSeq[Double](4)
      assert(feats.length === 16)
      assert(math.abs(feats.sum - 1.0) < 1e-9, s"histogram must sum to 1, got ${feats.sum}")
    }
  }

  test("null payloads are skipped, not decoded") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "abc"), (2L, null)).toDF("doc_id", "txt")
      .select(col("doc_id"), col("txt").cast("binary").as("media"))
    val out = Multimodal.decodeFeatures(df).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("frameSample slices equal substring bytes") {
    val got = media
      .select(col("doc_id"), Multimodal.frameSample(col("media"), 2, 5, 7).as("f"))
      .select(col("doc_id"), col("f")(0).cast("string").as("f0"), col("f")(1).cast("string").as("f1"))
    val exp = spark.read.parquet(s"$sf/documents.parquet")
      .select(
        col("doc_id"),
        substring(col("text"), 1, 5).as("f0"),
        substring(col("text"), 8, 5).as("f1"))
    assert(got.exceptAll(exp).count() === 0)
    assert(exp.exceptAll(got).count() === 0)
  }

  test("oracle parity precondition: document payloads are ASCII and CR-free") {
    // The q_multimodal_* oracles slice with char-based substr()/ascii()
    // while the engine slices bytes; DuckDB has no byte-level blob substr,
    // so parity is byte-exact only for ASCII, CR-free payloads. Enforce
    // that assumption on the fixture corpus instead of assuming silently.
    val bad = spark.read.parquet(s"$sf/documents.parquet")
      .filter(
        octet_length(col("text")) =!= length(col("text")) ||
          col("text").contains("\r"))
      .count()
    assert(bad === 0L, "documents.text must be ASCII and CR-free for the multimodal oracles")
  }

  test("decodePpm decodes a real binary-PPM image through the batch path") {
    val s = spark
    import s.implicits._
    // 2x2 P6 with a header comment: black, white, red, blue pixels →
    // Rec.601 lumas 0, 255, 76, 29 → histogram bins 0, 15, 4, 1.
    val header = "P6\n# tiny fixture\n2 2\n255\n".getBytes("US-ASCII")
    val pixels = Array(0, 0, 0, 255, 255, 255, 255, 0, 0, 0, 0, 255).map(_.toByte)
    val txt = "hello world".getBytes("US-ASCII")
    val df = Seq((1L, header ++ pixels), (2L, txt)).toDF("doc_id", "media")
    val out = Multimodal.decodeFeatures(df).collect().map(r => r.getLong(0) -> r).toMap
    val img = out(1L)
    assert((img.getInt(1), img.getInt(2), img.getInt(3)) === ((2, 2, 3)))
    val feats = img.getSeq[Double](4)
    assert(feats(0) === 0.25 && feats(1) === 0.25 && feats(4) === 0.25 && feats(15) === 0.25)
    assert(feats.sum === 1.0)
    // non-image payload falls back to the deterministic stand-in
    val fb = out(2L)
    assert(fb.getInt(1) === 1 + ('h' & 0x7f))
    assert(fb.getInt(2) === 1 + ('e' & 0x7f))
  }

  test("decodePpm rejects malformed payloads instead of misparsing") {
    val cases = Seq(
      "P6\n2 2\n255\n".getBytes("US-ASCII"), // header only, no pixels
      "P6\n2 2\n70000\n".getBytes("US-ASCII") ++ Array.fill(12)(0.toByte), // maxval > 255
      "P5\n2 2\n255\n".getBytes("US-ASCII") ++ Array.fill(12)(0.toByte), // wrong magic
      ("P6\n2 2\n255\n" + "x" * 11).getBytes("US-ASCII"), // short pixel data
      ("P6\n2 2\n255\n" + "x" * 13).getBytes("US-ASCII")) // trailing junk
    cases.foreach(b => assert(Multimodal.decodePpm(b).isEmpty, b.length.toString))
  }

  test("resizePpm keeps exactly pixel (r·f, c·f) and re-encodes valid P6") {
    // 4x4 image whose pixel (r, c) has bytes (10r+c, 100+10r+c, 200+10r+c
    // mod 256): every pixel uniquely identifiable, so the assertion is on
    // EXACT output bytes, not just shape.
    def px(r: Int, c: Int): Array[Byte] =
      Array((10 * r + c).toByte, (100 + 10 * r + c).toByte, (200 + 10 * r + c).toByte)
    val src = "P6\n4 4\n255\n".getBytes("US-ASCII") ++
      (for (r <- 0 until 4; c <- 0 until 4; b <- px(r, c)) yield b)
    val got = Multimodal.resizePpm(src, 2).get
    val want = "P6\n2 2\n255\n".getBytes("US-ASCII") ++
      (for (r <- Seq(0, 2); c <- Seq(0, 2); b <- px(r, c)) yield b)
    assert(got.toSeq === want.toSeq)
    // round-trip: the resized output is itself a decodable P6
    assert(Multimodal.decodePpm(got).map(d => (d._1, d._2)) === Some((2, 2)))
  }

  test("resizePpm handles non-multiple dims (ceil) and preserves maxval") {
    // 5x3, factor 2 → 3x2 keeping rows {0,2}, cols {0,2,4}; maxval 200
    def px(r: Int, c: Int): Array[Byte] =
      Array((40 * r + c).toByte, (40 * r + c + 1).toByte, (40 * r + c + 2).toByte)
    val src = "P6\n5 3\n200\n".getBytes("US-ASCII") ++
      (for (r <- 0 until 3; c <- 0 until 5; b <- px(r, c)) yield b)
    val got = Multimodal.resizePpm(src, 2).get
    val want = "P6\n3 2\n200\n".getBytes("US-ASCII") ++
      (for (r <- Seq(0, 2); c <- Seq(0, 2, 4); b <- px(r, c)) yield b)
    assert(got.toSeq === want.toSeq)
  }

  test("resizePpm rejects non-images; batched path drops them") {
    val s = spark
    import s.implicits._
    assert(Multimodal.resizePpm("just text".getBytes("US-ASCII"), 2).isEmpty)
    assert(Multimodal.resizePpm(
      "P6\n2 2\n255\nxxx".getBytes("US-ASCII"), 2).isEmpty) // short pixels
    val img = "P6\n2 2\n255\n".getBytes("US-ASCII") ++ Array.fill(12)(7.toByte)
    val df = Seq((1L, img), (2L, "nope".getBytes("US-ASCII")))
      .toDF("doc_id", "media")
    val out = Multimodal.resizePpmBatched(df, factor = 2).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L))
    assert((out(0).getInt(1), out(0).getInt(2)) === ((1, 1)))
  }

  test("resizePpmBatched is batch-size invariant and factor-1 is identity") {
    val s = spark
    import s.implicits._
    val imgs = (0L until 9L).map { id =>
      val px = Array.tabulate(27)(i => (id * 31 + i).toByte)
      (id, "P6\n3 3\n255\n".getBytes("US-ASCII") ++ px)
    }
    val df = imgs.toDF("doc_id", "media")
    val a = Multimodal.resizePpmBatched(df, factor = 3, batchSize = 2).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](3).toSeq).toMap
    val b = Multimodal.resizePpmBatched(df, factor = 3, batchSize = 100).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](3).toSeq).toMap
    assert(a === b)
    val id1 = Multimodal.resizePpmBatched(df, factor = 1).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](3).toSeq).toMap
    imgs.foreach { case (id, bytes) => assert(id1(id) === bytes.toSeq) }
  }

  private def tinyPng(w: Int, h: Int)(rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (r <- 0 until h; c <- 0 until w) img.setRGB(c, r, rgb(r, c))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  test("PNG decodes + resizes via javax.imageio with exact kept pixels; P6 path byte-unchanged") {
    val s = spark
    import s.implicits._
    def v(r: Int, c: Int) = 16 * r + c
    val png = tinyPng(4, 4)((r, c) => v(r, c) << 16 | (v(r, c) + 1) << 8 | (v(r, c) + 2))
    // factor 2 keeps (0,0),(0,2),(2,0),(2,2); PNG is lossless → exact bytes
    def px(r: Int, c: Int) = Array(v(r, c).toByte, (v(r, c) + 1).toByte, (v(r, c) + 2).toByte)
    val want = "P6\n2 2\n255\n".getBytes("US-ASCII") ++
      (for (r <- Seq(0, 2); c <- Seq(0, 2); b <- px(r, c)) yield b)
    assert(Multimodal.resizeAny(png, 2).get.toSeq === want.toSeq)
    // the batched path now carries PNG rows (and still drops non-images)
    val out = Multimodal.resizePpmBatched(
      Seq((1L, png), (2L, "nope".getBytes("US-ASCII"))).toDF("doc_id", "media"),
      factor = 2).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L))
    assert((out(0).getInt(1), out(0).getInt(2)) === ((2, 2)))
    assert(out(0).getAs[Array[Byte]](3).toSeq === want.toSeq)
    // P6 payloads still take the raw byte loop, byte-identical
    val p6 = "P6\n2 2\n255\n".getBytes("US-ASCII") ++ Array.tabulate(12)(i => (9 + i).toByte)
    assert(Multimodal.resizeAny(p6, 2).get.toSeq === Multimodal.resizePpm(p6, 2).get.toSeq)
  }

  test("PNG and P6 of identical pixels yield identical decode features") {
    val rgb = (r: Int, c: Int) => (10 * r + c) << 16 | (20 * r + c) << 8 | (30 * r + c)
    val png = tinyPng(3, 3)(rgb)
    val p6 = "P6\n3 3\n255\n".getBytes("US-ASCII") ++
      (for (r <- 0 until 3; c <- 0 until 3;
            b <- Seq((rgb(r, c) >> 16).toByte, (rgb(r, c) >> 8).toByte, rgb(r, c).toByte))
        yield b)
    val a = Multimodal.decodeAny(png)
    val b = Multimodal.decodeAny(p6)
    assert((a._1, a._2, a._3) === ((3, 3, 3)))
    assert((a._1, a._2, a._3) === ((b._1, b._2, b._3)))
    assert(a._4.toSeq === b._4.toSeq,
      "Rec.601 luma histogram must not depend on which codec decoded the pixels")
  }
}
