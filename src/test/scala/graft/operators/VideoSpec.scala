package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** GVI0 video-container contract on REAL fixtures: the index walk slices
  * complete frame files (including actual PNG bytes through the
  * javax.imageio codec path), malformed containers drop instead of
  * throwing, and the per-frame fingerprints feed the image near-dup
  * machinery unchanged.
  */
class VideoSpec extends SparkSpec {

  /** A real 8x8 PNG (ImageIO-encoded) with a left-dark right-bright
    * gradient, shifted by `phase` so different frames hash differently.
    */
  private def png(phase: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) {
      val v = math.min(255, ((x + phase) % 8) * 32)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** A real binary P6 with pixel bytes cycling 0..255 from `seed`. */
  private def ppm(seed: Int): Array[Byte] = {
    val header = "P6\n16 16\n255\n".getBytes("US-ASCII")
    val px = Array.tabulate(768)(i => ((seed + i) % 256).toByte)
    header ++ px
  }

  test("round-trip: pack then extract returns the exact frame bytes") {
    val frames = Seq(png(0), ppm(7), png(3))
    val container = Multimodal.packVideo(frames)
    val got = Multimodal.parseVideo(container).get
    assert(got.length === 3)
    got.zip(frames).zipWithIndex.foreach { case ((frame, want), i) =>
      assert(java.util.Arrays.equals(frame, want),
        s"frame $i bytes must round-trip exactly")
    }
  }

  test("extracted frames decode through the real codecs (PNG via ImageIO, P6 native)") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Multimodal.packVideo(Seq(png(0), ppm(7))))).toDF("doc_id", "media")
    val hashed = Multimodal.videoFrameDHashes(df).orderBy("frame_no").collect()
    assert(hashed.length === 2)
    // per-frame dHash equals dHash of the standalone image file — the
    // container layer adds indexing, never changes decode semantics
    assert(hashed(0).getLong(2) === Multimodal.dHash(png(0)).get)
    assert(hashed(1).getLong(2) === Multimodal.dHash(ppm(7)).get)
  }

  test("malformed containers drop; frames that fail decode drop; valid rows survive") {
    val s = spark
    import s.implicits._
    val good = Multimodal.packVideo(Seq(ppm(1)))
    val badMagic = "XXXX".getBytes ++ good.drop(4)
    val truncated = good.take(good.length - 100)
    val countOverrun = {
      val b = good.clone(); b(7) = 9; b // claims 9 frames, index overruns
    }
    val junkFrame = Multimodal.packVideo(Seq("not an image".getBytes, ppm(2)))
    val df = Seq(
      (1L, good), (2L, badMagic), (3L, truncated), (4L, countOverrun),
      (5L, junkFrame), (6L, null.asInstanceOf[Array[Byte]]))
      .toDF("doc_id", "media")
    val parsed = Seq(1L -> good, 2L -> badMagic, 3L -> truncated, 4L -> countOverrun,
      5L -> junkFrame).collect { case (id, c) if Multimodal.parseVideo(c).nonEmpty => id }
    assert(parsed.toSet === Set(1L, 5L), "only structurally-valid containers yield frames")
    val hashes = Multimodal.videoFrameDHashes(df)
      .select("doc_id", "frame_no").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(hashes === Set((1L, 0), (5L, 1)),
      "undecodable frame payloads drop at the hash stage, valid siblings survive")
  }

  test("per-frame fingerprints feed the pigeonhole near-dup join unchanged") {
    val s = spark
    import s.implicits._
    // two videos sharing a near-identical frame (same gradient), one odd one
    val df = Seq(
      (1L, Multimodal.packVideo(Seq(png(0), png(4)))),
      (2L, Multimodal.packVideo(Seq(png(0)))),
      (3L, Multimodal.packVideo(Seq(png(2))))).toDF("doc_id", "media")
    val dh = Multimodal.videoFrameDHashes(df)
      .select(concat_ws("#", col("doc_id"), col("frame_no")).as("fid"), col("dhash"))
    val blocks = dh.select(
      col("fid"), col("dhash"),
      explode(array((0 until 7).map(b =>
        struct(lit(b).as("blk"),
          shiftright(col("dhash"), b * 8).bitwiseAND(lit(255L)).as("bv"))): _*)).as("bk"))
      .select(col("fid"), col("dhash"), col("bk.blk").as("blk"), col("bk.bv").as("bv"))
    val pairs = blocks.as("a")
      .join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.bv") === col("b.bv") &&
          col("a.fid") < col("b.fid"))
      .select(col("a.fid").as("fa"), col("b.fid").as("fb"),
        bit_count(col("a.dhash").bitwiseXOR(col("b.dhash"))).as("ham"))
      .filter(col("ham") === 0)
      .distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("1#0", "2#0")),
      "identical frames across videos must collide in the near-dup join")
    assert(!pairs.exists { case (a, b) => a.startsWith("3") || b.startsWith("3") })
  }
}
