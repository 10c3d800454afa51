package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** The carry rule of lake manifests: a commit copies every per-directory
  * layer (`#stats`, `#bloom`, `#ndv`, `#rows`, `#parts`) of each
  * directory it keeps from its base version, along with the base's
  * `#declspec` and `#txn` watermarks. Every op below runs on a copy of
  * one layered fixture and is checked over the directories both versions
  * list; only the documented transforms of the metadata-only DDL may
  * change a kept directory's layers.
  */
class ManifestCarrySpec extends SparkSpec {
  import ManifestCarrySpec.Layers

  private def layers(t: String, v: Long): Layers = Layers(
    VersionedLake.dirStats(spark, t, v),
    VersionedLake.dirBlooms(spark, t, v).map { case (d, cs) =>
      d -> cs.map { case (c, (m, k, b)) => c -> ((m, k, b.toSeq)) }
    },
    VersionedLake.dirNdv(spark, t, v).map { case (d, cs) =>
      d -> cs.map { case (c, (h, n)) => c -> ((h.map(_.toSeq), n)) }
    },
    VersionedLake.dirRowCounts(spark, t, v),
    VersionedLake.dirParts(spark, t, v),
    VersionedLake.declaredSpec(spark, t, v),
    VersionedLake.txnWatermarks(spark, t, v))

  private def batch(ks: Range, p: String): DataFrame = {
    val s = spark
    import s.implicits._
    ks.map(k => (k.toLong, k * 10, k.toFloat / 4, s"s$k", p)).toDF("k", "i", "f", "s", "p")
  }

  private def bloomOn(cols: String*) = Some(VersionedLake.BloomConfig(cols, bits = 1024))

  /** Three partitioned directories under a declared spec and one writer
    * watermark. The third directory's only stats column is `f` and its
    * only bloom column `i`, so dropping or widening them empties a line.
    * It is also the one directory `compactSmall(10)` keeps.
    */
  private lazy val fixture: String = {
    val t = java.nio.file.Files.createTempDirectory("carry_fixture").toString
    VersionedLake.appendCommitTxn(batch(1 to 3, "a"), t, "w", 0L, parts = Seq("p"),
      statsCols = Seq("k", "i", "f"), bloom = bloomOn("k", "i"))
    VersionedLake.appendCommitTxn(batch(4 to 6, "b"), t, "w", 1L, parts = Seq("p"),
      statsCols = Seq("k", "i", "f"), bloom = bloomOn("k", "i"))
    VersionedLake.appendCommit(batch(7 to 60, "c"), t, parts = Seq("p"),
      statsCols = Seq("f"), bloom = bloomOn("i"))
    VersionedLake.setPartitionSpec(spark, t, Seq("p"))
    t
  }

  private def fresh(tag: String): String = {
    val src = java.nio.file.Paths.get(fixture)
    val dst = java.nio.file.Files.createTempDirectory(s"carry_$tag")
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    } finally walk.close()
    dst.toString
  }

  private def current(t: String): Long = VersionedLake.currentVersion(spark, t).get

  /** Runs `op` on a fresh copy of the fixture (after `prepare`) and
    * checks the result's layers of every kept directory against
    * `expect` applied to the base's.
    */
  private def carries(
      name: String,
      expect: Layers => Layers = identity,
      keepsDirs: Boolean = true,
      prepare: String => Unit = _ => ())(op: String => Long): Unit =
    test(s"$name carries every layer of the directories it keeps") {
      val t = fresh(name.replaceAll("\\W", "_"))
      prepare(t)
      val base = current(t)
      val result = op(t)
      assert(result > base, s"$name must publish a version")
      val kept = VersionedLake.manifest(spark, t, base).toSet
        .intersect(VersionedLake.manifest(spark, t, result).toSet)
      assert(kept.nonEmpty === keepsDirs)
      val before = layers(t, base).on(kept)
      assert(Seq(before.stats, before.blooms, before.ndv, before.rows, before.parts)
        .forall(_.size == kept.size), "every kept directory has every layer")
      assert(layers(t, result).on(kept) === expect(before))
    }

  private def withTxn(app: String, b: Long)(l: Layers): Layers =
    l.copy(txns = l.txns + (app -> b))

  private def rekey[A](m: Map[String, Map[String, A]], from: String, to: String) =
    m.map { case (d, cs) => d -> cs.map { case (c, v) => (if (c == from) to else c) -> v } }

  /** A directory left with no entry loses its line. */
  private def without[A](m: Map[String, Map[String, A]], c: String) =
    m.map { case (d, cs) => d -> (cs - c) }.filter(_._2.nonEmpty)

  test("the fixture holds every carried layer") {
    val l = layers(fixture, current(fixture))
    assert(Seq(l.stats, l.blooms, l.ndv, l.rows, l.parts).map(_.size) === Seq(3, 3, 3, 3, 3))
    assert(l.declSpec === Some(Seq("p")))
    assert(l.txns === Map("w" -> 1L))
  }

  carries("appendCommit") { t =>
    VersionedLake.appendCommit(batch(61 to 62, "a"), t, parts = Seq("p"),
      statsCols = Seq("k"), bloom = bloomOn("k"))
  }

  carries("commitTxnWatermark", withTxn("x", 5L)) { t =>
    VersionedLake.commitTxnWatermark(spark, t, "x", 5L)
  }

  carries("upsert") { t =>
    VersionedLake.upsert(spark, t, batch(2 to 2, "a").withColumn("s", lit("up")), Seq("k"))
  }

  carries("upsertMor", withTxn("u", 1L)) { t =>
    VersionedLake.upsertMor(spark, t, batch(2 to 2, "a").withColumn("s", lit("up")),
      Seq("k"), txn = Some("u" -> 1L))
  }

  carries("deleteKeys", withTxn("d", 1L)) { t =>
    val s = spark
    import s.implicits._
    VersionedLake.deleteKeys(spark, t, Seq(2L).toDF("k"), Seq("k"), txn = Some("d" -> 1L))
  }

  carries("deleteKeysMor") { t =>
    val s = spark
    import s.implicits._
    VersionedLake.deleteKeysMor(spark, t, Seq(2L).toDF("k"), Seq("k"))
  }

  carries("deleteWhere") { t => VersionedLake.deleteWhere(spark, t, col("k") === 2L) }

  carries("deleteWhereMor") { t => VersionedLake.deleteWhereMor(spark, t, col("k") === 2L) }

  carries("updateWhere") { t =>
    VersionedLake.updateWhere(spark, t, col("k") === 5L, Map("s" -> lit("z")))
  }

  carries("updateWhereMor") { t =>
    VersionedLake.updateWhereMor(spark, t, col("k") === 5L, Map("s" -> lit("z")))
  }

  carries("materializeDeletes", prepare = { t =>
    val s = spark
    import s.implicits._
    VersionedLake.deleteKeysMor(spark, t, Seq(5L).toDF("k"), Seq("k"))
  }) { t => VersionedLake.materializeDeletes(spark, t) }

  carries("optimize", keepsDirs = false) { t => VersionedLake.optimize(spark, t) }

  carries("compactSmall") { t => VersionedLake.compactSmall(spark, t, smallRows = 10L).get }

  carries("setPartitionSpec", l => l.copy(declSpec = Some(Nil))) { t =>
    VersionedLake.setPartitionSpec(spark, t, Nil)
  }

  carries("setColumnDefault") { t =>
    VersionedLake.setColumnDefault(spark, t, "s", Some("'x'"))
  }

  carries("renameColumn",
    l => l.copy(stats = rekey(l.stats, "i", "j"), ndv = rekey(l.ndv, "i", "j"))) { t =>
    VersionedLake.renameColumn(spark, t, "i", "j")
  }

  carries("dropColumn", l => l.copy(stats = without(l.stats, "f"))) { t =>
    VersionedLake.dropColumn(spark, t, "f")
  }

  carries("widenColumn INT to BIGINT", l => l.copy(blooms = without(l.blooms, "i"))) { t =>
    VersionedLake.widenColumn(spark, t, "i", LongType)
  }

  carries("widenColumn FLOAT to DOUBLE", l => l.copy(stats = without(l.stats, "f"))) { t =>
    VersionedLake.widenColumn(spark, t, "f", DoubleType)
  }

  test("analyzeStats adds the analyzed column and carries every other entry") {
    val t = fresh("analyze")
    val base = current(t)
    val result = VersionedLake.analyzeStats(spark, t, Seq("s"))
    assert(result === base + 1)
    val before = layers(t, base)
    val after = layers(t, result)
    assert(after.stats.keySet === VersionedLake.manifest(spark, t, base).toSet)
    assert(after.stats.values.forall(_.contains("s")))
    assert(after.copy(stats = without(after.stats, "s"), ndv = without(after.ndv, "s")) ===
      before)
  }

  test("rollback restores the target version's layers and keeps the current watermarks") {
    val t = fresh("rollback")
    val target = current(t)
    VersionedLake.appendCommitTxn(batch(61 to 62, "a"), t, "w", 2L, parts = Seq("p"),
      statsCols = Seq("k"), bloom = bloomOn("k"))
    VersionedLake.renameColumn(spark, t, "i", "j")
    VersionedLake.analyzeStats(spark, t, Seq("s"))
    VersionedLake.setPartitionSpec(spark, t, Nil)
    val cur = current(t)
    val result = VersionedLake.rollback(spark, t, target)
    assert(VersionedLake.manifest(spark, t, result) === VersionedLake.manifest(spark, t, target))
    assert(layers(t, result) === layers(t, target).copy(txns = layers(t, cur).txns))
    assert(layers(t, result).txns === Map("w" -> 2L))
  }
}

object ManifestCarrySpec {

  /** Every carried layer of one version, parsed into comparable values. */
  final case class Layers(
      stats: Map[String, Map[String, (Option[String], Option[String])]],
      blooms: Map[String, Map[String, (Int, Int, Seq[Byte])]],
      ndv: Map[String, Map[String, (Option[Seq[Byte]], Long)]],
      rows: Map[String, (Long, Long)],
      parts: Map[String, Seq[String]],
      declSpec: Option[Seq[String]],
      txns: Map[String, Long]) {
    def on(dirs: Set[String]): Layers = copy(
      stats = stats.filter(e => dirs(e._1)),
      blooms = blooms.filter(e => dirs(e._1)),
      ndv = ndv.filter(e => dirs(e._1)),
      rows = rows.filter(e => dirs(e._1)),
      parts = parts.filter(e => dirs(e._1)))
  }
}
