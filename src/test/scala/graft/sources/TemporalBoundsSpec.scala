package graft.sources

import java.sql.{Date, Timestamp}
import java.time.Instant

import graft.SparkSpec
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}

/** DATE and TIMESTAMP stats bounds compare as values: a timestamp key is
  * the same instant under every session time zone (the stored `#stats`
  * render is not), and date/timestamp ranges prune directories.
  */
class TemporalBoundsSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.from(Instant.parse(s))

  private def inZone[T](zone: String)(body: => T): T = {
    val before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try body finally spark.conf.set("spark.sql.session.timeZone", before)
  }

  /** Rows (ts, v) of the table, by instant. */
  private def rows(dir: String): Seq[(Instant, String)] =
    VersionedLake.read(spark, dir).collect()
      .map(r => (r.getTimestamp(0).toInstant, r.getString(1))).toSeq.sortBy(_._1)

  private val jan = "2024-01-01T10:00:00Z"
  private val jun = "2024-06-01T10:00:00Z"

  /** Two directories keyed on `ts`, committed in UTC. */
  private def utcTable(): String = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("temporal_utc").toString
    inZone("UTC") {
      VersionedLake.appendCommit(Seq((ts(jan), "a")).toDF("ts", "v"), dir, statsCols = Seq("ts"))
      VersionedLake.appendCommit(Seq((ts(jun), "b")).toDF("ts", "v"), dir, statsCols = Seq("ts"))
    }
    dir
  }

  // 2024-11-03 09:00Z is the fall-back: 08:30Z renders 01:30 PDT, 09:10Z
  // renders 01:10 PST, so the directory's min render sorts after its max
  private val early = "2024-11-03T08:30:00Z"
  private val late = "2024-11-03T09:10:00Z"

  /** One directory before the fall-back hour, one spanning it. */
  private def dstTable(): String = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("temporal_dst").toString
    inZone("America/Los_Angeles") {
      VersionedLake.appendCommit(Seq((ts(jan), "a")).toDF("ts", "v"), dir, statsCols = Seq("ts"))
      VersionedLake.appendCommit(Seq((ts(early), "b"), (ts(late), "c")).toDF("ts", "v"), dir,
        statsCols = Seq("ts"))
    }
    dir
  }

  test("upsert keyed on a timestamp replaces its row after the session time zone changes") {
    val s = spark
    import s.implicits._
    val dir = utcTable()
    inZone("America/Los_Angeles") {
      VersionedLake.upsert(spark, dir, Seq((ts(jan), "a2")).toDF("ts", "v"), keys = Seq("ts"))
    }
    assert(rows(dir) === Seq((Instant.parse(jan), "a2"), (Instant.parse(jun), "b")))
  }

  test("upsert keyed on a timestamp replaces its row in a directory spanning a DST fall-back") {
    val s = spark
    import s.implicits._
    val dir = dstTable()
    inZone("America/Los_Angeles") {
      VersionedLake.upsert(spark, dir, Seq((ts(late), "c2")).toDF("ts", "v"), keys = Seq("ts"))
    }
    assert(rows(dir) === Seq((Instant.parse(jan), "a"), (Instant.parse(early), "b"),
      (Instant.parse(late), "c2")))
  }

  test("upsertMor keyed on a timestamp replaces its row in either time zone") {
    val s = spark
    import s.implicits._
    val dir = utcTable()
    inZone("America/Los_Angeles") {
      VersionedLake.upsertMor(spark, dir, Seq((ts(jan), "a2")).toDF("ts", "v"), keys = Seq("ts"))
    }
    assert(rows(dir) === Seq((Instant.parse(jan), "a2"), (Instant.parse(jun), "b")))
    val dst = dstTable()
    inZone("America/Los_Angeles") {
      VersionedLake.upsertMor(spark, dst, Seq((ts(late), "c2")).toDF("ts", "v"), keys = Seq("ts"))
    }
    assert(rows(dst).map(_._2) === Seq("a", "b", "c2"))
  }

  test("deleteKeys on a timestamp key deletes its row after a zone change and across a fall-back") {
    val s = spark
    import s.implicits._
    val dir = utcTable()
    inZone("America/Los_Angeles") {
      VersionedLake.deleteKeys(spark, dir, Seq(ts(jan)).toDF("ts"), keys = Seq("ts"))
    }
    assert(rows(dir) === Seq((Instant.parse(jun), "b")))
    val dst = dstTable()
    inZone("America/Los_Angeles") {
      VersionedLake.deleteKeys(spark, dst, Seq(ts(late)).toDF("ts"), keys = Seq("ts"))
    }
    assert(rows(dst) === Seq((Instant.parse(jan), "a"), (Instant.parse(early), "b")))
  }

  test("DATE and TIMESTAMP range filters prune directories by value") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("temporal_range").toString
    Seq(("2024-01-01", jan), ("2024-06-01", jun)).foreach { case (d, t) =>
      VersionedLake.appendCommit(Seq((Date.valueOf(d), ts(t))).toDF("d", "ts"), dir,
        statsCols = Seq("d", "ts"))
    }
    val v = VersionedLake.currentVersion(spark, dir).get
    val dirs = VersionedLake.manifest(spark, dir, v)
    def kept(f: org.apache.spark.sql.sources.Filter) =
      VersionedLake.pruneDirsForFilters(spark, dir, v, Seq(f))
    assert(kept(GreaterThanOrEqual("d", Date.valueOf("2024-03-01"))) === Seq(dirs(1)))
    assert(kept(LessThan("d", Date.valueOf("2024-03-01"))) === Seq(dirs(0)))
    inZone("America/Los_Angeles") {
      assert(kept(GreaterThanOrEqual("ts", ts("2024-03-01T00:00:00Z"))) === Seq(dirs(1)))
      assert(kept(LessThan("ts", ts("2024-03-01T00:00:00Z"))) === Seq(dirs(0)))
    }
  }
}
