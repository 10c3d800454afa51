package graft.sources

import java.nio.file.Files

import graft.{Bench, SparkSpec}
import graft.engine.Session
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkInternals
import org.scalatest.concurrent.TimeLimits
import org.scalatest.time.{Seconds, Span}

/** A data directory's `#stats`/`#ndv` payload is computed by the job
  * that writes it (observed metrics of the written frame), not by a
  * second pass over the batch or the written files; and parquet reads
  * take their schema from a footer instead of an inference job.
  */
class ObservedStatsSpec extends SparkSpec with TimeLimits {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("t").toString

  /** 1,000 rows in one partition (histogram edges are exact at this size,
    * whatever the merge order): integral, decimal, string and date
    * columns, with nulls.
    */
  private def batch(from: Long): DataFrame =
    spark.range(from, from + 1000, 1, 1).select(
      col("id").as("k"),
      (col("id") % 13).cast("int").as("grp"),
      (col("id") * 7 % 1000 / 100).cast("decimal(12,2)").as("amt"),
      when(col("id") % 10 === 0, lit(null)).otherwise(concat(lit("s-"), col("id") % 50))
        .as("tag"),
      date_add(lit("2024-01-01").cast("date"), (col("id") % 40).cast("int")).as("day"))

  private val Cols = Seq("amt", "day", "grp", "k", "tag")

  private def version(t: String): Long = VersionedLake.currentVersion(spark, t).get

  /** Every stats layer of `dirs` at version `a` equals the one at `b`. */
  private def assertSameLayers(t: String, a: Long, b: Long, dirs: Seq[String]): Unit = {
    def at(v: Long) = (
      VersionedLake.dirStats(spark, t, v), VersionedLake.dirNdv(spark, t, v),
      VersionedLake.dirHist(spark, t, v), VersionedLake.dirSums(spark, t, v))
    val (sa, na, ha, ua) = at(a)
    val (sb, nb, hb, ub) = at(b)
    dirs.foreach { d =>
      assert(sa(d) === sb(d), s"#stats of $d")
      assert(sa(d).keySet === Cols.toSet)
      Cols.foreach { c =>
        val (sketchA, nullsA) = na(d)(c)
        val (sketchB, nullsB) = nb(d)(c)
        assert(nullsA === nullsB, s"null count of $d.$c")
        assert(VersionedLake.ndvEstimate(Seq(sketchA)) === VersionedLake.ndvEstimate(Seq(sketchB)),
          s"HLL estimate of $d.$c")
        assert(ha(d).get(c).map(_.toSeq) === hb(d).get(c).map(_.toSeq), s"histogram of $d.$c")
        assert(ua(d).get(c) === ub(d).get(c), s"sum of $d.$c")
      }
      assert(ha(d).keySet === Set("amt", "day", "grp", "k"))
      assert(ua(d).keySet === Set("amt", "grp", "k"))
    }
  }

  test("an appendCommit with stats columns, no bloom and no constraints runs one Spark job") {
    val t = tmp("obs_one_job")
    VersionedLake.appendCommit(batch(0), t, statsCols = Cols)
    val (_, log) = Bench.logged(spark)(VersionedLake.appendCommit(batch(1000), t, statsCols = Cols))
    assert(log.jobs.size === 1, log.jobs.map(_.desc).mkString("; "))
  }

  test("observed #stats and #ndv layers equal what analyzeStats recomputes") {
    val t = tmp("obs_vs_analyze")
    VersionedLake.appendCommit(batch(0), t, statsCols = Cols)
    VersionedLake.appendCommit(batch(1000), t, statsCols = Cols)
    val v = version(t)
    VersionedLake.analyzeStats(spark, t, Cols)
    assert(version(t) === v + 1)
    assertSameLayers(t, v, v + 1, VersionedLake.manifest(spark, t, v))
  }

  test("an empty batch and an all-null column still carry a payload, without blocking") {
    val t = tmp("obs_empty")
    val empty = batch(0).limit(0)
    failAfter(Span(60, Seconds))(VersionedLake.appendCommit(empty, t, statsCols = Cols))
    val d0 = VersionedLake.manifest(spark, t, version(t)).head
    val stats0 = VersionedLake.dirStats(spark, t, version(t))(d0)
    assert(stats0 === Cols.map(_ -> ((None, None))).toMap)
    assert(VersionedLake.dirNdv(spark, t, version(t))(d0).values.map(_._2).toSet === Set(0L))
    val nulls = batch(0).withColumn("tag", lit(null).cast("string"))
    failAfter(Span(60, Seconds))(VersionedLake.appendCommit(nulls, t, statsCols = Cols))
    val d1 = VersionedLake.manifest(spark, t, version(t)).last
    assert(VersionedLake.dirStats(spark, t, version(t))(d1)("tag") === ((None, None)))
    assert(VersionedLake.dirNdv(spark, t, version(t))(d1)("tag")._2 === 1000L)
    assert(VersionedLake.dirStats(spark, t, version(t))(d1)("k") === ((Some("0"), Some("999"))))
  }

  test("an upsert takes a rewritten directory's stats from its write, not from a read-back") {
    val t = tmp("obs_upsert")
    VersionedLake.appendCommit(batch(0), t, statsCols = Cols)
    VersionedLake.appendCommit(batch(1000), t, statsCols = Cols)
    val before = VersionedLake.manifest(spark, t, version(t))
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = qe.analyzed.foreach {
        case r: LogicalRelation => r.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.foreach(p => scanned.add(p.toString))
          case _ =>
        }
        case _ =>
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      VersionedLake.upsert(spark, t,
        batch(0).filter(col("k") < 5).withColumn("tag", lit("upd")), Seq("k"))
      SparkInternals.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val after = VersionedLake.manifest(spark, t, version(t))
    val fresh = after.filterNot(before.contains)
    assert(fresh.size === 2, "one rewritten directory and one appended batch")
    import scala.jdk.CollectionConverters._
    val reads = scanned.asScala.toSeq
    assert(reads.nonEmpty, "the probe and the rewrite scan the old directories")
    fresh.foreach(d => assert(!reads.exists(_.contains(d)), s"$d was read back: $reads"))
    val v = version(t)
    VersionedLake.analyzeStats(spark, t, Cols)
    assertSameLayers(t, v, v + 1, after)
  }

  test("footer schemas equal the inferred schema of every sf table and lake artifact") {
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    try Seq("true", "false").foreach { nanos =>
      spark.conf.set(key, nanos)
      tables.foreach { n =>
        val p = s"$sf/$n.parquet"
        val inferred = scala.util.Try(spark.read.parquet(p).schema)
        val footer = scala.util.Try(Session.footerSchema(spark, p))
        assert(inferred.isSuccess === footer.isSuccess, s"$n, nanosAsLong=$nanos: $inferred $footer")
        inferred.foreach(s => assert(footer.get === s, s"$n, nanosAsLong=$nanos"))
      }
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val t = tmp("obs_artifacts")
    VersionedLake.appendCommit(batch(0), t, statsCols = Cols)
    VersionedLake.upsertMor(spark, t, batch(0).filter(col("k") < 3), Seq("k"))
    VersionedLake.materializeDeletes(spark, t)
    VersionedLake.upsert(spark, t, batch(0).filter(col("k") < 3), Seq("k"))
    val root = new java.io.File(t)
    val artifacts = Seq("deletes", "changes").flatMap { sub =>
      val ds = Option(new java.io.File(root, sub).listFiles()).toSeq.flatten.filter(_.isDirectory)
      assert(ds.nonEmpty, s"no $sub artifact")
      ds.map(_.toString)
    }
    artifacts.foreach(p => assert(Session.footerSchema(spark, p) === spark.read.parquet(p).schema, p))
  }

  test("Session.table starts no Spark job") {
    Seq("region", "orders", "events", "embeddings").foreach { n =>
      val (df, log) = Bench.logged(spark)(Session.table(spark, sf, n))
      assert(log.jobs.isEmpty, s"$n: ${log.jobs.map(_.desc).mkString("; ")}")
      assert(df.schema.nonEmpty)
    }
  }
}
