package graft.sources

import graft.SparkSpec
import graft.engine.Session
import org.apache.spark.sql.functions._

/** The lake's partitioned data-directory layout: compaction (one file
  * per partition dir), partition pruning at planning time, and
  * row-group clustering (lexicographic and Z-order).
  */
class LakeSpec extends SparkSpec {

  /** The one data directory of a single-directory version. */
  private def dataDir(dir: String, version: Long): String =
    s"$dir/data/${VersionedLake.manifest(spark, dir, version).head}"

  private lazy val path = {
    val dir = java.nio.file.Files.createTempDirectory("lake").toString
    val ev = Session
      .events(spark, sf)
      .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
      .select("event_id", "user_id", "event_type", "value", "dt")
    dataDir(dir, VersionedLake.commit(ev, dir, parts = Seq("dt"), sortWithin = Seq("user_id")))
  }

  test("one compacted parquet file per partition directory") {
    val dirs = new java.io.File(path)
      .listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("dt="))
    assert(dirs.nonEmpty, "expected dt= partition directories")
    dirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1,
        s"${d.getName}: expected 1 compacted file, found ${files.length}")
    }
  }

  test("partition predicate prunes to one directory's files at planning time") {
    val dts = spark.read.parquet(path).select(col("dt").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    assert(dts.length > 1, "fixture must span multiple partitions")
    val one = spark.read.parquet(path).filter(col("dt") === dts.head)
    one.collect()
    // the scan's numFiles metric counts files actually opened — excluded
    // partitions never are, the property that bounds scan cost by the
    // queried slice at 100 TB.
    val scan = one.queryExecution.executedPlan
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .head
    assert(scan.metrics("numFiles").value === 1L,
      s"expected 1 file opened, saw ${scan.metrics("numFiles").value}")
    val planStr = one.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters: [isnotnull(dt"), planStr.take(500))
  }

  test("round-trips rows and partition values") {
    val back = spark.read.parquet(path)
    val orig = Session.events(spark, sf)
    assert(back.count() === orig.count())
    // dt values reconstructed from directory names match the derivation
    val origDt = orig
      .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd").as("dt"))
    val mismatches = back.select(col("event_id"), col("dt").as("dt_lake"))
      .join(origDt, "event_id")
      .filter(col("dt_lake") =!= col("dt"))
      .count()
    assert(mismatches === 0)
  }

  test("clustering sorts user_id within each partition file") {
    // row-group stats only help if the file really is sorted; read one
    // partition in file order and check monotonic user_id.
    val dts = spark.read.parquet(path).select(col("dt").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    val ids = spark.read
      .parquet(s"$path/dt=${dts.head}")
      .select("user_id")
      .collect()
      .map(_.getLong(0))
    assert(ids.sameElements(ids.sorted), "user_id must be sorted within the file")
  }

  /** Per-row-group (min, max) of an INT column from the REAL parquet
    * footers — the statistics the reader's row-group pruning consults.
    */
  private def rowGroupStats(dir: String, colName: String): Seq[(Int, Int)] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).toSeq
    files.flatMap { f =>
      val rdr = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
      try rdr.getFooter.getBlocks.asScala.toSeq.map { b =>
        val cc = b.getColumns.asScala.find(_.getPath.toDotString == colName).get
        val st = cc.getStatistics
        (st.genericGetMin.asInstanceOf[Number].intValue,
          st.genericGetMax.asInstanceOf[Number].intValue)
      } finally rdr.close()
    }
  }

  test("Z-order clustering makes row-group stats prune on the SECOND column too") {
    val s = spark
    import s.implicits._
    // 10k points uniform over a 100x100 (x, y) grid; 500-row files → ~20
    // row groups. A y-band predicate (5% selectivity) can skip a row
    // group iff the group's y-range misses the band — the decision the
    // parquet reader makes from exactly these footer stats.
    val rnd = new scala.util.Random(5)
    val rows = Seq.fill(10000)((rnd.nextInt(100), rnd.nextInt(100), rnd.nextInt()))
    val df = rows.toDF("x", "y", "payload").withColumn("p", lit("all"))
    def skippable(stats: Seq[(Int, Int)], lo: Int, hi: Int): Double =
      stats.count { case (mn, mx) => mx < lo || mn > hi }.toDouble / stats.size
    def bandAvg(stats: Seq[(Int, Int)]): Double = {
      // average skippable fraction over every 5-wide y band — selectivity
      // evidence independent of any single band's luck
      val bands = (0 until 95 by 5).map(v => skippable(stats, v, v + 4))
      bands.sum / bands.size
    }

    val lexTable = java.nio.file.Files.createTempDirectory("lake_lex").toString
    val lexDir = dataDir(lexTable, VersionedLake.commit(df, lexTable, Seq("p"),
      maxRecordsPerFile = 500L, sortWithin = Seq("x", "y")))
    val zTable = java.nio.file.Files.createTempDirectory("lake_z").toString
    VersionedLake.commit(df, zTable, Seq("p"))
    val zDir = dataDir(zTable, VersionedLake.optimize(spark, zTable, Seq("p"),
      maxRecordsPerFile = 500L, zorderBy = Seq("x", "y")))

    val lexY = rowGroupStats(s"$lexDir/p=all", "y")
    val zY = rowGroupStats(s"$zDir/p=all", "y")
    assert(zY.size >= 10, s"want many row groups, got ${zY.size}")
    val (lexFrac, zFrac) = (bandAvg(lexY), bandAvg(zY))
    info(f"avg skippable row-group fraction for 5%%-selective y bands: " +
      f"lex=$lexFrac%.2f zorder=$zFrac%.2f x-under-zorder=${bandAvg(rowGroupStats(s"$zDir/p=all", "x"))}%.2f")
    // lexicographic (x, y): x dominates the sort, each group's y-range
    // spans ~everything → nothing skips. Z-order: every group covers a
    // narrow y-window → most bands skip most groups.
    assert(lexFrac <= 0.10, s"lex clusterBy unexpectedly prunes y: $lexFrac")
    assert(zFrac >= 0.40, s"zorder must prune y bands, got $zFrac")
    // and the leading column keeps (most of) its own pruning power
    val zX = rowGroupStats(s"$zDir/p=all", "x")
    assert(bandAvg(zX) >= 0.40, s"zorder must still prune x bands, got ${bandAvg(zX)}")

    // correctness: identical row multiset back from both layouts
    val a = s.read.parquet(lexDir).select("x", "y", "payload").collect().toSeq.groupBy(identity)
    val b = s.read.parquet(zDir).select("x", "y", "payload").collect().toSeq.groupBy(identity)
    assert(a.view.mapValues(_.size).toMap === b.view.mapValues(_.size).toMap)
  }

  test("zorderBy rank-buckets skewed columns (quantile, not min/max scaling)") {
    val s = spark
    import s.implicits._
    // 99% of x mass in [0, 10), 1% outliers at 1e9: linear min/max
    // scaling would put ALL mass in bucket 0 and the z-key would carry no
    // x information; quantile bucketing must still spread x.
    val rnd = new scala.util.Random(23)
    val rows = Seq.fill(8000)(
      (if (rnd.nextInt(100) == 0) 1000000000 else rnd.nextInt(10), rnd.nextInt(100)))
    val df = rows.toDF("x", "y")
    val keyed = Lake.withZorderKey(df, Seq("x", "y"))
    // x=0..9 must land in MANY distinct buckets → many distinct z-keys
    // among rows with identical y
    val perY = keyed.filter(col("y") === 50)
      .select("_graft_zkey").distinct().count()
    assert(perY >= 5, s"quantile bucketing must spread the skewed column, got $perY keys")
  }
}
