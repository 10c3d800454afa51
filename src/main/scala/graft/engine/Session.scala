package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SparkSession factory + table access for the graft engine.
  *
  * Settings are chosen for the driver harness (local[32], 128 GiB) but the
  * same knobs are what a 1000-executor cluster run would set:
  *   - AQE on (runtime coalesce, skew-join split, broadcast demotion),
  *   - shuffle partitions sized to cores locally (a cluster deployment
  *     overrides via --conf; AQE coalesces down from there),
  *   - UTC session time zone so results are stable across environments
  *     (and match the DuckDB oracle).
  */
object Session {

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(s"local[$cores]", cores).getOrCreate()

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // local[32]/128 GiB: mid-size fact tables (orders at sf0.1 ≈ 15 MB)
      // should broadcast rather than sort-merge; a cluster deployment
      // re-tunes this per executor memory. AQE demotes oversized builds.
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      // storage-partitioned joins. The two v2.bucketing confs are inert
      // unless a lake table declares `spj.enabled` (only such scans
      // report KeyGroupedPartitioning); pushPartValues lets one-sided
      // partition-value gaps fill with empty partitions instead of
      // falling back to a shuffle.
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      // NOT SPJ-scoped: this relaxes the co-partition check for EVERY
      // join — two sides already partitioned on a subset of the join
      // keys (SPJ's band + row-key shape, or a reused hash exchange)
      // count as co-partitioned instead of reshuffling. That is the
      // pre-Spark-3.3 default; the skew risk the strict default guards
      // against is handled by AQE's skew-join split, and the full query
      // suite is oracle-checked under it.
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); without this Spark refuses
      // the file outright. With it, `ts` reads as LongType epoch-nanos.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** The schema `spark.read.parquet(path)` would infer, read on the
    * driver from the footer of the path's first data file (in path order)
    * with Spark's own converter under the session's parquet settings
    * (`nanosAsLong`, binary-as-string, INT96, NTZ inference). Inference
    * through the reader runs a Spark job per read; this runs none. No
    * cache: a rewritten file is always read afresh.
    */
  def footerSchema(spark: SparkSession, path: String): org.apache.spark.sql.types.StructType = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val it = root.getFileSystem(conf).listFiles(root, true)
    var first: Option[Path] = None
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (st.isFile && !name.startsWith("_") && !name.startsWith(".") &&
        first.forall(f => st.getPath.toString < f.toString)) first = Some(st.getPath)
    }
    val file = first.getOrElse(
      throw new IllegalArgumentException(s"no parquet data file under $path"))
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(conf, file,
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    org.apache.spark.sql.graft.SparkInternals.asNullable(ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
  }

  /** Read one of the driver-provided test tables from a scale-factor dir.
    * The schema comes from the file's footer ([[footerSchema]]), so
    * building the frame starts no Spark job.
    * Sets the nanos-as-long escape hatch on the live session too, so it
    * works under the driver's own SparkSession (Verify/Bench mains may be
    * launched with a builder we don't control).
    *
    * `events.ts` is normalized to epoch-NANO longs regardless of how the
    * driver generated the file: older fixtures carry parquet
    * TIMESTAMP(NANOS) (read as LongType via `nanosAsLong`), newer ones
    * plain TIMESTAMP(MICROS) (read as timestamp, converted here with
    * integer arithmetic — `unix_micros * 1000`, never FP). Every event
    * query and its DuckDB oracle (`epoch_us(ts)` works identically on
    * TIMESTAMP_NS and TIMESTAMP) builds on that one contract.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // NTZ normalization below reads the wall-clock in the SESSION time
      // zone; a driver-built session may not be UTC, which would shift
      // every ts by the zone offset relative to the DuckDB oracle's naive
      // epoch_us semantics — re-pin it here like nanosAsLong above.
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      val raw = readParquet(spark, s"$sfDir/$name.parquet")
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      raw.schema("ts").dataType match {
        case LongType => raw
        case _: TimestampNTZType | _: TimestampType =>
          // NTZ wall-clock == UTC instant under the UTC session time zone,
          // matching DuckDB's naive-timestamp epoch_us semantics.
          raw.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
        case other =>
          throw new IllegalStateException(s"unexpected events.ts type: $other")
      }
    } else readParquet(spark, s"$sfDir/$name.parquet")
  }

  /** `spark.read.parquet(path)` with the schema from [[footerSchema]]:
    * the same frame, and no Spark job to build it.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(footerSchema(spark, path)).parquet(path)

  /** events with `ts` as a proper TimestampType (micros, truncated from ns)
    * and `ts_ns` preserving full nano precision for ordering.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    table(spark, sfDir, "events")
      .withColumnRenamed("ts", "ts_ns")
      // integer `div`, not `/1000.0`: epoch-nanos (~1.7e18) overflow double
      // precision, so the FP path can truncate to a microsecond off by one.
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
  }
}
