package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.DriverManager

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.etl._
import graft.sinks.{JdbcConstraints, MergeJdbc}
import org.apache.spark.sql.SparkSession

/** Benchmark driver JVM: set-up rounds, then the timed run of one workload
  * (untraced, or traced with `--trace 1`), written as one JSON record.
  * `perfbench/run.py` builds the inputs, launches this, checks outputs and
  * reports the metrics.
  *
  * Args: --workload ffi_backlog|query_mix --seed N --seconds S --trace 0|1
  *   --cores C --work DIR --out FILE [--inject-failure]
  *   ffi_backlog: --plots LOADED,NEXT (plots already loaded, plots in the export)
  *   query_mix: --data DIR --ops q1,q2,...
  */
object Main {

  final case class OpResult(pass: Int, name: String, secs: Double, ok: Boolean,
      rows: Long, error: String, extra: Map[String, Double] = Map.empty)

  private def now: Double = System.nanoTime() / 1e9

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap ++
      (if (argv.contains("--inject-failure")) Map("inject-failure" -> "1") else Map.empty)
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    val inject = a.contains("inject-failure")
    Files.createDirectories(work)

    val w: Workload = workload match {
      case "ffi_backlog" =>
        val Array(loaded, next) = a("plots").split(",").map(_.toInt)
        new FfiWorkload(work, a("seed").toLong, loaded, next, inject)
      case "query_mix" =>
        new QueryWorkload(Paths.get(a("data")).toAbsolutePath, work, a("ops").split(",").toSeq, inject)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up, three times: session start, a warm-up job, inputs. A failure here
    // aborts the run (the caller then prints no result).
    var spark: SparkSession = null
    val setupSecs = (0 until 3).map { r =>
      val t0 = now
      if (spark != null) spark.stop()
      spark = graft.engine.Session.builder(s"local[$cores]", cores)
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      spark.range(1 << 20).selectExpr("sum(id)", "count(distinct id % 100)").collect()
      w.setUp(spark, r)
      val secs = now - t0
      println(f"perfbench: set-up round $r $secs%.2f s")
      secs
    }

    // Files the timed run writes under the temp root, where every lake
    // table lives (scanned outside the timed region).
    val tmpRoot = Paths.get(System.getProperty("java.io.tmpdir"))
    val fsBefore = FsDelta.scan(tmpRoot)
    val tracer = if (traced) Some(new Trace(spark)) else None
    val result = timedRun(spark, w, seconds, tracer)
    val (files, bytes) = FsDelta.written(fsBefore, FsDelta.scan(tmpRoot))
    val layerJson = tracer.fold("") { tr =>
      tr.close()
      tr.write(work.resolve(s"spans_${workload}_${a("seed")}.jsonl"))
      val n = math.max(1, result._2.size).toDouble
      val m = layers(tr, result._2) ++ Map(
        "sources.files_written" -> files / n, "sources.mb_written" -> bytes / 1048576.0 / n)
      s""""layers":${obj(m)},"""
    }
    val extraJson = w.extraJson(spark)
    spark.stop()

    val peakRssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

    def run(r: (Seq[Double], Seq[OpResult])) = {
      val ops = r._2.map { o =>
        s"""{"pass":${o.pass},"name":${str(o.name)},"s":${num(o.secs)},"ok":${o.ok},""" +
          s""""rows":${o.rows},"error":${str(o.error)},"extra":${obj(o.extra)}}"""
      }
      s"""{"passes":[${r._1.map(num).mkString(",")}],"ops":[${ops.mkString(",")}]}"""
    }
    val json =
      s"""{"workload":${str(workload)},"cores":$cores,""" +
        s""""setup_s":[${setupSecs.map(num).mkString(",")}],""" +
        s""""peak_rss_mb":${num(peakRssMb)},"run":${run(result)},""" +
        layerJson + s""""extra":$extraJson}"""
    Files.write(Paths.get(a("out")), json.getBytes("UTF-8"))
  }

  private def num(d: Double) = BigDecimal(d).bigDecimal.toPlainString
  private def str(s: String) = "\"" + Option(s).getOrElse("").flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => " "; case c => c.toString
  } + "\""
  private def obj(m: Map[String, Double]) =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")

  /** Closed loop, one client: whole passes over the workload's operations
    * until `seconds` have elapsed (at least one pass).
    */
  private def timedRun(spark: SparkSession, w: Workload, seconds: Double,
      trace: Option[Trace]): (Seq[Double], Seq[OpResult]) = {
    val passes = ArrayBuffer[Double]()
    val ops = ArrayBuffer[OpResult]()
    val deadline = now + seconds
    while (passes.isEmpty || now < deadline) {
      val p = passes.size
      passes += w.pass(spark, p, trace, { o =>
        println(f"perfbench: pass $p ${o.name} ${o.secs}%.3f s ok=${o.ok} ${o.error.take(300)}")
        ops += o
      })
    }
    (passes.toSeq, ops.toSeq)
  }

  /** Per-layer figures from the traced run's spans, each a mean per
    * operation (ffi_backlog: per export; query_mix: per query).
    */
  private def layers(tr: Trace, ops: Seq[OpResult]): Map[String, Double] = {
    val opSpans = tr.spans.filter(_.name == "op")
    val n = math.max(1, opSpans.size).toDouble
    def dur(s: tr.Span) = (s.endMs - s.startMs) / 1e3
    def secs(name: String) = tr.spans.filter(_.name == name).map(dur).sum / n
    def count(name: String, c: String) =
      tr.spans.filter(_.name == name).map(_.counters(c)).sum / n
    def engine(c: String) = opSpans.map(_.counters(c)).sum / n
    val stages = opSpans.map(_.counters("stages")).sum
    val inserted = ops.map(_.extra.getOrElse("inserted", 0.0)).sum
    val staged = ops.map(_.extra.getOrElse("staged", 0.0)).sum
    Map(
      "etl.extract_s" -> secs("etl.extract"),
      "etl.extract_jobs" -> count("etl.extract", "jobs"),
      "etl.idents_s" -> secs("etl.idents"),
      "etl.transform_s" -> secs("etl.transform"),
      "etl.transform_jobs" -> count("etl.transform", "jobs"),
      "etl.project_s" -> secs("etl.project"),
      "etl.archive_s" -> secs("etl.archive"),
      "sinks.reflect_s" -> secs("sinks.reflect"),
      "sinks.load_s" -> secs("sinks.load"),
      "sinks.load_jobs" -> count("sinks.load", "jobs"),
      "sinks.rows_inserted" -> inserted / n,
      "sinks.insert_ratio" -> (if (staged > 0) inserted / staged else 0.0),
      "queries.build_s" -> secs("queries.build"),
      "queries.execute_s" -> secs("queries.execute"),
      "engine.analysis_s" -> engine("analysis_s"),
      "engine.optimization_s" -> engine("optimization_s"),
      "engine.planning_s" -> engine("planning_s"),
      "engine.jobs" -> engine("jobs"),
      "engine.stages" -> engine("stages"),
      "engine.tasks" -> engine("tasks"),
      "engine.driver_gap_s" -> opSpans.map(s => dur(s) - s.counters("job_union_s")).sum / n,
      "engine.task_s" -> engine("task_s"),
      "engine.gc_s" -> engine("gc_s"),
      "engine.shuffle_mb" -> engine("shuffle_mb"),
      "engine.spill_mb" -> engine("spill_mb"),
      "engine.single_task_stage_share" ->
        (if (stages > 0) opSpans.map(_.counters("single_task_stages")).sum / stages else 0.0),
      "sources.labelled_job_s" -> engine("labelled_job_s"),
      "trace.span_gap_s" -> opSpans.map { o =>
        dur(o) - tr.spans.filter(_.parent == o.id).map(dur).sum
      }.sum / n,
      "trace.overhead_s" -> tr.overheadS / n)
  }

  /** Files created or rewritten under a directory between two scans. */
  private object FsDelta {
    def scan(root: Path): Map[Path, (Long, Long)] =
      if (!Files.exists(root)) Map.empty
      else {
        val s = Files.walk(root)
        try s.iterator().asScala.filter(Files.isRegularFile(_))
          .flatMap(p => scala.util.Try(p -> ((Files.size(p), Files.getLastModifiedTime(p).toMillis))).toOption)
          .toMap
        finally s.close()
      }
    def written(before: Map[Path, (Long, Long)], after: Map[Path, (Long, Long)]): (Long, Long) = {
      val fresh = after.filter { case (p, v) => !before.get(p).contains(v) }
      (fresh.size.toLong, fresh.values.map(_._1).sum)
    }
  }

  // ------------------------------------------------------------ workloads

  trait Workload {
    def setUp(spark: SparkSession, round: Int): Unit
    /** Run one pass; report every operation; return the pass wall time. */
    def pass(spark: SparkSession, p: Int, trace: Option[Trace], report: OpResult => Unit): Double
    def extraJson(spark: SparkSession): String
  }

  /** Query name → DuckDB oracle SQL, as a JSON object. */
  private def oracleJson(oracle: Map[String, String]): String =
    oracle.toSeq.sorted.map { case (n, sql) => s"${str(n)}:${str(sql)}" }.mkString("{", ",", "}")

  private def spanned[T](trace: Option[Trace], name: String, op: Int)(f: => T): T =
    trace.fold(f)(_.span(name, op)(f))

  private def firstLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")}"

  /** One FFI database mid-backlog: a fresh Derby schema already holding
    * the keys of the first `loaded` plots, then the next cumulative export
    * (`next` plots) through the pipeline: the paper's batch job, with most
    * keys re-presented (MERGE's matched path) and the rest new.
    */
  final class FfiWorkload(work: Path, seed: Long, loaded: Int, next: Int, inject: Boolean)
      extends Workload {
    private var snapshot: FfiBacklog.Snapshot = _
    private var readyDb: Option[String] = None
    private var dbCount = 0

    /** Fresh schema with the target DDL and the already-loaded keys. */
    private def freshDb(): String = {
      dbCount += 1
      val url = s"jdbc:derby:memory:perfbench$dbCount;create=true"
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        FfiBacklog.ddl.foreach(st.execute)
        FfiBacklog.seedKeys(c, seed, loaded)
      } finally c.close()
      url
    }
    private def dropDb(url: String): Unit =
      try DriverManager.getConnection(url.replace(";create=true", ";drop=true")).close()
      catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception

    /** The export, and the schema the first pass loads into. */
    def setUp(spark: SparkSession, round: Int): Unit = {
      snapshot = FfiBacklog.generate(work.resolve(s"ffi/r$round"), seed, next)
      readyDb.foreach(dropDb)
      readyDb = Some(freshDb())
    }

    private def reflect(url: String): JdbcConstraints = {
      val c = DriverManager.getConnection(url)
      try JdbcConstraints.reflect(c) finally c.close()
    }

    /** Check every target table against the generator's cumulative count. */
    private def check(tables: Seq[MergeJdbc.TableResult]): String = {
      val byName = tables.map(t => t.table -> t).toMap
      val errs = tables.filter(_.failed).map(t => s"${t.table}: ${t.error.get.take(200)}") ++
        snapshot.expected.toSeq.sorted.collect {
          case (t, n) if !byName.get(t).exists(_.rowsAfter == n) =>
            s"$t rows ${byName.get(t).map(_.rowsAfter.toString).getOrElse("missing")} != $n"
        }
      errs.mkString("; ")
    }

    def pass(spark: SparkSession, p: Int, trace: Option[Trace], report: OpResult => Unit): Double = {
      val dir = work.resolve(s"ffi/pass${if (trace.isDefined) "t" else "u"}$p")
      Files.createDirectories(dir)
      val file = Files.copy(snapshot.file, dir.resolve(snapshot.file.getFileName),
        StandardCopyOption.REPLACE_EXISTING)
      val url = readyDb.getOrElse(freshDb())
      readyDb = None
      val mapping = FfiBacklog.mapping
      val t0 = now
      val cons = spanned(trace, "sinks.reflect", -1)(reflect(url))
      val jobs = Seq(Some(file)) ++ (if (inject) Seq(None) else Nil)
      jobs.zipWithIndex.foreach { case (job, i) =>
        val s0 = now
        val outcome = scala.util.Try(spanned(trace, "op", i) {
          val f = job.getOrElse(throw new IllegalStateException("injected failure"))
          trace match {
            case None =>
              FfiPipeline.runFile(spark, f, mapping, cons, url, MergeJdbc.Derby).tables
            case Some(_) =>
              // the calls runFile makes, one span each
              val cat0 = spanned(trace, "etl.extract", i)(FfiExtract.extract(spark, f.toString))
              val cat1 = spanned(trace, "etl.idents", i)(FfiIdents(cat0))
              val cat2 = spanned(trace, "etl.transform", i)(FfiTransform(cat1))
              val frames = spanned(trace, "etl.project", i) {
                val reflected = cons.primaryKeys.keys.toSeq
                (for {
                  (ffiTable, outTable) <- mapping.tableMap.toSeq
                  if !FfiCatalog.Excluded(ffiTable)
                  df <- cat2.get(ffiTable)
                  sinkName <- reflected.find(_.equalsIgnoreCase(outTable))
                } yield sinkName -> mapping.project(outTable, df)).toMap
              }
              val res = spanned(trace, "sinks.load", i)(
                MergeJdbc.loadAll(frames, cons, url, MergeJdbc.Derby))
              spanned(trace, "etl.archive", i)(
                Archive.archiveIfClean(f, res.filter(_.failed).map(_.table)))
              res
          }
        })
        val secs = now - s0
        val name = job.fold("injected_failure")(_.getFileName.toString)
        outcome match {
          case scala.util.Success(tables) =>
            val err = check(tables)
            report(OpResult(p, name, secs, err.isEmpty, tables.map(_.rowsAfter).sum, err,
              Map("bytes" -> snapshot.bytes.toDouble, "staged" -> snapshot.staged.toDouble,
                "inserted" -> tables.map(_.inserted).sum.toDouble)))
          case scala.util.Failure(e) =>
            report(OpResult(p, name, secs, ok = false, 0, firstLine(e)))
        }
      }
      val wall = now - t0
      dropDb(url)
      wall
    }

    def extraJson(spark: SparkSession): String =
      s"""{"export_bytes":${snapshot.bytes},"staged":${snapshot.staged},""" +
        s""""export_sha256":"${FfiBacklog.sha256(snapshot.file)}"}"""
  }

  /** A seeded sample of declared queries, each run as `fn(...).count()`. */
  final class QueryWorkload(data: Path, work: Path, names: Seq[String], inject: Boolean)
      extends Workload {
    private val defs = {
      val all = graft.SparkEntry.all.map(q => q.name -> q).toMap
      names.map(n => all.getOrElse(n, throw new IllegalArgumentException(s"unknown query $n")))
    }
    private val dir = data.toString

    /** Nothing beyond the session warm-up: queries build their own lake and
      * index fixtures on first use, as they do in a cold batch run.
      */
    def setUp(spark: SparkSession, round: Int): Unit = ()

    def pass(spark: SparkSession, p: Int, trace: Option[Trace], report: OpResult => Unit): Double = {
      val t0 = now
      val ops = defs.map(d => d.name -> d.fn) ++
        (if (inject) Seq("injected_failure" -> ((_: SparkSession, _: String) =>
          throw new IllegalStateException("injected failure"))) else Nil)
      ops.zipWithIndex.foreach { case ((name, fn), i) =>
        val s0 = now
        val outcome = scala.util.Try(spanned(trace, "op", i) {
          val df = spanned(trace, "queries.build", i)(fn(spark, dir))
          spanned(trace, "queries.execute", i)(df.count())
        })
        val secs = now - s0
        report(outcome.fold(e => OpResult(p, name, secs, ok = false, 0, firstLine(e)),
          rows => OpResult(p, name, secs, ok = true, rows, "")))
      }
      now - t0
    }

    def extraJson(spark: SparkSession): String = {
      val oracle = graft.SparkEntry.oracleSql
      s"""{"oracle":${oracleJson(names.flatMap(n => oracle.get(n).map(n -> _)).toMap)}}"""
    }
  }
}
