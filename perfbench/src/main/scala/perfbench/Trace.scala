package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory tracer for the traced run: spans around every call the
  * benchmark makes into a layer, plus a SparkListener and a
  * QueryExecutionListener attached from outside the program.
  *
  * Listener events arrive asynchronously, so every span boundary drains the
  * listener bus before reading the counters; a span's engine figures are
  * then exactly the work done between its start and its end (the driver
  * issues one operation at a time).
  */
final class Trace(spark: SparkSession) {

  final case class Span(id: Int, parent: Int, name: String, op: Int,
      startMs: Double, endMs: Double, counters: Map[String, Double])

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Engine counters, summed as events arrive. */
  private object acc {
    @volatile var jobs, stages, singleTaskStages, tasks = 0L
    @volatile var taskMs, gcMs, shuffleB, spillB = 0L
    @volatile var analysisMs, optimizationMs, planningMs = 0L
    @volatile var labelledJobMs = 0L
    val jobStart = scala.collection.concurrent.TrieMap[Int, (Long, Boolean)]()
    val jobIntervals = ArrayBuffer[(Double, Double)]()
    def snapshot: Map[String, Double] = Map(
      "jobs" -> jobs, "stages" -> stages, "single_task_stages" -> singleTaskStages,
      "tasks" -> tasks, "task_s" -> taskMs / 1e3, "gc_s" -> gcMs / 1e3,
      "shuffle_mb" -> shuffleB / 1048576.0, "spill_mb" -> spillB / 1048576.0,
      "analysis_s" -> analysisMs / 1e3, "optimization_s" -> optimizationMs / 1e3,
      "planning_s" -> planningMs / 1e3, "labelled_job_s" -> labelledJobMs / 1e3)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      acc.jobStart.put(e.jobId, (e.time, desc.exists(_.nonEmpty)))
      acc.jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      acc.jobStart.remove(e.jobId).foreach { case (t0, labelled) =>
        acc.jobIntervals.synchronized { acc.jobIntervals += ((t0.toDouble, e.time.toDouble)) }
        if (labelled) acc.labelledJobMs += e.time - t0
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      acc.stages += 1
      if (e.stageInfo.numTasks == 1) acc.singleTaskStages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      acc.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        acc.taskMs += m.executorRunTime
        acc.gcMs += m.jvmGCTime
        acc.shuffleB += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        acc.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      acc.analysisMs += ms("analysis")
      acc.optimizationMs += ms("optimization")
      acc.planningMs += ms("planning")
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def close(): Unit = {
    drain()
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .getOrElse(throw new IllegalStateException("listener bus cannot be drained"))
      .invoke(bus)
  }

  val spans = ArrayBuffer[Span]()
  private var nextId = 0
  private var stack = List(-1)
  private var bookkeepingNs = 0L

  /** Seconds the tracer itself spent at span boundaries (bus drains,
    * counter snapshots): what tracing adds to the traced run.
    */
  def overheadS: Double = bookkeepingNs / 1e9

  /** Time `f` as span `name` of operation `op`, a child of the innermost
    * open span. Counters hold the engine deltas inside the span, plus
    * `job_union_s`: the part of the span covered by at least one job.
    */
  def span[T](name: String, op: Int)(f: => T): T = {
    val b0 = System.nanoTime()
    drain()
    val id = nextId
    nextId += 1
    val parent = stack.head
    stack = id :: stack
    val before = acc.snapshot
    bookkeepingNs += System.nanoTime() - b0
    val t0 = nowMs
    try f
    finally {
      val t1 = nowMs
      val b1 = System.nanoTime()
      drain()
      stack = stack.tail
      val after = acc.snapshot
      val jobs = acc.jobIntervals.synchronized {
        acc.jobIntervals.filter { case (s, e) => e >= t0 && s <= t1 }.toSeq
      }
      val counters = after.map { case (k, v) => k -> (v - before(k)) } +
        ("job_union_s" -> Trace.union(jobs.map { case (s, e) => (s max t0, e min t1) }) / 1e3)
      spans += Span(id, parent, name, op, t0, t1, counters)
      bookkeepingNs += System.nanoTime() - b1
    }
  }

  /** Spans as JSON lines: name, start, end, parent span, operation id. */
  def write(path: java.nio.file.Path): Unit = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else BigDecimal(d).bigDecimal.toPlainString
    val lines = spans.map { s =>
      val c = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":${s.op},""" +
        s""""start_ms":${num(s.startMs)},"end_ms":${num(s.endMs)},${c.mkString(",")}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Trace {
  /** Total length of the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var end = Double.NegativeInfinity
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }
}
