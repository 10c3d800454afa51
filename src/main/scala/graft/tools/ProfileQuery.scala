package graft.tools

import graft.Bench

/** Dev profiler: run named queries in the session Bench times
  * ([[Bench.warmSession]]) and print every Spark job's wall time and call
  * site, the classes Spark generated for the run, then every stage's
  * task-metric rollup, so a multi-job operator
  * (lake DML, iterative graph/k-means loops) shows where its seconds go
  * without the UI. Usage:
  *
  *   tools/run_graft.sh graft.tools.ProfileQuery <sfDir> q_a[,q_b...] [reps]
  */
object ProfileQuery {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = Bench.queryNames(args(1)).toSet
    val reps = if (args.length > 2) args(2).toInt else 1
    val (spark, _) = Bench.warmSession(sfDir)

    // per-query-execution planning phases (analysis/optimization/planning
    // ms from Spark's own QueryPlanningTracker) — the driver-side time the
    // job listener can't see
    val qeLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val ph = qe.tracker.phases.map { case (n, s) =>
          s"$n=${s.endTimeMs - s.startTimeMs}ms"
        }.mkString(" ")
        val node = qe.executedPlan.nodeName
        qeLog.add(f"    qe $funcName%-16s ${durationNs / 1e6}%7.1fms  $ph  [$node]")
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(qeListener)
    def mb(b: Long): Double = b / 1048576.0
    val selected = graft.SparkEntry.all.filter(q => names(q.name))
    selected.foreach { q =>
      for (rep <- 1 to reps) {
        qeLog.clear()
        val (wall, log) = Bench.logged(spark) {
          val t0 = System.nanoTime()
          try q.fn(spark, sfDir).count()
          catch { case e: Throwable => println(s"ERR ${q.name}: $e") }
          (System.nanoTime() - t0) / 1e9
        }
        val js = log.jobs
        val tot = js.map(j => math.max(0L, j.end - j.start)).sum / 1e3
        println(f"==== ${q.name} rep $rep wall=$wall%.2fs jobs=${js.size} jobTime=$tot%.2fs " +
          s"classes=${log.codegenClasses}")
        val first = js.headOption.map(_.start).getOrElse(0L)
        js.foreach { j =>
          val d = if (j.end < 0) -1.0 else (j.end - j.start) / 1e3
          println(f"  [${(j.start - first) / 1e3}%7.2f] job ${j.id}%4d $d%6.2fs  ${j.desc}")
        }
        log.stages.foreach { s =>
          val d = if (s.end < 0) -1.0 else (s.end - s.start) / 1e3
          println(f"    [${(s.start - first) / 1e3}%7.2f] stage ${s.id}%4d " +
            f"$d%6.2fs taskSum=${s.taskMs / 1e3}%6.2fs gc=${s.gcMs / 1e3}%5.2fs " +
            f"shufR=${mb(s.shuffleReadB)}%.1fMB shufW=${mb(s.shuffleWriteB)}%.1fMB " +
            f"spill=${mb(s.spillB)}%.1fMB peak=${mb(s.peakMemB)}%.1fMB n=${s.tasks}%3d  ${s.name}")
        }
        import scala.jdk.CollectionConverters._
        qeLog.asScala.foreach(println)
      }
    }
    spark.stop()
  }
}
