package graft.tools

import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.Bench

/** Dev tool: write `explain("formatted")` for named queries to
  * `<outDir>/<query>_<suffix>.txt` (the plan evidence files the round
  * docs reference), in the session Bench times ([[Bench.warmSession]]),
  * so lake/index-backed queries resolve. For queries whose fn executes
  * DML before returning a readback frame, the dump is the readback plan;
  * the write-path evidence for those lives in the ProfileQuery job logs.
  *
  *   tools/run_graft.sh graft.tools.ExplainDump <sfDir> <outDir> <suffix> q_a[,q_b...]
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = Paths.get(args(1))
    val suffix = args(2)
    Files.createDirectories(outDir)
    val spark = Bench.warmSession(sfDir)
    val byName = graft.SparkEntry.all.map(q => q.name -> q).toMap
    Bench.queryNames(args(3)).foreach { n =>
      byName.get(n) match {
        case None => println(s"SKIP unknown query: $n")
        case Some(q) =>
          try {
            val df = q.fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.write(outDir.resolve(s"${n}_$suffix.txt"),
              txt.getBytes("UTF-8"),
              StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
            println(s"WROTE ${n}_$suffix.txt (${txt.length} chars)")
          } catch { case e: Throwable => println(s"ERR $n: $e") }
      }
    }
    spark.stop()
  }
}
