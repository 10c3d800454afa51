package graft

import java.nio.file.Files

/** The measuring harness Bench and the dev tools share: the job log of
  * one window and the warm-up's report of the steps it skipped.
  */
class HarnessSpec extends SparkSpec {

  test("a logged window sees one shuffle job's stages, tasks and shuffle bytes") {
    val (n, log) = Bench.logged(spark)(spark.range(0, 1000, 1, 4).repartition(3).count())
    assert(n === 1000L)
    assert(log.jobs.size >= 1)
    assert(log.stages.size >= 2)
    // 4 range tasks write the repartition shuffle, 3 tasks count its
    // partitions, 1 task sums the counts
    assert(log.stages.map(_.tasks).sum === 8)
    assert(log.totals.shuffleWriteB > 0)
    val (_, empty) = Bench.logged(spark)(())
    assert(empty.jobs.isEmpty && empty.stages.isEmpty)
    assert(empty.totals === Bench.Totals(0, 0, 0, 0, 0))
  }

  test("warm-up against a missing scale-factor directory names its failed steps") {
    val missing = Files.createTempDirectory("harness").resolve("sf_missing").toString
    val failed = Bench.warmUp(spark, missing).toMap
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    assert(failed.keySet === (tables.map(t => s"table $t") ++ Seq("broadcast join",
      "ensureBucketedFacts", "ensureLakeFixtures", "ensureAnnIndexes", "ensureInvertedIndex")).toSet)
    assert(failed.values.forall(e => e.nonEmpty && !e.contains('\n')))
  }
}
