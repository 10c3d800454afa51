package graft

import java.nio.file.Files

/** The measuring harness Bench and the dev tools share: the job log of
  * one window, one query's timing or failure, and the warm-up's report of
  * the steps it skipped.
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

  test("a logged window counts the classes its plans compile") {
    // a long literal is inlined into the generated code, so this plan's
    // whole-stage class is new to the JVM's codegen cache
    val (_, log) = Bench.logged(spark)(
      spark.range(4).selectExpr(s"id + ${System.nanoTime()}L").collect())
    assert(log.codegenClasses >= 1)
    assert(log.totals.codegenClasses === log.codegenClasses)
  }

  test("a throwing query body yields a failed entry, not a time") {
    val thrown = QueryDef("q_throws", (_, _) => throw new IllegalStateException("no plan\nsecond line"))
    assert(Bench.timeQuery(spark, thrown, sf) === Left("java.lang.IllegalStateException: no plan"))
    // fails while its job runs, not while its plan is built
    val failing = QueryDef("q_fails", (s, _) => s.range(3).toDF().where("assert_true(id < 0) IS NULL"))
    val err = Bench.timeQuery(spark, failing, sf)
    assert(err.left.exists(e => e.contains("is not true") && !e.contains('\n')), err)
    val passing = QueryDef("q_passes", (s, _) => s.range(3).toDF())
    assert(Bench.timeQuery(spark, passing, sf).exists(_ >= 0.0))
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

  test("the detail record lists a failed warm-up step with its first error line") {
    val missing = Files.createTempDirectory("harness").resolve("sf_missing").toString
    val failed = Bench.warmUp(spark, missing)
    assert(failed.nonEmpty)
    import org.json4s._
    val json = org.json4s.jackson.JsonMethods.parse(
      Bench.detailJson(missing, Seq(1.5), Nil, Nil, failed))
    val listed = (json \ "warmup_failed").children.map(e =>
      (e \ "step").values.toString -> (e \ "error").values.toString)
    assert(listed === failed)
    assert(listed.forall { case (_, err) => err.nonEmpty && !err.contains('\n') })
    val clean = org.json4s.jackson.JsonMethods.parse(Bench.detailJson(missing, Seq(1.5), Nil, Nil, Nil))
    assert((clean \ "warmup_failed") === JArray(Nil))
  }

  test("a detail row carries its median pass's Spark jobs and stages") {
    val (_, log) = Bench.logged(spark)(spark.range(0, 1000, 1, 4).repartition(3).count())
    assert(log.totals.jobs === log.jobs.size && log.totals.stages === log.stages.size)
    import org.json4s._
    val json = org.json4s.jackson.JsonMethods.parse(
      Bench.detailJson("sf0.1", Seq(0.5), Seq(("q_x", 0.5, log.totals)), Nil, Nil))
    val row = (json \ "queries").children.head
    assert((row \ "jobs") === JInt(log.jobs.size) && (row \ "stages") === JInt(log.stages.size))
    assert(log.stages.size >= 2)
  }
}
