package graft.etl

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Extraction takes each tag's schema from the driver's StAX scan instead
  * of a per-tag inference job; the tables must not change. "Inference
  * read" below is `readTable` without fields: `format("xml")`, the row
  * tag, `inferSchema=false`, and the same normalization.
  */
class FfiExtractSpec extends SparkSpec {

  private def write(body: String): String = {
    val f = Files.createTempDirectory("ffi_extract").resolve("export.xml")
    Files.writeString(f, body)
    f.toString
  }

  private def assertSameTable(got: DataFrame, want: DataFrame, tag: String): Unit = {
    assert(got.schema === want.schema, tag)
    assert(got.collect().toSeq === want.collect().toSeq, tag)
  }

  /** Every extracted table equals the inference read of its tag. */
  private def assertParity(path: String): Unit = {
    val cat = FfiExtract.extract(spark, path)
    try {
      val tags = FfiExtract.scan(path).map(_.name)
      assert(cat.names === tags.sorted)
      tags.foreach(t => assertSameTable(cat(t), FfiExtract.readTable(spark, path, t), t))
    } finally cat.release()
  }

  test("every fixture tag is flat and extracts exactly like the inference read") {
    val path = write(FfiFixture.Xml)
    assert(FfiExtract.scan(path).forall(_.fields.isDefined))
    assertParity(path)
  }

  test("non-flat tags keep the inference read and its struct, array and attribute columns") {
    val path = write(
      """<?xml version="1.0" encoding="UTF-8"?>
        |<Root>
        |  <Flat><A>1</A><B/></Flat>
        |  <Flat><A>2</A><C>x</C></Flat>
        |  <RowAttr id="7"><A>1</A></RowAttr>
        |  <ChildAttr><A unit="m">1</A></ChildAttr>
        |  <Nested><X><Y>1</Y></X></Nested>
        |  <Repeated><A>1</A><A>2</A></Repeated>
        |  <Mixed>text<A>1</A></Mixed>
        |  <Outer><Inner>z</Inner></Outer>
        |  <Inner><Q>q</Q></Inner>
        |</Root>""".stripMargin)
    assert(FfiExtract.scan(path).map(t => t.name -> t.fields) === Seq(
      "Flat" -> Some(Seq("A", "B", "C")),
      "RowAttr" -> None,
      "ChildAttr" -> None,
      "Nested" -> None,
      "Repeated" -> None,
      "Mixed" -> None,
      "Outer" -> Some(Seq("Inner")),
      "Inner" -> None))
    assertParity(path)
    // what the inference read yields, and a flat schema would not
    val cat = FfiExtract.extract(spark, path)
    try {
      assert(cat("RowAttr").columns.toSeq === Seq("A", "_id", FfiExtract.IngestId))
      assert(cat("ChildAttr").select("A").head().getString(0) === "{1, m}")
      assert(cat("Nested").select("X").head().getString(0) === "{1}")
      assert(cat("Repeated").select("A").head().getString(0) === "[1, 2]")
      assert(cat("Inner").count() === 2) // the nested <Inner> is a row too
    } finally cat.release()
  }

  test("extracting the fixture starts no Spark job") {
    import org.apache.spark.sql.graft.SparkInternals
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val path = write(FfiFixture.Xml)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    SparkInternals.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      FfiExtract.extract(spark, path).release()
      SparkInternals.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get() === 0)
  }
}
