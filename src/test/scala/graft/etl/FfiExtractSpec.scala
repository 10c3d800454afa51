package graft.etl

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Extraction builds every table from the rows of its one StAX pass; the
  * tables must equal what Spark's XML source reads. The reference read
  * below is that source: `format("xml")`, the row tag, the scanned child
  * names as an all-string schema, and the same normalization.
  */
class FfiExtractSpec extends SparkSpec {

  private def write(body: String): String = {
    val f = Files.createTempDirectory("ffi_extract").resolve("export.xml")
    Files.writeString(f, body)
    f.toString
  }

  /** One tag through the XML source (a small file reads as one partition,
    * so the ingest id is the file order there too).
    */
  private def xmlSourceRead(path: String, tag: FfiExtract.Tag): DataFrame = {
    val raw = spark.read.format("xml").option("rowTag", tag.name)
      .schema(StructType(tag.columns.map(StructField(_, StringType))))
      .load(path)
    FfiExtract.applyColumnRules(raw)
      .withColumn(FfiExtract.IngestId, monotonically_increasing_id())
  }

  /** Every extracted table equals the XML-source read of its tag. */
  private def assertParity(path: String): Unit = {
    val cat = FfiExtract.extract(spark, path)
    val tags = FfiExtract.scan(path)
    assert(cat.names === tags.map(_.name).sorted)
    tags.foreach { t =>
      val (got, want) = (cat(t.name), xmlSourceRead(path, t))
      assert(got.schema === want.schema, t.name)
      assert(got.collect().toSeq === want.collect().toSeq, t.name)
    }
  }

  test("every fixture table equals the XML-source read") {
    assertParity(write(FfiFixture.Xml))
  }

  test("edge values extract exactly like the XML-source read") {
    val path = write(
      """<?xml version="1.0" encoding="UTF-8"?>
        |<Root>
        |  <Edge>
        |    <A></A>
        |    <B>   </B>
        |    <C>a &amp; b &lt;c&gt; &#233;</C>
        |    <D><![CDATA[x < y & z]]></D>
        |    <E>nan</E>
        |    <Edge_Date>2021-06-07T08:00:00.1234567+02:00</Edge_Date>
        |    <edge_GUID>ab-cd</edge_GUID>
        |  </Edge>
        |  <Edge><A>  1  </A><F>only here</F></Edge>
        |  <Edge/>
        |</Root>""".stripMargin)
    assertParity(path)
    val rows = FfiExtract.extract(spark, path)("Edge").collect()
    val first = rows.head.getValuesMap[Any](rows.head.schema.fieldNames.toSeq)
    assert(first === Map(
      "A" -> "", "B" -> "", "C" -> "a & b <c> é", "D" -> "x < y & z", "E" -> "nan",
      "Edge_Date" -> "2021-06-07T06:00:00.123", "F" -> null, "edge_GUID" -> "AB-CD",
      FfiExtract.IngestId -> 0L))
    assert(rows.map(_.getAs[Long](FfiExtract.IngestId)).toSeq === Seq(0L, 1L, 2L))
  }

  test("non-flat rows follow the element-text rule") {
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
    assert(FfiExtract.scan(path).map(t => t.name -> t.rows) === Seq(
      "Flat" -> Seq(Map("A" -> "1", "B" -> ""), Map("A" -> "2", "C" -> "x")),
      "RowAttr" -> Seq(Map("A" -> "1")),
      "ChildAttr" -> Seq(Map("A" -> "1")),
      "Nested" -> Seq(Map("X" -> "")),
      "Repeated" -> Seq(Map("A" -> "2")),
      "Mixed" -> Seq(Map("A" -> "1")),
      "Outer" -> Seq(Map("Inner" -> "z")),
      "Inner" -> Seq(Map("Q" -> "q"))))
    val cat = FfiExtract.extract(spark, path)
    def table(t: String) = cat(t).collect().map(_.toSeq).toSeq
    assert(cat("Flat").columns.toSeq === Seq("A", "B", "C", FfiExtract.IngestId))
    assert(table("Flat") === Seq(Seq("1", "", null, 0L), Seq("2", null, "x", 1L)))
    assert(cat("RowAttr").columns.toSeq === Seq("A", FfiExtract.IngestId))
    assert(table("Nested") === Seq(Seq("", 0L))) // <Y> adds nothing to <X>
    assert(table("Repeated") === Seq(Seq("2", 0L)))
    assert(table("Inner") === Seq(Seq("q", 0L))) // only depth-1 elements are rows
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
      FfiExtract.extract(spark, path)
      SparkInternals.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get() === 0)
  }

  test("extracting the fixture caches nothing") {
    import org.apache.spark.sql.graft.CacheEntries
    val path = write(FfiFixture.Xml)
    val before = CacheEntries(spark)
    val cat = FfiExtract.extract(spark, path)
    cat.names.foreach(cat(_).count())
    assert(CacheEntries(spark) === before)
  }
}
