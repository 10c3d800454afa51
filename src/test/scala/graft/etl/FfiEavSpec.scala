package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit tests for EAV machinery paths the golden fixture doesn't reach:
  * multi-unit-system split naming, the per-family pivot uniqueness guard,
  * and missing-column backfill.
  */
class FfiEavSpec extends SparkSpec {

  private lazy val s = spark

  test("unitSplit: two systems -> per-system tables with _Metric_ infix") {
    import s.implicits._
    val df = Seq(("e1", "English", "10"), ("e2", "Metric", "25"))
      .toDF("EventID", "Method_UnitSystem", "Val")
    val out = FfiEav.unitSplit(
      df, Seq("English", "Metric"), "Trees_Individuals", "Attribute",
      dropUnitColOnSplit = false).toMap
    assert(out.keySet === Set(
      "Trees_Individuals_Attribute", "Trees_Individuals_Metric_Attribute"))
    assert(out("Trees_Individuals_Metric_Attribute").select("Val").head().getString(0) === "25")
    // attribute path keeps the unit column on split tables (reference quirk)
    assert(out("Trees_Individuals_Attribute").columns.contains("Method_UnitSystem"))
  }

  test("unitSplit: single system -> one table, unit column dropped") {
    import s.implicits._
    val df = Seq(("e1", "English", "10")).toDF("EventID", "Method_UnitSystem", "Val")
    val out = FfiEav.unitSplit(df, Seq("English"), "X", "Sample", dropUnitColOnSplit = true).toMap
    assert(out.keySet === Set("X_Sample"))
    assert(!out("X_Sample").columns.contains("Method_UnitSystem"))
  }

  test("backfill adds only missing columns as null strings") {
    import s.implicits._
    val df = Seq(("a", "b")).toDF("x", "y")
    val out = FfiEav.backfill(df, Seq("y", "z"))
    assert(out.columns.toSeq === Seq("x", "y", "z"))
    val r = out.head()
    assert(r.getString(1) === "b")
    assert(r.isNullAt(2))
  }

  test("tableName mangles method names like the reference") {
    assert(FfiEav.tableName("Trees - Individuals") === "Trees_Individuals")
    assert(FfiEav.tableName("Surface Fuels - 1000Hr") === "SurfaceFuels_1000Hr")
    assert(FfiEav.tableName("Cover - Points (metric)") === "Cover_Points_metric")
    assert(FfiEav.tableName("Surface Fuels - Duff/Litter") === "SurfaceFuels_Duff_Litter")
  }

  /** Two methods on one sample event: "Method A" (attribute fields DBH and
    * Ht, sample field Team) and "Method B" (attribute field Cover, sample
    * field Crew). `attrs` rows are (data row GUID, MethodAtt_ID, value),
    * all on sample row SR1; `samples` rows are (SampleRow_ID,
    * SampleAtt_ID, value).
    */
  private def eavCatalog(
      attrs: Seq[(String, String, String)],
      samples: Seq[(String, String, String)]): FfiCatalog = {
    import s.implicits._
    val ingest = FfiExtract.IngestId
    FfiCatalog(Map(
      "Method" -> Seq(("MG1", "Method A", "English"), ("MG2", "Method B", "English"))
        .toDF("Method_GUID", "Method_Name", "Method_UnitSystem"),
      "MethodAttribute" -> Seq(("MA1", "MG1", "DBH"), ("MA2", "MG1", "Ht"), ("MA3", "MG2", "Cover"))
        .toDF("MethodAtt_ID", "MethodAtt_Method_GUID", "MethodAtt_FieldName"),
      "SampleAttribute" -> Seq(("SA1", "MG1", "Team"), ("SA2", "MG2", "Crew"))
        .toDF("SampleAtt_ID", "SampleAtt_Method_GUID", "SampleAtt_FieldName"),
      "SampleEvent" -> Seq(("SE1", "E1")).toDF("SampleEvent_GUID", "EventID"),
      "SampleRow" -> Seq(("SR1", "SRG1", 0L), ("SR2", "SRG2", 1L))
        .toDF("SampleRow_ID", "SampleRow_Original_GUID", ingest),
      "SampleData" -> samples.map { case (r, a, v) => (r, "SE1", a, v) }
        .toDF("SampleData_SampleRow_ID", "SampleData_SampleEvent_GUID",
          "SampleData_SampleAtt_ID", "SampleData_Value"),
      "AttributeRow" -> attrs.map(_._1).distinct.zipWithIndex.map { case (g, i) => (g, g, i.toLong) }
        .toDF("AttributeRow_ID", "AttributeRow_DataRow_GUID", ingest),
      "AttributeData" -> attrs.map { case (g, a, v) => (g, a, "SR1", v) }
        .toDF("AttributeData_DataRow_ID", "AttributeData_MethodAtt_ID",
          "AttributeData_SampleRow_ID", "AttributeData_Value")))
  }

  private val cleanAttrs = Seq(("DR1", "MA1", "10"), ("DR1", "MA2", "5"), ("DR2", "MA3", "40"))
  private val cleanSamples = Seq(("SR1", "SA1", "Alice"), ("SR2", "SA2", "Crew1"))

  /** Run `f` on a fresh catalog and release what it pinned. */
  private def withCatalog[T](cat: FfiCatalog)(f: FfiCatalog => T): T =
    try f(cat) finally cat.release()

  test("attrToMany guard: one method's duplicate (index, field) pair raises") {
    // Method A carries two different DBH values for one data row; Method B is clean
    withCatalog(eavCatalog(cleanAttrs :+ (("DR1", "MA1", "12")), cleanSamples)) { cat =>
      val ex = intercept[IllegalArgumentException](FfiEav.attrToMany(cat))
      assert(ex.getMessage.contains("duplicate"))
    }
  }

  test("sampleToMany guard: one method's duplicate (index, field) pair raises") {
    // Method A's sample row SR1 carries two Team values; Method B is clean
    withCatalog(eavCatalog(cleanAttrs, cleanSamples :+ (("SR1", "SA1", "Bob")))) { cat =>
      val ex = intercept[IllegalArgumentException](FfiEav.sampleToMany(cat))
      assert(ex.getMessage.contains("duplicate"))
    }
  }

  test("attrToMany collapses full-row duplicates without raising") {
    withCatalog(eavCatalog(cleanAttrs :+ (("DR1", "MA1", "10")), cleanSamples)) { cat =>
      val out = FfiEav.attrToMany(cat)
      val a = out("MethodA_Attribute").select("AttributeData_DataRow_GUID", "DBH", "Ht").collect()
      assert(a.map(_.toSeq) === Array(Seq("DR1", "10", "5")))
      val b = out("MethodB_Attribute").select("EventID", "Cover").collect()
      assert(b.map(_.toSeq) === Array(Seq("E1", "40")))
    }
  }
}
