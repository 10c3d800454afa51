package graft.etl

import graft.etl.FfiExtract.IngestId
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** The EAV long→wide engine: `_attr_to_many` / `_sample_to_many`
  * (`/root/reference/parser/xml.py:197-367`).
  *
  * Shape: assemble one long frame per family via left-join chains (J1/J2)
  * of the export's local tables on the driver ([[FfiCatalog.leftJoin]]),
  * then group the family's long rows by (method, index) on the driver,
  * gathering each group's (field, value) entries. The output TABLE SET is
  * data-dependent (a legal but unusual Spark shape); the groups give every
  * method's fields (the pivot columns), its unit systems and the
  * pandas-pivot duplicate guard, and each `<Method>_Attribute` /
  * `<Method>_Sample` table is built from its method's groups as a local
  * table. The per-method windows are driver operators too
  * ([[FfiCatalog.rowNumber]], [[FfiCatalog.keepFirst]]), so a family runs
  * no Spark job, whatever its method count.
  */
object FfiEav {

  /** method name → output table name (`parser/xml.py:262,354`):
    * strip spaces, '-'/'('/')'/'/' → '_', trim outer '_'.
    */
  def tableName(method: String): String =
    method
      .replace(" ", "")
      .replace("-", "_")
      .replace("(", "_")
      .replace(")", "_")
      .replace("/", "_")
      .replaceAll("^_+|_+$", "")

  /** add any of `cols` that are absent as null strings — the reference's
    * KeyError backfill (`parser/xml.py:233-241,329-336`).
    */
  def backfill(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast("string")))

  /** J1: the 6-way attribute assembly (`parser/xml.py:214-232`), projected
    * and renamed to the long EAV schema. Right sides are pruned to their
    * join/data columns (no ingest-id collisions).
    */
  def attrLong(cat: FfiCatalog): DataFrame = {
    val attrData = cat("AttributeData").select(
      "AttributeData_DataRow_ID", "AttributeData_MethodAtt_ID",
      "AttributeData_SampleRow_ID", "AttributeData_Value")
    val methodAtt = cat("MethodAttribute").select(
      "MethodAtt_ID", "MethodAtt_Method_GUID", "MethodAtt_FieldName")
    val method = cat("Method").select("Method_GUID", "Method_Name", "Method_UnitSystem")
    val sampleRow = cat("SampleRow").select("SampleRow_ID")
    val sampleData = cat("SampleData").select(
      "SampleData_SampleRow_ID", "SampleData_SampleEvent_GUID")
    val sampleEvent = cat("SampleEvent").select("SampleEvent_GUID", "EventID")
    FfiCatalog.leftJoin(cat("AttributeRow"),
      (attrData, "AttributeRow_ID", "AttributeData_DataRow_ID"),
      (methodAtt, "AttributeData_MethodAtt_ID", "MethodAtt_ID"),
      (method, "MethodAtt_Method_GUID", "Method_GUID"),
      (sampleRow, "AttributeData_SampleRow_ID", "SampleRow_ID"),
      (sampleData, "AttributeData_SampleRow_ID", "SampleData_SampleRow_ID"),
      (sampleEvent, "SampleData_SampleEvent_GUID", "SampleEvent_GUID"))
      .select(
        col("EventID"),
        col("SampleData_SampleEvent_GUID"),
        col("AttributeRow_DataRow_GUID").as("AttributeData_DataRow_GUID"),
        col("MethodAtt_FieldName"),
        col("AttributeData_Value"),
        col("Method_Name"),
        col("Method_UnitSystem"),
        col(IngestId))
  }

  /** J2: the 3-way sample assembly (`parser/xml.py:319-341`), long schema.
    *
    * The reference also generates SampleData_Original_GUID here, but its
    * `apply` is missing `axis=1`, which in pandas assigns all-null — the
    * evident intent (one fresh GUID per output sample row) is implemented
    * after the pivot in [[sampleToMany]].
    */
  def sampleLong(cat: FfiCatalog): DataFrame = {
    val sampleData = cat("SampleData").select(
      "SampleData_SampleRow_ID", "SampleData_SampleEvent_GUID",
      "SampleData_SampleAtt_ID", "SampleData_Value")
    val sampleAtt = cat("SampleAttribute").select(
      "SampleAtt_ID", "SampleAtt_Method_GUID", "SampleAtt_FieldName")
    val method = cat("Method").select("Method_GUID", "Method_Name", "Method_UnitSystem")
    val auditCols = Seq(
      "SampleRow_CreatedBy", "SampleRow_CreatedDate",
      "SampleRow_ModifiedBy", "SampleRow_ModifiedDate")
    FfiCatalog.leftJoin(backfill(cat("SampleRow"), auditCols),
      (sampleData, "SampleRow_ID", "SampleData_SampleRow_ID"),
      (sampleAtt, "SampleData_SampleAtt_ID", "SampleAtt_ID"),
      (method, "SampleAtt_Method_GUID", "Method_GUID"))
      .select(
        col("SampleRow_Original_GUID").as("SampleData_SampleRow_GUID"),
        col("SampleData_SampleEvent_GUID"),
        col("SampleAtt_FieldName"),
        col("SampleData_Value"),
        col("SampleRow_CreatedBy").as("SampleData_CreatedBy"),
        col("SampleRow_CreatedDate").as("SampleData_CreatedDate"),
        col("SampleRow_ModifiedBy").as("SampleData_ModifiedBy"),
        col("SampleRow_ModifiedDate").as("SampleData_ModifiedDate"),
        col("Method_Name"),
        col("Method_UnitSystem"),
        col(IngestId))
  }

  /** One EAV family's fan-out: per method (sorted), its wide table and its
    * sorted unit systems.
    *
    * The long rows (a local table) are grouped on the driver by
    * (`Method_Name`, `index`), gathering each group's (field, value)
    * entries (distinct when `distinctEntries`, which drops full-row
    * duplicates as the reference's `drop_duplicates` does) and its minimum
    * ingest id, so downstream cumcounts keep file order. pandas `pivot`
    * raises on a duplicate (index, column) pair where Spark's `first()`
    * would pick one, so a group with two entries for one field raises
    * here, before any table is built. Each method's table is then its
    * groups with every field looked up in the group's entries (the pivot),
    * held as a local table: columns `index`, the fields in pivot order
    * (ascending, null first, a null field named "null"), `_ingest_id`.
    */
  private def pivotFamily(
      long: DataFrame,
      index: Seq[String],
      fieldCol: String,
      valueCol: String,
      distinctEntries: Boolean): Seq[(String, DataFrame, Seq[String])] = {
    val key = ("Method_Name" +: index).map(long.schema.fieldIndex)
    val Seq(field, value, ingest) = Seq(fieldCol, valueCol, IngestId).map(long.schema.fieldIndex)
    val groups = FfiCatalog.rows(long)
      .filterNot(_.isNullAt(key.head))
      .groupBy(r => key.map(r.get))
      .toSeq
      .map { case (k, rows) =>
        val entries = rows.map(r => r.getString(field) -> r.getString(value))
        (k, if (distinctEntries) entries.distinct else entries, rows.map(_.getLong(ingest)).min)
      }
    groups.foreach { case (k, entries, _) =>
      val fields = entries.map(_._1)
      val dups = fields.diff(fields.distinct)
      require(dups.isEmpty, s"duplicate (index, $fieldCol) pair in pivot input: " +
        (k :+ dups.head).mkString(","))
    }
    val unit = 1 + index.indexOf("Method_UnitSystem")
    groups.groupBy(_._1.head.toString).toSeq.sortBy(_._1).map { case (method, gs) =>
      val fields = gs.flatMap(_._2.map(e => Option(e._1))).distinct.sorted.map(_.orNull)
      val unitSystems = gs.flatMap(g => Option(g._1(unit)).map(_.toString)).distinct.sorted
      val schema = StructType(index.map(long.schema(_)) ++
        fields.map(f => StructField(String.valueOf(f), StringType)) :+
        StructField(IngestId, LongType))
      val wide = gs.map { case (k, entries, first) =>
        val values = entries.toMap
        Row.fromSeq(k.tail ++ fields.map(values.getOrElse(_, null)) :+ first)
      }
      (method, long.sparkSession.createDataFrame(wide.asJava, schema), unitSystems)
    }
  }

  private val AttrIndex =
    Seq("EventID", "SampleData_SampleEvent_GUID", "AttributeData_DataRow_GUID", "Method_UnitSystem")
  private val SampleIndex = Seq(
    "SampleData_SampleRow_GUID", "SampleData_SampleEvent_GUID",
    "SampleData_CreatedBy", "SampleData_CreatedDate", "SampleData_ModifiedBy",
    "SampleData_ModifiedDate", "Method_UnitSystem")

  /** species lookup J8 (`parser/xml.py:264-272`): for every column whose
    * name contains 'Spp', Species = LocalSpecies_Symbol of the row whose
    * GUID equals upper(col). Later Spp columns overwrite (reference
    * behavior), so the last one decides. LocalSpecies is a local table:
    * its rows become a literal GUID → symbol map (first row per GUID),
    * one lookup instead of the reference's O(n·m) row loop.
    */
  def withSpecies(subset: DataFrame, localSpecies: Option[DataFrame]): DataFrame = {
    val sppCols = subset.columns.filter(_.contains("Spp"))
    if (sppCols.isEmpty || localSpecies.isEmpty) subset
    else {
      val symbols = FfiCatalog.rows(localSpecies.get
        .select("LocalSpecies_GUID", "LocalSpecies_Symbol"))
        .reverseIterator // toMap keeps the last pair per key: the first row
        .collect { case r if !r.isNullAt(0) => r.getString(0) -> r.getString(1) }
        .toMap
      val lookup = typedLit(symbols)
      subset.drop("Species").withColumn("Species", lookup(upper(col(sppCols.last))))
    }
  }

  /** per-method special cases (`parser/xml.py:274-287`). */
  def applyMethodRules(method: String, subset: DataFrame): DataFrame = method match {
    case "Trees - Individuals" =>
      // StemNum: dense 1..k per (EventID, Species, TagNo) in file order (A7)
      numbered(subset, Seq("EventID", "Species", "TagNo"), "StemNum")
    case "Plot Info Wit Trees Comments3" =>
      val withTag =
        if (subset.columns.contains("WitTreeTagNo")) subset
        else numbered(subset, Seq("EventID"), "WitTreeTagNo")
      // ≤1 witness tree per event: smallest WitDBH (string order, as in the
      // reference where every value is str) wins (A4)
      FfiCatalog.keepFirst(withTag, Seq("EventID"), col("WitDBH").asc_nulls_last)
    case _ => subset
  }

  /** `subset` with string column `name` (replaced in place when present)
    * numbering each `keys` group's rows 1..k in file order.
    */
  private def numbered(subset: DataFrame, keys: Seq[String], name: String): DataFrame =
    FfiCatalog.rowNumber(subset, keys, "_rn")
      .withColumn(name, col("_rn").cast("string"))
      .drop("_rn")

  /** unit-system split V3 (`parser/xml.py:290-302,353-367`): >1 distinct
    * Method_UnitSystem → one table per system with `_<system>` infix for
    * non-English; single system → column dropped. (Faithful quirk: the
    * attribute path KEEPS the unit column on split tables, the sample path
    * drops it.)
    */
  def unitSplit(
      subset: DataFrame,
      unitSystems: Seq[String],
      baseName: String,
      suffix: String,
      dropUnitColOnSplit: Boolean): Seq[(String, DataFrame)] =
    if (unitSystems.length > 1) {
      unitSystems.map { us =>
        val part = FfiCatalog.filter(subset, col("Method_UnitSystem") === us)
        val named =
          if (us != "English") s"${baseName}_${us}_$suffix" else s"${baseName}_$suffix"
        named -> (if (dropUnitColOnSplit) part.drop("Method_UnitSystem") else part)
      }
    } else Seq(s"${baseName}_$suffix" -> subset.drop("Method_UnitSystem"))

  /** `_attr_to_many`: one `<Method>_Attribute` table per method. */
  def attrToMany(cat: FfiCatalog): FfiCatalog =
    pivotFamily(
      attrLong(cat), AttrIndex, "MethodAtt_FieldName", "AttributeData_Value",
      distinctEntries = true)
      .foldLeft(cat) { case (c, (method, subset, unitSystems)) =>
        val withSpp = withSpecies(subset, c.get("LocalSpecies"))
        val ruled = FfiCatalog.filter(applyMethodRules(method, withSpp), col("EventID").isNotNull)
          .drop(IngestId)
        unitSplit(ruled, unitSystems, tableName(method), "Attribute", dropUnitColOnSplit = false)
          .foldLeft(c)((cc, kv) => cc.updated(kv._1, kv._2))
      }

  /** `_sample_to_many`: one `<Method>_Sample` table per method, with a
    * fresh SampleData_Original_GUID per output row.
    */
  def sampleToMany(cat: FfiCatalog): FfiCatalog =
    pivotFamily(
      sampleLong(cat), SampleIndex, "SampleAtt_FieldName", "SampleData_Value",
      distinctEntries = false)
      .foldLeft(cat) { case (c, (method, subset, unitSystems)) =>
        val withGuid = subset
          .withColumn("SampleData_Original_GUID", upper(expr("uuid()")))
          .drop(IngestId)
        unitSplit(withGuid, unitSystems, tableName(method), "Sample", dropUnitColOnSplit = true)
          .foldLeft(c)((cc, kv) => cc.updated(kv._1, kv._2))
      }
}
