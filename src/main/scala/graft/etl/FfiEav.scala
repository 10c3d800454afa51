package graft.etl

import graft.etl.FfiExtract.IngestId
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The EAV long→wide engine: `_attr_to_many` / `_sample_to_many`
  * (`/root/reference/parser/xml.py:197-367`).
  *
  * Shape: assemble one long frame per family via left-join chains (J1/J2)
  * and pin it in the catalog, so every `<Method>_Attribute` /
  * `<Method>_Sample` table fanned out from it (filter → pivot) reads it
  * from memory until the export's catalog is released. The output TABLE
  * SET is data-dependent (a legal but unusual Spark shape), so one collect
  * per family brings the method names, each method's field names (the
  * pivot columns) and its unit systems to the driver; the pivots then run
  * with explicit values and need no job of their own.
  *
  * Pivot semantics: pandas `pivot` RAISES on duplicate (index, column)
  * pairs; Spark's `first()` would silently pick one. `assertUnique = true`
  * reproduces the assertion with an explicit duplicate guard (one
  * aggregate job per family — switch off for bulk backfills).
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
    * join/data columns (no ingest-id collisions) and the small dimension
    * sides broadcast.
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
    cat("AttributeRow")
      .join(attrData, col("AttributeRow_ID") === col("AttributeData_DataRow_ID"), "left")
      .join(broadcast(methodAtt), col("AttributeData_MethodAtt_ID") === col("MethodAtt_ID"), "left")
      .join(broadcast(method), col("MethodAtt_Method_GUID") === col("Method_GUID"), "left")
      .join(sampleRow, col("AttributeData_SampleRow_ID") === col("SampleRow_ID"), "left")
      .join(sampleData, col("AttributeData_SampleRow_ID") === col("SampleData_SampleRow_ID"), "left")
      .join(sampleEvent, col("SampleData_SampleEvent_GUID") === col("SampleEvent_GUID"), "left")
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
    backfill(cat("SampleRow"), auditCols)
      .join(sampleData, col("SampleRow_ID") === col("SampleData_SampleRow_ID"), "left")
      .join(broadcast(sampleAtt), col("SampleData_SampleAtt_ID") === col("SampleAtt_ID"), "left")
      .join(broadcast(method), col("SampleAtt_Method_GUID") === col("Method_GUID"), "left")
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

  /** pandas-pivot's assertion: raises if any (`keys`, `fieldCol`) pair
    * occurs more than once in `long`.
    */
  private def assertUniquePairs(long: DataFrame, keys: Seq[String], fieldCol: String): Unit = {
    val dups = long
      .groupBy((keys :+ fieldCol).map(col): _*)
      .count()
      .filter(col("count") > 1)
      .limit(1)
      .collect()
    require(
      dups.isEmpty,
      s"duplicate (index, $fieldCol) pair in pivot input: ${dups.mkString}")
  }

  /** The distinct `values` in pivot order: ascending, null first (pivot
    * keeps a null field as a column named "null").
    */
  private def pivotOrder(values: Iterable[String]): Seq[String] =
    values.map(Option(_)).toSeq.distinct.sorted.map(_.orNull)

  /** Pivot `long` to one column per value in `fields`, cells from
    * `valueCol`, as ONE aggregate: the shape Spark's analyzer rewrites
    * `pivot(...).agg(first(...))` into, plus `min(_ingest_id)` per group so
    * downstream cumcounts keep file order. Columns: `index`, `fields`,
    * `_ingest_id`.
    */
  private def pivotFirst(
      long: DataFrame,
      index: Seq[String],
      fieldCol: String,
      valueCol: String,
      fields: Seq[String]): DataFrame = {
    val aggs = fields.map { f =>
      first(when(col(fieldCol) <=> lit(f), col(valueCol)), ignoreNulls = true).as(String.valueOf(f))
    } :+ min(col(IngestId)).as(IngestId)
    long.groupBy(index.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** pandas-pivot: wide = one column per distinct `fieldCol` value, cells
    * from `valueCol`; raises if any (index, field) pair is duplicated.
    */
  def pivotUnique(
      long: DataFrame,
      index: Seq[String],
      fieldCol: String,
      valueCol: String,
      assertUnique: Boolean = true): DataFrame = {
    if (assertUnique) assertUniquePairs(long, index, fieldCol)
    val fields = pivotOrder(long.select(fieldCol).distinct().collect().map(_.getString(0)))
    pivotFirst(long, index, fieldCol, valueCol, fields)
  }

  /** One EAV family's fan-out: per method (sorted), its pivoted table and
    * its sorted unit systems. `long` holds only rows with a method; one
    * collect over it yields every method's fields and unit systems, and
    * the optional guard is one aggregate over all methods.
    */
  private def pivotFamily(
      long: DataFrame,
      index: Seq[String],
      fieldCol: String,
      valueCol: String,
      assertUnique: Boolean): Seq[(String, DataFrame, Seq[String])] = {
    if (assertUnique) assertUniquePairs(long, "Method_Name" +: index, fieldCol)
    val meta = long.select("Method_Name", fieldCol, "Method_UnitSystem").distinct().collect()
    meta.groupBy(_.getString(0)).toSeq.sortBy(_._1).map { case (method, rows) =>
      val fields = pivotOrder(rows.map(_.getString(1)))
      val unitSystems = rows.flatMap(r => Option(r.getString(2))).distinct.sorted.toSeq
      val wide = pivotFirst(
        long.filter(col("Method_Name") === method), index, fieldCol, valueCol, fields)
      (method, wide, unitSystems)
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
    * behavior). LocalSpecies broadcasts — the reference does this as an
    * O(n·m) row loop.
    */
  def withSpecies(subset: DataFrame, localSpecies: Option[DataFrame]): DataFrame = {
    val sppCols = subset.columns.filter(_.contains("Spp"))
    if (sppCols.isEmpty || localSpecies.isEmpty) subset
    else {
      val spp = localSpecies.get
        .select(
          col("LocalSpecies_GUID").as("_ls_guid"),
          col("LocalSpecies_Symbol").as("_ls_symbol"))
        .dropDuplicates("_ls_guid")
      sppCols.foldLeft(subset) { (df, c) =>
        df.drop("Species")
          .join(broadcast(spp), upper(col(c)) === col("_ls_guid"), "left")
          .withColumn("Species", col("_ls_symbol"))
          .drop("_ls_guid", "_ls_symbol")
      }
    }
  }

  /** per-method special cases (`parser/xml.py:274-287`). */
  def applyMethodRules(method: String, subset: DataFrame): DataFrame = method match {
    case "Trees - Individuals" =>
      // StemNum: dense 1..k per (EventID, Species, TagNo) in file order (A7)
      val w = Window
        .partitionBy("EventID", "Species", "TagNo")
        .orderBy(col(IngestId))
      subset.withColumn("StemNum", row_number().over(w).cast("string"))
    case "Plot Info Wit Trees Comments3" =>
      val withTag =
        if (subset.columns.contains("WitTreeTagNo")) subset
        else {
          val w = Window.partitionBy("EventID").orderBy(col(IngestId))
          subset.withColumn("WitTreeTagNo", row_number().over(w).cast("string"))
        }
      // ≤1 witness tree per event: smallest WitDBH (string order, as in the
      // reference where every value is str) wins (A4)
      val w2 = Window
        .partitionBy("EventID")
        .orderBy(col("WitDBH").asc_nulls_last, col(IngestId))
      withTag.withColumn("_rn", row_number().over(w2)).filter(col("_rn") === 1).drop("_rn")
    case _ => subset
  }

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
        val part = subset.filter(col("Method_UnitSystem") === us)
        val named =
          if (us != "English") s"${baseName}_${us}_$suffix" else s"${baseName}_$suffix"
        named -> (if (dropUnitColOnSplit) part.drop("Method_UnitSystem") else part)
      }
    } else Seq(s"${baseName}_$suffix" -> subset.drop("Method_UnitSystem"))

  /** `_attr_to_many`: one `<Method>_Attribute` table per method. */
  def attrToMany(cat: FfiCatalog, assertUnique: Boolean = true): FfiCatalog = {
    // full-row dedup of the long frame (reference drop_duplicates),
    // keeping the earliest ingest id per surviving row for order rules
    val long = cat.pin(
      attrLong(cat)
        .filter(col("Method_Name").isNotNull)
        .groupBy(
          ("Method_Name" +: AttrIndex :+ "MethodAtt_FieldName" :+ "AttributeData_Value")
            .map(col): _*)
        .agg(min(col(IngestId)).as(IngestId)))
    pivotFamily(long, AttrIndex, "MethodAtt_FieldName", "AttributeData_Value", assertUnique)
      .foldLeft(cat) { case (c, (method, subset, unitSystems)) =>
        val withSpp = withSpecies(subset, c.get("LocalSpecies"))
        val ruled = applyMethodRules(method, withSpp)
          .na.drop(Seq("EventID"))
          .drop(IngestId)
        unitSplit(ruled, unitSystems, tableName(method), "Attribute", dropUnitColOnSplit = false)
          .foldLeft(c)((cc, kv) => cc.updated(kv._1, kv._2))
      }
  }

  /** `_sample_to_many`: one `<Method>_Sample` table per method, with a
    * fresh SampleData_Original_GUID per output row.
    */
  def sampleToMany(cat: FfiCatalog, assertUnique: Boolean = true): FfiCatalog = {
    val long = cat.pin(sampleLong(cat).filter(col("Method_Name").isNotNull))
    pivotFamily(long, SampleIndex, "SampleAtt_FieldName", "SampleData_Value", assertUnique)
      .foldLeft(cat) { case (c, (method, subset, unitSystems)) =>
        val withGuid = subset
          .withColumn("SampleData_Original_GUID", upper(expr("uuid()")))
          .drop(IngestId)
        unitSplit(withGuid, unitSystems, tableName(method), "Sample", dropUnitColOnSplit = true)
          .foldLeft(c)((cc, kv) => cc.updated(kv._1, kv._2))
      }
  }
}
