package graft.etl

import scala.collection.mutable

import graft.etl.FfiExtract.IngestId
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, InterpretedOrdering, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, Sort}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{IntegerType, StructType}

/** The engine's unit of state: a named-table catalog of dynamic-schema
  * DataFrames — the Spark re-expression of the reference's
  * `FFIFile._data_map` dict (`/root/reference/parser/xml.py:43,63-80`).
  *
  * Immutable: every transform stage returns a new catalog. Every table of
  * an export, from extraction ([[FfiExtract]]) to the load, is a local
  * table: a DataFrame whose optimized plan is a `LocalRelation` of driver
  * rows. Catalyst folds projections into a local table while optimizing
  * (`ConvertToLocalRelation`, interpreted); filters, joins, windows and
  * `distinct` are the driver operators below (Catalyst would compile a
  * predicate class for each filter it folds). So no plan of an export
  * runs a Spark job or compiles a class, and nothing is cached.
  *
  * Scale note: one export must fit the driver heap; the 100 TB path is
  * many exports, one catalog each.
  */
final case class FfiCatalog(tables: Map[String, DataFrame]) {
  def apply(name: String): DataFrame =
    tables.getOrElse(name, throw new NoSuchElementException(s"$name not in FFI catalog"))
  def get(name: String): Option[DataFrame] = tables.get(name)
  def contains(name: String): Boolean = tables.contains(name)
  def updated(name: String, df: DataFrame): FfiCatalog =
    copy(tables = tables + (name -> df))
  def removed(names: String*): FfiCatalog =
    copy(tables = tables -- names)
  def names: Seq[String] = tables.keys.toSeq.sorted
}

object FfiCatalog {

  /** FFI system tables parsed but never loaded
    * (`/root/reference/parser/xml.py:44-46,754-756`).
    */
  val Excluded: Set[String] = Set(
    "FuelConstants_DL", "FuelConstants_ExpDL", "FuelConstants_FWD",
    "FuelConstants_Veg", "FuelConstants_CWD", "Schema_Version", "Program",
    "Project", "DataGridViewSettings", "MasterSpecies_LastModified", "Settings")

  private def relation(df: DataFrame): LocalRelation =
    Bridge.localRelation(df).getOrElse(throw notLocal(df))
  private def notLocal(df: DataFrame) =
    new IllegalArgumentException(s"not a local table: ${df.schema.simpleString}")
  private def table(like: DataFrame, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    Bridge.ofRows(like.sparkSession, LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** A local table's rows: no job, and no deserializer class as `collect()` compiles. */
  def rows(df: DataFrame): Seq[Row] = Bridge.localRows(df).getOrElse(throw notLocal(df))

  /** A local table's rows where `cond` is true (a null verdict drops the
    * row, as in `df.filter`), evaluated interpreted on the driver.
    */
  def filter(df: DataFrame, cond: Column): DataFrame = {
    val r = relation(df)
    val pred = Bridge.logicalPlan(df.filter(cond)) match {
      case f: Filter =>
        Predicate.createInterpreted(BindReferences.bindReference(f.condition, f.child.output))
    }
    pred.initialize(0)
    table(df, r.schema, r.data.filter(pred.eval))
  }

  /** `left` left-joined on the driver to each (right, left key, right key)
    * in turn, as an equi-join: each row once per matching right row (in
    * right order), or once with nulls when none matches; a null key
    * matches nothing. Columns: the left's, then each right's, nullable.
    */
  def leftJoin(left: DataFrame, rights: (DataFrame, String, String)*): DataFrame =
    rights.foldLeft(left) { case (lf, (rf, leftKey, rightKey)) =>
      val (l, r) = (relation(lf), relation(rf))
      val (ls, rs) = (l.schema, r.schema)
      val (lk, rk) = (ls.fieldIndex(leftKey), rs.fieldIndex(rightKey))
      require(ls(lk).dataType == rs(rk).dataType, s"join keys $leftKey, $rightKey differ in type")
      val byKey = r.data.filterNot(_.isNullAt(rk)).groupBy(_.get(rk, rs(rk).dataType))
      val noMatch = Seq(Seq.fill(rs.length)(null))
      val rows = l.data.flatMap { row =>
        val matches =
          if (row.isNullAt(lk)) Nil
          else byKey.getOrElse(row.get(lk, ls(lk).dataType), Nil).map(_.toSeq(rs))
        val values = row.toSeq(ls)
        (if (matches.isEmpty) noMatch else matches).map(m => InternalRow.fromSeq(values ++ m))
      }
      table(lf, StructType(ls ++ rs.map(_.copy(nullable = true))), rows)
    }

  /** A local table's rows grouped by `keys` (a null key is a key, as in a
    * window partition), in order of first appearance, each group sorted
    * by `order` then ingest id under Spark's interpreted ordering (a bare
    * column ascends, nulls first), as the analyzer resolves `df.sort`.
    */
  private def groups(df: DataFrame, keys: Seq[String], order: Seq[Column])
      : (StructType, Seq[Seq[InternalRow]]) = {
    val r = relation(df)
    val s = r.schema
    val ordering = Bridge.logicalPlan(df.sort(order :+ col(IngestId): _*)) match {
      case sort: Sort =>
        new InterpretedOrdering(sort.order.map(BindReferences.bindReference(_, sort.child.output)))
    }
    val key = keys.map(s.fieldIndex)
    val grouped = mutable.LinkedHashMap.empty[Seq[Any], mutable.ArrayBuffer[InternalRow]]
    r.data.foreach { row =>
      grouped.getOrElseUpdate(key.map(i => row.get(i, s(i).dataType)), mutable.ArrayBuffer()) += row
    }
    (s, grouped.values.map(_.toSeq.sorted(ordering)).toSeq)
  }

  /** The first row per `keys` by `order`, then ingest id: the driver's
    * `row_number() = 1` keep-first.
    */
  def keepFirst(df: DataFrame, keys: Seq[String], order: Column*): DataFrame = {
    val (s, gs) = groups(df, keys, order)
    table(df, s, gs.map(_.head))
  }

  /** `df` plus integer column `name`, 1..k per `keys` by `order`, then
    * ingest id: the driver's `row_number()` over that window.
    */
  def rowNumber(df: DataFrame, keys: Seq[String], name: String, order: Column*): DataFrame = {
    val (s, gs) = groups(df, keys, order)
    val numbered = gs.flatMap(_.zipWithIndex.map { case (row, i) =>
      InternalRow.fromSeq(row.toSeq(s) :+ (i + 1))
    })
    table(df, s.add(name, IntegerType, nullable = false), numbered)
  }

  /** A local table's distinct rows (first occurrences, in order). */
  def distinct(df: DataFrame): DataFrame = {
    val r = relation(df)
    table(df, r.schema, r.data.distinctBy(_.toSeq(r.schema)))
  }
}
