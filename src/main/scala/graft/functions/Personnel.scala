package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** F8/F9: the multi-delimiter personnel-list parse and team set-union
  * (`/root/reference/parser/xml.py:375-450`).
  *
  * `parseList` reproduces `parse_list_val` exactly, including its Python
  * `str.split` semantics (empty trailing fields COUNT — Scala needs
  * split(sep, -1)) and its delimiter-precedence quirks:
  *   - any comma present → split on commas
  *   - no comma but spaces → split on spaces
  *   - otherwise slashes → split on slashes
  *   - null / 'nan' / '' / ' ' → empty list
  *
  * Implemented as a Scala UDF for exactness (SURVEY §2.10); everything
  * downstream (union, dedup, join) is native codegen'd expressions.
  * Deviation: the reference joins a Python `set` (nondeterministic member
  * order) — we canonicalize with array_sort and document it.
  */
object Personnel {

  def parseListVal(v: String): Seq[String] = {
    if (v == null) return Seq.empty
    val s = v
    if (s == "nan" || s == "" || s == " ") return Seq.empty
    val comma = s.split(",", -1)
    val space = s.split(" ", -1)
    val slash = s.split("/", -1)
    val picked =
      if ((comma.length == space.length && comma.length > 1) ||
        (comma.length > 1 && space.length > 0)) comma
      else if (comma.length == 1 && space.length > 1) space
      else if (slash.length > 1) slash
      else comma
    picked.toSeq.map(_.trim)
  }

  // an untyped UDF converts its argument and result interpreted, where a
  // typed one compiles an encoder class for each on first use
  val parseListUdf = udf(new org.apache.spark.sql.api.java.UDF1[String, Seq[String]] {
    override def call(v: String): Seq[String] = parseListVal(v)
  }, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))

  def parseList(c: Column): Column = parseListUdf(c)

  /** `', '.join(set(parse(a) ++ parse(b) ++ ...))`, canonicalized sorted. */
  def combineTeams(cols: Seq[Column]): Column =
    concat_ws(
      ", ",
      array_sort(array_distinct(concat(cols.map(parseList): _*))))
}
