package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Avg, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Metadata-only aggregate answering for lake tables: `SELECT count(*)`
  * and un-grouped `MIN`/`MAX` over stats-declared columns resolve from
  * the manifest's `#rows` and `#stats` lines alone — ZERO file opens.
  * On a 100 TB table with 10^5 committed directories, the difference is
  * a sub-millisecond driver computation vs a full table scan (count) or
  * a full column scan (extrema); this is the same design point as
  * Iceberg's metadata-aggregate planning and parquet's footer-level
  * aggregate pushdown, lifted to the manifest so even footers stay
  * closed.
  *
  * GROUP BY joins the path when every grouping column is DIRECTORY-
  * UNIFORM: the manifest proves each live directory holds exactly one
  * value of it (`#stats` min == max with `#ndv` nulls == 0, or all
  * null), so directories group by their proven values and the per-group
  * aggregates stay manifest-exact — `SELECT ingest_day, count(*) GROUP
  * BY ingest_day` on a daily-ingested fact is one row per commit day,
  * computed without opening a file.
  *
  * Strictly conservative: any shape the manifest cannot answer EXACTLY
  * — a non-uniform grouping column, a filter the caller didn't decide
  * exactly (the scan builder refuses before asking), a directory
  * missing its rows/stats line, an aggregate that isn't
  * count(*)/min/max, or a bound that does not decode ([[bounds]]: a
  * timestamp without its histogram edges, a type with no exact
  * round-trip) — returns None and the scan proceeds as a normal file
  * read. A refusal can only cost speed, never correctness.
  */
object LakeMetaAgg {

  /** Try to answer `agg` from version metadata. Returns the output
    * schema (grouping columns first, then aggregates — the positional
    * contract V2ScanRelationPushDown rebinds by) and the answer rows in
    * Spark's INTERNAL representations (UTF8String, Decimal, epoch-day
    * Int, ...), or None when the manifest cannot answer exactly.
    * Callers must ensure the version has no pending merge-on-read
    * deletes (counts are physical).
    *
    * `dirsOverride` scopes the answer to a SELECTED directory subset —
    * the filtered-metadata-aggregate path: when every pushed conjunct
    * was decided exactly at directory granularity (see
    * [[org.apache.spark.sql.graft.LakePruningScanBuilder]]'s uniform-
    * column claims), the surviving directories' rows ARE the filtered
    * rows, and the answers over them stay manifest-exact.
    */
  def answer(
      spark: SparkSession,
      tableDir: String,
      version: Long,
      schema: StructType,
      agg: Aggregation,
      dirsOverride: Option[Seq[String]] = None): Option[(StructType, Seq[Array[Any]])] = {
    val funcs = agg.aggregateExpressions.toSeq
    // funcs empty + group columns present = SELECT DISTINCT c — the
    // "what ingest days exist" query: the proven uniform values ARE the
    // distinct set, one row per value, zero file opens
    if (funcs.isEmpty && agg.groupByExpressions.isEmpty) return None
    val dirs = dirsOverride.getOrElse(VersionedLake.manifest(spark, tableDir, version))
    lazy val rowCounts = VersionedLake.dirRowCounts(spark, tableDir, version)
    lazy val stats = VersionedLake.dirStats(spark, tableDir, version)
    lazy val ndv = VersionedLake.dirNdv(spark, tableDir, version)
    lazy val sums = VersionedLake.dirSums(spark, tableDir, version)
    lazy val hists = VersionedLake.dirHist(spark, tableDir, version)

    // exact SUM from the "s" layer: every live directory must carry the
    // column's sum entry OR be provably all-null in it (the exact null
    // count — an all-null dir contributes nothing); the total must fit
    // the type Spark's own sum would return, else the real scan answers
    // (and under ANSI, errors) honestly
    def sumOver(
        colExpr: org.apache.spark.sql.connector.expressions.Expression,
        ds: Seq[String]): Option[(StructField, Any)] = {
      val name = colExpr match {
        case r: NamedReference if r.fieldNames.length == 1 => r.fieldNames.head
        case _ => return None
      }
      val field = schema.fields.find(_.name == name).getOrElse(return None)
      val resultType: DataType = field.dataType match {
        case ByteType | ShortType | IntegerType | LongType => LongType
        case d: DecimalType => DecimalType(math.min(38, d.precision + 10), d.scale)
        case _ => return None
      }
      if (!ds.forall(rowCounts.contains)) return None
      val live = ds.filter(d => rowCounts(d)._1 > 0)
      val parts = live.map { d =>
        sums.get(d).flatMap(_.get(name)) match {
          case Some(s) => Some(Some(s))
          case None =>
            // all-null proof: exact null count == row count
            ndv.get(d).flatMap(_.get(name)) match {
              case Some((_, n)) if n == rowCounts(d)._1 => Some(None)
              case _                                    => None
            }
        }
      }
      if (parts.exists(_.isEmpty)) return None
      val vs = parts.flatten.flatten
      val out: Any =
        if (vs.isEmpty) null
        else {
          val total = vs.reduce(_.add(_))
          resultType match {
            case LongType =>
              scala.util.Try(java.lang.Long.valueOf(total.longValueExact()))
                .getOrElse(return None)
            case d: DecimalType =>
              val dec = Decimal(total)
              if (dec.changePrecision(d.precision, d.scale)) dec else return None
            case _ => return None
          }
        }
      Some((StructField(s"sum($name)", resultType, nullable = true), out))
    }

    // exact count(col) — non-null rows — from the `#ndv` layer's exact
    // per-directory null counts: count = Σ(rows − nulls). Every live
    // directory must carry BOTH its rows line and the column's ndv entry
    // (a dir analyzed before the column existed omits it — it holds only
    // nulls, but the conservative refusal stays the simple, correct
    // answer, matching extremum's rule). Type-agnostic: null counting
    // never parses a stored render, so even timestamp columns answer.
    def countCol(
        colExpr: org.apache.spark.sql.connector.expressions.Expression,
        ds: Seq[String]): Option[(StructField, Any)] = {
      val name = colExpr match {
        case r: NamedReference if r.fieldNames.length == 1 => r.fieldNames.head
        case _ => return None
      }
      if (!schema.fields.exists(_.name == name)) return None
      if (!ds.forall(rowCounts.contains)) return None
      val live = ds.filter(d => rowCounts(d)._1 > 0)
      val per = live.map(d =>
        ndv.get(d).flatMap(_.get(name)).map(e => rowCounts(d)._1 - e._2))
      if (per.exists(_.isEmpty)) return None
      Some((StructField(s"count($name)", LongType, nullable = false),
        java.lang.Long.valueOf(per.flatten.sum)))
    }

    // exact avg(col) = sum/count when BOTH answer — INTEGRAL columns
    // only. Spark's Average sums an integral input in DoubleType (its
    // sum buffer), so its own scan answer is bit-exact only while the
    // running sums stay within 2^53 — beyond that it is accumulation-
    // order-dependent (shuffle-order-nondeterministic). The metadata
    // answer divides the EXACT integral total by the exact non-null
    // count: bit-identical to the scan inside the 2^53 envelope, and the
    // correctly-rounded (deterministic) value outside it, where the scan
    // itself has no single answer. Totals past Long decline to the real
    // scan. Decimal avg is deliberately excluded — Spark's decimal
    // division carries its own scale/rounding that a metadata
    // reproduction would have to mimic bit-for-bit to be safe.
    def avgOver(
        colExpr: org.apache.spark.sql.connector.expressions.Expression,
        ds: Seq[String]): Option[(StructField, Any)] = {
      val name = colExpr match {
        case r: NamedReference if r.fieldNames.length == 1 => r.fieldNames.head
        case _ => return None
      }
      val integral = schema.fields.find(_.name == name).exists(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _                                             => false
      })
      if (!integral) return None
      for {
        (_, s) <- sumOver(colExpr, ds)
        (_, c) <- countCol(colExpr, ds)
      } yield {
        val cnt = c.asInstanceOf[java.lang.Long].longValue()
        val out: Any =
          if (cnt == 0L) null
          else java.lang.Double.valueOf(
            s.asInstanceOf[java.lang.Long].doubleValue() / cnt)
        (StructField(s"avg($name)", DoubleType, nullable = true), out)
      }
    }

    def answerOver(ds: Seq[String]): Option[(Seq[StructField], Seq[Any])] = {
      val answered = funcs.map {
        case _: CountStar =>
          // exact only when every directory accounts its rows
          if (ds.forall(rowCounts.contains))
            Some((StructField("count(*)", LongType, nullable = false),
              java.lang.Long.valueOf(ds.map(rowCounts(_)._1).sum): Any))
          else None
        case m: Min => extremum(m.column, isMin = true, ds, stats, hists, schema)
        case m: Max => extremum(m.column, isMin = false, ds, stats, hists, schema)
        case s: Sum if !s.isDistinct => sumOver(s.column, ds)
        case c: Count if !c.isDistinct => countCol(c.column, ds)
        case a: Avg if !a.isDistinct => avgOver(a.column, ds)
        case _ => None
      }
      if (answered.exists(_.isEmpty)) None
      else Some(answered.flatten.unzip)
    }

    val groupCols: Seq[(String, DataType)] = agg.groupByExpressions.toSeq.map {
      case r: NamedReference if r.fieldNames.length == 1 =>
        val name = r.fieldNames.head
        schema.fields.find(_.name == name) match {
          case Some(f) => (f.name, f.dataType)
          case None    => return None
        }
      case _ => return None
    }

    if (groupCols.isEmpty)
      answerOver(dirs).map { case (fields, values) =>
        (StructType(fields), Seq(values.toArray))
      }
    else {
      // every LIVE directory must be uniform in every grouping column —
      // its proven value IS its group key (all-null dirs group under
      // SQL's one null group); zero-row dirs contribute nothing
      if (!dirs.forall(rowCounts.contains)) return None
      val live = dirs.filter(d => rowCounts(d)._1 > 0)
      val keyed: Seq[(List[Any], String)] = live.map { d =>
        val key = groupCols.map { case (c, dt) =>
          val nulls = ndv.get(d).flatMap(_.get(c)).map(_._2).getOrElse(return None)
          val bounds = stats.get(d).flatMap(_.get(c)).getOrElse(return None)
          uniformValue(dt, rowCounts(d)._1, nulls, bounds,
            hists.get(d).flatMap(_.get(c))) match {
            case Some(v) => v.orNull
            case None    => return None
          }
        }.toList
        (key, d)
      }
      val groups = keyed.groupBy(_._1).toSeq.map { case (k, ds) => (k, ds.map(_._2)) }
      val perGroup = groups.map { case (k, ds) =>
        answerOver(ds).map(a => (k, a))
      }
      if (perGroup.exists(_.isEmpty)) return None
      val rows = perGroup.flatten
      val aggFields = rows.headOption.map(_._2._1).getOrElse(return None)
      if (rows.isEmpty) return None
      val keyFields = groupCols.map { case (c, dt) => StructField(c, dt, nullable = true) }
      // deterministic output (nulls first, then the comparable order) —
      // irrelevant to the aggregate's semantics, kind to hash-comparers
      val sorted = rows.sortWith { case ((a, _), (b, _)) =>
        a.zip(b).collectFirst {
          case (x, y) if !eq0(x, y) =>
            if (x == null) true
            else if (y == null) false
            else x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
        }.getOrElse(false)
      }
      Some((StructType(keyFields ++ aggFields),
        sorted.map { case (k, (_, vs)) => (k ++ vs).toArray }))
    }
  }

  /** HYBRID metadata aggregate: the PROVEN directories (every claimed
    * conjunct decided exactly by the uniform-column proof, and
    * satisfying) answer from the manifest; the RESIDUAL directories —
    * the one compacted dir that merged several ingest days, the legacy
    * dir missing a stats entry — are aggregated by a real (filtered)
    * Spark job over JUST their files, and the two sides combine
    * per group with the aggregate's own merge algebra. This keeps
    * `count(*) WHERE dt = today` metadata-fast through real table
    * lifecycles: `optimize()` on an undeclared-spec table creates
    * exactly the multi-day directory that used to silently send the
    * whole query back to a full file scan.
    *
    * Returns the output schema at PLAN time and a THUNK for the rows —
    * the residual job must not run during planning (EXPLAIN stays
    * metadata-only); the scan materializes it at execution. Declines
    * (None) unless the proven side answers completely, every aggregate
    * is output-mergeable (count/min/max/sum — avg's outputs don't
    * merge), and every claimed conjunct translates to a Column the
    * residual job can apply per row.
    *
    * Overflow at combine time throws (ANSI semantics — the same total
    * would overflow Spark's own sum); it cannot decline, the plan is
    * already committed.
    */
  def answerHybrid(
      spark: SparkSession,
      tableDir: String,
      version: Long,
      schema: StructType,
      agg: Aggregation,
      proven: Seq[String],
      residual: Seq[String],
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : Option[(StructType, () => Seq[Array[Any]])] = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
    if (proven.isEmpty || residual.isEmpty) return None
    val origFuncs = agg.aggregateExpressions.toSeq
    // empty funcs + group columns = SELECT DISTINCT c under a claim:
    // proven values ∪ the residual job's distinct — same merge machinery
    // with zero aggregate columns
    if (origFuncs.isEmpty && agg.groupByExpressions.isEmpty) return None
    // avg's OUTPUTS don't merge — but its sum+count decomposition does:
    // expand each integral avg into an internal (Sum, Count) pair, run
    // both sides (and the combine) over the EXPANDED shape, and derive
    // avg = sum/count in a final projection. `Right((name))` marks a
    // slot pair to fold; `Left(f)` passes through.
    val expansion: Seq[Either[AggregateFunc, String]] = origFuncs.map {
      case a: Avg if !a.isDistinct =>
        val n = nameOf(a.column).getOrElse(return None)
        val integral = schema.fields.find(_.name == n).exists(_.dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _                                             => false
        })
        if (!integral) return None // same decimal-avg refusal as the pure path
        Right(n)
      case f => Left(f)
    }
    val funcs: Seq[AggregateFunc] = expansion.flatMap {
      case Left(f)  => Seq(f)
      case Right(n) =>
        val ref = org.apache.spark.sql.connector.expressions.Expressions.column(n)
        Seq(new Sum(ref, false), new Count(ref, false))
    }
    // every (expanded) aggregate must carry an OUTPUT-mergeable algebra
    val mergeable = funcs.forall {
      case _: CountStar               => true
      case c: Count if !c.isDistinct  => true
      case _: Min | _: Max            => true
      case s: Sum if !s.isDistinct    => true
      case _                          => false
    }
    if (!mergeable) return None
    val expandedAgg =
      if (expansion.forall(_.isLeft)) agg
      else new Aggregation(funcs.toArray, agg.groupByExpressions)
    val provenAns = answer(spark, tableDir, version, schema, expandedAgg, Some(proven))
      .getOrElse(return None)
    val filterCols = filters.map(FilterToColumn(_))
    if (filterCols.exists(_.isEmpty)) return None
    val groupNames = agg.groupByExpressions.toSeq.map {
      case r: NamedReference if r.fieldNames.length == 1 => r.fieldNames.head
      case _ => return None
    }
    // the residual job's aggregates, in the SAME order and types as the
    // proven schema (Spark's sum(integral) is LongType, sum(decimal(p,s))
    // is decimal(min(38,p+10),s), counts are LongType — the exact result
    // types LakeMetaAgg.answer emits)
    val residualAggs = funcs.map {
      case _: CountStar              => count(lit(1))
      case c: Count                  => count(col(nameOf(c.column).getOrElse(return None)))
      case m: Min                    => min(col(nameOf(m.column).getOrElse(return None)))
      case m: Max                    => max(col(nameOf(m.column).getOrElse(return None)))
      case s: Sum                    => sum(col(nameOf(s.column).getOrElse(return None)))
    }
    val outSchema = provenAns._1
    val keyCount = groupNames.size
    // per-agg-column output mergers (null = "no values on that side")
    val mergers: Seq[(Any, Any) => Any] = funcs.zipWithIndex.map { case (f, i) =>
      val dt = outSchema.fields(keyCount + i).dataType
      f match {
        case _: CountStar | _: Count =>
          (a: Any, b: Any) => java.lang.Long.valueOf(math.addExact(
            a.asInstanceOf[java.lang.Long].longValue(),
            b.asInstanceOf[java.lang.Long].longValue())): Any
        case _: Sum => dt match {
          case LongType =>
            (a: Any, b: Any) =>
              if (a == null) b else if (b == null) a
              else java.lang.Long.valueOf(math.addExact(
                a.asInstanceOf[java.lang.Long].longValue(),
                b.asInstanceOf[java.lang.Long].longValue())): Any
          case d: DecimalType =>
            (a: Any, b: Any) =>
              if (a == null) b else if (b == null) a
              else {
                val s = Decimal(a.asInstanceOf[Decimal].toJavaBigDecimal.add(
                  b.asInstanceOf[Decimal].toJavaBigDecimal))
                if (!s.changePrecision(d.precision, d.scale))
                  throw new ArithmeticException(
                    s"hybrid metadata sum overflows ${d.sql} - the scan's own sum would too")
                s: Any
              }
          case other => return None // unreachable: answer() only emits these
        }
        case _: Min =>
          (a: Any, b: Any) =>
            if (a == null) b else if (b == null) a
            else if (a.asInstanceOf[Comparable[Any]].compareTo(b) <= 0) a else b
        case _: Max =>
          (a: Any, b: Any) =>
            if (a == null) b else if (b == null) a
            else if (a.asInstanceOf[Comparable[Any]].compareTo(b) >= 0) a else b
        case _ => return None
      }
    }
    val visible = VersionedLake.visibleSchema(
      VersionedLake.versionSchema(spark, tableDir, version).getOrElse(return None))
    val thunk: () => Seq[Array[Any]] = () => {
      val df0 = VersionedLake.readDirsWithDeletes(
        spark, tableDir, version, residual, Some(visible))
      val df = filterCols.flatten.foldLeft(df0)(_.filter(_))
      val out =
        if (funcs.isEmpty) df.select(groupNames.map(col): _*).distinct()
        else if (groupNames.isEmpty) df.agg(residualAggs.head, residualAggs.tail: _*)
        else df.groupBy(groupNames.map(col): _*)
          .agg(residualAggs.head, residualAggs.tail: _*)
      // external → Catalyst-internal, so both sides share one comparable
      // domain (UTF8String, Decimal, epoch ints/longs)
      val convs = outSchema.fields.map(f =>
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(f.dataType))
      val residualRows: Seq[Array[Any]] = out.collect().toSeq.map { r =>
        Array.tabulate[Any](outSchema.fields.length)(i =>
          if (r.isNullAt(i)) null else convs(i)(r.get(i)))
      }
      val byKey = scala.collection.mutable.LinkedHashMap[List[Any], Array[Any]]()
      (provenAns._2 ++ residualRows).foreach { row =>
        val k = row.take(keyCount).toList
        byKey.get(k) match {
          case None => byKey(k) = row.clone()
          case Some(acc) =>
            var i = 0
            while (i < mergers.length) {
              acc(keyCount + i) = mergers(i)(acc(keyCount + i), row(keyCount + i))
              i += 1
            }
        }
      }
      // deterministic key order (nulls first), matching the pure path
      val sorted = byKey.toSeq.sortWith { case ((a, _), (b, _)) =>
        a.zip(b).collectFirst {
          case (x, y) if !eq0(x, y) =>
            if (x == null) true
            else if (y == null) false
            else x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
        }.getOrElse(false)
      }.map(_._2)
      // fold each expanded (sum, count) pair back into avg = sum/count
      if (expansion.forall(_.isLeft)) sorted
      else sorted.map { row =>
        val out = Array.newBuilder[Any]
        out ++= row.take(keyCount)
        var i = keyCount
        expansion.foreach {
          case Left(_) => out += row(i); i += 1
          case Right(_) =>
            val s = row(i); val c = row(i + 1); i += 2
            out += (if (c == null || c.asInstanceOf[java.lang.Long] == 0L) null
              else java.lang.Double.valueOf(
                s.asInstanceOf[java.lang.Long].doubleValue() /
                  c.asInstanceOf[java.lang.Long].longValue()))
        }
        out.result()
      }
    }
    // the caller-visible schema folds each (sum, count) pair to avg
    val finalSchema =
      if (expansion.forall(_.isLeft)) outSchema
      else {
        val keys = outSchema.fields.take(keyCount)
        val aggFields = {
          var i = keyCount
          expansion.map {
            case Left(_)  => val f = outSchema.fields(i); i += 1; f
            case Right(n) => i += 2
              StructField(s"avg($n)", DoubleType, nullable = true)
          }
        }
        StructType(keys ++ aggFields)
      }
    Some((finalSchema, thunk))
  }

  private def nameOf(
      e: org.apache.spark.sql.connector.expressions.Expression): Option[String] = e match {
    case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames.head)
    case _ => None
  }

  private def eq0(x: Any, y: Any): Boolean =
    if (x == null) y == null else y != null && x.equals(y)

  /** One directory column's `#stats` bounds, decoded. This is the only
    * reader of the stored strings. `Some(None)` = every row null,
    * `Some(Some((min, max)))` = the bounds as Catalyst-internal values
    * (boxed primitives, UTF8String, Decimal, epoch-day Int, epoch-micros
    * Long) that [[compare]] orders as Spark orders the column, `None` =
    * not decodable, so the caller keeps the directory or declines.
    *
    * The stored bounds are Spark's string casts, which round-trip for
    * the numeric, string, date and decimal types ([[parse]]). A TIMESTAMP
    * render depends on the session time zone at commit, so its bounds
    * come from the `#ndv` histogram `edges` (read for TIMESTAMP only):
    * the quantile summary keeps the exact min and max as the first and
    * last edge, in epoch micros, which a double holds exactly up to 2^53
    * (years 1685-2255). A missing edge set, a NaN edge or a value past
    * 2^53 does not decode.
    */
  def bounds(
      dt: DataType,
      stored: (Option[String], Option[String]),
      edges: => Option[Array[Double]]): Option[Option[(Any, Any)]] = stored match {
    case (None, None) => Some(None)
    case (Some(a), Some(b)) =>
      val decoded = dt match {
        case TimestampType =>
          edges.filter(_.nonEmpty).flatMap(es => micros(es.head).zip(micros(es.last)))
        case _ => parse(dt, a).zip(parse(dt, b))
      }
      decoded.map(Some(_))
    case _ => None
  }

  /** Largest Long magnitude a Double holds exactly. */
  private val MaxExactDoubleLong: Long = 1L << 53

  private def micros(edge: Double): Option[Any] =
    if (math.abs(edge) <= MaxExactDoubleLong.toDouble && edge == edge.toLong.toDouble)
      Some(java.lang.Long.valueOf(edge.toLong))
    else None

  /** Spark's order of two decoded values of one column: boxed compareTo
    * puts NaN greatest as Spark does, UTF8String compares UTF-8 bytes,
    * and -0.0 is already folded into 0.0 by [[parse]] and [[literal]].
    */
  def compare(a: Any, b: Any): Int = a.asInstanceOf[Comparable[Any]].compareTo(b)

  /** The directory-uniform value of a column, from its manifest lines:
    * `Some(None)` = every row null, `Some(Some(v))` = every row holds
    * `v` (no nulls and decoded min == max), `None` = not uniform / not
    * provable. The shared proof behind the scan builder's exact filter
    * claims and grouped metadata aggregates.
    */
  def uniformValue(
      dt: DataType,
      rows: Long,
      nulls: Long,
      stored: (Option[String], Option[String]),
      edges: => Option[Array[Double]]): Option[Option[Any]] =
    if (nulls == rows && stored == ((None, None))) Some(None)
    else if (nulls != 0L) None
    else bounds(dt, stored, edges) match {
      case Some(Some((mn, mx))) if compare(mn, mx) == 0 => Some(Some(mn))
      case _                                            => None
    }

  /** The min (`takeMin`) or max of column `c`'s decoded bounds over
    * `dirs`: `None` when a directory has no stats entry for the column
    * (it may hold the extreme; schema-evolution dirs written before the
    * column existed omit it) or its bounds do not decode, `Some(None)`
    * when every directory is all-null, else the directory holding the
    * extreme with its value.
    */
  def mergedBound(
      dt: DataType,
      c: String,
      dirs: Seq[String],
      stats: Map[String, Map[String, (Option[String], Option[String])]],
      hists: => Map[String, Map[String, Array[Double]]],
      takeMin: Boolean): Option[Option[(String, Any)]] = {
    val decoded = dirs.map(d => stats.get(d).flatMap(_.get(c))
      .flatMap(bounds(dt, _, hists.get(d).flatMap(_.get(c)))).map(d -> _))
    if (decoded.exists(_.isEmpty)) None
    else Some(decoded.flatten.collect { case (d, Some((mn, mx))) =>
      (d, if (takeMin) mn else mx)
    }.reduceOption((a, b) => if ((compare(a._2, b._2) <= 0) == takeMin) a else b))
  }

  private def extremum(
      colExpr: org.apache.spark.sql.connector.expressions.Expression,
      isMin: Boolean,
      dirs: Seq[String],
      stats: Map[String, Map[String, (Option[String], Option[String])]],
      hists: => Map[String, Map[String, Array[Double]]],
      schema: StructType): Option[(StructField, Any)] = {
    val name = colExpr match {
      case r: NamedReference if r.fieldNames.length == 1 => r.fieldNames.head
      case _ => return None
    }
    val field = schema.fields.find(_.name == name).getOrElse(return None)
    // all-null directories contribute nothing; min/max of no values = null
    mergedBound(field.dataType, name, dirs, stats, hists, isMin).map(best =>
      (StructField(s"${if (isMin) "min" else "max"}($name)", field.dataType, nullable = true),
        best.map(_._2).orNull))
  }

  /** A stored bound (Spark's string cast) back in the column's domain,
    * for the types where that round-trip is exact. -0.0 folds into 0.0:
    * boxed compareTo splits the two while Spark's comparisons (and its
    * UnsafeRow writer) treat them equal, so an unfolded -0.0 would fail
    * a `c = 0.0` claim.
    */
  private def parse(dt: DataType, s: String): Option[Any] = dt match {
    case LongType    => s.toLongOption
    case IntegerType => s.toIntOption
    case ShortType   => s.toShortOption
    case ByteType    => s.toByteOption
    case DoubleType  => s.toDoubleOption.map(d => if (d == 0.0d) 0.0d else d)
    case FloatType   => s.toFloatOption.map(f => if (f == 0.0f) 0.0f else f)
    case StringType  => Some(UTF8String.fromString(s))
    case DateType =>
      scala.util.Try(java.time.LocalDate.parse(s).toEpochDay.toInt).toOption
    case d: DecimalType =>
      scala.util.Try(Decimal(new java.math.BigDecimal(s), d.precision, d.scale)).toOption
    case _ => None
  }

  /** A filter literal or batch key (the external JVM value) in the
    * domain [[bounds]] decodes column type `dt` to, or None when it has
    * no exact value there. An integral value converts to any integral
    * column it fits, to a decimal column, and to a double column within
    * 2^53; a float converts to a double column. Decimals keep their own
    * scale (no rounding to the column's), which [[compare]] respects.
    */
  def literal(dt: DataType, v: Any): Option[Any] = (dt, v) match {
    case (_, n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
        _: java.lang.Byte)) =>
      val x = n.asInstanceOf[Number].longValue()
      dt match {
        case LongType                 => Some(x)
        case IntegerType              => Option.when(x.isValidInt)(x.toInt)
        case ShortType                => Option.when(x.isValidShort)(x.toShort)
        case ByteType                 => Option.when(x.isValidByte)(x.toByte)
        case _: DecimalType           => Some(Decimal(x))
        case DoubleType if math.abs(x) <= MaxExactDoubleLong => Some(x.toDouble)
        case _                        => None
      }
    case (DoubleType, n @ (_: java.lang.Double | _: java.lang.Float)) =>
      val d = n.asInstanceOf[Number].doubleValue(); Some(if (d == 0.0d) 0.0d else d)
    case (FloatType, n: java.lang.Float) =>
      val f = n.floatValue(); Some(if (f == 0.0f) 0.0f else f)
    case (StringType, s: String) => Some(UTF8String.fromString(s))
    case (DateType, d: java.sql.Date)       => Some(d.toLocalDate.toEpochDay.toInt)
    case (DateType, d: java.time.LocalDate) => Some(d.toEpochDay.toInt)
    case (TimestampType, t: java.sql.Timestamp) =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case (TimestampType, i: java.time.Instant) =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case (_: DecimalType, b: java.math.BigDecimal)  => scala.util.Try(Decimal(b)).toOption
    case (_: DecimalType, b: scala.math.BigDecimal) => scala.util.Try(Decimal(b)).toOption
    case _ => None
  }
}
