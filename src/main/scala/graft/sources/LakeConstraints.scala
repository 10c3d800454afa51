package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-level constraints for [[VersionedLake]] tables — CHECK
  * predicates, UNIQUE (primary-key-style) column sets, and FOREIGN KEYs
  * — the admission-gate idea of the DQ suite
  * ([[graft.operators.Quality]]) promoted to a property OF the table:
  * once declared, every ingest
  * path (append, txn append, snapshot commit, upsert, updateWhere — and
  * therefore the streaming sink and the SQL catalog's INSERTs, which
  * ride those paths) validates the incoming rows and REFUSES the commit
  * on violation, so a reader never needs to re-check what the table
  * already promises. The same contract as Delta's CHECK constraints.
  *
  * Semantics are SQL CHECK: a row violates only when the predicate
  * evaluates to FALSE — NULL (unknown) passes, matching the standard
  * and Delta. A batch that omits a constrained column under the lake's
  * union-by-name evolution reads that column as NULL and passes, for
  * the same reason old directories pass a constraint added later…
  * except they don't get the chance to be wrong: [[add]] validates the
  * CURRENT snapshot first (one full scan, at DDL time — the only
  * non-O(delta) moment in the design), so the invariant holds
  * inductively afterward at O(batch) per commit.
  *
  * Constraints live in a small `constraints/` generation store beside
  * the manifest (JSON-per-line payload re-published whole through
  * [[GenCas]] — the same exclusive-create CAS fence [[LakeProps]] and
  * [[LakeRefs]] ride), so concurrent DDL serializes: two racing
  * `addUnique`+`addFk` both survive, the loser re-basing onto the
  * winner's declarations. A legacy `constraints.txt` (the pre-fence
  * atomic-replace layout) is still read and is migrated into the store
  * by the first DDL that touches it. A constraint added while a commit
  * is in flight governs the next commit, not the in-flight one
  * (enforcement reads the declarations at commit start).
  *
  * Enforcement is ONE aggregate job over the batch per commit (all
  * constraints summed in a single pass), so at 100 TB the cost tracks
  * ingest rate and constraint count, never table size.
  */
object LakeConstraints {

  private val FileName = "constraints.txt"

  /** One declared constraint: a CHECK predicate, a UNIQUE column set, a
    * FOREIGN KEY (child columns referencing a parent table's columns),
    * or the PARENT-side reverse pointer of a RESTRICT FK (the handle
    * that lets the parent's own delete paths discover which child to
    * probe — without it a parent delete cannot know referencing children
    * exist).
    */
  private sealed trait Decl { def name: String }
  private final case class CheckDecl(name: String, check: String) extends Decl
  private final case class UniqueDecl(name: String, cols: Seq[String]) extends Decl
  private final case class FkDecl(
      name: String, cols: Seq[String], parentDir: String, parentCols: Seq[String],
      restrict: Boolean = false)
      extends Decl
  private final case class RestrictDecl(
      name: String, childDir: String, childCols: Seq[String], parentCols: Seq[String])
      extends Decl

  private def genRoot(tableDir: String): String = s"$tableDir/constraints"

  private def declsOf(spark: SparkSession, tableDir: String): Seq[Decl] =
    GenCas.read(spark, genRoot(tableDir))._2
      .map(parse)
      .getOrElse(legacyDecls(spark, tableDir))

  /** The pre-fence `constraints.txt` layout (atomic replace): read-only
    * compatibility — the first fenced DDL migrates it into the store.
    */
  private def legacyDecls(spark: SparkSession, tableDir: String): Seq[Decl] = {
    val p = new org.apache.hadoop.fs.Path(tableDir, FileName)
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!f.exists(p)) Nil
    else {
      val in = f.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      parse(text)
    }
  }

  private def parse(text: String): Seq[Decl] =
    text.linesIterator.map(_.trim).filter(_.nonEmpty).map { line =>
        import org.json4s.JsonAST._
        org.json4s.jackson.JsonMethods.parse(line) match {
          case JObject(fields) =>
            val m = fields.toMap
            def csv(s: String): Seq[String] =
              s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            (m.get("name"), m.get("check"), m.get("unique"), m.get("fk"),
              m.get("restrict")) match {
              case (Some(JString(n)), Some(JString(c)), _, _, _) => CheckDecl(n, c)
              case (Some(JString(n)), _, Some(JString(u)), _, _) =>
                UniqueDecl(n, csv(u))
              case (Some(JString(n)), _, _, Some(JString(f)), _) =>
                (m.get("parent"), m.get("pcols")) match {
                  case (Some(JString(pd)), Some(JString(pc))) =>
                    FkDecl(n, csv(f), pd, csv(pc),
                      restrict = m.get("mode").contains(JString("restrict")))
                  case _ =>
                    throw new IllegalStateException(s"malformed fk line: $line")
                }
              case (Some(JString(n)), _, _, _, Some(JString(cc))) =>
                (m.get("child"), m.get("pcols")) match {
                  case (Some(JString(cd)), Some(JString(pc))) =>
                    RestrictDecl(n, cd, csv(cc), csv(pc))
                  case _ =>
                    throw new IllegalStateException(s"malformed restrict line: $line")
                }
              case _ => throw new IllegalStateException(s"malformed constraint line: $line")
            }
          case _ => throw new IllegalStateException(s"malformed constraint line: $line")
        }
      }.toSeq

  /** Whether the table declares any constraint a commit probes. */
  private[sources] def declared(spark: SparkSession, tableDir: String): Boolean =
    declsOf(spark, tableDir).nonEmpty

  /** Declared CHECK constraints, in declaration order. */
  def constraintsOf(spark: SparkSession, tableDir: String): Seq[(String, String)] =
    declsOf(spark, tableDir).collect { case CheckDecl(n, c) => n -> c }

  /** Declared UNIQUE constraints: name -> column set, declaration order. */
  def uniquesOf(spark: SparkSession, tableDir: String): Seq[(String, Seq[String])] =
    declsOf(spark, tableDir).collect { case UniqueDecl(n, cs) => n -> cs }

  /** Declared FOREIGN KEYs: name -> (child cols, parent dir, parent cols). */
  def fksOf(
      spark: SparkSession,
      tableDir: String): Seq[(String, (Seq[String], String, Seq[String]))] =
    declsOf(spark, tableDir).collect {
      case FkDecl(n, cs, pd, pc, _) => n -> ((cs, pd, pc))
    }

  /** Parent-side RESTRICT reverse pointers:
    * name -> (child dir, child cols, this table's key cols).
    */
  def restrictsOf(
      spark: SparkSession,
      tableDir: String): Seq[(String, (String, Seq[String], Seq[String]))] =
    declsOf(spark, tableDir).collect {
      case RestrictDecl(n, cd, cc, pc) => n -> ((cd, cc, pc))
    }

  /** Declare a CHECK constraint. Validates the current snapshot FIRST
    * (a table already violating the predicate refuses the DDL, like
    * Delta's ADD CONSTRAINT), then persists.
    */
  def add(spark: SparkSession, tableDir: String, name: String, check: String): Unit = {
    val existing = declsOf(spark, tableDir)
    require(!existing.exists(_.name == name), s"constraint '$name' already exists on $tableDir")
    // fail fast on an unparseable predicate before scanning anything
    expr(check): Unit
    VersionedLake.currentVersion(spark, tableDir).foreach { _ =>
      enforceOn(VersionedLake.read(spark, tableDir), tableDir,
        Seq(name -> check), "ADD CONSTRAINT (existing rows)")
    }
    addDecl(spark, tableDir, CheckDecl(name, check))
  }

  /** Declare a UNIQUE (primary-key-style) constraint over `cols`.
    * Validates the CURRENT snapshot first — a table already holding
    * duplicates refuses the DDL, like [[add]]'s full-scan moment — then
    * persists; every later insert-family commit enforces at O(batch +
    * overlapping directories) INSIDE the commit's critical section, so
    * two racing writers serialize through the manifest slot (the loser
    * re-bases and re-probes against the winner's rows — see
    * [[enforceUnique]]). NULL semantics follow the SQL standard: rows
    * with any NULL key column never conflict (UNIQUE, not NOT NULL).
    */
  def addUnique(
      spark: SparkSession,
      tableDir: String,
      name: String,
      cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "UNIQUE constraint needs at least one column")
    require(cols.map(_.toLowerCase).distinct.size == cols.size,
      s"duplicate column in UNIQUE($name): ${cols.mkString(",")}")
    val existing = declsOf(spark, tableDir)
    require(!existing.exists(_.name == name), s"constraint '$name' already exists on $tableDir")
    VersionedLake.currentVersion(spark, tableDir).foreach { _ =>
      val snap = VersionedLake.read(spark, tableDir)
      val missing = cols.filterNot(c => snap.columns.exists(_.equalsIgnoreCase(c)))
      require(missing.isEmpty,
        s"UNIQUE($name) references missing column(s): ${missing.mkString(",")}")
      val dup = snap.filter(cols.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(cols.map(col): _*).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"cannot ADD UNIQUE '$name' (${cols.mkString(",")}): existing rows " +
          s"already duplicate ${dup.headOption.fold("")(_.toString)}")
    }
    addDecl(spark, tableDir, UniqueDecl(name, cols))
  }

  /** Declare a FOREIGN KEY: `cols` of this (child) table must exist in
    * `parentDir`'s `parentCols`. Validates the CURRENT child snapshot
    * against the CURRENT parent first (one anti-join, the DDL-time
    * moment), then every insert-family commit on the child probes at
    * O(batch + parent directories the batch's key range overlaps) —
    * see [[enforceFk]]. SQL MATCH SIMPLE semantics: a child row with ANY
    * NULL key column passes.
    *
    * The parent side is ungated BY DEFAULT (a parent delete orphaning
    * children is drift the `verify_constraints` audit reports — the
    * lakehouse norm). `restrict = true` opts into ON DELETE RESTRICT:
    * a reverse pointer lands in the PARENT's own constraint store
    * (before the child's declaration — the conservative order: during
    * the non-atomic two-store window the parent is gated for a child
    * not yet enforcing, never the reverse), and every predicate
    * delete/update commit on the parent then probes its REMOVED keys
    * against the child at O(parent delta × child directories the delta's
    * key range overlaps) — see [[enforceRestrict]] for the exact cost
    * and duplicate-key contract.
    */
  def addFk(
      spark: SparkSession,
      tableDir: String,
      name: String,
      cols: Seq[String],
      parentDir: String,
      parentCols: Seq[String],
      restrict: Boolean = false): Unit = {
    require(cols.nonEmpty && cols.size == parentCols.size,
      s"FK($name): child and parent column lists must align, got " +
        s"(${cols.mkString(",")}) vs (${parentCols.mkString(",")})")
    val existing = declsOf(spark, tableDir)
    require(!existing.exists(_.name == name), s"constraint '$name' already exists on $tableDir")
    require(VersionedLake.currentVersion(spark, parentDir).isDefined,
      s"FK($name): parent table $parentDir has no published version")
    VersionedLake.currentVersion(spark, tableDir).foreach { _ =>
      val bad = fkViolations(spark, VersionedLake.read(spark, tableDir),
        cols, parentDir, parentCols, rangePrune = false).limit(1).collect()
      require(bad.isEmpty,
        s"cannot ADD FOREIGN KEY '$name': existing child rows reference " +
          s"missing parent keys, e.g. ${bad.headOption.fold("")(_.toString)}")
    }
    if (restrict) {
      // parent-side names are qualified by the child dir: two children
      // may declare same-named FKs against one parent
      addDecl(spark, parentDir,
        RestrictDecl(s"$name@$tableDir", tableDir, cols, parentCols))
      // if the child-side declaration refuses (a racing DDL won the name
      // with a DIFFERENT declaration), the parent pointer just written
      // would permanently gate the parent's deletes for a constraint that
      // never existed — revoke it before rethrowing
      try addDecl(spark, tableDir, FkDecl(name, cols, parentDir, parentCols, restrict))
      catch {
        case e: Throwable =>
          scala.util.Try(drop(spark, parentDir, s"$name@$tableDir")): Unit
          throw e
      }
    } else
      addDecl(spark, tableDir, FkDecl(name, cols, parentDir, parentCols, restrict))
  }

  /** Child rows of `frame` whose non-null FK key is absent from the
    * parent. `rangePrune` narrows the parent read to the directories the
    * frame's key range overlaps (the O(delta) ingest path); the audit
    * path scans the whole parent.
    */
  private def fkViolations(
      spark: SparkSession,
      frame: DataFrame,
      cols: Seq[String],
      parentDir: String,
      parentCols: Seq[String],
      rangePrune: Boolean): DataFrame = {
    val bcols = cols.flatMap(c => frame.columns.find(_.equalsIgnoreCase(c)))
    require(bcols.size == cols.size,
      s"FK columns missing from the frame: ${cols.filterNot(c =>
        frame.columns.exists(_.equalsIgnoreCase(c))).mkString(",")}")
    val keyed = frame.filter(bcols.map(col(_).isNotNull).reduce(_ && _))
      .select(bcols.zipWithIndex.map { case (c, i) => col(c).as(s"_f$i") }: _*)
      .distinct()
    val pv = VersionedLake.currentVersion(spark, parentDir).getOrElse(
      throw new IllegalStateException(s"FK parent $parentDir has no published version"))
    val pSchema = VersionedLake.versionSchema(spark, parentDir, pv)
    def parentName(c: String): String = pSchema
      .flatMap(_.fields.find(_.name.equalsIgnoreCase(c)).map(_.name)).getOrElse(c)
    val parentFrame =
      if (!rangePrune) VersionedLake.readVersion(spark, parentDir, pv)
      else {
        import org.apache.spark.sql.sources.{Filter => SFilter, GreaterThanOrEqual, LessThanOrEqual}
        val aggs = (0 until bcols.size).flatMap(i =>
          Seq(min(col(s"_f$i")), max(col(s"_f$i"))))
        val mm = keyed.agg(aggs.head, aggs.tail: _*).head()
        if (mm.isNullAt(0)) return keyed.limit(0)
        val filters: Seq[SFilter] = parentCols.zipWithIndex.flatMap { case (pc, i) =>
          val (lo, hi) = (mm.get(2 * i), mm.get(2 * i + 1))
          if (lo == null || hi == null) Nil
          else Seq(GreaterThanOrEqual(parentName(pc), lo),
            LessThanOrEqual(parentName(pc), hi))
        }
        val candidates = VersionedLake.pruneDirsForFilters(spark, parentDir, pv, filters)
        if (candidates.isEmpty) return keyed // nothing can match: ALL violate
        VersionedLake.readDirsWithDeletes(spark, parentDir, pv, candidates, pSchema)
      }
    keyed.join(parentFrame,
      parentCols.zipWithIndex.map { case (pc, i) =>
        keyed(s"_f$i") === parentFrame(parentName(pc))
      }.reduce(_ && _), "left_anti")
  }

  /** Insert-family commit hook for FOREIGN KEYs: every batch row's
    * non-null key must exist in the parent's CURRENT snapshot, probed
    * against only the parent directories the batch's key range overlaps.
    * Not serialized against concurrent parent deletes (cross-table
    * serialization is [[LakeAtomicTxn]]'s job when a pipeline needs it);
    * `verify_constraints` audits the steady state.
    */
  private[sources] def enforceFk(
      spark: SparkSession,
      tableDir: String,
      batch: DataFrame,
      op: String): Unit =
    fksOf(spark, tableDir).foreach { case (name, (cols, parentDir, parentCols)) =>
      if (cols.forall(c => batch.columns.exists(_.equalsIgnoreCase(c)))) {
        val bad = fkViolations(spark, batch, cols, parentDir, parentCols,
          rangePrune = true).limit(1).collect()
        if (bad.nonEmpty)
          throw new IllegalArgumentException(
            s"$op on $tableDir violates FOREIGN KEY '$name' " +
              s"(${cols.mkString(",")} -> $parentDir(${parentCols.mkString(",")})): " +
              s"key ${bad.head.toSeq.mkString("(", ",", ")")} has no parent row")
      }
    }

  /** ON DELETE RESTRICT commit hook — run on the PARENT's predicate
    * delete/update paths. `removedPre` is the pre-image rows leaving the
    * table in this commit; `retainedPost` (when the op re-supplies rows —
    * an update's post-image, a replace's batch) subtracts keys that
    * survive, so an update not touching the key column removes nothing.
    * For each removed key, ONE semi-join probes the child's directories
    * range-pruned by the delta's own key min/max (bloom point-probe for
    * ≤16 keys, like the UNIQUE gate) — O(parent delta × overlapping
    * child directories), never O(child).
    *
    * Duplicate-key contract: a key is treated as leaving when its LAST
    * copy inside the commit's scope leaves. A duplicate surviving in a
    * directory the commit never touched can still refuse conservatively
    * — exact for the UNIQUE-keyed parent (the normal FK shape), never
    * unsound: RESTRICT may over-refuse, it may not orphan. Gated paths:
    * the predicate delete/update family (CoW and MoR) and keyed upserts
    * (pre-images = the matched keys' rows; a rekey that strips a
    * referenced value refuses). Not gated: whole-snapshot replacement
    * ([[VersionedLake.commit]]) — `verify_constraints` audits it, as
    * documented on [[addFk]].
    */
  private[sources] def enforceRestrict(
      spark: SparkSession,
      tableDir: String,
      removedPre: => DataFrame,
      retainedPost: Option[DataFrame],
      op: String): Unit = {
    val rs = restrictsOf(spark, tableDir)
    if (rs.isEmpty) return
    val pre = removedPre
    rs.foreach { case (name, (childDir, childCols, parentCols)) =>
      val pcols = parentCols.flatMap(c => pre.columns.find(_.equalsIgnoreCase(c)))
      if (pcols.size == parentCols.size) {
        val removed0 = pre.filter(pcols.map(col(_).isNotNull).reduce(_ && _))
          .select(pcols.zipWithIndex.map { case (c, i) => col(c).as(s"_r$i") }: _*)
          .distinct()
        val removed = retainedPost match {
          case Some(post)
              if parentCols.forall(c => post.columns.exists(_.equalsIgnoreCase(c))) =>
            val kcols = parentCols.map(c =>
              post.columns.find(_.equalsIgnoreCase(c)).get)
            val postKeys = post.select(kcols.zipWithIndex.map { case (c, i) =>
              col(c).as(s"_p$i")
            }: _*).distinct()
            removed0.join(postKeys,
              parentCols.indices.map(i =>
                removed0(s"_r$i") <=> postKeys(s"_p$i")).reduce(_ && _),
              "left_anti")
          case _ => removed0
        }
        VersionedLake.currentVersion(spark, childDir).foreach { cv =>
          val cSchema = VersionedLake.versionSchema(spark, childDir, cv)
          def childName(c: String): String = cSchema
            .flatMap(_.fields.find(_.name.equalsIgnoreCase(c)).map(_.name)).getOrElse(c)
          import org.apache.spark.sql.sources.{Filter => SFilter, GreaterThanOrEqual, In, LessThanOrEqual}
          val aggs = parentCols.indices.flatMap(i =>
            Seq(min(col(s"_r$i")), max(col(s"_r$i"))))
          val mm = removed.agg(aggs.head, aggs.tail: _*).head()
          if (!mm.isNullAt(0)) {
            val rangeFilters: Seq[SFilter] = childCols.zipWithIndex.flatMap {
              case (c, i) =>
                val (lo, hi) = (mm.get(2 * i), mm.get(2 * i + 1))
                if (lo == null || hi == null) Nil
                else Seq(GreaterThanOrEqual(childName(c), lo),
                  LessThanOrEqual(childName(c), hi))
            }
            val filters: Seq[SFilter] =
              if (childCols.size != 1) rangeFilters
              else {
                val ks = removed.select(col("_r0")).distinct().limit(17)
                  .collect().map(_.get(0))
                if (ks.length <= 16 && ks.nonEmpty)
                  In(childName(childCols.head), ks) +: rangeFilters
                else rangeFilters
              }
            val candidates =
              VersionedLake.pruneDirsForFilters(spark, childDir, cv, filters)
            if (candidates.nonEmpty) {
              val children = VersionedLake.readDirsWithDeletes(
                spark, childDir, cv, candidates, cSchema)
              val hit = removed.join(children,
                childCols.zipWithIndex.map { case (c, i) =>
                  removed(s"_r$i") === children(childName(c))
                }.reduce(_ && _), "left_semi").limit(1).collect()
              if (hit.nonEmpty)
                throw new IllegalArgumentException(
                  s"$op on $tableDir violates RESTRICT FK '$name': key " +
                    s"${hit.head.toSeq.mkString("(", ",", ")")} is still " +
                    s"referenced by $childDir(${childCols.mkString(",")})")
            }
          }
        }
      }
    }
  }

  /** Audit every declared constraint of `tableDir` against its CURRENT
    * snapshot: (constraint, kind, violations). O(rows) per constraint —
    * the steady-state drift check for invariants the commit gates cannot
    * serialize (FK vs parent deletes), and a sanity face for the rest.
    */
  def verifyAll(
      spark: SparkSession,
      tableDir: String): Seq[(String, String, Long)] = {
    val snap = VersionedLake.read(spark, tableDir)
    declsOf(spark, tableDir).map {
      case CheckDecl(n, p) =>
        val withMissing = referencedMissing(snap, p)
          .foldLeft(snap)((d, m) => d.withColumn(m, lit(null)))
        (n, "check",
          withMissing.select(sum(when(violates(p), 1L).otherwise(0L)).as("n"))
            .head().getLong(0))
      case UniqueDecl(n, cols) =>
        val bcols = cols.flatMap(c => snap.columns.find(_.equalsIgnoreCase(c)))
        val v =
          if (bcols.size != cols.size) 0L
          else snap.filter(bcols.map(col(_).isNotNull).reduce(_ && _))
            .groupBy(bcols.map(col): _*).agg(count(lit(1)).as("_n"))
            .filter(col("_n") > 1)
            .agg(coalesce(sum(col("_n") - 1), lit(0L))).head().getLong(0)
        (n, "unique", v)
      case FkDecl(n, cols, pd, pc, _) =>
        (n, "fk",
          fkViolations(spark, snap, cols, pd, pc, rangePrune = false).count())
      case RestrictDecl(n, cd, cc, pc) =>
        // the parent-side audit of the same invariant: child rows whose
        // key no longer has a parent row (orphans a racing or pre-RESTRICT
        // delete left behind)
        (n, "restrict",
          fkViolations(spark, VersionedLake.read(spark, cd), cc, tableDir, pc,
            rangePrune = false).count())
    }
  }

  /** Constraint carry for [[VersionedLake.cloneTable]]: the clone's rows
    * ARE a snapshot that satisfied these constraints, so re-validating
    * (as [[add]] would) is a wasted scan. FK pointers are REWRITTEN
    * through `parentMap` (source dir -> its clone): an absolute
    * `parentDir` carried verbatim would keep the clone enforcing against
    * the ORIGINAL parent — wrong lake for a mirrored child+parent pair,
    * and broken outright once the source root moves or is vacuumed.
    * A caller cloning a whole namespace passes the same map to every
    * [[VersionedLake.cloneTable]] call, in any order, and the pair's
    * declaration AND enforcement land inside the clone set:
    *
    *   - a self-referencing FK always maps onto the clone (no map needed);
    *   - a mapped RESTRICT FK stays RESTRICT, and the reverse pointer is
    *     INSTALLED in the mapped parent's store (idempotent with the
    *     pointer the parent's own clone carries — same name, same decl);
    *   - an UNMAPPED cross-table RESTRICT FK downgrades to a plain FK:
    *     the source parent's reverse pointer names the SOURCE child only,
    *     so carrying `restrict` would declare an enforcement that nothing
    *     performs — the downgrade keeps the declaration truthful (inserts
    *     still validate against the live source parent);
    *   - an unmapped cross-table [[RestrictDecl]] (cloning a PARENT) is
    *     DROPPED: the clone's deletes must not be gated by a child table
    *     it doesn't own.
    *
    * The destination store MERGES rather than replaces, so a reverse
    * pointer installed by the child's earlier clone survives the parent's
    * own carry (names collide only on the identical declaration).
    */
  private[sources] def copyTo(
      spark: SparkSession,
      srcDir: String,
      dstDir: String,
      parentMap: Map[String, String] = Map.empty): Unit = {
    // parent-side reverse-pointer names embed the child dir; keep the
    // name in lockstep with the remapped pointer so drop() on the cloned
    // child finds it
    def renamed(n: String, oldChild: String, newChild: String): String =
      if (n.endsWith(s"@$oldChild")) n.dropRight(oldChild.length + 1) + s"@$newChild"
      else n
    val carried = declsOf(spark, srcDir).flatMap {
      case f: FkDecl if f.parentDir == srcDir => Some(f.copy(parentDir = dstDir))
      case f: FkDecl =>
        parentMap.get(f.parentDir) match {
          case Some(p) => Some(f.copy(parentDir = p))
          case None    => Some(f.copy(restrict = false))
        }
      case r: RestrictDecl if r.childDir == srcDir =>
        Some(r.copy(name = renamed(r.name, srcDir, dstDir), childDir = dstDir))
      case r: RestrictDecl =>
        parentMap.get(r.childDir).map(c =>
          r.copy(name = renamed(r.name, r.childDir, c), childDir = c))
      case other => Some(other)
    }
    if (carried.nonEmpty)
      mutate(spark, dstDir)(existing =>
        existing.filterNot(e => carried.exists(_.name == e.name)) ++ carried)
    // a surviving RESTRICT FK needs its reverse pointer in the NEW
    // parent's store (the self case already carried it above)
    carried.foreach {
      case FkDecl(n, cols, pd, pc, true) if pd != dstDir =>
        addDecl(spark, pd, RestrictDecl(s"$n@$dstDir", dstDir, cols, pc))
      case _ => ()
    }
  }

  /** ROW-LOCAL constraint carry for replication mirrors: CHECK
    * declarations only. A CHECK is order-independent and cannot refuse a
    * faithful mirror (every mirrored row passed the identical predicate
    * at the source), so carrying it gives readers of the mirror the same
    * trust the source promises, at O(batch) per sync like any ingest.
    * UNIQUE and FK deliberately do NOT carry: FK enforcement on a mirror
    * would refuse a faithful single-table sync whose child lands before
    * its parent's (use [[LakeReplicate.syncAll]] for FK-consistent star
    * snapshots), and UNIQUE probes would re-pay per sync an invariant
    * the source's own writers already serialize on — enforcement belongs
    * at the writer; `verify_constraints` audits the mirror on demand.
    */
  private[sources] def copyChecksTo(
      spark: SparkSession,
      srcDir: String,
      dstDir: String): Unit = {
    val checks = declsOf(spark, srcDir).collect { case c: CheckDecl => c }
    if (checks.nonEmpty)
      mutate(spark, dstDir)(existing =>
        existing.filterNot(e => checks.exists(_.name == e.name)) ++ checks)
  }

  /** Remove a constraint (no-op if absent). `kind` — when given, one of
    * `"check"`/`"unique"`/`"fk"` — must match the declaration being
    * dropped: the SQL face spells the kind in the property prefix
    * (`UNSET TBLPROPERTIES('unique.x')`), and silently dropping a CHECK
    * or FK that merely shares the name would revoke an invariant the
    * user never named.
    */
  def drop(
      spark: SparkSession,
      tableDir: String,
      name: String,
      kind: Option[String] = None): Unit = {
    // fast path: nothing declared at all — don't publish a generation
    val found = declsOf(spark, tableDir).find(_.name == name).getOrElse(return)
    mutate(spark, tableDir) { existing =>
      existing.find(_.name == name) match {
        case None => existing // already dropped (idempotent retry)
        case Some(d) =>
          val actual = d match {
            case _: CheckDecl    => "check"
            case _: UniqueDecl   => "unique"
            case _: FkDecl       => "fk"
            case _: RestrictDecl => "restrict"
          }
          kind.foreach(k => require(k == actual,
            s"constraint '$name' on $tableDir is a ${actual.toUpperCase} " +
              s"constraint; refusing to drop it through the '$k.' property"))
          existing.filterNot(_.name == name)
      }
    }
    // a RESTRICT FK owns a reverse pointer in the parent's store: revoke
    // it with the declaration, or the parent would gate deletes for a
    // constraint that no longer exists
    found match {
      case FkDecl(n, _, pd, _, true) => drop(spark, pd, s"$n@$tableDir")
      case _                         => ()
    }
  }

  /** Payload render. ALWAYS newline-terminated: [[GenCas.read]] treats a
    * zero-length generation file as a crashed committer's slot, so an
    * empty declaration set (last constraint dropped) must still publish
    * a non-empty payload or the drop would silently resurrect.
    */
  private def render(all: Seq[Decl]): String = {
    import org.json4s.JsonAST._
    all.map {
      case CheckDecl(n, c) =>
        org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
          JObject(List("name" -> (JString(n): JValue), "check" -> (JString(c): JValue)))))
      case UniqueDecl(n, cs) =>
        org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
          JObject(List("name" -> (JString(n): JValue),
            "unique" -> (JString(cs.mkString(",")): JValue)))))
      case FkDecl(n, cs, pd, pc, restrict) =>
        org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
          JObject(List("name" -> (JString(n): JValue),
            "fk" -> (JString(cs.mkString(",")): JValue),
            "parent" -> (JString(pd): JValue),
            "pcols" -> (JString(pc.mkString(",")): JValue)) ++
            (if (restrict) List("mode" -> (JString("restrict"): JValue)) else Nil))))
      case RestrictDecl(n, cd, cc, pc) =>
        org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
          JObject(List("name" -> (JString(n): JValue),
            "restrict" -> (JString(cc.mkString(",")): JValue),
            "child" -> (JString(cd): JValue),
            "pcols" -> (JString(pc.mkString(",")): JValue)))))
    }.mkString("", "\n", "\n")
  }

  /** Fenced declaration mutation: re-reads the current set (generation
    * store, seeded from the legacy file on first touch), applies `f`,
    * publishes the next generation through the exclusive-create CAS —
    * so two concurrent DDL statements BOTH survive, the loser re-basing
    * onto the winner's declarations. Per [[GenCas.mutate]]'s contract,
    * `f` must be idempotent on its own effect: adds no-op when an
    * identical declaration is already present, drops no-op on an absent
    * name. The legacy `constraints.txt` retires (best-effort delete)
    * once its contents live in the store.
    */
  private def mutate(
      spark: SparkSession,
      tableDir: String)(f: Seq[Decl] => Seq[Decl]): Unit = {
    GenCas.mutate(spark, genRoot(tableDir)) { cur =>
      render(f(cur.map(parse).getOrElse(legacyDecls(spark, tableDir))))
    }
    scala.util.Try {
      val p = new org.apache.hadoop.fs.Path(tableDir, FileName)
      val fsys = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (fsys.exists(p)) fsys.delete(p, false)
    }: Unit
  }

  /** Append one declaration under the fence; `name` collision with a
    * DIFFERENT declaration refuses (re-applying the identical one is the
    * idempotent retry [[GenCas.mutate]]'s ABA guard can issue).
    */
  private def addDecl(spark: SparkSession, tableDir: String, d: Decl): Unit =
    mutate(spark, tableDir) { existing =>
      if (existing.contains(d)) existing
      else {
        require(!existing.exists(_.name == d.name),
          s"constraint '${d.name}' already exists on $tableDir")
        existing :+ d
      }
    }

  /** Commit-path hook: validate `batch` against the table's declared
    * constraints, throwing on any violation. Zero cost (one small-file
    * existence check) when the table has no constraints.
    */
  private[sources] def enforce(
      spark: SparkSession,
      tableDir: String,
      batch: DataFrame,
      op: String): Unit = {
    val cs = constraintsOf(spark, tableDir)
    if (cs.nonEmpty) enforceOn(batch, tableDir, cs, op)
  }

  /** Insert-family commit hook for UNIQUE constraints — run INSIDE the
    * committing path's critical section (after the base version is
    * read), so two racing writers SERIALIZE through the manifest slot:
    * the loser's retry re-reads the winner's version and re-probes
    * against its rows. Cost is O(batch) for the within-batch check plus
    * ONE semi-join over the directories the batch's own key RANGE
    * overlaps (range-pruned through the manifest stats layer — on
    * time-clustered keys that is the newest directory or none). A batch
    * omitting a key column evolves it as NULL, and NULL keys never
    * conflict (SQL UNIQUE semantics). `exclude` scopes the probe for
    * replacement writes (replaceWhere probes only rows OUTSIDE the
    * replaced predicate).
    */
  private[sources] def enforceUnique(
      spark: SparkSession,
      tableDir: String,
      batch: DataFrame,
      baseVersion: Option[Long],
      op: String,
      exclude: Option[Column] = None): Unit = {
    val us = uniquesOf(spark, tableDir)
    if (us.isEmpty) return
    us.foreach { case (name, cols) =>
      val bcols = cols.flatMap(c => batch.columns.find(_.equalsIgnoreCase(c)))
      if (bcols.size == cols.size) {
        val keyed = batch.filter(bcols.map(col(_).isNotNull).reduce(_ && _))
        val dup = keyed.groupBy(bcols.map(col): _*).agg(count(lit(1)).as("_n"))
          .filter(col("_n") > 1).limit(1).collect()
        if (dup.nonEmpty)
          throw new IllegalArgumentException(
            s"$op on $tableDir violates UNIQUE '$name' (${cols.mkString(",")}): " +
              s"the batch itself duplicates ${dup.head.toSeq.init.mkString("(", ",", ")")}")
        baseVersion.foreach { v =>
          // range-prune: the batch's own min/max per key column against
          // the manifest stats layer — candidate dirs only
          val aggs = bcols.flatMap(c => Seq(min(col(c)), max(col(c))))
          val mm = keyed.agg(aggs.head, aggs.tail: _*).head()
          if (!mm.isNullAt(0)) {
            import org.apache.spark.sql.sources.{Filter => SFilter, GreaterThanOrEqual, In, LessThanOrEqual}
            val schema0 = VersionedLake.versionSchema(spark, tableDir, v)
            def tableName(c: String): String = schema0
              .flatMap(_.fields.find(_.name.equalsIgnoreCase(c)).map(_.name)).getOrElse(c)
            val rangeFilters: Seq[SFilter] = bcols.zipWithIndex.flatMap { case (c, i) =>
              val (lo, hi) = (mm.get(2 * i), mm.get(2 * i + 1))
              if (lo == null || hi == null) Nil
              else Seq(GreaterThanOrEqual(tableName(c), lo), LessThanOrEqual(tableName(c), hi))
            }
            // point batches (the single-row INSERT shape) additionally
            // probe the BLOOM layer: an In over ≤16 keys lets the pruner
            // hash-test each directory, so a fresh key against a
            // bloom-layered table probes ZERO directories instead of the
            // range-overlapping one. The 17-row peek bounds the collect.
            val filters: Seq[SFilter] =
              if (bcols.size != 1) rangeFilters
              else {
                val ks = keyed.select(col(bcols.head)).distinct().limit(17)
                  .collect().map(_.get(0))
                if (ks.length <= 16 && ks.nonEmpty)
                  In(tableName(bcols.head), ks) +: rangeFilters
                else rangeFilters
              }
            val candidates = VersionedLake.pruneDirsForFilters(spark, tableDir, v, filters)
            if (candidates.nonEmpty) {
              val existing0 = VersionedLake.readDirsWithDeletes(
                spark, tableDir, v, candidates, schema0)
              val existing = exclude.fold(existing0)(p =>
                existing0.filter(!coalesce(p, lit(false))))
              val probe = keyed.select(bcols.zipWithIndex.map { case (c, i) =>
                col(c).as(s"_u$i")
              }: _*).distinct()
              val clash = probe.join(existing,
                bcols.zipWithIndex.map { case (c, i) =>
                  probe(s"_u$i") === existing(tableName(c))
                }.reduce(_ && _), "left_semi").limit(1).collect()
              if (clash.nonEmpty)
                throw new IllegalArgumentException(
                  s"$op on $tableDir violates UNIQUE '$name' (${cols.mkString(",")}): " +
                    s"key ${clash.head.toSeq.mkString("(", ",", ")")} already exists")
            }
          }
        }
      }
    }
  }

  private def enforceOn(
      batch: DataFrame,
      tableDir: String,
      cs: Seq[(String, String)],
      op: String): Unit = {
    // a batch may legally omit constrained columns (union-by-name
    // evolution): they read back NULL, so validate as NULL
    val withMissing = cs.foldLeft(batch) { (df, c) =>
      referencedMissing(df, c._2).foldLeft(df)((d, m) => d.withColumn(m, lit(null)))
    }
    val counts = withMissing.select(cs.map { case (n, p) =>
      sum(when(violates(p), 1L).otherwise(0L)).as(n)
    }: _*).head()
    val bad = cs.zipWithIndex.collect {
      case ((n, p), i) if !counts.isNullAt(i) && counts.getLong(i) > 0 =>
        s"'$n' CHECK ($p): ${counts.getLong(i)} row(s)"
    }
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"$op on $tableDir violates constraint(s) ${bad.mkString("; ")}")
  }

  /** FALSE violates; TRUE and NULL pass (SQL CHECK). */
  private def violates(check: String): Column = !coalesce(expr(check), lit(true))

  /** Columns the predicate references that `df` lacks. */
  private def referencedMissing(df: DataFrame, check: String): Seq[String] = {
    val have = df.columns.map(_.toLowerCase).toSet
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(check)
      .collect { case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head
      }.distinct
      .filterNot(r => have.contains(r.toLowerCase))
  }
}
