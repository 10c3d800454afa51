package graft.plans

import graft.sources.{LakeTable, TextIndexes, VersionedLake}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StringType

/** SQL TABLE-VALUED FUNCTIONS for positional retrieval —
  * `phrase_search('<corpus>', '<phrase>')` and
  * `near_search('<corpus>', '<terms>', <window>)` in a FROM clause —
  * so a SQL-only client gets exact-phrase and proximity search off the
  * positional postings without `CALL` procedures or the Column API.
  * [[Bm25AutoRoute]] proves the scan-shaped BM25 aggregate can re-plan
  * silently; phrase adjacency has no canonical relational spelling to
  * recognize (every user writes the self-join differently), so the
  * positional face is DECLARED instead: the TVF names the corpus, the
  * registry supplies the index, and the plan the parser splices reads
  * ≤|distinct terms| postings buckets — never the corpus.
  *
  * `corpus` is a registered corpus path ([[TextIndexes]]) or a catalog
  * table name (resolved through the session catalog, which re-registers
  * persisted `textidx.def` declarations on load). A LAKE corpus demands
  * a current sync watermark — a stale index REFUSES loudly rather than
  * serving yesterday's phrase counts (the TVF is an explicit ask, so an
  * error beats the silent decline an auto-route rule owes its caller).
  */
object TextSearchTvf {

  private def stringArg(e: Expression, what: String): String = e match {
    case Literal(s, StringType) if s != null => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  /** The corpus argument accepts an UNQUOTED table identifier too —
    * `FROM phrase_search(docs, ...)` — which the parser hands over as an
    * unresolved attribute; its dotted name is exactly the catalog name
    * [[entryOf]] resolves.
    */
  private def corpusArg(e: Expression): String = e match {
    case Literal(s, StringType) if s != null => s.toString
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
      u.nameParts.mkString(".")
    case other => throw new IllegalArgumentException(
      s"corpus must be a string literal or a table identifier, got $other")
  }

  private def intArg(e: Expression, what: String): Int = e.eval() match {
    case n: Number => n.intValue()
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** Resolve the corpus argument to its registered index entry: first as
    * a registered path, then as a catalog table name whose resolution
    * (re-)registers and reveals the lake dir.
    */
  private def entryOf(
      spark: SparkSession, corpus: String): (String, TextIndexes.Entry) =
    TextIndexes.lookup(corpus).map(corpus -> _).getOrElse {
      // the guard lives IN the pattern: a resolvable table that is not an
      // unpinned LakeTable must fall through to the explicit error below,
      // not blow up with a raw MatchError
      val dir = scala.util.Try(Bridge.logicalPlan(spark.table(corpus))).toOption
        .flatMap(_.collectLeaves().collectFirst {
          case r: DataSourceV2Relation
              if r.table.isInstanceOf[LakeTable] &&
                r.table.asInstanceOf[LakeTable].pinnedVersion.isEmpty =>
            r.table.asInstanceOf[LakeTable].tableDir
        })
        .getOrElse(throw new IllegalArgumentException(
          s"'$corpus' is neither a registered text-index corpus nor a " +
            "resolvable catalog table - CALL system.create_text_index first"))
      dir -> TextIndexes.lookup(dir).getOrElse(
        throw new IllegalArgumentException(
          s"table '$corpus' ($dir) has no registered text index - " +
            "CALL system.create_text_index first"))
    }

  private def requireFresh(
      spark: SparkSession, corpusKey: String, entry: TextIndexes.Entry): Unit =
    if (entry.lakeCorpus) {
      val postDir = graft.operators.InvertedIndex.postingsDir(entry.indexDir)
      val fresh = for {
        corpusV <- VersionedLake.currentVersion(spark, corpusKey)
        postV <- VersionedLake.currentVersion(spark, postDir)
        wm <- VersionedLake.txnWatermarks(spark, postDir, postV)
          .get(graft.operators.InvertedIndex.SyncApp)
      } yield wm == corpusV
      require(fresh.contains(true),
        s"text index ${entry.indexDir} is stale for corpus $corpusKey - " +
          "sync() it before positional retrieval")
    }

  private def terms(phrase: String): Seq[String] =
    phrase.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty).toSeq

  private def kArg(e: Expression): Option[Int] = {
    val k = intArg(e, "k")
    require(k >= 1, s"k must be >= 1, got $k")
    Some(k)
  }

  /** `phrase_search(corpus, phrase [, k])` → (doc_id, n_phrase); `k`
    * bounds the probe itself (top-k by count desc, doc_id — the same
    * ordered limit the procedure face takes), not just the output.
    */
  def phrasePlan(children: Seq[Expression]): LogicalPlan = {
    require(children.size == 2 || children.size == 3,
      s"phrase_search(corpus, phrase[, k]) wants 2-3 arguments, got ${children.size}")
    val spark = SparkSession.active
    val (key, entry) = entryOf(spark, corpusArg(children(0)))
    requireFresh(spark, key, entry)
    Bridge.logicalPlan(graft.operators.InvertedIndex.searchPhrase(
      spark, entry.indexDir, terms(stringArg(children(1), "phrase")),
      k = children.lift(2).flatMap(kArg)))
  }

  /** Analyzer hook for the IDENTIFIER corpus spelling: the analyzer
    * resolves a TVF's argument EXPRESSIONS before consulting the
    * function builder, so a bare `FROM phrase_search(docs, ...)` would
    * die as an unresolved column long before [[phrasePlan]] sees it.
    * This rule rewrites the first argument of our two TVFs from an
    * unresolved attribute into the string literal of its dotted name —
    * after which the ordinary builder path (and its own resolution
    * errors) take over.
    */
  object IdentifierArgRule
      extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedTableValuedFunction}
    private val Names = Set("phrase_search", "near_search")
    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.resolveOperatorsUp {
        case u: UnresolvedTableValuedFunction
            if u.name.nonEmpty && Names(u.name.last.toLowerCase) &&
              u.functionArgs.headOption.exists(_.isInstanceOf[UnresolvedAttribute]) =>
          val corpus = u.functionArgs.head.asInstanceOf[UnresolvedAttribute]
            .nameParts.mkString(".")
          u.copy(functionArgs =
            Literal(org.apache.spark.unsafe.types.UTF8String.fromString(corpus),
              StringType) +: u.functionArgs.tail)
      }
  }

  /** `near_search(corpus, terms, window [, k])` → (doc_id, n_near). */
  def nearPlan(children: Seq[Expression]): LogicalPlan = {
    require(children.size == 3 || children.size == 4,
      s"near_search(corpus, terms, window[, k]) wants 3-4 arguments, got ${children.size}")
    val spark = SparkSession.active
    val (key, entry) = entryOf(spark, corpusArg(children(0)))
    requireFresh(spark, key, entry)
    Bridge.logicalPlan(graft.operators.InvertedIndex.searchNear(
      spark, entry.indexDir, terms(stringArg(children(1), "terms")),
      window = intArg(children(2), "window"),
      k = children.lift(3).flatMap(kArg)))
  }
}
