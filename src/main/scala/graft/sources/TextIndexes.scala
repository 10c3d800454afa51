package graft.sources

import org.apache.spark.sql.SparkSession

import scala.collection.concurrent.TrieMap

/** Registry of persisted inverted text indexes eligible for AUTOMATIC
  * BM25 ROUTING ([[graft.plans.Bm25AutoRoute]]) — the lexical analogue
  * of [[LakeMv]]: a registration says "this corpus (a lake table dir or
  * an immutable parquet root) has its postings at `indexDir`, keyed by
  * `idCol`, tokenized from `textCol`". The planner then serves the
  * canonical scan-shaped BM25 aggregate from the index's pruned
  * postings buckets instead of tokenizing the corpus per query — the
  * MV-rewrite bargain applied to retrieval, where at 100 TB it is the
  * difference between reading ≤|terms| hash buckets and re-tokenizing
  * every document ever ingested.
  *
  * Like an MV registration, this is a CLAIM the caller owns: the index
  * must reflect the corpus (for lake corpora the rule additionally
  * checks the sync watermark against the current version — a stale
  * index never serves; for plain-path corpora the data is immutable by
  * contract and the claim stands until dropped).
  */
object TextIndexes {

  final case class Entry(
      indexDir: String, idCol: String, textCol: String, lakeCorpus: Boolean)

  /** The corpus-props key the SQL lifecycle rides (create_text_index /
    * drop_text_index) — fields URL-encoded so paths with commas survive.
    */
  val PropKey = "textidx.def"

  def render(indexDir: String, idCol: String, textCol: String): String =
    Seq(indexDir, idCol, textCol)
      .map(java.net.URLEncoder.encode(_, "UTF-8")).mkString(",")

  def parse(v: String): (String, String, String) =
    v.split(',').map(java.net.URLDecoder.decode(_, "UTF-8")) match {
      case Array(d, i, t) => (d, i, t)
      case _ => throw new IllegalStateException(s"malformed $PropKey: $v")
    }

  private val registry = TrieMap.empty[String, Entry]
  private val consulted = TrieMap.empty[String, Boolean]

  /** One canonical spelling per corpus: scheme-stripped path, so a
    * registration under "/root/x" matches a scan root of "file:/root/x".
    */
  private def norm(dir: String): String =
    scala.util.Try(new org.apache.hadoop.fs.Path(dir).toUri.getPath)
      .toOption.filter(_ != null).filter(_.nonEmpty)
      .getOrElse(dir).stripSuffix("/")

  def register(corpus: String, e: Entry): Unit =
    registry.put(norm(corpus), e): Unit

  def drop(corpus: String): Unit = registry.remove(norm(corpus)): Unit

  private[graft] def clear(): Unit = { registry.clear(); consulted.clear() }

  def isEmpty: Boolean = registry.isEmpty

  def lookup(corpusPath: String): Option[Entry] = registry.get(norm(corpusPath))

  /** Re-register a persisted registration for this lake corpus, once
    * per JVM — called from table resolution like
    * [[LakeMv.registerFromProps]], so it must stay O(1) after the first
    * consult.
    */
  def registerFromProps(spark: SparkSession, corpusDir: String): Unit = {
    val dir = norm(corpusDir)
    if (consulted.putIfAbsent(dir, true).isEmpty && !registry.contains(dir)) {
      LakeProps.get(spark, corpusDir).get(PropKey)
        .flatMap(v => scala.util.Try(parse(v)).toOption)
        .foreach { case (idx, id, text) =>
          registry.put(dir, Entry(idx, id, text, lakeCorpus = true)): Unit
        }
    }
  }
}
