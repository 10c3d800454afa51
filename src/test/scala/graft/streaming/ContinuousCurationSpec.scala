package graft.streaming

import graft.SparkSpec
import graft.operators.MinHash
import graft.sources.{ManifestPruning, VersionedLake}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThanOrEqual}

/** The continuous-curation loop end to end: a document stream is
  * near-dup-checked against the STANDING corpus per micro-batch
  * (incremental LSH — only the batch is band-exploded), survivors land
  * in the versioned lake as an atomic snapshot per batch. This is the
  * composition a TBs/day ingest actually runs; every piece is the
  * operator the batch faces verify (MinHash.incrementalLshPairs,
  * VersionedLake.appendCommit).
  */
class ContinuousCurationSpec extends SparkSpec {

  /** The loop's compaction cadence: [[VersionedLake.optimize]] once the
    * manifest reaches `maxDirs` directories, else nothing.
    */
  private def compactAt(dir: String, maxDirs: Int): Unit =
    if (VersionedLake.manifest(spark, dir,
        VersionedLake.currentVersion(spark, dir).get).size >= maxDirs)
      VersionedLake.optimize(spark, dir): Unit

  test("streamed batches dedup against everything already admitted") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("curation").toString

    // long enough that a one-word edit keeps Jaccard ≈ 0.95 — deep inside
    // the banding's recall region (and deterministic given the md5 family)
    val base = (1 to 40).map(i => s"word$i").mkString(" ") + " the lazy dog sleeps"
    val in = MemoryStream[(Long, String)]
    val q = in.toDS().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = batch.cache()
        val admitted =
          if (VersionedLake.currentVersion(s, dir).isEmpty) b
          else {
            val standing = VersionedLake.read(s, dir)
            val all = standing.unionByName(b)
            // band the whole (small) index here; a production table keeps
            // the (id, band, key) index persisted and appends per batch
            val sig = MinHash.signatures(all, "doc_id", "text")
            val newSig = sig.join(b.select("doc_id"), "doc_id")
            val dupPairs = MinHash.incrementalLshPairs(
              MinHash.bandRows(sig, "doc_id"), newSig, "doc_id")
            // batch docs colliding with ANYTHING earlier (standing corpus
            // or an earlier doc of the same batch) are rejects
            val batchIds = b.select(col("doc_id")).collect().map(_.getLong(0)).toSet
            val rejects = dupPairs
              .select(greatest(col("id_a"), col("id_b")).as("doc_id"))
              .filter(col("doc_id").isin(batchIds.toSeq: _*))
              .distinct()
            b.join(rejects, Seq("doc_id"), "left_anti")
          }
        VersionedLake.appendCommit(admitted, dir): Unit
        b.unpersist(): Unit
      }
      .start()
    try {
      in.addData((1L, base), (2L, "completely different words entirely here"))
      q.processAllAvailable()
      // batch 2: doc 3 near-duplicates doc 1 (one word changed), doc 4 fresh
      in.addData(
        (3L, base.replace("lazy", "sleepy")),
        (4L, "novel content with no overlap whatsoever to prior documents"))
      q.processAllAvailable()
      // batch 3: doc 5 duplicates the REJECTED doc's ancestor again — must
      // still be rejected against the standing corpus, not the reject
      in.addData((5L, base))
      q.processAllAvailable()

      val admitted = VersionedLake.read(s, dir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(admitted === Set(1L, 2L, 4L),
        s"near-dups must be rejected against the standing corpus, got $admitted")
      // time travel shows the admission history batch by batch
      assert(VersionedLake.readVersion(s, dir, 0)
        .select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    } finally q.stop()
  }

  test("the production ingest loop: exactly-once, skipping layers, cadence compaction") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_loop").toString
    val bloom = Some(VersionedLake.BloomConfig(Seq("id"), bits = 1 << 12, k = 5))
    val in = MemoryStream[(Long, Double)]
    // the foreachBatch body a TBs/day ingest actually runs: exactly-once
    // txn commit (with the epoch replayed, as engines do after failures),
    // skipping layers on every commit, compaction on a manifest cadence
    val q = in.toDS().toDF("id", "v")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epoch: Long) =>
        VersionedLake.appendCommitTxn(batch, dir, "loop", epoch,
          statsCols = Seq("id"), bloom = bloom)
        // sink-side failure-before-ack replay: must be a no-op
        VersionedLake.appendCommitTxn(batch, dir, "loop", epoch,
          statsCols = Seq("id"), bloom = bloom)
        compactAt(dir, maxDirs = 3)
      }
      .start()
    try {
      (0 until 5).foreach { b =>
        in.addData((0 until 10).map(i => (b * 10L + i, i * 1.0)): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val cur = VersionedLake.currentVersion(s, dir).get
    // exactly-once despite every epoch being replayed
    val got = VersionedLake.read(s, dir)
    assert(got.count() === 50L, "each epoch's rows must land exactly once")
    assert(got.select("id").distinct().count() === 50L)
    // the cadence bounded the manifest
    assert(VersionedLake.manifest(s, dir, cur).size <= 3,
      "compaction cadence must bound read-side listing")
    // and compaction KEPT the skipping layers and the writer watermark
    assert(VersionedLake.dirStats(s, dir, cur).nonEmpty,
      "manifest stats must survive auto-compaction")
    assert(VersionedLake.dirBlooms(s, dir, cur).values.exists(_.contains("id")),
      "bloom layer must survive auto-compaction")
    assert(VersionedLake.txnWatermarks(s, dir, cur) === Map("loop" -> 4L),
      "writer progress must survive auto-compaction")
    // the layers still fire after N compactions
    assert(ManifestPruning.kept(s, dir,
      GreaterThanOrEqual("id", 1000L), LessThanOrEqual("id", 2000L)).isEmpty)
    assert(ManifestPruning.read(s, dir, col("id") === 42L, EqualTo("id", 42L)).count() === 1L)
  }

  test("ingest loop + persisted view: the view tracks the table through replays and compactions") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_loop_view").toString
    val viewDir = java.nio.file.Files.createTempDirectory("ingest_loop_view_st").toString
    import graft.sources.LakeView
    def stateOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy((col("id") % 3).as("g"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
    val mergeOps = Seq("n" -> "sum", "total" -> "sum")
    val in = MemoryStream[(Long, Double)]
    // the full production body: exactly-once ingest (epoch replayed),
    // cadence compaction, AND view maintenance per epoch — compactions
    // rewrite every directory, so the view's rebuild-on-rewrite path
    // fires mid-stream between O(delta) incremental syncs
    val q = in.toDS().toDF("id", "v")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epoch: Long) =>
        VersionedLake.appendCommitTxn(batch, dir, "loop", epoch)
        VersionedLake.appendCommitTxn(batch, dir, "loop", epoch) // replay
        compactAt(dir, maxDirs = 3)
        LakeView.sync(s, dir, viewDir, stateOf): Unit
        LakeView.sync(s, dir, viewDir, stateOf): Unit // replay: no-op
      }
      .start()
    try {
      (0 until 5).foreach { b =>
        in.addData((0 until 10).map(i => (b * 10L + i, i * 1.0)): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val viewGot = LakeView.read(s, viewDir, Seq("g"), mergeOps)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val truth = stateOf(VersionedLake.read(s, dir))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(viewGot === truth,
      "the maintained view must equal a recompute after 5 epochs of " +
        "replayed ingest interleaved with compactions")
    // the watermark reflects the corpus head: one more sync is a no-op
    val vV = VersionedLake.currentVersion(s, viewDir).get
    LakeView.sync(s, dir, viewDir, stateOf)
    assert(VersionedLake.currentVersion(s, viewDir).get === vV)
  }
}
