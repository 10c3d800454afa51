package graft.operators

import graft.SparkSpec
import graft.sources.VersionedLake
import org.apache.spark.sql.functions._

/** Persisted IVF index contract: train once, maintain by delta — an
  * append must not re-train the codebook (centroid table version pinned)
  * and must commit only the delta's assignments (O(delta) manifest
  * growth), while the probe answers identically to a fresh full-corpus
  * assignment over the same centroids.
  */
class IvfIndexSpec extends SparkSpec {

  private lazy val emb = graft.engine.Session.table(spark, sf, "embeddings")

  test("append maintains assignments without re-training; probe matches fresh assign") {
    val s = spark
    val idxDir = java.nio.file.Files.createTempDirectory("ivf_idx_spec").toString
    val corpus = emb.filter(col("vec_id") =!= 0)
    val half1 = corpus.filter(col("vec_id") % 2 === 1)
    val half2 = corpus.filter(col("vec_id") % 2 === 0)

    val cents = IvfIndex.build(half1, "vec_id", idxDir, k = 8, iters = 2)
    val centVer0 = VersionedLake.currentVersion(s, IvfIndex.centroidsDir(idxDir))
    val asgVer0 = VersionedLake.currentVersion(s, IvfIndex.assignmentsDir(idxDir)).get
    val m0 = VersionedLake.manifest(s, IvfIndex.assignmentsDir(idxDir), asgVer0)

    IvfIndex.append(half2, "vec_id", idxDir)

    // no re-train: the codebook table took NO new commit
    assert(VersionedLake.currentVersion(s, IvfIndex.centroidsDir(idxDir)) === centVer0)
    assert(IvfIndex.centroids(s, idxDir) === cents)
    // O(delta): the assignment manifest grew by exactly the delta's dirs
    val m1 = VersionedLake.manifest(s, IvfIndex.assignmentsDir(idxDir), asgVer0 + 1)
    assert(m1.size === m0.size + 1, "append must add one data dir, not rewrite")
    assert(m1.startsWith(m0), "prior assignment dirs must be reused verbatim")

    // index rows = full corpus, each assigned once
    val persisted = VersionedLake.read(s, IvfIndex.assignmentsDir(idxDir))
    assert(persisted.count() === corpus.count())
    assert(persisted.select("id").distinct().count() === corpus.count())

    // the persisted probe answers exactly like a fresh full-corpus assign
    // over the SAME centroids (cell is a pure function of the codebook)
    val query = Similarity.withNorm(emb).filter(col("vec_id") === 0)
      .select("v").head().getSeq[Double](0).toSeq
    val fresh = Similarity.ivfTopK(
      Similarity.ivfAssign(corpus, cents), "vec_id", query, k = 5, cents, nProbe = 3)
      .select(col("vec_id").as("id"), round(col("cos"), 6).as("cos"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaIndex = IvfIndex.topK(s, idxDir, query, k = 5, nProbe = 3)
      .select(col("id"), round(col("cos"), 6).as("cos"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIndex === fresh)
  }

  test("sync: manifest-diff maintenance from a versioned corpus, exactly-once") {
    val s = spark
    val corpusDir = java.nio.file.Files.createTempDirectory("ivf_corpus").toString
    val idxDir = java.nio.file.Files.createTempDirectory("ivf_idx_sync").toString
    val corpus = emb.filter(col("vec_id") =!= 0)
    // corpus v0 -> first sync IS the build (train + assign + watermark)
    VersionedLake.commit(corpus.filter(col("vec_id") <= 100), corpusDir)
    assert(IvfIndex.sync(s, corpusDir, "vec_id", idxDir, k = 4, iters = 2) === Some(0L))
    val asgDir = IvfIndex.assignmentsDir(idxDir)
    val cents0 = IvfIndex.centroids(s, idxDir)
    assert(VersionedLake.read(s, asgDir).count() ===
      corpus.filter(col("vec_id") <= 100).count())
    // corpus appends v1 -> sync reads ONLY the new directory, no re-train
    VersionedLake.appendCommit(
      corpus.filter(col("vec_id") > 100 && col("vec_id") <= 200), corpusDir)
    assert(IvfIndex.sync(s, corpusDir, "vec_id", idxDir) === Some(1L))
    assert(IvfIndex.centroids(s, idxDir) === cents0, "sync must never re-train")
    val n = corpus.filter(col("vec_id") <= 200).count()
    assert(VersionedLake.read(s, asgDir).count() === n)
    // replayed sync is a no-op (watermark gates it)
    val vNow = VersionedLake.currentVersion(s, asgDir).get
    assert(IvfIndex.sync(s, corpusDir, "vec_id", idxDir) === Some(1L))
    assert(VersionedLake.currentVersion(s, asgDir).get === vNow,
      "a sync with nothing new must not commit")
    assert(VersionedLake.read(s, asgDir).count() === n)
  }

  test("sync across corpus rewrites: O(changed dirs), deleted ids leave the index") {
    val s = spark
    val corpusDir = java.nio.file.Files.createTempDirectory("ivf_corpus_rw").toString
    val idxDir = java.nio.file.Files.createTempDirectory("ivf_idx_rw").toString
    val corpus = emb.filter(col("vec_id") =!= 0)
    // three stats-keyed corpus commits so the rewrite touches 1 of 3 dirs
    VersionedLake.appendCommit(corpus.filter(col("vec_id") <= 100), corpusDir,
      statsCols = Seq("vec_id"))
    VersionedLake.appendCommit(
      corpus.filter(col("vec_id") > 100 && col("vec_id") <= 200), corpusDir,
      statsCols = Seq("vec_id"))
    VersionedLake.appendCommit(corpus.filter(col("vec_id") > 200), corpusDir,
      statsCols = Seq("vec_id"))
    assert(IvfIndex.sync(s, corpusDir, "vec_id", idxDir, k = 4, iters = 2) === Some(2L))
    val asgDir = IvfIndex.assignmentsDir(idxDir)
    val cents0 = IvfIndex.centroids(s, idxDir)
    val total = corpus.count()
    assert(VersionedLake.read(s, asgDir).count() === total)

    // corpus DELETE rewrites exactly the middle directory
    VersionedLake.deleteWhere(s, corpusDir,
      col("vec_id") >= 150 && col("vec_id") <= 160)
    assert(IvfIndex.sync(s, corpusDir, "vec_id", idxDir) === Some(3L))
    assert(IvfIndex.centroids(s, idxDir) === cents0, "a rewrite sync must not re-train")
    val afterDelete = VersionedLake.read(s, asgDir)
    assert(afterDelete.count() === total - 11,
      "deleted corpus ids must leave the assignments")
    assert(afterDelete.filter(col("id").between(150, 160)).count() === 0L)

    // corpus UPSERT (same vector values) rewrites one dir + appends; the
    // index re-assigns exactly the changed rows and stays answer-identical
    val s2 = s
    import s2.implicits._
    VersionedLake.upsert(s, corpusDir,
      corpus.filter(col("vec_id") === 5), keys = Seq("vec_id"))
    assert(IvfIndex.sync(s, corpusDir, "vec_id", idxDir) === Some(4L))
    val after = VersionedLake.read(s, asgDir)
    assert(after.count() === total - 11)
    assert(after.select("id").distinct().count() === total - 11)

    // the maintained probe answers exactly like a fresh full assign of
    // the REWRITTEN corpus over the same centroids
    val query = Similarity.withNorm(emb).filter(col("vec_id") === 0)
      .select("v").head().getSeq[Double](0).toSeq
    val liveCorpus = VersionedLake.read(s, corpusDir)
    val fresh = Similarity.ivfTopK(
      Similarity.ivfAssign(liveCorpus, cents0), "vec_id", query, k = 5, cents0, nProbe = 3)
      .select(col("vec_id").as("id"), round(col("cos"), 6).as("cos"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaIndex = IvfIndex.topK(s, idxDir, query, k = 5, nProbe = 3)
      .select(col("id"), round(col("cos"), 6).as("cos"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIndex === fresh)

    // O(changed ROWS), not O(rewritten dirs): a compaction rewrites every
    // corpus directory but changes zero logical rows — the CDC-fed sync
    // must carry every assignment data directory VERBATIM (the commit it
    // publishes only advances the watermark). The manifest-diff fallback
    // would have re-assigned the whole corpus here.
    val asgV0 = VersionedLake.currentVersion(s, asgDir).get
    val asgDirs0 = VersionedLake.manifest(s, asgDir, asgV0).toSet
    VersionedLake.optimize(s, corpusDir)
    assert(IvfIndex.sync(s, corpusDir, "vec_id", idxDir) === Some(5L))
    val asgV1 = VersionedLake.currentVersion(s, asgDir).get
    val asgDirs1 = VersionedLake.manifest(s, asgDir, asgV1).toSet
    assert(asgDirs1 === asgDirs0,
      "a compaction-only window must re-assign nothing — zero data rewritten")
    assert(VersionedLake.txnWatermarks(s, asgDir, asgV1).get("corpus-sync") === Some(5L),
      "the watermark still advances exactly-once")
    val viaIndex2 = IvfIndex.topK(s, idxDir, query, k = 5, nProbe = 3)
      .select(col("id"), round(col("cos"), 6).as("cos"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIndex2 === fresh, "the probe is untouched by the no-op sync")
  }

  test("persisted IVF-PQ: codes-only candidate scan; answers match the in-query path") {
    val s = spark
    val idxDir = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    val corpus = emb.filter(col("vec_id") =!= 0)
    val b = Pq.seededBooks(64)
    val cents = IvfIndex.buildPq(
      corpus.filter(col("vec_id") % 2 === 1), "vec_id", idxDir, b, k = 8, iters = 2)
    // append auto-detects the persisted codebooks and encodes the delta
    IvfIndex.append(corpus.filter(col("vec_id") % 2 === 0), "vec_id", idxDir)
    val query = Similarity.withNorm(emb).filter(col("vec_id") === 0)
      .select("v").head().getSeq[Double](0).toSeq

    // the candidate phase's scan must read codes, never vectors — the
    // memory-shape property that makes the persisted index probe-cheap
    val candPlan = IvfIndex.pqCandidates(s, idxDir, query, k = 10, nProbe = 3, refine = 4)
      .queryExecution.executedPlan
    val scans = candPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    scans.foreach { f =>
      val read = f.requiredSchema.fieldNames.toSet
      assert(!read.contains("v") && !read.contains("norm"),
        s"ADC candidate scan must not read vectors: $read")
    }

    // answer parity with the in-query IVF-PQ composition over the same
    // centroids + books (assign/encode at build or append time is
    // invisible: both are pure functions of the persisted model)
    val viaIndex = IvfIndex.topKPq(s, idxDir, query, k = 10, nProbe = 3)
      .select(col("id"), round(col("cos"), 6).as("cos"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fresh = Pq.ivfPqTopK(corpus, "vec_id", query, k = 10, cents, b, nProbe = 3)
      .select(col("vec_id").as("id"), round(col("cos"), 6).as("cos"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIndex === fresh)
  }

  test("multi-table txn: a crash between member commits leaves readers consistent") {
    val s = spark
    val idxDir = java.nio.file.Files.createTempDirectory("ivf_txn").toString
    val corpus = emb.filter(col("vec_id") =!= 0 && col("vec_id") <= 200)
    IvfIndex.build(corpus, "vec_id", idxDir, k = 4, iters = 2)
    val query = Similarity.withNorm(emb).filter(col("vec_id") === 0)
      .select("v").head().getSeq[Double](0).toSeq
    val before = IvfIndex.topK(s, idxDir, query, k = 5, nProbe = 2)
      .collect().map(_.getLong(0)).toSeq
    val centsBefore = IvfIndex.centroids(s, idxDir)

    // simulate a re-build that CRASHES between the centroids commit and
    // the assignments commit: the centroids table has a newer version,
    // but no txn record pins it
    val s2 = s
    import s2.implicits._
    val drifted = centsBefore.map(_.map(_ + 100.0))
    VersionedLake.commit(
      drifted.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "centroid"),
      IvfIndex.centroidsDir(idxDir))

    // readers stay on the last txn record's consistent pair — the probe
    // neither sees the drifted codebook nor mixes it with old assignments
    assert(IvfIndex.centroids(s, idxDir) === centsBefore,
      "a torn write must be invisible: centroids resolve through the txn record")
    val after = IvfIndex.topK(s, idxDir, query, k = 5, nProbe = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(after === before, "probe answers must not change under a torn re-build")

    // the re-build COMPLETES (assignments + txn record): the new state
    // becomes visible atomically
    val vA = graft.sources.VersionedLake.commit(
      Similarity.ivfAssign(corpus, drifted)
        .select(col("vec_id").as("id"), col("cell"), col("v"), col("norm")),
      IvfIndex.assignmentsDir(idxDir), parts = Seq("cell"))
    val vC = VersionedLake.currentVersion(s, IvfIndex.centroidsDir(idxDir)).get
    graft.sources.LakeTxn.publish(s, idxDir,
      Map("centroids" -> vC, "assignments" -> vA))
    assert(IvfIndex.centroids(s, idxDir) === drifted,
      "the completed txn publishes the new pair atomically")
  }

  test("probe reads prune to the probed cells' partitions") {
    val s = spark
    val idxDir = java.nio.file.Files.createTempDirectory("ivf_idx_prune").toString
    val corpus = emb.filter(col("vec_id") =!= 0)
    IvfIndex.build(corpus, "vec_id", idxDir, k = 8, iters = 2)
    val query = Similarity.withNorm(emb).filter(col("vec_id") === 0)
      .select("v").head().getSeq[Double](0).toSeq
    val plan = IvfIndex.topK(s, idxDir, query, k = 5, nProbe = 2)
      .queryExecution.executedPlan
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    // partition filters on `cell` must reach the scan so only the probed
    // cells' directories are listed/read — the point of the layout
    assert(scans.exists(_.partitionFilters.exists(_.references.exists(_.name == "cell"))),
      s"probe must partition-prune on cell; got:\n${plan.toString.take(2000)}")
  }

  test("refused window whose only data change is a MoR delete file drops assignments") {
    val s = spark
    val s2 = s
    import s2.implicits._
    val corpusDir = java.nio.file.Files.createTempDirectory("ivf_corpus_mor").toString
    val idxDir = java.nio.file.Files.createTempDirectory("ivf_idx_mor").toString
    val corpus = emb.filter(col("vec_id") =!= 0 && col("vec_id") <= 100)
    VersionedLake.commit(corpus, corpusDir)
    val v0 = VersionedLake.currentVersion(s, corpusDir).get
    IvfIndex.sync(s, corpusDir, "vec_id", idxDir, k = 4, iters = 2)
    val asgDir = IvfIndex.assignmentsDir(idxDir)
    val n0 = VersionedLake.read(s, asgDir).count()
    // append + rollback cancel (the CDC feed refuses the window at the
    // rollback), then a merge-on-read delete file lands with NO data
    // directory change — a dirs-only diff would call this metadata-only
    // and keep vec 5's assignment forever
    VersionedLake.appendCommit(
      emb.filter(col("vec_id") > 100 && col("vec_id") <= 105), corpusDir)
    VersionedLake.rollback(s, corpusDir, v0)
    VersionedLake.deleteKeysMor(s, corpusDir, Seq(5L).toDF("vec_id"), Seq("vec_id"))
    assert(VersionedLake.manifest(s, corpusDir,
      VersionedLake.currentVersion(s, corpusDir).get).toSet ===
      VersionedLake.manifest(s, corpusDir, v0).toSet,
      "fixture must keep data directories identical across the window")
    IvfIndex.sync(s, corpusDir, "vec_id", idxDir)
    val after = VersionedLake.read(s, asgDir)
    assert(after.filter(col("id") === 5L).count() === 0L,
      "MoR-deleted id must leave the assignments")
    assert(after.count() === n0 - 1)
  }
}
