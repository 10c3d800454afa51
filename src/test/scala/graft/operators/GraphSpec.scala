package graft.operators

import graft.SparkSpec

/** PageRank must agree with a driver-side reference power iteration
  * (including the per-iteration 12-decimal rounding contract) and satisfy
  * the conservation/centrality properties on known shapes.
  */
class GraphSpec extends SparkSpec {

  private def sparkRanks(edges: Seq[(Long, Long)], iters: Int = 3): Map[Long, Double] = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(edges, 4)).toDF("src", "dst")
    Graph.pageRank(df, iters = iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  /** Reference implementation: same recurrence, same rounding. */
  private def refRanks(
      edges: Seq[(Long, Long)],
      iters: Int,
      d: Double = 0.85): Map[Long, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size
    val out = edges.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var r = nodes.map(_ -> 1.0 / n.toDouble).toMap
    for (_ <- 0 until iters) {
      val contrib = edges
        .groupBy(_._2)
        .view.mapValues(_.map { case (u, _) => r(u) / out(u) }.sum)
        .toMap
      r = nodes.map { v =>
        v -> BigDecimal((1.0 - d) / n.toDouble + d * contrib.getOrElse(v, 0.0))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
    }
    r
  }

  private def undirected(pairs: (Long, Long)*): Seq[(Long, Long)] =
    pairs.flatMap(p => Seq(p, p.swap))

  test("matches the reference power iteration exactly (12-decimal contract)") {
    val edges = undirected(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L), (5L, 1L), (6L, 5L))
    val got = sparkRanks(edges)
    val want = refRanks(edges, iters = 3)
    assert(got.keySet === want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-12, s"node $k") }
  }

  test("rank mass is conserved on an undirected graph") {
    val edges = undirected((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
    val total = sparkRanks(edges).values.sum
    assert(math.abs(total - 1.0) < 1e-9)
  }

  test("star center outranks the leaves") {
    val edges = undirected((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    val r = sparkRanks(edges)
    assert((1L to 4L).forall(leaf => r(0L) > r(leaf)))
    assert((1L to 4L).map(r).distinct.size === 1)
  }

  private def triangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(edges, 4)).toDF("a", "b")
    Graph.triangleCounts(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("triangleCounts: no deserialized MEMORY_ONLY cache survives (GC discipline pin)") {
    val s = spark
    import s.implicits._
    val before = s.sparkContext.getPersistentRDDs.keySet
    val df = (0L to 20L).flatMap(i => Seq((i, (i + 1) % 21), (i, (i + 2) % 21)))
      .toDF("a", "b")
    val res = Graph.triangleCounts(df)
    res.count(): Unit
    // und/oriented must be persisted SERIALIZED (the pageRank discipline)
    // and marked unpersisted on return — a .cache() regression would
    // surface here as a lingering deserialized MEMORY_ONLY entry
    val leaked = s.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before(id) }
    leaked.values.foreach { r =>
      val lvl = r.getStorageLevel
      assert(!(lvl.useMemory && lvl.deserialized && !lvl.useDisk),
        s"deserialized memory-only cache leaked from triangleCounts: $lvl")
    }
  }

  test("triangleCounts: K4 — every node in C(3,2)=3 triangles") {
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    assert(triangles(k4) === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("triangleCounts: triangle + pendant, noisy input") {
    // duplicates, reversed orientation and self-loops must not change counts
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),
      (2L, 1L), (1L, 2L), (3L, 3L), (1L, 4L))
    assert(triangles(edges) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
  }

  test("triangleCounts: bipartite graph has none") {
    val edges = for (l <- 0L to 2L; r <- 10L to 12L) yield (l, r)
    assert(triangles(edges).values.forall(_ == 0L))
  }

  test("triangleCounts: two triangles sharing an edge") {
    // {1,2,3} and {2,3,4}: shared edge (2,3) participates in both
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L), (3L, 4L))
    assert(triangles(edges) === Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  private def bfs(edges: Seq[(Long, Long)], sources: Seq[Long]): Map[Long, Long] = {
    val e = spark.createDataFrame(
      spark.sparkContext.parallelize(edges, 4)).toDF("src", "dst")
    val s = spark.createDataFrame(
      spark.sparkContext.parallelize(sources.map(Tuple1(_)), 2)).toDF("id")
    Graph.shortestPaths(e, s)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("shortestPaths: path graph distances, unreachable absent") {
    // 1→2→3→4 directed chain plus isolated 9→10: BFS from 1 never sees them
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 10L))
    assert(bfs(edges, Seq(1L)) === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("shortestPaths: picks the shorter of two routes, directed") {
    // 1→2→3→4 and shortcut 1→4; direction matters (no back-propagation)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (4L, 5L))
    assert(bfs(edges, Seq(1L)) ===
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 2L))
  }

  test("shortestPaths: multi-source takes the nearer source; cycles terminate") {
    // cycle 1→2→3→1 with sources {1, 3}: dist is min over sources
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    assert(bfs(edges, Seq(1L, 3L)) === Map(1L -> 0L, 3L -> 0L, 2L -> 1L))
  }

  test("shortestPaths: driver-blocking actions scale per INTERVAL, not per round") {
    // 13-node directed chain forces 12 productive BFS rounds (the worst
    // case for any formulation that re-plans the accumulated reached set
    // each round — and for one that probes emptiness per round). The
    // loop's only blocking action is the every-4th-round compaction
    // count; rounds in between only extend lazy plans, so the JOB total
    // is bounded by intervals (plus AQE stage-jobs per action), never by
    // rounds. The pre-round-12 formulation paid an isEmpty probe every
    // round — 2-3× this pin.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
    val n = 13
    val chain = (0L until (n - 1).toLong).map(i => (i, i + 1))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        tasks.addAndGet(s.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val got = bfs(chain, Seq(0L))
      assert(got === (0L until n.toLong).map(i => i -> i).toMap)
      // onJobStart/onStageSubmitted fire at submission, strictly before the
      // triggering action returns, so the counts are complete once bfs is.
      // 12 productive rounds → interval counts at rounds 4, 8, 12, and the
      // empty-frontier detection at 16: 4 interval jobs + the final
      // checkpoint + the caller's collect — RDD rounds pay no Catalyst
      // planning, no codegen, no AQE stage-jobs, so the TOTAL is a handful
      // of jobs where the per-round DataFrame formulation paid ~6 per
      // round (74 for this same chain when measured).
      val intervals = 4
      assert(jobs.get() <= 2 * intervals + 6,
        s"jobs=${jobs.get()} for $intervals BFS intervals — blocking-action cadence regressed")
      assert(tasks.get() <= 40 * intervals + 60,
        s"tasks=${tasks.get()} for $intervals BFS intervals — per-interval task count is not O(1)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("pageRank: tol early-stops on a cycle (stationary from step one)") {
    // directed 6-cycle: every node has out-degree 1 and in-degree 1, so
    // ranks stay exactly 1/6 every iteration — L1 delta is 0.0 after the
    // first step and the loop must exit immediately despite iters=25.
    val cyc = (0L to 5L).map(i => (i, (i + 1) % 6))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(cyc, 2)).toDF("src", "dst")
    val (ranks, executed) = Graph.pageRankIter(df, iters = 25, tol = 1e-12)
    // step 1 rounds 1/6 to the 12-decimal grid (delta ≈ 2e-12, above tol);
    // from then on the rounded state is EXACTLY stationary, so the L1
    // delta is 0.0 at step 2 and the loop exits — 2 of the 25 iterations.
    assert(executed === 2)
    val got = ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.values.foreach(v => assert(math.abs(v - 1.0 / 6) < 1e-11))
  }

  test("pageRank persists its edges unless they are a narrow, deterministic plan over caches") {
    import org.apache.spark.sql.functions.{col, max, rand}
    val half = spark.range(0, 20)
      .select(col("id").as("src"), ((col("id") + 1) % 20).as("dst")).persist()
    try {
      // q_pagerank's shape: a cached directed half unioned with its reverse
      assert(Graph.readsCacheNarrowly(
        half.union(half.select(col("dst").as("src"), col("src").as("dst")))))
      // deg and adj would each draw their own rand() values
      assert(!Graph.readsCacheNarrowly(
        half.select(col("src"), (col("dst") + (rand() * 3).cast("long")).as("dst"))))
      assert(!Graph.readsCacheNarrowly(half.join(half.select(col("src").as("dst")), "dst")))
      assert(!Graph.readsCacheNarrowly(half.groupBy("src").agg(max("dst").as("dst"))))
      assert(!Graph.readsCacheNarrowly(
        spark.range(3).select(col("id").as("src"), col("id").as("dst"))))
    } finally half.unpersist()
  }

  test("pageRank: tol=0 runs the full fixed iteration count (plan-compat default)") {
    val cyc = (0L to 3L).map(i => (i, (i + 1) % 4))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(cyc, 2)).toDF("src", "dst")
    val (_, executed) = Graph.pageRankIter(df, iters = 5)
    assert(executed === 5)
  }

  test("pageRank: tol early-stop converges to the same ranks as running longer") {
    // star graph at damping 0.5: the bipartite oscillation decays as 0.5^k
    // (0.85 would need ~127 steps for 1e-9), so tol must fire well before
    // the 60-iteration cap AND agree with the fully-iterated fixed point.
    val edges = undirected((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(edges, 2)).toDF("src", "dst")
    val (early, executedEarly) =
      Graph.pageRankIter(df, iters = 60, damping = 0.5, tol = 1e-9)
    assert(executedEarly < 45, "tol never triggered on a convergent graph")
    val full = Graph.pageRank(df, iters = 60, damping = 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    early.collect().foreach { r =>
      assert(math.abs(r.getDouble(1) - full(r.getLong(0))) < 1e-8)
    }
  }

  private def edgeDf(edges: Seq[(Long, Long)]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(edges, 2)).toDF("src", "dst")

  test("kCore: path graph cascades — endpoints peel round by round to empty") {
    // 0-1-…-9: only ever the two endpoints have degree < 2, so k=2
    // peels exactly 2 nodes per round — the multi-round cascade the
    // uniform co-trade fixture graph cannot produce (q_kcore converges
    // there in one round; THIS pins the iteration logic).
    val path = undirected((0L to 8L).map(i => (i, i + 1)): _*)
    val (core, rounds) = Graph.kCoreIter(edgeDf(path), 2, maxRounds = 30)
    assert(core.isEmpty, "a path has no 2-core")
    assert(rounds === 5, s"10-node path peels in 5 rounds, got $rounds")
  }

  test("kCore: clique survives intact after pendants peel") {
    // K4 (degree 3 everywhere) + a pendant hanging off node 0: k=3
    // removes the pendant in round 1, which leaves K4 exactly at
    // degree 3 — fixpoint with the full clique and its true core degree.
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    val (core, rounds) =
      Graph.kCoreIter(edgeDf(undirected(k4 :+ (0L -> 4L): _*)), 3, maxRounds = 30)
    val got = core.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rounds === 1)
    assert(got === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("kCore: maxRounds truncates the peel deterministically (oracle contract)") {
    // The oracle unrolls EXACTLY maxRounds rounds; the operator must
    // produce the same not-yet-converged state when stopped early —
    // including nodes still below k.
    val path = undirected((0L to 8L).map(i => (i, i + 1)): _*)
    val (core, rounds) = Graph.kCoreIter(edgeDf(path), 2, maxRounds = 2)
    assert(rounds === 2)
    val got = core.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === (2L to 7L).toSet, "rounds 1+2 peel {0,9} then {1,8}")
    assert(got(2L) === 1L && got(7L) === 1L, "truncated peel keeps sub-k nodes")
  }

  test("kCore: k=1 drops isolated-by-peeling nothing on a clique") {
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    val (core, rounds) = Graph.kCoreIter(edgeDf(undirected(k4: _*)), 1, maxRounds = 5)
    assert(rounds === 0, "already a 1-core: zero peel rounds")
    assert(core.count() === 4)
  }
}
