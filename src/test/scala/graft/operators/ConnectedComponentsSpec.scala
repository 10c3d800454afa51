package graft.operators

import graft.SparkSpec
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Large-star/small-star must agree with a driver-side union-find on any
  * graph shape — random, chains (worst-case diameter), duplicates/reversed
  * edges, self loops, and the empty graph.
  */
class ConnectedComponentsSpec extends SparkSpec {

  private def sparkComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(edges.map(e => (e._1, e._2)), 4))
      .toDF("src", "dst")
    ConnectedComponents.run(df)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
  }

  test("pair graph: two components plus bridge node") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L))
    val got = sparkComponents(edges)
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("chain graph converges in O(log n) rounds, not O(n)") {
    // a 64-node path: min-label propagation needs 63 rounds; star-contraction
    // must finish well inside maxRounds=12.
    val edges = (0L until 63L).map(i => (i + 1, i))
    val df = spark.createDataFrame(edges).toDF("src", "dst")
    val labels = ConnectedComponents.run(df, maxRounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size === 64 && labels.values.forall(_ == 0L))
  }

  test("self loops, duplicates and reversed edges are tolerated") {
    val edges = Seq((5L, 5L), (1L, 2L), (2L, 1L), (1L, 2L), (7L, 3L))
    val got = sparkComponents(edges)
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 7L -> 3L))
  }

  test("empty edge set yields no labels; withVertices backfills singletons") {
    import org.apache.spark.sql.functions._
    val empty = spark.range(0).select(col("id").as("src"), col("id").as("dst"))
    assert(ConnectedComponents.run(empty).count() === 0L)
    val verts = spark.range(4).toDF("doc_id")
    val got = ConnectedComponents.withVertices(verts, "doc_id", empty)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("random graphs match driver union-find") {
    val genGraph = for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(0, 60)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong - 1)
        b <- Gen.choose(0L, n.toLong - 1)
      } yield (a, b))
    } yield edges
    val prop = Prop.forAll(genGraph) { edges =>
      val real = edges.filter(e => e._1 != e._2)
      real.isEmpty || {
        val expect = unionFindReference(Nil, real)
        sparkComponents(real) == expect
      }
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(r.passed, r.status.toString)
  }

  /** Driver-side union-find: the components the distributed operator must find. */
  private def unionFindReference(
      vertices: Seq[Long],
      edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    (vertices ++ edges.flatMap(e => Seq(e._1, e._2))).foreach(v => parent.getOrElseUpdate(v, v))
    edges.foreach { case (a, b) => union(a, b) }
    parent.keys.map(v => v -> find(v)).toMap
  }
}
