package graft.operators

import graft.SparkSpec
import graft.QueryDef.t
import org.apache.spark.sql.functions._

/** Product quantization: encode determinism, trained-codebook quality, and
  * ADC recall against the exact brute-force answer.
  */
class PqSpec extends SparkSpec {

  private lazy val emb = t(spark, sf, "embeddings")

  private def quantMse(b: Pq.Books): Double = {
    // mean squared distance between each subvector and its chosen centroid:
    // Σ_j (‖v_j‖² + (‖w‖² − 2 v_j·w)) averaged — reuse the subDist column
    // plus the native self-dot for ‖v_j‖².
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val enc = Pq.encode(v, b)
    val err = (0 until b.m).map { j =>
      val sub = slice(col("v"), j * b.dsub + 1, b.dsub)
      val dists = array((0 until b.ksub).map(c => Pq.subDist(col("v"), j, b.books(j)(c), b.dsub)): _*)
      Pq.dot(sub, sub) + element_at(dists, col(s"code$j") + 1)
    }.reduce(_ + _)
    enc.select(avg(err)).head().getDouble(0)
  }

  test("kernel encode is bit-identical to the subDist expression-tree form") {
    // the pre-kernel formulation, verbatim: m chained (dists array,
    // array_position(array_min)) projections — the shape PqEncode replaced
    def encodeExprForm(df: org.apache.spark.sql.DataFrame, b: Pq.Books) =
      (0 until b.m).foldLeft(df) { (d, j) =>
        val dists = array((0 until b.ksub)
          .map(c => Pq.subDist(col("v"), j, b.books(j)(c), b.dsub)): _*)
        d.withColumn("_d", dists)
          .withColumn(s"code$j",
            (array_position(col("_d"), array_min(col("_d"))) - 1).cast("int"))
          .drop("_d")
      }
    val b = Pq.seededBooks(64)
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cols = col("vec_id") +: (0 until b.m).map(j => col(s"code$j"))
    val kernel = Pq.encode(v, b).select(cols: _*).orderBy("vec_id").collect()
    val exprs = encodeExprForm(v, b).select(cols: _*).orderBy("vec_id").collect()
    assert(kernel.sameElements(exprs))
    // tie-break parity: duplicate centroids make equal distances — both
    // forms must pick the FIRST minimal index; truncated vectors dot only
    // the available prefix; a null vector yields null codes in both
    val w = Seq.fill(8)(0.25)
    val tieBooks = Pq.Books(1, 8, 4, Seq(Seq(w, w, Seq.fill(8)(9.0), w)))
    val edge = spark.createDataFrame(Seq(
      (1L, Seq.fill(8)(0.25)),          // exact centroid: ties at 0 distance
      (2L, Seq(0.1, 0.2, 0.3)),         // shorter than dsub
      (3L, Seq.empty[Double])           // empty
    )).toDF("vec_id", "v")
    val edgeNull = edge.unionByName(
      spark.createDataFrame(Seq(Tuple1(4L))).toDF("vec_id")
        .withColumn("v", lit(null).cast("array<double>")))
    val ek = Pq.encode(edgeNull, tieBooks)
      .select(col("vec_id"), col("code0")).orderBy("vec_id").collect()
    val ee = encodeExprForm(edgeNull, tieBooks)
      .select(col("vec_id"), col("code0")).orderBy("vec_id").collect()
    assert(ek.sameElements(ee))
    assert(ek.head.getInt(1) == 0) // first of the tied minimal centroids
  }

  test("encode is deterministic and codes are in range") {
    val b = Pq.seededBooks(64)
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val once = Pq.encode(v, b).orderBy("vec_id").collect()
    val twice = Pq.encode(v, b).orderBy("vec_id").collect()
    assert(once.sameElements(twice))
    once.foreach { r =>
      (0 until b.m).foreach { j =>
        val c = r.getInt(r.fieldIndex(s"code$j"))
        assert(c >= 0 && c < b.ksub, s"code$j=$c out of range")
      }
    }
  }

  test("trained codebooks quantize with lower error than seeded ones") {
    val seeded = Pq.seededBooks(64)
    val trained = Pq.train(emb)
    val (mseSeeded, mseTrained) = (quantMse(seeded), quantMse(trained))
    assert(mseTrained < mseSeeded,
      s"trained MSE $mseTrained should beat seeded $mseSeeded")
    // trained centroids sit inside the data; seeded Gaussians mostly don't —
    // expect a large margin, not a tie-break
    assert(mseTrained < mseSeeded * 0.8)
  }

  test("ADC top-10 with trained books recalls most of the exact answer") {
    val e = Similarity.withNorm(emb)
    val qRow = e.filter(col("vec_id") === 0).select("v", "norm").head()
    val query = qRow.getSeq[Double](0)
    val exact = Similarity
      .bruteForceTopK(emb.filter(col("vec_id") =!= 0), "vec_id", query, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val b = Pq.train(emb)
    val enc = Pq.encode(e.filter(col("vec_id") =!= 0), b)
    val approx = Pq.adcTopKLit(enc, "vec_id", query, qRow.getDouble(1), k = 10, b, refine = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (exact & approx).size / 10.0
    assert(recall >= 0.5, s"recall@10 = $recall (exact=$exact approx=$approx)")
  }

  test("IVF-PQ composed index recalls most of the exact answer") {
    val query = Similarity.withNorm(emb)
      .filter(col("vec_id") === 0).select("v").head().getSeq[Double](0)
    val exact = Similarity
      .bruteForceTopK(emb.filter(col("vec_id") =!= 0), "vec_id", query, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val cents = Similarity.trainIvf(Similarity.withNorm(emb), "vec_id", k = 16)
    val books = Pq.train(emb)
    val approx = Pq
      .ivfPqTopK(emb.filter(col("vec_id") =!= 0), "vec_id", query, k = 10,
        cents, books, nProbe = 8, refine = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (exact & approx).size / 10.0
    assert(recall >= 0.4, s"recall@10 = $recall (exact=$exact approx=$approx)")
  }
}
