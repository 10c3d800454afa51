package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the memory-compression path for vector
  * search at 100 TB scale: each `dim`-dim vector is split into `m`
  * subvectors and every subvector is replaced by the index of its nearest
  * codebook centroid, compressing float32[dim] to m small codes (here
  * m=8 × 4-bit-ish codes per 64-dim vector = 16–64× smaller). Queries
  * score compressed vectors WITHOUT decompression via asymmetric distance
  * computation (ADC): one lookup table per subspace, score = Σ_j
  * lut_j[code_j] — a table probe per subspace instead of a dim-wide dot
  * product (Jégou et al., "Product quantization for nearest neighbor
  * search", TPAMI 2011).
  *
  * Everything is column expressions over the native
  * [[graft.functions.DotProduct]] kernel: the subspace distance uses the
  * identity argmin_c ‖v−w_c‖² = argmin_c (‖w_c‖² − 2·v·w_c) (the ‖v‖²
  * term is constant per subvector, so dropping it changes no argmin and
  * no ADC ranking), which keeps the op tree identical to the DuckDB
  * oracle generated by [[encodeOracleCte]] — bit-exact parity, proven the
  * same way q_knn_brute's list_dot_product oracle is.
  *
  * Codebooks: [[seededBooks]] (deterministic Gaussian — mechanics + oracle
  * parity) and [[train]] (per-subspace Lloyd k-means on a driver-side
  * sample — the quality path; at 100 TB you train on a sample and encode
  * with one scan, same as IVF).
  */
object Pq {

  /** books(j)(c) = centroid c of subspace j, each of length dsub. */
  final case class Books(m: Int, dsub: Int, ksub: Int, books: Seq[Seq[Seq[Double]]]) {
    def dim: Int = m * dsub
  }

  def dot(a: Column, b: Column): Column = graft.functions.VectorExprs.dotProduct(a, b)

  /** Deterministic seed-fixed Gaussian codebook at the data's component
    * scale (embeddings components are ~N(0, 0.125)).
    */
  def seededBooks(dim: Int, m: Int = 8, ksub: Int = 16, seed: Long = 7L): Books = {
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val rnd = new scala.util.Random(seed)
    val books = Seq.fill(m)(Seq.fill(ksub)(Seq.fill(dsub)(rnd.nextGaussian() * 0.125)))
    Books(m, dsub, ksub, books)
  }

  /** Per-subspace Lloyd k-means on a deterministic driver-side sample
    * (ids < sampleN). The 100 TB shape: train on a sample, encode with one
    * scan — identical to IVF's coarse quantizer treatment.
    */
  def train(
      df: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      m: Int = 8,
      ksub: Int = 16,
      sampleN: Int = 256,
      iters: Int = 10): Books = {
    val sample = df
      .filter(col(idCol) < sampleN)
      .select(col(embCol).cast("array<double>"))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val books = (0 until m).map { j =>
      val sub = sample.map(_.slice(j * dsub, (j + 1) * dsub))
      var cents = sub.distinct.take(ksub).map(_.clone())
      require(cents.length == ksub, s"subspace $j: ${cents.length} distinct < ksub=$ksub")
      for (_ <- 0 until iters) {
        val sums = Array.fill(ksub)(new Array[Double](dsub))
        val counts = new Array[Int](ksub)
        sub.foreach { v =>
          val best = cents.indices.minBy(c => d2(v, cents(c)))
          counts(best) += 1
          var i = 0
          while (i < dsub) { sums(best)(i) += v(i); i += 1 }
        }
        cents = cents.indices.map { c =>
          if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c))
        }.toArray
      }
      cents.map(_.toSeq).toSeq
    }
    Books(m, dsub, ksub, books)
  }

  /** ‖w‖² − 2·(sub_j(v)·w): the argmin-equivalent subspace distance.
    * `‖w‖²` is a driver-side literal, the dot is the native kernel —
    * the exact op tree [[subDistSql]] mirrors.
    */
  def subDist(v: Column, j: Int, w: Seq[Double], dsub: Int): Column = {
    val wn2 = { var s = 0.0; w.foreach(x => s += x * x); s }
    lit(wn2) - lit(2.0) * dot(slice(v, j * dsub + 1, dsub), typedLit(w))
  }

  /** Adds `code0..code{m-1}` int columns to a frame with `v: array<double>`.
    * Pure projection — zero shuffles; encoding 100 TB is one scan.
    *
    * One [[graft.functions.PqEncode]] kernel call per row, not m·ksub
    * inlined `subDist` subtrees: the expression-tree form blew janino's
    * 64 KB method limit once whole-stage codegen fused the encode with its
    * neighbors, and the FAILED compile (uncached — only successes cache)
    * re-ran on every execution before falling back to interpreted eval
    * (measured 1.65 s → 0.36 s per q_knn_ivfpq probe run at sf0.1). The
    * kernel computes the same `‖w‖² − 2·v·w` first-min argmin bit-exactly
    * (PqEncodeSpec pins it against the expression form; q_embed_pq's
    * DuckDB oracle replays the same op tree).
    */
  def encode(df: DataFrame, b: Books): DataFrame = {
    val codes = graft.functions.PqExprs.pqCodes(col("v"), b)
    val withCodes = df.withColumn("_pq_codes", codes)
    val keep = df.columns.map(col).toIndexedSeq
    val codeCols = (0 until b.m)
      .map(j => element_at(col("_pq_codes"), j + 1).as(s"code$j"))
    withCodes.select(keep ++ codeCols: _*)
  }

  /** Driver-side ADC lookup tables for `query`: m × ksub entries of
    * ‖w‖² − 2·(sub_j(q)·w), computed with the same ascending-index fold
    * the `dot_product` kernel uses so every entry is bit-equal to what
    * the column form would compute.
    */
  def adcLut(query: Seq[Double], b: Books): Seq[Seq[Double]] = {
    def sdot(a: IndexedSeq[Double], w: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < w.length) { s += a(i) * w(i); i += 1 }
      s
    }
    (0 until b.m).map { j =>
      val qsub = query.slice(j * b.dsub, (j + 1) * b.dsub).toIndexedSeq
      (0 until b.ksub).map { c =>
        val w = b.books(j)(c)
        val wn2 = { var s = 0.0; w.foreach(x => s += x * x); s }
        wn2 - 2.0 * sdot(qsub, w)
      }
    }
  }

  /** ADC top-k: approximate score = Σ_j lut_j[code_j] over the encoded
    * frame, exact cosine re-rank of the top k×refine candidates; the
    * compressed scan reads m ints per vector, not dim doubles. The query
    * VECTOR is a driver-side value: the m×ksub lookup table
    * ([[adcLut]]) is computed ONCE on the driver and shipped as one
    * array literal per subspace. A column form that builds the table
    * from a query column inlines m·ksub dot_product subtrees into the
    * projection, blowing janino's 64 KB method limit (whole-stage
    * codegen falls back to interpreted for the compressed scan) AND
    * re-deriving the query-side table per ROW. Here the scan's row work
    * is m codegen'd element_at's over constant arrays — the ADC shape
    * the PQ papers actually describe.
    */
  def adcTopKLit(
      encoded: DataFrame,
      idCol: String,
      query: Seq[Double],
      qnorm: Double,
      k: Int,
      b: Books,
      refine: Int = 4): DataFrame = {
    val lut: Seq[Seq[Double]] = adcLut(query, b)
    val score = (0 until b.m)
      .map(j => element_at(typedLit(lut(j)), col(s"code$j") + 1))
      .reduce(_ + _)
    val qDf = encoded.sparkSession
      .range(1)
      .select(
        typedLit(query).as("qv"),
        lit(qnorm).as("qnorm"))
    encoded
      .crossJoin(broadcast(qDf))
      .withColumn("adc", round(score, 6))
      .orderBy(col("adc").asc, col(idCol))
      .limit(k * refine)
      .select(
        col(idCol),
        round(dot(col("v"), col("qv")) / (col("norm") * col("qnorm")), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** IVF-PQ: the classic composed ANN layout at scale — coarse IVF cells
    * prune the corpus to nProbe partitions (at 100 TB: partition-pruned
    * directories, see sources.Lake), then ADC scores the surviving rows'
    * COMPRESSED codes, then exact re-rank. Scan cost per query:
    * (nProbe/k_cells) of the corpus × m ints per row.
    */
  def ivfPqTopK(
      df: DataFrame,
      idCol: String,
      query: Seq[Double],
      k: Int,
      centroids: Seq[Seq[Double]],
      b: Books,
      nProbe: Int = 4,
      refine: Int = 4): DataFrame = {
    def ddot(a: Seq[Double], c: Seq[Double]): Double =
      a.zip(c).map { case (x, y) => x * y }.sum
    val qn = math.sqrt(ddot(query, query))
    val probeCells = centroids.zipWithIndex
      .sortBy { case (c, _) => -ddot(c, query) / qn }
      .take(nProbe)
      .map(_._2)
    val assigned = Similarity.ivfAssign(df, centroids)
    val enc = encode(assigned, b)
      .filter(col("cell").isin(probeCells.map(_.asInstanceOf[Any]): _*))
    adcTopKLit(enc, idCol, query, qn, k, b, refine)
  }

  // ------------------------------------------------------------------
  // DuckDB oracle generation — same literals, same op tree.
  // ------------------------------------------------------------------

  private def render(d: Double): String = java.lang.Double.toString(d)

  /** `‖w‖² − 2·list_dot_product(v[a:b], [w...])` — [[subDist]] verbatim. */
  def subDistSql(vExpr: String, j: Int, w: Seq[Double], dsub: Int): String = {
    val wn2 = { var s = 0.0; w.foreach(x => s += x * x); s }
    val lo = j * dsub + 1
    val hi = (j + 1) * dsub
    // ::DOUBLE casts: DuckDB parses bare numeric literals as DECIMAL; the
    // 17-sig-digit shortest repr converts to double exactly (verified), but
    // the explicit cast removes any inference dependence.
    s"${render(wn2)}::DOUBLE - 2.0 * list_dot_product($vExpr[$lo:$hi], [${w.map(render).mkString(", ")}]::DOUBLE[])"
  }

  /** CTE fragment `enc AS (SELECT vec_id, v, code0.., codeM-1 FROM e)`;
    * expects a CTE `e(vec_id, v)` in scope.
    */
  def encodeOracleCte(b: Books): String = {
    val dLists = (0 until b.m)
      .map { j =>
        val ds = (0 until b.ksub).map(c => subDistSql("v", j, b.books(j)(c), b.dsub))
        s"[${ds.mkString(",\n      ")}] AS d$j"
      }
      .mkString(",\n    ")
    val codes = (0 until b.m)
      .map(j => s"CAST(list_indexof(d$j, list_min(d$j)) - 1 AS INT) AS code$j")
      .mkString(", ")
    s"""dists AS (
       |  SELECT vec_id, v,
       |    $dLists
       |  FROM e),
       |enc AS (SELECT vec_id, v, $codes FROM dists)""".stripMargin
  }
}
