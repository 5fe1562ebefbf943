package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Declared
import graft.sources.Tables
import graft.functions.GraftFunctions._

/** SURVEY.md §2D — PCA over the embedding column: the dimensionality-
  * reduction / whitening pass an embedding pipeline runs before
  * clustering, ANN indexing, or near-dup blocking (smaller vectors =
  * proportionally cheaper every downstream cosine).
  *
  * Split of labor mirrors the quantizers (Ann.ivfCentroids/pqCodebooks):
  * the distributed part is TWO wide partial aggregates over one corpus
  * scan — VecSum (first moment, dim doubles/partition) and GramMatrix
  * (second moment, dim² doubles/partition) — so the exchange carries one
  * 32 KB buffer per partition regardless of corpus size. The
  * eigendecomposition is a driver-side dim×dim problem (cyclic Jacobi —
  * deterministic, no RNG), cached per corpus; projection back over the
  * corpus is a per-row affine kernel with the basis shipped as one flat
  * literal.
  */
object Pca {

  /** (eigenvalues desc, row-major basis: k rows of [v_r | -v_r·μ]) */
  private[pipeline] case class Model(evals: Array[Double], affine: Array[Float], dim: Int)

  private[pipeline] def model(e: DataFrame, k: Int): Model =
    graft.sources.Memo("pca.model", e, k)(fit(e, k))

  private def fit(e: DataFrame, k: Int): Model = {
    val dim = Ann.Dim
    val r = e.agg(
      count(lit(1)).as("n"),
      vec_sum(col("embedding"), dim).as("s"),
      gram_matrix(col("embedding"), dim).as("g")).head()
    val n = r.getLong(0).toDouble
    val s = r.getSeq[Double](1).toArray
    val g = r.getSeq[Double](2).toArray
    val mu = s.map(_ / n)
    // covariance = E[xxᵀ] - μμᵀ
    val cov = new Array[Double](dim * dim)
    var i = 0
    while (i < dim) {
      var j = 0
      while (j < dim) { cov(i * dim + j) = g(i * dim + j) / n - mu(i) * mu(j); j += 1 }
      i += 1
    }
    val (evals, evecs) = jacobiEig(cov, dim)
    // top-k by eigenvalue desc (index asc on ties — deterministic)
    val order = evals.zipWithIndex.sortBy { case (v, idx) => (-v, idx) }.take(k)
    val affine = new Array[Float](k * (dim + 1))
    var rr = 0
    while (rr < k) {
      val c = order(rr)._2
      var off = 0.0
      var d = 0
      while (d < dim) {
        val v = evecs(d * dim + c) // eigenvector c, component d (column-major per column c)
        affine(rr * (dim + 1) + d) = v.toFloat
        off -= v * mu(d)
        d += 1
      }
      affine(rr * (dim + 1) + dim) = off.toFloat
      rr += 1
    }
    Model(order.map(_._1), affine, dim)
  }

  /** Cyclic Jacobi eigensolver for a symmetric matrix (row-major `a`,
    * size n×n). Returns (eigenvalues, eigenvectors as columns of a
    * row-major n×n matrix). Deterministic sweep order; converges
    * quadratically — 30 sweeps is far past machine precision at n=64. */
  private[pipeline] def jacobiEig(a0: Array[Double], n: Int): (Array[Double], Array[Double]) = {
    val a = a0.clone()
    val v = new Array[Double](n * n)
    var i = 0
    while (i < n) { v(i * n + i) = 1.0; i += 1 }
    var sweep = 0
    var off = offDiag(a, n)
    while (sweep < 30 && off > 1e-14) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p * n + q)
          if (math.abs(apq) > 1e-300) {
            val app = a(p * n + p)
            val aqq = a(q * n + q)
            val theta = (aqq - app) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              case sg => sg / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            // rotate rows/cols p,q of a
            var kk = 0
            while (kk < n) {
              val akp = a(kk * n + p)
              val akq = a(kk * n + q)
              a(kk * n + p) = c * akp - s * akq
              a(kk * n + q) = s * akp + c * akq
              kk += 1
            }
            kk = 0
            while (kk < n) {
              val apk = a(p * n + kk)
              val aqk = a(q * n + kk)
              a(p * n + kk) = c * apk - s * aqk
              a(q * n + kk) = s * apk + c * aqk
              kk += 1
            }
            // accumulate eigenvectors (columns)
            kk = 0
            while (kk < n) {
              val vkp = v(kk * n + p)
              val vkq = v(kk * n + q)
              v(kk * n + p) = c * vkp - s * vkq
              v(kk * n + q) = s * vkp + c * vkq
              kk += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiag(a, n)
      sweep += 1
    }
    ((0 until n).map(d => a(d * n + d)).toArray, v)
  }

  private def offDiag(a: Array[Double], n: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < n) {
      var j = 0
      while (j < n) { if (i != j) s += a(i * n + j) * a(i * n + j); j += 1 }
      i += 1
    }
    s
  }

  /** PCA projection of every embedding onto the top-k principal
    * components (k=8), one scalar row per (vector, component). Rows-only:
    * float kernels aren't SQL-expressible; the spec pins eigen-structure
    * invariants (descending eigenvalues, orthonormal basis, per-component
    * projected variance == eigenvalue, and optimality over any
    * raw-dimension subset). Scalar rows (not array<float>) so the
    * driver's canonicalizer can sort the result; values rounded to 4
    * decimals to absorb float-order jitter. */
  def embPca(spark: SparkSession, dir: String): DataFrame =
    embPcaVectors(spark, dir, k = 8)
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("component", "value")))
      .select(col("vec_id"), col("component"),
        round(col("value").cast("double"), 4).as("value"))

  /** Raw (vec_id, proj: array<float>) form — the spec's entry point. */
  def embPcaVectors(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val m = model(e, k)
    e.select(col("vec_id"),
      affine_project(col("embedding"), float_array_lit(m.affine), k).as("proj"))
  }

  val declared: Seq[Declared] = Seq(
    Declared("emb_pca", embPca),
  )
}
