package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-column utilities for training-data pipelines: L2
  * normalization and symmetric int8 quantization.
  *
  * Everything is a pure `Column` expression over `array<double>`
  * (cast float embeddings up first — float arithmetic is not
  * reproducible across engines, double is), so the operators run
  * inside a single projection with no shuffle: at 100 TB these are
  * embarrassingly parallel map work.
  */
object Embeddings {

  /** Cast an array<float> embedding to array<double> for
    * deterministic arithmetic.
    */
  def toDouble(vec: Column): Column = vec.cast("array<double>")

  /** L2 norm via one fold. */
  def l2Norm(vec: Column): Column =
    sqrt(aggregate(vec, lit(0.0), (a, x) => a + x * x))

  /** Unit-normalized copy (zero vectors pass through unchanged). */
  def normalized(vec: Column): Column = {
    val n = l2Norm(vec)
    when(n === 0.0, vec).otherwise(transform(vec, x => x / n))
  }

  /** Symmetric int8 quantization: scale = 127 / max|x| per vector;
    * q_i = floor(x_i·scale + 0.5). The explicit floor(+0.5) rounding
    * (not `round`) is deliberate: it is bit-identical across engines,
    * where half-even vs half-away `round` implementations differ.
    * |x·scale| ≤ 127 by construction, so values stay in [-127, 127].
    * Zero vectors quantize to zeros (scale guard).
    */
  def quantScale(vec: Column): Column = {
    val maxAbs = array_max(transform(vec, x => abs(x)))
    when(maxAbs === 0.0, 1.0).otherwise(lit(127.0) / maxAbs)
  }

  def quantizeInt8(vec: Column, scale: Column): Column =
    transform(vec, x => floor(x * scale + 0.5).cast("long"))

  /** Dequantized reconstruction. */
  def dequantize(q: Column, scale: Column): Column =
    transform(q, qi => qi.cast("double") / scale)

  /** Mean squared reconstruction error of quantize→dequantize. */
  def quantMse(vec: Column, scale: Column): Column = {
    val dq = dequantize(quantizeInt8(vec, scale), scale)
    aggregate(zip_with(vec, dq, (x, y) => (x - y) * (x - y)),
      lit(0.0), (a, e) => a + e) / size(vec)
  }

  /** Population covariance matrix of a vector column — the input to
    * whitening, embedding-drift monitoring, and PCA-style analysis.
    * Output: one row per upper-triangle entry (i ≤ j): (i, j, cov).
    *
    * Scale: ONE pass with the [[graft.functions.VectorMoments]]
    * bounded aggregate — d + d(d+1)/2 doubles of state per partition,
    * map-side combined, so the shuffle is O(partitions × d²) bytes
    * regardless of corpus size (the explode-and-self-join form
    * shuffles O(rows × d²) values). 64-dim ⇒ ~17 KB per partition.
    */
  def covarianceMatrix(df: org.apache.spark.sql.DataFrame,
                       vecCol: String): org.apache.spark.sql.DataFrame =
    df.agg(graft.functions.Native.vectorMoments(col(vecCol)).as("_m"))
      .select(explode(col("_m.pairs")).as("_p"))
      .select(col("_p.i").as("i"), col("_p.j").as("j"), col("_p.cov").as("cov"))

  // ---- PCA compaction ------------------------------------------------

  /** Fitted PCA model: corpus means, top-k eigenvalues (descending)
    * and the matching orthonormal component rows (k × d). Model
    * state is O(k·d) driver-side — the tree-learner scale contract.
    */
  case class PcaModel(n: Long, means: Array[Double],
                      eigenvalues: Array[Double],
                      basis: Array[Array[Double]]) {
    /** Per-component centering constants c_j = means · basis_j —
      * shared verbatim by the distributed projection and any
      * rendered oracle so both engines subtract the SAME double.
      */
    def centers: Array[Double] =
      basis.map(b => b.zip(means).map { case (x, y) => x * y }.sum)
    def meansSq: Double = means.map(x => x * x).sum
  }

  /** PCA of an embedding corpus: ONE [[graft.functions.VectorMoments]]
    * pass builds the d×d covariance (O(partitions × d²) shuffle
    * bytes at any corpus size), then a driver-side cyclic Jacobi
    * eigensolve on the MODEL-SIZED matrix (64×64 ⇒ microseconds; the
    * corpus is never touched again). Eigenpairs sort by descending
    * eigenvalue; each component's sign is canonicalized
    * (largest-|coordinate| positive) so the model is deterministic.
    */
  def fitPca(df: org.apache.spark.sql.DataFrame, vecCol: String,
             k: Int): PcaModel = {
    val row = df
      .agg(graft.functions.Native.vectorMoments(toDouble(col(vecCol))).as("_m"))
      .select("_m").collect()(0).getStruct(0)
    val n = row.getLong(0)
    val means = row.getSeq[Double](1).toArray
    val d = means.length
    require(k >= 1 && k <= d, s"k must be in [1, $d], got $k")
    val a = Array.ofDim[Double](d, d)
    row.getSeq[org.apache.spark.sql.Row](2).foreach { p =>
      val i = p.getInt(0); val j = p.getInt(1); val c = p.getDouble(2)
      a(i)(j) = c; a(j)(i) = c
    }
    val (lam, vecs) = jacobiEigen(a)
    val order = lam.indices.sortBy(i => -lam(i)).take(k)
    val basis = order.map { c =>
      val b = Array.tabulate(d)(i => vecs(i)(c))
      val am = b.indices.maxBy(i => math.abs(b(i)))
      if (b(am) < 0) b.map(-_) else b
    }.toArray
    PcaModel(n, means, order.map(lam).toArray, basis)
  }

  /** Project vectors onto a fitted model: per-component scores
    * s_j = v·basis_j − c_j plus the reconstruction error
    * ‖v − mean‖² − Σ s_j² (exact for an orthonormal basis — no
    * reconstruction is materialized). One codegen'd projection over
    * one scan, zero shuffle: the k+2 dot products per row all ride
    * [[graft.functions.Native.doubleDot]] against broadcast literal
    * arrays. Scores and error are 6dp-rounded: every fold is
    * ascending-index on both engines, so a rendered-model oracle
    * reproduces them bit-for-bit before rounding.
    */
  def pcaProject(df: org.apache.spark.sql.DataFrame, idCol: String,
                 vecCol: String, model: PcaModel): org.apache.spark.sql.DataFrame = {
    val v = toDouble(col(vecCol))
    val cs = model.centers
    val ts = model.basis.indices.map { j =>
      graft.functions.Native.doubleDot(v,
        typedlit(model.basis(j).toSeq)) - lit(cs(j))
    }
    val vv = graft.functions.Native.doubleDot(v, v)
    val vm = graft.functions.Native.doubleDot(v, typedlit(model.means.toSeq))
    val sumsq = ts.map(t => t * t).reduce(_ + _)
    val err = vv - lit(2.0) * vm + lit(model.meansSq) - sumsq
    val outs = Seq(col(idCol)) ++
      ts.zipWithIndex.map { case (t, i) => round(t, 6).as(s"s${i + 1}") } :+
      round(err, 6).as("recon_err")
    df.select(outs: _*)
  }

  /** Mahalanobis embedding-outlier model: the FULL whitened spectrum.
    * score(x) = (x−μ)ᵀ Σ⁻¹ (x−μ) computed as Σ_k w_k·t_k² with
    * t_k = x·v_k − c_k the [[pcaProject]] component scores and
    * w_k = 1/(λ_k + ridge) — algebraically the ridge-regularized
    * inverse (Σ + εI)⁻¹ = V diag(1/(λ+ε)) Vᵀ, with no explicit d×d
    * inversion and the same rendered-oracle shape as PCA: means,
    * basis, centers and weights are driver-side doubles, the score is
    * pure dot/multiply/add arithmetic.
    *
    * Scale: ONE VectorMoments pass fits μ/Σ (model-sized partials), a
    * driver-side d×d Jacobi eigensolve, then scoring is one codegen'd
    * projection over one scan — the multivariate outlier triage for
    * embedding corpora at any size.
    */
  final case class MahalanobisModel(n: Long, means: Array[Double],
                                    weights: Array[Double],
                                    basis: Array[Array[Double]],
                                    centers: Array[Double]) {
    def scoreExpr(vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val v = toDouble(vec)
      val ts = basis.indices.map { j =>
        graft.functions.Native.doubleDot(v, typedlit(basis(j).toSeq)) -
          lit(centers(j))
      }
      ts.zipWithIndex.map { case (t, j) => lit(weights(j)) * t * t }
        .reduce(_ + _)
    }
  }

  def fitMahalanobis(df: org.apache.spark.sql.DataFrame, vecCol: String,
                     ridge: Double = 1e-6): MahalanobisModel = {
    val dim = Similarity.vecDim(df, vecCol)
    require(dim > 0, "fitMahalanobis: empty corpus or zero-dim vectors")
    val pca = fitPca(df, vecCol, k = dim)
    MahalanobisModel(pca.n, pca.means,
      pca.eigenvalues.map(l => 1.0 / (math.max(l, 0.0) + ridge)),
      pca.basis, pca.centers)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix.
    * Returns (eigenvalues, eigenvector matrix with eigenvectors as
    * COLUMNS). Deterministic for a given input; driver-side O(d³).
    */
  private[ops] def jacobiEigen(
      a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def offNorm: Double = {
      var s = 0.0
      var i = 0
      while (i < d) { var j = i + 1; while (j < d) { s += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      s
    }
    var sweep = 0
    while (sweep < 100 && offNorm > 1e-22) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              else 1.0 / (theta - math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              i += 1
            }
            i = 0
            while (i < d) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }
}
