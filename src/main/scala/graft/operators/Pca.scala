package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.HashExpressions.native

/** Distributed PCA for embedding columns — the dimensionality-reduction rung
  * of the vector pipeline (SURVEY.md §2c X3/X5): project D-dim embeddings to
  * the top-k principal components before indexing (IVF/PQ recall per code
  * byte improves when the axes are decorrelated — the observation behind
  * OPQ), or for 2-3D corpus visualization.
  *
  * Scale shape: fitting is ONE job — a single scan through a native
  * one-pass aggregate ([[graft.plans.GramianAggregate]]) that accumulates
  * n, the per-dimension sums, and the upper triangle of Σ x·xᵀ in a
  * primitive-array buffer; each partition emits ONE D²-bounded buffer
  * (16 KB at D=64, 4 MB at D=1024) regardless of corpus size, with no
  * per-row blow-up (the round-6 pair-explode formulation materialized
  * D(D+1)/2 intermediate rows per vector map-side — it survives as
  * [[momentsByExplode]], the differential cross-check PcaSpec pins against
  * the aggregate). The eigen-decomposition runs on the driver on the D×D
  * covariance (cyclic Jacobi — symmetric, tiny), exactly like the IVF/PQ
  * codebooks: the MODEL is driver-side, the DATA never leaves the cluster.
  * Projection is one map-only pass.
  *
  * No UDFs; the per-row projection is builtin `transform`/`aggregate` over a
  * foldable component literal — k·D multiply-adds per row. */
object Pca {

  /** Fitted model: `mean` (D), `components` (k × D, orthonormal rows —
    * descending eigenvalue order), `eigenvalues` (k, the explained
    * variances). */
  final case class PcaModel(mean: Array[Double],
                            components: Array[Array[Double]],
                            eigenvalues: Array[Double])

  /** Fit on (a sample of) the corpus. `dim` is the embedding width; `k` the
    * output width. Null AND wrong-length vectors are ignored — a ragged
    * vector contributing to some dimension aggregates but not others would
    * skew the covariance silently, the worst failure mode. One scan, one
    * job: count, mean and second moments come from a single
    * [[graft.plans.GramianAggregate]] pass, so expensive upstream lineage
    * runs exactly once with no persist. */
  def fit(df: DataFrame, vecCol: String, dim: Int, k: Int): PcaModel = {
    require(k >= 1 && k <= dim, s"k=$k must be in [1, $dim]")
    val (n, mu, cov) = momentsByGramian(df, vecCol, dim)
    require(n > 1, s"PCA needs at least 2 vectors of length $dim")
    val (values, vectors) = jacobiEigen(cov)
    val order = values.zipWithIndex.sortBy(-_._1).take(k)
    PcaModel(mu,
      order.map { case (_, idx) => vectors.map(_(idx)) },
      order.map(_._1))
  }

  /** (n, mean, covariance) via the one-pass native aggregate — THE fit
    * path. */
  private[graft] def momentsByGramian(df: DataFrame, vecCol: String, dim: Int)
      : (Long, Array[Double], Array[Array[Double]]) = {
    val r = df.where(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(native("graft_gramian", col(vecCol), lit(dim)).as("g"))
      .head().getStruct(0)
    val n = r.getLong(0)
    val nn = n.toDouble
    val sums = r.getSeq[Double](1)
    val tri = r.getSeq[Double](2)
    val mu = sums.map(_ / nn).toArray
    // upper-triangle row-major index of (i ≤ j): i·D − i·(i−1)/2 + (j − i)
    def triAt(i: Int, j: Int): Double = tri(i * dim - i * (i - 1) / 2 + (j - i))
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      triAt(a, b) / nn - mu(i) * mu(j)
    }
    (n, mu, cov)
  }

  /** (n, mean, covariance) via the round-6 pair-explode formulation —
    * retained as the differential cross-check for the aggregate (PcaSpec
    * pins `momentsByGramian ≈ momentsByExplode` on the same frame). Do not
    * use for fitting at large D: the map side materializes D(D+1)/2
    * intermediate rows PER VECTOR (~524k at D=1024) before the two-phase
    * aggregation collapses them, where the aggregate buffers accumulate
    * in place with zero row blow-up. */
  private[graft] def momentsByExplode(df: DataFrame, vecCol: String, dim: Int)
      : (Long, Array[Double], Array[Array[Double]]) = {
    val vecs = df.where(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(col(vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = vecs.count()
      val nn = n.toDouble
      val mean = vecs
        .select(posexplode(col(vecCol)).as(Seq("i", "xi")))
        .groupBy("i").agg(avg(col("xi").cast("double")).as("m"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val mu = Array.tabulate(dim)(mean)
      // raw second moments S_ij = Σ x_i·x_j  (i ≤ j — the matrix is symmetric,
      // so only the upper triangle is aggregated: D(D+1)/2 keys)
      val s = vecs
        .select(col(vecCol).as("__v"), posexplode(col(vecCol)).as(Seq("i", "xi")))
        .select(col("i"), col("xi"), posexplode(col("__v")).as(Seq("j", "xj")))
        .where(col("j") >= col("i"))
        .groupBy("i", "j")
        .agg(sum(col("xi").cast("double") * col("xj").cast("double")).as("s"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      val cov = Array.tabulate(dim, dim) { (i, j) =>
        val key = if (i <= j) (i, j) else (j, i)
        s(key) / nn - mu(i) * mu(j)
      }
      (n, mu, cov)
    } finally vecs.unpersist(false)
  }

  /** Append the k-dim projection y = W·(x − μ) as `outCol` — map-only,
    * fuses with the scan; model ships as foldable literals into the native
    * `graft_pca_project` expression (k·D multiply-adds in one primitive
    * loop — the HOF formulation, retained as [[projectHof]] for the parity
    * pin, pays ~k·D interpreted lambda calls PER ROW, which multiplies up
    * when OPQ re-evaluates the rotation through training, encoding and
    * query paths). A null or wrong-length input, or a null element, yields
    * a NULL column (not an array of nulls — a non-null array of null
    * elements would slip past downstream `isNotNull` guards, e.g.
    * [[ProductQuantization.trainPq]]'s filter). */
  def project(df: DataFrame, vecCol: String, model: PcaModel,
              outCol: String = "pca"): DataFrame = {
    val muLit = array(model.mean.map(lit): _*)
    val wLit = array(model.components.map(c => array(c.map(lit): _*)): _*)
    df.withColumn(outCol,
      native("graft_pca_project", col(vecCol), muLit, wLit))
  }

  /** The builtin `transform`/`aggregate` projection — retained as the
    * differential reference for the native expression (PcaSpec pins
    * bit-identical output on well-formed vectors). */
  private[graft] def projectHof(df: DataFrame, vecCol: String, model: PcaModel,
                                outCol: String = "pca"): DataFrame = {
    val dim = model.mean.length
    val muLit = array(model.mean.map(lit): _*)
    val wLit = array(model.components.map(c => array(c.map(lit): _*)): _*)
    val centered = zip_with(col(vecCol), muLit, (a, b) => a.cast("double") - b)
    df.withColumn(outCol,
      when(col(vecCol).isNotNull && size(col(vecCol)) === dim,
        transform(wLit, w =>
          aggregate(zip_with(centered, w, (x, wi) => x * wi),
            lit(0.0), (acc, v) => acc + v))))
  }

  /** Fraction of total variance captured by the model's k components. */
  def explainedVariance(model: PcaModel, totalVariance: Double): Double =
    model.eigenvalues.sum / totalVariance

  /** Cyclic Jacobi eigen-decomposition of a symmetric matrix (driver-side,
    * D ≤ a few hundred): returns (eigenvalues, eigenvector matrix V with
    * eigenvectors in COLUMNS — A·V = V·diag(λ)). Standard two-sided
    * rotations until the off-diagonal Frobenius norm vanishes. */
  private[graft] def jacobiEigen(a0: Array[Array[Double]],
                                 maxSweeps: Int = 64,
                                 eps: Double = 1e-12): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def offNorm: Double = {
      var s = 0.0
      var i = 0
      while (i < n) { var j = i + 1; while (j < n) { s += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      s
    }
    var sweep = 0
    while (sweep < maxSweeps && offNorm > eps) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (math.abs(apq) > eps / (n * n)) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            // theta == 0 (equal diagonal) → 45° rotation, not identity
            val t = if (theta == 0.0) 1.0
                    else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < n) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < n) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              i += 1
            }
            i = 0
            while (i < n) {
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
    (Array.tabulate(n)(i => a(i)(i)), v)
  }
}
