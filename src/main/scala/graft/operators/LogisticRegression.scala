package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed logistic-regression TRAINING — the other half of the
  * quality-classifier loop whose inference half is
  * [[graft.functions.Scoring.applyLinearModel]]: fit the fasttext-style
  * linear filter ON the corpus (labeled seeds, weak labels from rules)
  * instead of importing coefficients. No reference analog (operators.py
  * delegates everything to Postgres); SURVEY §2c X4 text-analysis
  * territory, and deliberately NOT MLlib — the model is a handful of
  * named-column coefficients that must stay inspectable and feed straight
  * back into `applyLinearModel`, so the trainer is ~a page of DataFrame
  * aggregations rather than an opaque pipeline stage.
  *
  * Algorithm: full-batch gradient descent on mean log-loss. Features are
  * standardized internally ((x−μ)/σ, fitted in one pass) so one learning
  * rate fits all columns, and the returned coefficients are UN-standardized
  * back to raw-column space — `train(...)` output plugs directly into
  * `applyLinearModel(df, model.weights, model.bias)` on the original frame.
  * Each iteration is ONE aggregation over a cached narrow projection
  * computing every gradient component and the loss together; per-partition
  * sums are collected and folded in partition order on the driver, so
  * training is bit-deterministic for a fixed input partitioning (the same
  * contract as the [[RangeScan]] offsets; exact partition-invariance is
  * impossible for float sums). The learning rate halves whenever a step
  * fails to improve the loss (and the step is retaken from the previous
  * point), so the recorded loss sequence is strictly non-increasing.
  *
  * Scale: driver state is O(features × partitions) doubles per pass —
  * model-artifact sized; the data-side work is `iters` map+partial-agg
  * scans of a cached (label, features) projection, each shuffling only
  * `partitions × (features + 2)` doubles. Labels must be 0/1 (NULL rows
  * dropped); NULL / NaN features are rejected loudly — impute upstream. */
object LogisticRegression {

  final case class LogRegModel(weights: Seq[(String, Double)], bias: Double,
                               losses: Seq[Double]) {
    def featureNames: Seq[String] = weights.map(_._1)
  }

  def train(df: DataFrame, featureCols: Seq[String], labelCol: String,
            iters: Int = 50, lr: Double = 1.0, l2: Double = 0.0,
            tol: Double = 1e-7): LogRegModel =
    trainWeighted(df, featureCols, labelCol, lit(1.0), iters, lr, l2, tol)

  /** [[train]] with a per-example weight column (importance-weighted mean
    * log-loss: L = Σ ωᵢℓᵢ / Σ ωᵢ, gradients likewise) — the primitive the
    * DoReMi-style domain reweighting loop refits its proxy with. Weights
    * must be positive and finite; `weight = lit(1.0)` reproduces [[train]]
    * BIT-EXACTLY (ω·x with ω = 1.0 is exact in IEEE and Σω = n exactly for
    * any feasible n, so every partial sum and division is unchanged).
    * Standardization stays unweighted: it only conditions the step size,
    * and a mixture-independent scaling keeps models comparable across
    * reweighting steps. */
  def trainWeighted(df: DataFrame, featureCols: Seq[String], labelCol: String,
                    weight: Column, iters: Int = 50, lr: Double = 1.0,
                    l2: Double = 0.0, tol: Double = 1e-7): LogRegModel = {
    require(featureCols.nonEmpty, "featureCols must be non-empty")
    require(iters >= 1 && lr > 0 && l2 >= 0 && tol >= 0,
      s"bad hyperparameters: iters=$iters lr=$lr l2=$l2 tol=$tol")
    val f = featureCols.size
    val narrow = df
      .select(col(labelCol).cast("double").as("__y") +:
        weight.cast("double").as("__wt") +:
        featureCols.zipWithIndex.map { case (c, j) =>
          col(c).cast("double").as(s"__x$j") }: _*)
      .where(col("__y").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try Iteration.withTinyAggConfs(df.sparkSession,
      narrow.rdd.getNumPartitions) {
      val bad = narrow.where(
        (col("__y") =!= 0.0 && col("__y") =!= 1.0) ||
          col("__wt").isNull || isnan(col("__wt")) || col("__wt") <= 0.0 ||
          col("__wt") === lit(Double.PositiveInfinity) ||
          featureCols.indices.map(j =>
            col(s"__x$j").isNull || isnan(col(s"__x$j"))).reduce(_ || _))
        .count()
      require(bad == 0,
        s"$bad rows with non-0/1 labels, non-positive/NULL/NaN/Inf " +
          "weights, or NULL/NaN features — clean upstream")
      val n = narrow.count()
      require(n > 0, "no labeled rows to train on")

      // ---- standardization fit (one pass; constant columns get σ := 1);
      // the same pass carries Σω for the weighted loss normalizer (= n
      // exactly when ω ≡ 1.0, so the unweighted path divides by the same
      // double as before)
      val stats = orderedPartitionSums(narrow,
        featureCols.indices.flatMap(j =>
          Seq(col(s"__x$j"), col(s"__x$j") * col(s"__x$j"))) :+ col("__wt"))
      val sumW = stats(2 * f)
      val mu = Array.tabulate(f)(j => stats(2 * j) / n)
      val sd = Array.tabulate(f) { j =>
        val v = stats(2 * j + 1) / n - mu(j) * mu(j)
        if (v <= 1e-300) 1.0 else math.sqrt(v)
      }

      // ---- GD in standardized space: ONE aggregation pass per iteration
      // (the proposed point's pass yields its gradient too, so an accepted
      // step never recomputes)
      var w = Array.fill(f)(0.0)
      var b = 0.0
      var rate = lr
      var (curLoss, curGrad, curGradB) = lossAndGrad(narrow, f, sumW, mu, sd, w, b, l2)
      var losses = Vector(curLoss)
      var it = 0
      var done = false
      while (it < iters && !done) {
        val wNew = Array.tabulate(f)(j => w(j) - rate * curGrad(j))
        val bNew = b - rate * curGradB
        val (newLoss, newGrad, newGradB) =
          lossAndGrad(narrow, f, sumW, mu, sd, wNew, bNew, l2)
        if (newLoss <= curLoss) {
          w = wNew; b = bNew
          done = curLoss - newLoss < tol
          curLoss = newLoss; curGrad = newGrad; curGradB = newGradB
          losses :+= newLoss
        } else {
          rate /= 2 // retake the step from the same point, smaller
          done = rate < 1e-12
        }
        it += 1
      }

      // ---- un-standardize: margin = b' + Σ w'_j (x_j − μ_j)/σ_j
      val rawW = Array.tabulate(f)(j => w(j) / sd(j))
      val rawB = b - featureCols.indices.map(j => w(j) * mu(j) / sd(j)).sum
      LogRegModel(featureCols.zip(rawW.toSeq), rawB, losses)
    } finally narrow.unpersist(false)
  }

  /** Weighted mean log-loss (+ L2) and its gradient in STANDARDIZED
    * feature space — one aggregation pass; per-partition sums folded in
    * partition order on the driver for a deterministic double fold.
    *
    * The iteration parameters (b, w, μ, σ) enter the plan through a
    * broadcast ONE-ROW parameter relation rather than as double literals:
    * a literal double is inlined into the generated Java source, so every
    * GD step would produce NEW source and pay a fresh Janino compile
    * (~85 ms/step measured at gate scale, and in a multi-query program the
    * codegen cache is evicted between runs, so every pass pays it again),
    * while a column read from a broadcast row leaves the generated source
    * value-INDEPENDENT — one compile serves every step of every training
    * call of this shape. The per-row arithmetic is the identical IEEE op
    * sequence either way (the join only appends the parameter row; the
    * streamed side's partitioning, and hence the per-pid fold, is
    * untouched), so results are bit-identical to the literal spelling. */
  private def lossAndGrad(narrow: DataFrame, f: Int, sumW: Double,
                          mu: Array[Double], sd: Array[Double],
                          w: Array[Double], b: Double,
                          l2: Double): (Double, Array[Double], Double) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val schema = StructType(StructField("__b", DoubleType, nullable = false) +:
      (0 until f).flatMap(j => Seq(
        StructField(s"__w$j", DoubleType, nullable = false),
        StructField(s"__mu$j", DoubleType, nullable = false),
        StructField(s"__sd$j", DoubleType, nullable = false))))
    val row = Row.fromSeq(b +: (0 until f).flatMap(j =>
      Seq(w(j), mu(j), sd(j))))
    val params = narrow.sparkSession
      .createDataFrame(java.util.Arrays.asList(row), schema)
    def z(j: Int): Column = (col(s"__x$j") - col(s"__mu$j")) / col(s"__sd$j")
    val margin = (0 until f).foldLeft(col("__b"): Column)((acc, j) =>
      acc + col(s"__w$j") * z(j))
    val p = lit(1.0) / (lit(1.0) + exp(-margin))
    // numerically stable per-row loss: max(m,0) − y·m + log1p(exp(−|m|))
    val lossRow = (greatest(margin, lit(0.0)) - col("__y") * margin +
      log1p(exp(-abs(margin)))) * col("__wt")
    val sums = orderedPartitionSums(
      narrow.crossJoin(broadcast(params))
        .withColumn("__r", (p - col("__y")) * col("__wt")),
      (0 until f).map(j => col("__r") * z(j)) ++ Seq(col("__r"), lossRow))
    val grad = Array.tabulate(f)(j => sums(j) / sumW + l2 * w(j))
    val gradB = sums(f) / sumW
    val loss = sums(f + 1) / sumW + 0.5 * l2 * w.map(x => x * x).sum
    (loss, grad, gradB)
  }

  /** Sum each expression per partition, collect, fold in ascending
    * partition id order — deterministic for a fixed partitioning, driver
    * state |partitions| × |exprs| doubles. */
  private def orderedPartitionSums(df: DataFrame, exprs: Seq[Column]): Array[Double] = {
    val agged = df.groupBy(spark_partition_id().as("__pid"))
      .agg(sum(exprs.head).as("__s0"),
        exprs.tail.zipWithIndex.map { case (e, i) =>
          sum(e).as(s"__s${i + 1}") }: _*)
      .collect().sortBy(_.getInt(0))
    val out = Array.fill(exprs.size)(0.0)
    agged.foreach { r =>
      var i = 0
      while (i < out.length) {
        if (!r.isNullAt(i + 1)) out(i) += r.getDouble(i + 1)
        i += 1
      }
    }
    out
  }
}
