package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.HashExpressions.native

/** Table profiling — the `ANALYZE`-style per-column summary a pipeline runs
  * before trusting a new data drop: row count, null count, exact distinct
  * count, min/max (as strings, so heterogeneous columns share one schema).
  *
  * Shape: one aggregation branch PER COLUMN, unioned. A single combined
  * aggregate with N exact count-distincts would plan as an Expand (every row
  * replicated N+1 times through the shuffle); per-column branches each plan
  * a plain two-phase distinct aggregate AND a column-pruned scan — on
  * columnar storage each branch reads exactly one column, so total bytes
  * read match the fused form while the shuffle carries distinct values
  * instead of replicated rows. Branch count = profiled columns, each a tiny
  * independent job — trivially parallel on a cluster. */
object Profiling {

  def profile(df: DataFrame, cols: Seq[String]): DataFrame =
    profileWith(df, cols, c => countDistinct(col(c)))

  /** The extreme-scale variant: `approx_count_distinct` (HLL, bounded sketch
    * per partition — no distinct-value shuffle at all) in the same per-column
    * branch shape. This is the documented swap-point when a profiled column
    * is near-unique at 100 TB and the exact distinct's two-phase aggregate
    * would shuffle ~every value; `rsd` is the HLL's target relative error. */
  def profileApprox(df: DataFrame, cols: Seq[String], rsd: Double = 0.02): DataFrame =
    profileWith(df, cols, c => approx_count_distinct(col(c), rsd))

  private def profileWith(df: DataFrame, cols: Seq[String],
                          distinctAgg: String => org.apache.spark.sql.Column): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    cols.map { c =>
      df.agg(
        count(lit(1)).as("n_rows"),
        count(when(col(c).isNull, 1)).as("n_nulls"),
        distinctAgg(c).as("n_distinct"),
        min(col(c)).cast("string").as("min_value"),
        max(col(c)).cast("string").as("max_value"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_value"), col("max_value"))
    }.reduce(_.unionAll(_))
  }

  /** Pearson correlation matrix over numeric columns in ONE scan — the
    * multivariate rung of profiling (which column pairs move together in a
    * new data drop). The D columns pack into one array and run through the
    * same native one-pass moments aggregate PCA fitting uses
    * ([[graft.plans.GramianAggregate]]): each partition contributes a
    * single D²-bounded buffer, so the whole matrix costs one column-pruned
    * scan regardless of row count — vs D·(D−1)/2 separate `corr()`
    * aggregates each re-scanning the table. Correlations derive from the
    * raw moments on the driver (population/sample normalizations cancel in
    * the ratio, so values match SQL `corr()` exactly up to float
    * rounding — DuckDB-oracled in the gate).
    *
    * NULL policy is explicit: `deletion = "listwise"` (default) excludes
    * rows with a NULL in ANY profiled column — one consistent row universe
    * for the whole matrix; `deletion = "pairwise"` matches SQL `corr()`,
    * which deletes per PAIR (each correlation uses every row where its two
    * columns are both non-null). The two agree exactly on null-free
    * columns and diverge by design otherwise. Pairwise still costs ONE
    * scan: the packed array carries [values (null→0), null masks,
    * squares], and every per-pair count/sum/second-moment is a Gramian
    * cross-product of those entries ((3D)²-bounded buffer). Output: one
    * row per unordered pair (i < j, column-name order) — the diagonal is
    * identically 1 and carries no information. A zero-variance column (or
    * a pair with fewer than 2 complete rows, pairwise) yields NULL
    * correlations (0/0), matching SQL. */
  def correlationMatrix(df: DataFrame, cols: Seq[String],
                        deletion: String = "listwise"): DataFrame = {
    require(cols.size >= 2, "correlationMatrix needs at least 2 columns")
    require(deletion == "listwise" || deletion == "pairwise",
      s"deletion must be 'listwise' or 'pairwise', got '$deletion'")
    val d = cols.size
    val out: Seq[(String, String, Option[Double])] =
      if (deletion == "listwise") {
        val (_, _, cov) = numericMoments(df, cols)
        for {
          i <- 0 until d
          j <- (i + 1) until d
        } yield {
          val denom = math.sqrt(cov(i)(i)) * math.sqrt(cov(j)(j))
          (cols(i), cols(j),
            if (denom == 0.0) None else Some(cov(i)(j) / denom))
        }
      } else pairwiseCorrelations(df, cols)
    val spark = df.sparkSession
    import spark.implicits._
    out.toDF("col_1", "col_2", "corr")
  }

  /** Spearman rank correlation between two numeric columns — the
    * scorer-comparison read Pearson gets wrong on monotone-but-nonlinear
    * relationships (two quality scorers can agree on ORDER while
    * disagreeing on scale): ρ_s = Pearson on fractional (average-of-ties)
    * ranks.
    *
    * Shape: per column, ranks come from the DISTINCT-VALUE cumulative
    * trick — one value-keyed count shuffle, a cumulative window over
    * distinct values (value cardinality bounds it, not corpus size), then
    * an equi-join back on the value; the Pearson moments are one aggregate
    * pass. No row-level global-order window anywhere.
    *
    * Determinism: average ranks are exact halves and their sums/products
    * stay exactly representable well past gate scale (~2^52 mass), so the
    * moment sums are fold-order-free there; consumers at extreme n should
    * still canonicalize (the gate pins round6). NULLs in either column
    * fail loudly (rank semantics under NULL are a policy choice — decide
    * upstream). ρ_s is NULL when either column is constant (zero rank
    * variance). Output: one row (n, rho). */
  def spearman(df: DataFrame, colA: String, colB: String): DataFrame = {
    def guard(c: String, n: String) =
      when(col(c).isNull,
        raise_error(lit(s"spearman: NULL in $c — drop or impute upstream")))
        .otherwise(col(c).cast("double")).as(n)
    val v = df.select(guard(colA, "__a"), guard(colB, "__b"))
    def ranks(c: String, rk: String): DataFrame =
      v.groupBy(col(c)).agg(count(lit(1)).as("__c"))
        .select(col(c),
          (coalesce(sum("__c").over(
              org.apache.spark.sql.expressions.Window.orderBy(c)
                .rowsBetween(Long.MinValue, -1)), lit(0L))
            + (col("__c") + 1).cast("double") / 2.0).as(rk))
    val ranked = v
      .join(ranks("__a", "__ra"), Seq("__a"))
      .join(ranks("__b", "__rb"), Seq("__b"))
    val m = ranked.agg(
      count(lit(1)).as("n"),
      sum("__ra").as("__sx"), sum("__rb").as("__sy"),
      sum(col("__ra") * col("__ra")).as("__sxx"),
      sum(col("__rb") * col("__rb")).as("__syy"),
      sum(col("__ra") * col("__rb")).as("__sxy"))
    m.select(col("n"),
      (col("n") * col("__sxy") - col("__sx") * col("__sy")).as("__num"),
      (col("n") * col("__sxx") - col("__sx") * col("__sx")).as("__vx"),
      (col("n") * col("__syy") - col("__sy") * col("__sy")).as("__vy"))
      .select(col("n"),
        when(col("__vx") === 0.0 || col("__vy") === 0.0,
          lit(null).cast("double"))
          .otherwise(col("__num") / sqrt(col("__vx") * col("__vy")))
          .as("rho"))
  }

  /** Per-pair moments from ONE Gramian pass over the 3D-wide packed array
    * [v_1..v_D (null→0), m_1..m_D (null masks), v_1²..v_D²]: for pair
    * (i, j), n = Σm_i·m_j, the sums are Σv·m cross-terms, the second
    * moments Σv²·m cross-terms, the cross-product Σv_i·v_j — every one a
    * single entry of the Gramian's upper triangle. */
  private def pairwiseCorrelations(df: DataFrame, cols: Seq[String])
      : Seq[(String, String, Option[Double])] = {
    val d = cols.size
    val vs = cols.map(c => coalesce(col(c).cast("double"), lit(0.0)))
    val ms = cols.map(c => when(col(c).isNotNull, 1.0).otherwise(0.0))
    val qs = vs.map(v => v * v)
    val dd = 3 * d
    val r = df
      .select(native("graft_gramian", array(vs ++ ms ++ qs: _*), lit(dd)).as("g"))
      .head().getStruct(0)
    val tri = r.getSeq[Double](2)
    // upper-triangle index: requires a <= b (all uses below order d-block
    // offsets ascending: value i < mask d+j < square 2d+k for any i,j,k < d)
    def triAt(a: Int, b: Int): Double = tri(a * dd - a * (a - 1) / 2 + (b - a))
    for {
      i <- 0 until d
      j <- (i + 1) until d
    } yield {
      val n = triAt(d + i, d + j)
      val c = if (n < 2) None else {
        val si = triAt(i, d + j); val sj = triAt(j, d + i)
        val qi = triAt(d + j, 2 * d + i); val qj = triAt(d + i, 2 * d + j)
        val p = triAt(i, j)
        val mi = si / n; val mj = sj / n
        // same relative-epsilon zero-variance clamp as numericMoments
        def varOf(q: Double, mu: Double): Double = {
          val v = q / n - mu * mu
          val scale = math.abs(q) / n
          if (v <= 1e-12 * math.max(scale, java.lang.Double.MIN_VALUE)) 0.0 else v
        }
        val vi = varOf(qi, mi); val vj = varOf(qj, mj)
        val denom = math.sqrt(vi) * math.sqrt(vj)
        if (denom == 0.0) None else Some((p / n - mi * mj) / denom)
      }
      (cols(i), cols(j), c)
    }
  }

  /** Z-score standardization — the feature-scaling pass before distance- or
    * gradient-based consumers (ANN over raw numeric features, linear
    * scoring): appends `<col><suffix>` = (x − μ)/σ per requested column.
    * μ/σ (population σ, like SQL `STDDEV_POP`) come from the SAME single
    * Gramian scan as [[correlationMatrix]] — one pass to fit, one map-only
    * pass to apply, the fit/apply artifact split every scaler here uses.
    * Moments are computed over COMPLETE rows (listwise, the matrix's row
    * universe); a NULL input value yields a NULL z-score, and a
    * zero-variance column maps to NULL everywhere (0/0 — never ±Infinity
    * leaking into downstream math). */
  def standardize(df: DataFrame, cols: Seq[String],
                  suffix: String = "_z"): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    val (_, mu, cov) = numericMoments(df, cols)
    val sd = cols.indices.map(i => math.sqrt(cov(i)(i)))
    cols.zipWithIndex.foldLeft(df) { case (acc, (c, i)) =>
      acc.withColumn(c + suffix,
        if (sd(i) == 0.0) lit(null).cast("double")
        else (col(c).cast("double") - lit(mu(i))) / lit(sd(i)))
    }
  }

  /** Robust feature scaling: appends `<col><suffix>` = (x − median)/IQR per
    * requested column — the outlier-resistant sibling of [[standardize]]
    * (scikit-learn's RobustScaler): a single 10⁹-row price outlier shifts μ/σ
    * arbitrarily but moves the median/IQR by at most one rank. Quantiles for
    * ALL columns come from ONE input scan
    * ([[Percentiles.exactGlobalValuesMulti]]'s melted composite range-sort —
    * a per-column loop would re-execute the upstream plan per column;
    * driver-side artifact ≤ 3 doubles each), applied map-only —
    * the same fit/apply split as every scaler here. Per-column NULLs are
    * ignored in the fit (unlike [[standardize]]'s listwise matrix universe —
    * there is no cross-column moment to keep consistent here); a NULL input
    * yields a NULL scaled value, and a zero-IQR column maps to NULL
    * everywhere (never ±Infinity). */
  def robustScale(df: DataFrame, cols: Seq[String],
                  suffix: String = "_r"): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    val qsByCol =
      Percentiles.exactGlobalValuesMulti(df, cols, Seq(0.25, 0.5, 0.75))
    val fits = cols.map { c =>
      val qs = qsByCol(c)
      c -> (qs(0), qs(1), qs(2))
    }
    fits.foldLeft(df) {
      case (acc, (c, (Some(q25), Some(med), Some(q75)))) if q75 - q25 != 0.0 =>
        acc.withColumn(c + suffix,
          (col(c).cast("double") - lit(med)) / lit(q75 - q25))
      case (acc, (c, _)) =>
        acc.withColumn(c + suffix, lit(null).cast("double"))
    }
  }

  /** Winsorization — clip each requested column to its own exact
    * [lower, upper] quantiles (outlier capping ahead of moment-based
    * statistics: a 10⁹-row price typo stops dominating μ/σ without dropping
    * the row, the complement of [[robustScale]]'s rank-based rescaling).
    * Appends `<col><suffix>` = LEAST(GREATEST(x, q_lower), q_upper); the
    * 2·|cols| clip bounds come from ONE input scan
    * ([[Percentiles.exactGlobalValuesMulti]]) and apply map-only — the same
    * fit/apply artifact split as every scaler here. A NULL input stays
    * NULL; an all-NULL column passes through NULL everywhere. */
  def winsorize(df: DataFrame, cols: Seq[String],
                lower: Double = 0.01, upper: Double = 0.99,
                suffix: String = "_w"): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    require(lower >= 0.0 && upper <= 1.0 && lower < upper,
      s"need 0 <= lower < upper <= 1, got [$lower, $upper]")
    val fits = Percentiles.exactGlobalValuesMulti(df, cols, Seq(lower, upper))
    cols.foldLeft(df) { (acc, c) =>
      acc.withColumn(c + suffix, fits(c) match {
        case Seq(Some(lo), Some(hi)) =>
          val x = col(c).cast("double")
          when(x.isNull, lit(null).cast("double"))
            .otherwise(least(greatest(x, lit(lo)), lit(hi)))
        case _ => lit(null).cast("double") // all-NULL column
      })
    }
  }

  /** Per-GROUP robust scaling — normalize a score WITHIN each group before
    * any cross-group comparison or global cut (the per-language quality
    * normalization step: a fluency score's scale differs by language, so a
    * single global threshold over- or under-prunes whole languages).
    * Appends `<valueCol><suffix>` = (x − median_g)/IQR_g using the group's
    * own quantiles, fitted by [[Percentiles.exactByGroupRanged]] — the
    * composite-range form, because this operator's natural regime is FEW
    * hot groups (languages, sources) over a huge table, exactly where the
    * per-group ranking window degenerates. The ≤ |groups|-row fit artifact
    * joins back broadcast-style (AQE) and applies map-only.
    *
    * NULL contract: NULL value → NULL scaled; a zero-IQR group → NULL
    * everywhere in that group; rows whose group is NULL (or whose group
    * was all-NULL in the fit) → NULL scaled — never dropped. */
  def robustScaleByGroup(df: DataFrame, groupCol: String, valueCol: String,
                         suffix: String = "_rg",
                         maxGroups: Int = 10000): DataFrame = {
    val fit = Percentiles.exactByGroupRanged(df, groupCol, valueCol,
        ps = Seq(0.25, 0.5, 0.75), names = Seq("__q1", "__med", "__q3"),
        maxGroups = maxGroups)
    df.join(fit, Seq(groupCol), "left")
      .withColumn(valueCol + suffix,
        when(col("__q3") - col("__q1") =!= 0.0,
          (col(valueCol).cast("double") - col("__med"))
            / (col("__q3") - col("__q1"))))
      .drop("__q1", "__med", "__q3")
  }

  /** Distribution DRIFT between two snapshots of one numeric signal — the
    * monitoring gate an ingestion pipeline runs per crawl: does the new
    * batch still look like the reference corpus? Population Stability Index
    * over `k` equal-probability bins fitted on the REFERENCE side: bin edges
    * are the reference's exact (i/k)-quantiles
    * ([[Percentiles.exactGlobalValues]] — one range-sort scan, k−1 doubles
    * on the driver), both sides histogram through the same map-only
    * threshold fold ([[Selection.assignQuantileBuckets]]'s value-split rule:
    * x ≥ edge → higher bin, so ties never straddle a bin), and each bin
    * contributes `psi_term = (p_cur' − p_ref')·ln(p_cur'/p_ref')` where p'
    * clamps the proportion at `eps` — a bin one side misses entirely must
    * contribute a large FINITE penalty, not ±∞ (standard PSI practice).
    * Σ psi_term is the PSI (common reading: < 0.1 stable, > 0.25 drifted).
    *
    * Output: (bucket, n_ref, n_cur, p_ref, p_cur, psi_term) ordered by
    * bucket, with the UNclamped proportions reported. NULL values are
    * excluded on both sides. Heavy ties can leave interior bins empty on
    * either side (value-split semantics); `eps` covers both. An empty `cur`
    * (or `ref`) side yields NaN proportions — visibly, never silently.
    *
    * Shape: one quantile-fit scan over `ref`, then one count-aggregate scan
    * per side, each reducing to ≤ k rows; everything downstream of the
    * scans is k-row arithmetic. Nothing corpus-sized shuffles, and the two
    * count scans are independent jobs — on a cluster they overlap. */
  def distributionDrift(ref: DataFrame, cur: DataFrame, valueCol: String,
                        k: Int = 10, eps: Double = 1e-6): DataFrame = {
    require(k >= 2, s"need at least 2 bins, got $k")
    require(eps > 0.0 && eps < 1.0, s"eps must be in (0,1), got $eps")
    val edges = Percentiles.exactGlobalValues(
      ref, valueCol, (1 until k).map(_.toDouble / k)).flatten
    val v = col(valueCol).cast("double")
    val bucket = edges.foldLeft(lit(1)) { (acc, t) =>
      acc + when(v >= t, 1).otherwise(0)
    }
    def counts(df: DataFrame, name: String): DataFrame = df
      .where(v.isNotNull)
      .select(bucket.as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as(name))
    val spine = ref.sparkSession.range(1, k + 1)
      .select(col("id").cast("int").as("bucket"))
    psiTerms(
      spine
        .join(counts(ref, "n_ref"), Seq("bucket"), "left")
        .join(counts(cur, "n_cur"), Seq("bucket"), "left")
        .na.fill(0L, Seq("n_ref", "n_cur")),
      eps).orderBy("bucket")
  }

  /** [[distributionDrift]] for a CATEGORICAL signal — the language-mix /
    * source-mix shift monitor: one bin per distinct value (full-outer union
    * of both sides' value sets, so a value present on only one side still
    * gets its eps-clamped penalty), same PSI terms, ordered by value.
    * Output: (value, n_ref, n_cur, p_ref, p_cur, psi_term). NULL categories
    * are excluded, like NULL values in the numeric form.
    *
    * Scale note: bins = distinct categories, and the proportion pass is a
    * single-partition window over that bin table — correct for mixture
    * axes (languages, sources, format tags: model-artifact-sized). A
    * near-unique column is not a mixture axis; bucket it (numeric → the
    * quantile form; strings → hash ranges) before asking for drift. */
  def categoricalDrift(ref: DataFrame, cur: DataFrame, catCol: String,
                       eps: Double = 1e-6): DataFrame = {
    require(eps > 0.0 && eps < 1.0, s"eps must be in (0,1), got $eps")
    def counts(df: DataFrame, name: String): DataFrame = df
      .where(col(catCol).isNotNull)
      .groupBy(col(catCol).cast("string").as("value"))
      .agg(count(lit(1)).as(name))
    psiTerms(
      counts(ref, "n_ref")
        .join(counts(cur, "n_cur"), Seq("value"), "full_outer")
        .na.fill(0L, Seq("n_ref", "n_cur")),
      eps).orderBy("value")
  }

  /** Append (p_ref, p_cur, psi_term) to a (bin, n_ref, n_cur) frame. The
    * global window runs over the BIN table (k rows / distinct categories),
    * never the corpus. */
  private def psiTerms(binned: DataFrame, eps: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def clamp(c: org.apache.spark.sql.Column) = greatest(c, lit(eps))
    binned
      .withColumn("p_ref",
        col("n_ref").cast("double") / sum("n_ref").over(wAll))
      .withColumn("p_cur",
        col("n_cur").cast("double") / sum("n_cur").over(wAll))
      .withColumn("psi_term",
        (clamp(col("p_cur")) - clamp(col("p_ref")))
          * log(clamp(col("p_cur")) / clamp(col("p_ref"))))
  }

  /** (n complete rows, means, covariance matrix) for numeric columns in one
    * scan: pack into an array, run the native [[graft.plans.GramianAggregate]]
    * (one D²-bounded buffer per partition), derive μ/Σ driver-side — the
    * tabular sibling of [[Pca.momentsByGramian]]. */
  private def numericMoments(df: DataFrame, cols: Seq[String])
      : (Long, Array[Double], Array[Array[Double]]) = {
    val d = cols.size
    val packed = array(cols.map(c => col(c).cast("double")): _*)
    val r = df
      .where(cols.map(c => col(c).isNotNull).reduce(_ && _))
      .select(native("graft_gramian", packed, lit(d)).as("g"))
      .head().getStruct(0)
    val n = r.getLong(0)
    val nn = n.toDouble
    require(n > 1, s"need at least 2 complete rows over $cols")
    val sums = r.getSeq[Double](1)
    val tri = r.getSeq[Double](2)
    val mu = sums.map(_ / nn).toArray
    def triAt(i: Int, j: Int): Double = tri(i * d - i * (i - 1) / 2 + (j - i))
    val cov = Array.tabulate(d, d) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      triAt(a, b) / nn - mu(i) * mu(j)
    }
    // The one-pass E[x²] − μ² cancellation is not exact: a constant column
    // at a non-representable value (0.1 over 10⁶ rows) leaves a ±1e-18
    // residue — slightly negative gives NaN σ, slightly positive gives a
    // ~1e-9 σ that turns z-scores/correlations into amplified rounding
    // noise. Clamp diagonal entries below a RELATIVE epsilon (vs the
    // second-moment scale) to exactly 0 so the zero-variance → NULL
    // contract actually fires.
    (0 until d).foreach { i =>
      val scale = math.abs(triAt(i, i)) / nn
      if (cov(i)(i) <= 1e-12 * math.max(scale, java.lang.Double.MIN_VALUE))
        cov(i)(i) = 0.0
    }
    (n, mu, cov)
  }

  /** Filter-funnel attrition accounting — "where does my curation cascade
    * lose documents?": for an ORDERED sequence of named filter predicates,
    * report per stage how many rows reached it (passed every earlier
    * stage), how many passed it, and the marginal drop/pass-rate. One row
    * per stage.
    *
    * Cost: ONE corpus scan total. Every predicate evaluates as a codegen'd
    * int flag in the same projection and the prefix-conjunction counts are
    * sums of flag PRODUCTS in one aggregate — the naive spelling (re-apply
    * the growing filter chain per stage) scans the corpus once per stage
    * and is exactly what this exists to avoid at 100 TB. A NULL predicate
    * counts as a drop (the Gopher NULL-pins-to-drop convention).
    *
    * `n_in` for stage 1 is the corpus size; `pass_rate` is marginal
    * (n_pass/n_in per stage), so the cascade's end-to-end yield is the
    * last stage's n_pass over the first stage's n_in. */
  def filterFunnel(df: DataFrame, stages: Seq[(String, Column)]): DataFrame = {
    require(stages.nonEmpty, "need at least one filter stage")
    require(stages.map(_._1).distinct.size == stages.size,
      "stage names must be unique")
    val flags = stages.zipWithIndex.map { case ((_, p), i) =>
      coalesce(p, lit(false)).cast("int").as(s"__f$i")
    }
    val prefixCounts = stages.indices.map { i =>
      sum(stages.indices.take(i + 1).map(j => col(s"__f$j")).reduce(_ * _))
        .as(s"__p$i")
    }
    val row = df.select(flags: _*)
      .agg(count(lit(1)).as("__n"), prefixCounts: _*)
    // per-stage rows via ONE explode over the single aggregate row — a
    // unionAll of per-stage selects would re-evaluate the aggregate (and
    // the corpus scan under it) once per stage
    val stageStructs = stages.zipWithIndex.map { case ((name, _), i) =>
      val inCol = coalesce(
        if (i == 0) col("__n") else col(s"__p${i - 1}"), lit(0L))
      val passCol = coalesce(col(s"__p$i"), lit(0L))
      struct(
        lit(i + 1).as("stage"), lit(name).as("filter"),
        inCol.as("n_in"), passCol.as("n_pass"),
        (inCol - passCol).as("n_drop"),
        when(inCol === 0, lit(null).cast("double"))
          .otherwise(passCol / inCol).as("pass_rate"))
    }
    row.select(explode(array(stageStructs: _*)).as("s")).select(col("s.*"))
  }

  /** EMBEDDING-space drift between two corpus versions — did the
    * representation shift, not just the scalar signals ([[distributionDrift]])
    * or the vocabulary ([[graft.operators.Relevance.vocabJsDivergence]]):
    * compare the two sides' centroid vectors by cosine, L2 distance, and
    * norm ratio. A re-crawl that only adds more-of-the-same keeps cosine
    * ≈ 1; topic or pipeline shifts (new language mix, a changed embedder)
    * pull it down — the cheap first alarm before anything expensive like
    * re-clustering.
    *
    * Shape: per side, one dimension-keyed mean aggregation (posexplode →
    * D-row partial-agg frame — D rows per side TOTAL, never corpus-sized),
    * a D-row join, and a 1-row reduction. The two side scans are
    * independent jobs. Double sums fold in engine order, so values are
    * reproducible to rounding, not bit-exact — outputs are 4-decimal
    * rounded, the same contract as the correlation matrix. */
  def embeddingCentroidDrift(ref: DataFrame, cur: DataFrame,
                             vecCol: String): DataFrame = {
    def centroid(df: DataFrame, name: String): DataFrame = df
      .where(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .groupBy("dim").agg(avg(col("__x").cast("double")).as(name))
    val round4 = (c: Column) => floor(c * 10000 + 0.5) / 10000
    centroid(ref, "a").join(centroid(cur, "b"), Seq("dim"))
      .agg(count(lit(1)).as("n_dims"),
        sum(col("a") * col("b")).as("__dot"),
        sum(col("a") * col("a")).as("__na"),
        sum(col("b") * col("b")).as("__nb"),
        sum((col("a") - col("b")) * (col("a") - col("b"))).as("__d2"))
      .select(col("n_dims"),
        round4(col("__dot") / sqrt(col("__na") * col("__nb")))
          .as("centroid_cosine"),
        round4(sqrt(col("__d2"))).as("centroid_l2"),
        round4(sqrt(col("__nb") / col("__na"))).as("norm_ratio"))
  }

  /** Tokenizer fertility audit per language — the multilingual-pipeline
    * question "how many LLM tokens does a word cost in each language?"
    * [Ács 2019; Rust et al. ACL'21 study tokenizer fertility this way]:
    * a language whose fertility is 2-3x English effectively gets a
    * shorter context window and a higher training cost per word, so the
    * mix decision needs this table next to the language shares. Subword
    * counts use [[graft.functions.TextAnalysis.bpeishTokenCount]] (the
    * repo's deterministic BPE-pre-tokenization proxy); `fertility` =
    * subwords per whitespace word, `chars_per_subword` = text chars per
    * subword. One language-keyed aggregation pass, exact integer sums,
    * every output an exact IEEE division — no rounding needed. A group
    * with zero words (all-empty docs) gets NULL `fertility`; zero
    * subwords gets NULL `chars_per_subword` — never NaN/Infinity. */
  def tokenizerFertility(df: DataFrame, langCol: String,
                         textCol: String): DataFrame = {
    val t = col(textCol)
    val words = graft.functions.TextAnalysis.tokenCount(t).cast("long")
    val subs = graft.functions.TextAnalysis.bpeishTokenCount(t).cast("long")
    df.groupBy(langCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(words).as("n_words"),
        sum(subs).as("n_subwords"),
        sum(length(t).cast("long")).as("n_chars"))
      .select(col(langCol), col("n_docs"), col("n_words"), col("n_subwords"),
        // degenerate groups (all-empty/whitespace docs) report NULL, not
        // NaN/Infinity — the ngramDiversity convention for 0-denominator
        when(col("n_words") > 0L,
          col("n_subwords").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        when(col("n_subwords") > 0L,
          col("n_chars").cast("double") / col("n_subwords").cast("double"))
          .as("chars_per_subword"))
  }

  /** One-call corpus report card — the summary a pipeline stamps on every
    * data drop before anyone trains on it: volume, length distribution,
    * language mix, duplication, and source concentration in a single tall
    * (metric, value) frame. Each number is an existing primitive's shape;
    * the value of the operator is the FIXED metric contract (downstream
    * dashboards and drop-over-drop diffs key on metric names).
    *
    * Metrics: `n_docs`, `total_tokens`, `mean_doc_tokens`,
    * `p50_doc_tokens` / `p90_doc_tokens` (EXACT corpus-wide quantiles via
    * [[Percentiles.exactGlobalValues]], a [[RangeScan]] — never a
    * single-partition sort), `total_chars`, `mean_doc_chars`, `n_langs`,
    * `lang_entropy_nats` (Shannon entropy of the language mix, folded
    * driver-side over the ≤K language counts in sorted-key order — a fixed
    * summation order, deterministic), `exact_dup_frac` (1 − distinct
    * [[graft.functions.TextAnalysis.fingerprint]]s / docs — the distinct
    * aggregate keys on the 64-bit fingerprint, NOT the normalized string,
    * so the shuffle carries 8-byte keys instead of document text (the
    * SubstringDedup discipline); the gate oracle keeps DuckDB's distinct
    * on the normalized STRING, so a fingerprint collision under-counts
    * distincts and hash-fails the gate — the x04f partition-identity
    * trick), `top_source_share`.
    *
    * Cost: one global aggregation pass (counts, sums, the distinct
    * 8-byte-key shuffle), one GROUPING SETS pass for the language and source mixes
    * (collected — ≤ |langs|+|sources| rows, a model artifact), and the
    * quantile recipe's narrow passes over the token counts. A report, not
    * a hot path — each pass is the minimal shape for its statistic, and
    * nothing scales with corpus size beyond the scans. Integer-derived
    * metrics are exact; `lang_entropy_nats` carries the usual k-term
    * double-sum contract (gate canonicalizes round4). */
  /** The report's single global-aggregation frame, exposed for plan
    * pinning: the distinct aggregate MUST key on the 64-bit fingerprint
    * (8 bytes through the shuffle), never the normalized string — at
    * 100 TB a text-keyed distinct shuffles the corpus
    * (PlanQualitySpec asserts the shape). */
  private[graft] def corpusGlobalAgg(df: DataFrame, textCol: String,
                                     charsCol: String): DataFrame = {
    val ntok = graft.functions.TextAnalysis.tokenCount(col(textCol))
    df.agg(
      count(lit(1)).as("n"),
      sum(ntok.cast("long")).as("toks"),
      sum(col(charsCol).cast("long")).as("chars"),
      count_distinct(
        graft.functions.TextAnalysis.fingerprint(col(textCol))).as("nd"))
  }

  def corpusReport(df: DataFrame, idCol: String, textCol: String,
                   langCol: String, sourceCol: String,
                   charsCol: String): DataFrame = {
    val spark = df.sparkSession
    val ntok = graft.functions.TextAnalysis.tokenCount(col(textCol))
    val g = corpusGlobalAgg(df, textCol, charsCol).head()
    val n = g.getLong(0)
    // n first: the sums are NULL on an empty corpus — fail with the clear
    // message, not a NULL-read error
    require(n > 0, "corpusReport: empty corpus")
    val (toks, chars, nd) = (g.getLong(1), g.getLong(2), g.getLong(3))
    // language AND source mixes from ONE (lang, source) cell pass; the
    // collect is ≤ |langs|·|sources| rows — a model artifact. Keys stay
    // Option[String]: a NULL lang/source is its own group (matching SQL
    // GROUP BY NULL semantics and the x87 oracle), never merged with a
    // genuine empty-string value
    val cells = df.select(col(langCol).as("l"), col(sourceCol).as("s"))
      .groupBy("l", "s").agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2)))
    val langCounts = cells.groupBy(_._1).view
      .mapValues(_.map(_._3).sum).toSeq.sortBy(_._1)
    val topSource = cells.groupBy(_._2).view
      .mapValues(_.map(_._3).sum).values.max
    val entropy = langCounts.foldLeft(0.0) { case (acc, (_, c)) =>
      val p = c.toDouble / n
      acc - p * math.log(p)
    }
    val qs = Percentiles.exactGlobalValues(
      df.select(ntok.cast("double").as("__nt")), "__nt", Seq(0.5, 0.9))
    import spark.implicits._
    Seq(
      "n_docs" -> n.toDouble,
      "total_tokens" -> toks.toDouble,
      "mean_doc_tokens" -> toks.toDouble / n,
      "p50_doc_tokens" -> qs(0).getOrElse(Double.NaN),
      "p90_doc_tokens" -> qs(1).getOrElse(Double.NaN),
      "total_chars" -> chars.toDouble,
      "mean_doc_chars" -> chars.toDouble / n,
      "n_langs" -> langCounts.size.toDouble,
      "lang_entropy_nats" -> entropy,
      "exact_dup_frac" -> (1.0 - nd.toDouble / n),
      "top_source_share" -> topSource.toDouble / n)
      .toDF("metric", "value")
  }
  /** Drop-over-drop diff of two [[corpusReport]] frames — the comparison
    * the report card exists to feed: per metric, previous and current
    * value, absolute delta, and ratio. A FULL OUTER join on the metric
    * name, so a metric present in only one drop (a contract change)
    * surfaces as a NULL-sided row instead of silently vanishing; the
    * ratio is NULL when the previous value is 0 (never ±Infinity).
    * Pure arithmetic on two ≤dozen-row frames — free at any corpus size;
    * the cost lives in the two reports that feed it. */
  def reportDiff(prev: DataFrame, cur: DataFrame): DataFrame =
    prev.select(col("metric"), col("value").as("prev_value"))
      .join(cur.select(col("metric"), col("value").as("cur_value")),
        Seq("metric"), "full_outer")
      .select(col("metric"), col("prev_value"), col("cur_value"),
        (col("cur_value") - col("prev_value")).as("delta"),
        when(col("prev_value") =!= 0.0, col("cur_value") / col("prev_value"))
          .as("ratio"))

  /** Context-window truncation audit — how many tokens a truncate-at-L
    * policy throws away, per group and candidate limit: the table that
    * decides between training context lengths (and whether chunking
    * ([[Packing.chunkDocuments]]) is worth its complexity over plain
    * truncation for this corpus). For each `groupCol` cell and each L in
    * `limits`: `n_docs_over` (docs longer than L), `lost_tokens`
    * (Σ max(0, n − L)), `lost_frac` (= lost/Σn, NULL on a zero-token
    * group, never NaN).
    *
    * ONE aggregation pass computes every limit's sums as conditional
    * aggregates (map-side combined); the per-(group, L) rows are unpivoted
    * from that single pass — no per-limit rescans. Exact integer
    * arithmetic + one division per row. */
  def truncationLoss(df: DataFrame, groupCol: String, nTokens: Column,
                     limits: Seq[Long]): DataFrame = {
    require(limits.nonEmpty, "limits must be non-empty")
    require(limits.forall(_ >= 1), s"limits must be >= 1, got $limits")
    val n = nTokens.cast("long")
    val aggs = sum(n).as("__total") +: limits.flatMap(l => Seq(
      sum(when(n > l, 1L).otherwise(0L)).as(s"__over_$l"),
      sum(when(n > l, n - l).otherwise(0L)).as(s"__lost_$l")))
    val one = df.groupBy(groupCol).agg(aggs.head, aggs.tail: _*)
    val rows = limits.map(l => struct(lit(l).as("limit"),
      col(s"__over_$l").as("n_docs_over"), col(s"__lost_$l").as("lost_tokens")))
    one.select(col(groupCol), col("__total"),
        explode(array(rows: _*)).as("__r"))
      .select(col(groupCol), col("__r.limit").as("limit"),
        col("__r.n_docs_over").as("n_docs_over"),
        col("__r.lost_tokens").as("lost_tokens"),
        when(col("__total") > 0L,
          col("__r.lost_tokens").cast("double") / col("__total").cast("double"))
          .as("lost_frac"))
  }

  /** Robust per-group outlier flags via MAD (median absolute deviation) —
    * the data-quality screen that survives the contamination it hunts:
    * mean/stddev z-scores move WITH the outliers (one 10 GB document
    * inflates σ enough to hide itself), medians don't. Per group:
    * `m = median(x)`, `MAD = median(|x − m|)`,
    * `robust_z = |x − m| / (1.4826·MAD)` (the Gaussian consistency
    * constant, Hampel's convention), flagged above `cutoff` (3.5 — the
    * Iglewicz–Hoaglin recommendation).
    *
    * Shape: TWO passes of the distributed exact-median recipe
    * ([[Percentiles.exactByGroupRanged]], a [[RangeScan]] — never a
    * per-group single-task sort) + broadcast
    * joins of the |groups|-row median artifacts; the flagging itself is
    * map-only. A constant group (MAD 0) yields NULL robust_z and a false
    * flag for every member except exact-median breakers — degenerate
    * spread means no robust scale exists, and silently dividing by an
    * epsilon would flag EVERY row; NULL is the honest answer. NULL values
    * keep NULL z and flag false (excluded from both medians, the
    * QUANTILE_CONT convention). NULL GROUP rows likewise SURVIVE — NULL
    * group_median/group_mad/robust_z and a false flag (they belong to no
    * group, so no robust scale exists for them; the median artifacts are
    * fitted on non-NULL groups and LEFT-joined back, because an equi-join
    * would silently drop them instead). */
  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String,
                     cutoff: Double = 3.5): DataFrame = {
    require(cutoff > 0.0, s"cutoff must be > 0, got $cutoff")
    val v = col(valueCol).cast("double")
    val med = Percentiles.exactByGroupRanged(
      df.where(col(groupCol).isNotNull)
        .select(col(groupCol), v.as("__v")), groupCol, "__v",
      Seq(0.5), Seq("__med"))
    val dev = df.join(broadcast(med), Seq(groupCol), "left")
      .withColumn("__dev", abs(v - col("__med")))
    val mad = Percentiles.exactByGroupRanged(
      dev.where(col(groupCol).isNotNull)
        .select(col(groupCol), col("__dev")), groupCol, "__dev",
      Seq(0.5), Seq("__mad"))
    dev.join(broadcast(mad), Seq(groupCol), "left")
      .withColumn("robust_z",
        when(col("__mad") > 0.0,
          col("__dev") / (lit(1.4826) * col("__mad"))))
      .withColumn("is_outlier",
        coalesce(col("robust_z") > cutoff, lit(false)))
      .withColumnRenamed("__med", "group_median")
      .withColumnRenamed("__mad", "group_mad")
      .drop("__dev")
  }
}
