package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.HashExpressions.native

/** Corpus SELECTION — choosing WHICH cleaned documents a training run gets,
  * after dedup/filter decide which are usable. Two standard curation
  * policies:
  *
  *   - token-budget fill ([[selectByBudget]] — ranking-prefix truncation;
  *     [[selectByBudgetSkipGreedy]] — exact skip-greedy): "the run affords
  *     B tokens; take the best-scored documents until the budget is spent";
  *   - quantile threshold ([[keepAboveQuantile]]): "keep the top (1−q)
  *     fraction by score" — a rank cut, so it composes with any score
  *     without per-dataset threshold tuning.
  *
  * Both are deterministic (score ties broken by id) and both avoid the
  * single-partition global window that a naive `SUM(...) OVER (ORDER BY …)`
  * spelling costs: the running total is a [[RangeScan]], and the rank cut
  * fits its threshold with [[Percentiles.exactGlobalValues]].
  *
  * Reference scope note: the reference engine (operators.py:80) delegates
  * all transformation to Postgres and has no curation surface; this
  * extension is SURVEY.md §2c territory.
  */
object Selection {

  /** PREFIX-TRUNCATION budget fill: rank rows by (`scoreCol` DESC, `idCol`
    * ASC), keep every row whose RUNNING token total over ALL ranked rows
    * (including itself) fits in `budget`. Output: (idCol, n_tokens,
    * cum_tokens) for kept rows — `cum_tokens` is the running total in
    * selection order, so the largest kept `cum_tokens` is the realized
    * budget spend.
    *
    * The kept set is a STRICT RANKING PREFIX: the running total is monotone
    * over the full ranking, so the first document that overshoots ends the
    * fill — later, smaller documents are NOT re-admitted, and the skipped
    * document's tokens stay in every later row's `cum_tokens`. This is
    * exactly what the windowed-SQL spelling
    * (`... WHERE SUM(n) OVER (ORDER BY score DESC, id) <= B`) computes. For
    * the skip-greedy policy that drops an overshooting document and keeps
    * filling with later ones, use [[selectByBudgetSkipGreedy]].
    *
    * NULL handling: a NULL score sorts last (after every real score); NULL
    * token counts fill as zero.
    *
    * Scale: one [[RangeScan]] on (score, id). */
  def selectByBudget(df: DataFrame, idCol: String, scoreCol: Column,
                     nTokens: Column, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val narrow = df.select(col(idCol), scoreCol.as("__s"),
      coalesce(nTokens.cast("long"), lit(0L)).as("n_tokens"))
    RangeScan(narrow, Nil, Seq(col("__s").desc_nulls_last, col(idCol))) { scan =>
      val w = scan.window.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      scan.frame
        .withColumn("cum_tokens",
          scan.offsets(sum("n_tokens")).column + sum("n_tokens").over(w))
        .where(col("cum_tokens") <= budget)
        .select(col(idCol), col("n_tokens"), col("cum_tokens"))
        .localCheckpoint(true)
    }
  }

  /** Per-GROUP prefix-truncation budget fill — "every source/domain gets its
    * own token budget" (the per-domain cap step of a mixing recipe): within
    * each `groupCol` value, rank by (`scoreCol` DESC, `idCol` ASC) and keep
    * rows whose group-local running token total fits the group's budget
    * (`budgets(group)`, else `defaultBudget`). Budget keys are matched via
    * `col(groupCol) === key` — Spark's implicit cast comparison — and that
    * ONE spelling is used by both execution regimes below, so routing can
    * never change which budget a group gets. Output: (groupCol, idCol,
    * n_tokens, cum_tokens) with `cum_tokens` group-local.
    *
    * Unlike the GLOBAL fill — where the ORDER BY spelling would funnel the
    * corpus through one partition and [[selectByBudget]] needs a
    * [[RangeScan]] — the grouped window
    * distributes by `groupCol` on its own, so this is ONE hash shuffle +
    * per-group sorts, the plan Spark already does well WHEN groups are
    * many. The degenerate regime — a handful of corpus-sized groups, where
    * `Window.partitionBy(group)` funnels each group through one task no
    * matter the cluster size — is guarded AUTOMATICALLY: a cheap
    * `approx_count_distinct` probe runs first, and when the group count is
    * ≤ `fewGroups` (default 8; 0 disables the probe) the fill routes to
    * one distributed [[selectByBudget]] per group instead (same order
    * spec, same prefix semantics — differentially pinned in
    * SelectionSpec), so no single task ever sorts a whole corpus. Same
    * prefix semantics and NULL handling as [[selectByBudget]]; a NULL
    * group is its own group and always gets `defaultBudget`. */
  def selectByBudgetPerGroup(df: DataFrame, groupCol: String, idCol: String,
                             scoreCol: Column, nTokens: Column,
                             defaultBudget: Long,
                             budgets: Map[String, Long] = Map.empty,
                             fewGroups: Int = 8): DataFrame = {
    require(defaultBudget > 0, s"defaultBudget must be positive, got $defaultBudget")
    require(budgets.values.forall(_ > 0), "every group budget must be positive")
    val narrow = df.select(col(groupCol), col(idCol), scoreCol.as("__s"),
      coalesce(nTokens.cast("long"), lit(0L)).as("n_tokens"))
    // Degenerate-regime probe: approx_count_distinct is one narrow
    // column-pruned scan with a mergeable sketch — 2% relative error, and
    // the 2× margin on the threshold makes a mis-route vanishingly
    // unlikely; a mis-route is a perf choice, never a correctness one.
    val groups: Array[Any] =
      if (fewGroups <= 0) Array.empty
      else {
        val est = narrow.agg(
          approx_count_distinct(col(groupCol)).as("__c")).head().getLong(0)
        if (est > 2L * fewGroups) Array.empty
        else narrow.select(col(groupCol)).distinct()
          .limit(fewGroups + 1).collect().map(_.get(0))
      }
    val few = fewGroups > 0 && groups.nonEmpty && groups.length <= fewGroups
    // ONE budget-resolution spelling for both regimes: the when-chain below
    // (col === key with Spark's implicit cast comparison). The few-group
    // path evaluates the SAME chain over a local one-row-per-group frame of
    // the group column's real type, so a probe mis-route can never change
    // which budget a group receives — it stays a perf choice only.
    val budgetOf = budgets.foldLeft(lit(defaultBudget)) { case (acc, (g, b)) =>
      when(col(groupCol) === g, lit(b)).otherwise(acc)
    }
    if (few) {
      val gType = df.schema(groupCol).dataType
      import scala.jdk.CollectionConverters._
      val gFrame = df.sparkSession.createDataFrame(
        groups.map(g => org.apache.spark.sql.Row(g)).toSeq.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(groupCol, gType, nullable = true))))
      val resolved: Map[Int, Long] = gFrame
        .select(budgetOf.as("__b")).collect().zipWithIndex
        .map { case (r, i) => i -> r.getLong(0) }.toMap
      val parts = groups.zipWithIndex.map { case (g, i) =>
        val slice = narrow.where(col(groupCol) <=> lit(g))
        selectByBudget(slice, idCol, col("__s"), col("n_tokens"), resolved(i))
          .select(lit(g).cast(gType).as(groupCol),
            col(idCol), col("n_tokens"), col("cum_tokens"))
      }
      parts.reduce(_.union(_))
    } else {
      val w = Window.partitionBy(groupCol)
        .orderBy(col("__s").desc_nulls_last, col(idCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      narrow
        .withColumn("cum_tokens", sum("n_tokens").over(w))
        .where(col("cum_tokens") <= budgetOf)
        .select(col(groupCol), col(idCol), col("n_tokens"), col("cum_tokens"))
    }
  }

  /** SKIP-GREEDY budget fill — the sequential policy: walk the ranking
    * (`scoreCol` DESC, `idCol` ASC); keep a document iff its tokens fit in
    * the budget REMAINING after every earlier KEPT document; a document that
    * overshoots is skipped individually and the walk keeps consuming — so
    * with budget 20 over ranked token counts (10, 100, 5), documents 1 and 3
    * are kept (unlike [[selectByBudget]]'s prefix truncation, which stops at
    * document 2). Output shape matches [[selectByBudget]]: (idCol, n_tokens,
    * cum_tokens), with `cum_tokens` the running total over KEPT rows only.
    *
    * The recurrence (each decision depends on all earlier decisions) is
    * inherently sequential, but it is the unique fixed point of a
    * PARALLEL relaxation: start from all-kept, and each pass recomputes
    * every decision `keep(i) := keptSum_before(i) + tokens(i) ≤ budget`
    * against the PREVIOUS pass's kept-set (Jacobi iteration). If a pass's
    * kept-set agrees with the true greedy set on every row before position
    * i, the next pass decides row i (and every earlier row) correctly — so
    * the agreement prefix grows monotonically and the iteration converges
    * exactly, in practice within a handful of passes (one per "skip event"
    * region, and skips cluster near the budget boundary). Each pass is one
    * [[RangeScan]] offset of the kept tokens over the same range-partitioned
    * frame. Convergence is detected by kept-set signature
    * (count, token sum, id-hash XOR); `maxPasses` bounds the adversarial
    * worst case (alternating oversize/undersize documents) and overrunning
    * it throws rather than returning a non-greedy set.
    *
    * NULL handling matches [[selectByBudget]]: NULL scores sort last, NULL
    * token counts fill as zero. */
  def selectByBudgetSkipGreedy(df: DataFrame, idCol: String, scoreCol: Column,
                               nTokens: Column, budget: Long,
                               maxPasses: Int = 32): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(maxPasses > 0, s"maxPasses must be positive, got $maxPasses")
    val narrow = df.select(col(idCol), scoreCol.as("__s"),
      coalesce(nTokens.cast("long"), lit(0L)).as("n_tokens"))
    RangeScan(narrow, Nil, Seq(col("__s").desc_nulls_last, col(idCol).asc)) { scan =>
      val w = scan.window.rowsBetween(Window.unboundedPreceding, -1)
      val keptTok = when(col("__keep"), col("n_tokens")).otherwise(0L)
      var cur = scan.frame.withColumn("__sb", lit(0L)).withColumn("__keep", lit(true))
      try {
        var sig: (Long, Long, Long) = (-1L, -1L, -1L)
        var converged = false
        var pass = 0
        while (!converged && pass < maxPasses) {
          pass += 1
          val offsets = scan.offsets(sum(keptTok), cur)
          if (offsets.totals.isEmpty) converged = true // empty input: nothing to fill
          else {
            val next = cur
              .withColumn("__sb2",
                offsets.column + coalesce(sum(keptTok).over(w), lit(0L)))
              .withColumn("__keep", col("__sb2") + col("n_tokens") <= budget)
              .select(col(idCol), col("__s"), col("n_tokens"), col("__pid"),
                col("__sb2").as("__sb"), col("__keep"))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            val sr = next.agg(
              sum(when(col("__keep"), 1L).otherwise(0L)).as("c"),
              sum(keptTok).as("t"),
              // XOR-fold of id hashes: order-independent set signature with no
              // overflow (a SUM of 64-bit hashes trips ANSI long overflow)
              bit_xor(when(col("__keep"), xxhash64(col(idCol).cast("string")))
                .otherwise(0L)).as("h")).head()
            val newSig = (sr.getLong(0), sr.getLong(1), sr.getLong(2))
            cur.unpersist(false)
            cur = next
            converged = newSig == sig
            sig = newSig
          }
        }
        if (!converged)
          throw new IllegalStateException(
            s"skip-greedy fill did not converge in $maxPasses passes " +
              "(adversarial token-size alternation?) — raise maxPasses")
        // converged: cur's flags equal the previous pass's, so __sb (computed
        // from the previous flags) IS the final kept-only prefix sum
        cur.where(col("__keep"))
          .select(col(idCol), col("n_tokens"),
            (col("__sb") + col("n_tokens")).as("cum_tokens"))
          .localCheckpoint(true)
      } finally cur.unpersist(false)
    }
  }

  /** Rank cut: keep rows whose `scoreCol` is ≥ the exact q-quantile of the
    * score — "top (1−q) of the corpus by quality". The threshold is fitted
    * with [[Percentiles.exactGlobalValues]] (distributed range-sort,
    * `QUANTILE_CONT` interpolation semantics) and applied as a map-only
    * filter, so the pass is one narrow extra shuffle plus the scan it was
    * already doing. NULL scores never pass (SQL comparison semantics); an
    * all-NULL score column keeps nothing. */
  def keepAboveQuantile(df: DataFrame, scoreCol: String, q: Double): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"q must be in [0,1], got $q")
    Percentiles.exactGlobalValues(df, scoreCol, Seq(q)).head match {
      case Some(threshold) => df.where(col(scoreCol).cast("double") >= threshold)
      case None => df.where(lit(false))
    }
  }

  /** Exact global quantile-bucket assignment — quality-DECILE stratification
    * for mixture recipes ("sample 2× from the top decile, 0.5× from the
    * bottom"): appends `bucketCol` ∈ 1..k where bucket b means the score is
    * ≥ the (b−1)/k exact quantile and < the b/k one.
    *
    * The scalable sibling of `NTILE(k) OVER (ORDER BY score)`, which forces
    * the ENTIRE corpus through one partition's sort. Here the k−1 thresholds
    * are fitted with [[Percentiles.exactGlobalValues]]'s distributed
    * range-sort (driver artifact: k−1 doubles) and applied as one map-only
    * threshold fold — no global window at any corpus size.
    *
    * Semantics vs NTILE: buckets split by VALUE, not by row count — every
    * tie of the same score lands in the same bucket (the property mixture
    * sampling actually wants: identical documents must not straddle a
    * stratum boundary), so under heavy ties bucket populations are uneven
    * and a bucket can be empty. A NULL score gets a NULL bucket; an all-NULL
    * column leaves every bucket NULL. */
  def assignQuantileBuckets(df: DataFrame, scoreCol: String, k: Int,
                            bucketCol: String = "bucket"): DataFrame = {
    require(k >= 2, s"need at least 2 buckets, got $k")
    val ps = (1 until k).map(_.toDouble / k)
    val thresholds = Percentiles.exactGlobalValues(df, scoreCol, ps)
    val s = col(scoreCol).cast("double")
    val bucket = thresholds.flatten match {
      case ts if ts.isEmpty => lit(null).cast("int") // all-NULL column
      case ts => ts.foldLeft(lit(1)) { (acc, t) =>
        acc + when(s >= t, 1).otherwise(0)
      }
    }
    df.withColumn(bucketCol, when(s.isNotNull, bucket).cast("int"))
  }

  /** Distributed GLOBAL rank 1..N by (`scoreCol` DESC NULLS LAST, `idCol`
    * ASC): a [[RangeScan]] row count plus the partition-local
    * `row_number`. NULL scores rank after every real score
    * (deterministically, by id). */
  private[operators] def globalRank(df: DataFrame, idCol: String,
                                    scoreCol: Column): DataFrame =
    RangeScan(df.select(col(idCol), scoreCol.as("__s")), Nil,
        Seq(col("__s").desc_nulls_last, col(idCol))) { scan =>
      scan.frame
        .withColumn("rank",
          scan.offsets(count(lit(1))).column + row_number().over(scan.window))
        .select(col(idCol), col("rank"))
        .localCheckpoint(true)
    }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR'09) of several quality
    * signals: each score column is ranked globally (higher = better, ties
    * and NULLs broken by id), and the fused score is
    * `rrf = Σ_cols 1/(k + rank_col)` — the standard ensemble rule when
    * signal SCALES are incomparable (an LM fluency score and a compression
    * ratio can't be averaged, but their ranks can). Output: (idCol,
    * rank_<col>..., rrf), one row per input row. `k` (default 60, the
    * paper's constant) damps the top-rank dominance.
    *
    * Determinism: ranks are exact integers and the fused sum is a fixed
    * left-to-right fold of correctly-rounded divisions — bit-identical
    * across engines, no rounding needed.
    *
    * Scale: one [[globalRank]] per signal plus an id-keyed join to line
    * the rank columns up — never a global single-partition sort. */
  def reciprocalRankFusion(df: DataFrame, idCol: String,
                           scoreCols: Seq[String], k: Int = 60): DataFrame = {
    require(scoreCols.nonEmpty, "need at least one score column")
    require(k >= 1, s"k must be >= 1, got $k")
    val ranked = scoreCols.map { c =>
      globalRank(df, idCol, col(c)).withColumnRenamed("rank", s"rank_$c")
    }
    val joined = ranked.reduce(_.join(_, Seq(idCol)))
    val rrf = scoreCols.map(c => lit(1.0) / (lit(k) + col(s"rank_$c")))
      .reduce(_ + _)
    joined.withColumn("rrf", rrf)
  }

  /** Top-k rows per group by `(scoreCol, idCol)` descending, without ANY
    * sort: the native bounded-heap aggregate
    * ([[graft.plans.TopKAggregate]]) keeps a k-entry partial state per
    * (group, partition), so map-side combine bounds the shuffle at
    * `groups × partitions × k` narrow rows. Spark's own rank-filter
    * optimization (InferWindowGroupLimit) bounds the `ROW_NUMBER() <= k`
    * window's shuffle similarly — but pays a FULL local sort of every map
    * partition first, at full row width; the heap form is one O(log k)
    * fold per row, hash-aggregated, and usable as an explicit surface
    * where the window-filter pattern isn't statically recognizable.
    *
    * Output: `groupCols ++ (rank, scoreCol, idCol)`, rank 1..k descending
    * by (score, id) — deterministic whenever ids are unique per group.
    * Rows with a NULL score or id are skipped; id/score types are
    * validated up front (integral id, numeric score) so a failing cast
    * can't silently drop rows. Scores ride as doubles — a decimal wider
    * than 15–16 significant digits can have near-ties reordered by the
    * cast; use [[topKPerGroupRows]] to rank on exact decimals. Only the
    * id is carried
    * through the aggregate; join back on it for payload columns (the
    * narrow-shuffle pattern). */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], scoreCol: String,
                   idCol: String, k: Int): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(k >= 1, s"k must be >= 1, got $k")
    // The aggregate's (double, long) state makes the casts below silent
    // NULL-producers for non-numeric strings / out-of-range values, and the
    // documented NULL-skip contract would then DROP those rows — so reject
    // id/score columns whose type can't round-trip the cast, instead of
    // hiding bad input. (Long ids and ≤double scores are the narrow-shuffle
    // contract; use topKPerGroupRows for arbitrary id/order types.)
    import org.apache.spark.sql.types._
    val idType = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"topKPerGroup id column '$idCol' must be an integral type " +
        s"(byte/short/int/long), got ${idType.simpleString}: a failed " +
        "cast to long would silently drop the row under the NULL-skip " +
        "contract — use topKPerGroupRows for non-integral ids")
    val scoreType = df.schema(scoreCol).dataType
    require(scoreType.isInstanceOf[NumericType],
      s"topKPerGroup score column '$scoreCol' must be numeric, got " +
        s"${scoreType.simpleString}")
    df.groupBy(groupCols.map(col): _*)
      .agg(native("graft_topk",
        col(scoreCol).cast("double"), col(idCol).cast("long"), lit(k)).as("__graft_topk"))
      .select(groupCols.map(col) :+ posexplode(col("__graft_topk")): _*)
      .select(groupCols.map(col) ++ Seq(
        (col("pos") + 1).cast("int").as("rank"),
        col("col.score").as(scoreCol),
        col("col.id").as(idCol)): _*)
  }

  /** [[topKPerGroup]] carrying FULL rows: the k rows per group maximal
    * under the lexicographic order of `orderCols`, with every column of
    * `df` in the output plus their 1-based `rank` — no join-back to
    * re-attach payload. The native full-row heap aggregate
    * ([[graft.plans.TopKRowsAggregate]]) buffers k whole rows per
    * (group, partition) and plans as ObjectHashAggregate, no sort anywhere
    * — the one-shot shape for per-domain document caps ("keep the best N
    * pages per domain"). For fat payloads at large k·|groups| prefer the
    * narrow [[topKPerGroup]] + an id join-back: there, only (score, id)
    * rides the shuffle.
    *
    * Rows where any `orderCols` expression is NULL rank under Spark's
    * struct ordering (NULL field sorts first, so it loses); `orderCols`
    * must totally order rows within a group (include a unique id last) for
    * a deterministic result. */
  def topKPerGroupRows(df: DataFrame, groupCols: Seq[String],
                       orderCols: Seq[String], k: Int): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    require(k >= 1, s"k must be >= 1, got $k")
    val payloadCols = df.columns.filterNot(groupCols.contains).toSeq
    df.groupBy(groupCols.map(col): _*)
      .agg(native("graft_topk_rows",
        struct(orderCols.map(col): _*),
        struct(payloadCols.map(col): _*), lit(k)).as("__graft_rows"))
      .select(groupCols.map(col) :+ posexplode(col("__graft_rows")): _*)
      .select(groupCols.map(col) ++ Seq((col("pos") + 1).cast("int").as("rank")) ++
        payloadCols.map(c => col(s"col.$c").as(c)): _*)
  }

  /** Per-group score cutoffs calibrated to a target precision — the
    * FineWeb/DataComp-style "per-dump thresholding" step [Penedo et al.,
    * NeurIPS 2024 (FineWeb) tune per-snapshot filters; the classifier-
    * cascade papers do the same per source]: one global classifier, but
    * each source/snapshot keeps documents above ITS OWN threshold, chosen
    * as the LOWEST observed score whose keep-set still meets the target
    * precision — the deepest cut that stays clean, per group.
    *
    * For every group: candidate thresholds are the group's DISTINCT scores
    * (>= t keeps every tie — identical documents never straddle a cutoff);
    * running (kept, positives) prefixes over descending score give each
    * candidate's precision; the chosen row is the MINIMUM qualifying
    * score. Groups where even the top score fails the target report a NULL
    * threshold (nothing can be kept at the target — the honest answer, not
    * a silent max-score fallback).
    *
    * Output per group: `threshold` (NULL if unattainable), `n_kept`,
    * `n_pos_kept`, `precision` at the chosen cutoff (all NULL with it).
    *
    * Scale: rows pre-aggregate to DISTINCT (group, score) pairs BEFORE the
    * per-group window — the window input is bounded by distinct scores,
    * never corpus rows (the x08 pre-aggregation discipline); one
    * group-keyed shuffle. Precision = exact integer prefix counts and one
    * division; label must be 0/1 (validated in-scan, fail-loud). */
  def precisionThresholdPerGroup(df: DataFrame, groupCol: String,
                                 scoreCol: String, labelCol: String,
                                 targetPrecision: Double): DataFrame = {
    require(targetPrecision > 0.0 && targetPrecision <= 1.0,
      s"targetPrecision must be in (0, 1], got $targetPrecision")
    val lbl = col(labelCol).cast("long")
    val guarded = when(lbl === 0L || lbl === 1L, lbl)
      .otherwise(raise_error(lit(
        s"precisionThresholdPerGroup: label column '$labelCol' must be 0/1")))
    val byScore = df.select(col(groupCol),
        col(scoreCol).cast("double").as("__s"), guarded.as("__y"))
      .where(col("__s").isNotNull)
      .groupBy(groupCol, "__s")
      .agg(count(lit(1)).as("__n"), sum("__y").as("__p"))
    val w = Window.partitionBy(groupCol)
      .orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val prefixed = byScore
      .withColumn("__kn", sum("__n").over(w))
      .withColumn("__kp", sum("__p").over(w))
      .withColumn("__prec",
        col("__kp").cast("double") / col("__kn").cast("double"))
    val qualifying = prefixed.where(col("__prec") >= targetPrecision)
      .groupBy(groupCol)
      .agg(min_by(
        struct(col("__s"), col("__kn"), col("__kp"), col("__prec")),
        col("__s")).as("__best"))
    df.select(col(groupCol)).distinct()
      .join(qualifying, Seq(groupCol), "left")
      .select(col(groupCol),
        col("__best.__s").as("threshold"),
        col("__best.__kn").as("n_kept"),
        col("__best.__kp").as("n_pos_kept"),
        col("__best.__prec").as("precision"))
  }
}
