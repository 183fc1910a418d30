package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.HashExpressions.native

/** Mergeable DISTINCT-COUNT sketch artifacts — the incremental-statistics
  * tier next to the per-batch sketches in [[HeavyHitters]]: persist a
  * kilobyte-scale sketch of a corpus once, then answer "how many distinct
  * keys", "how many NEW keys does this crawl bring", "how big is the
  * overlap" across corpus versions WITHOUT ever rescanning the kept data —
  * the same artifact discipline as the near-dup signature index and the
  * IVF index, applied to cardinality stats. Built on Spark's own
  * Apache DataSketches aggregates (`hll_sketch_agg` / `theta_sketch_agg`,
  * public `org.apache.spark.sql.functions` since 3.5/4.0) — mergeable
  * partial states, so every build is one partial-agg-bounded pass whose
  * shuffle carries sketch bytes, never keys.
  *
  * Two sketch families, chosen per question:
  *  - HLL: distinct counts and unions only, smallest state. NOT
  *    bit-deterministic across partitionings: DataSketches HLL carries an
  *    HIP estimator that is stream/merge-order sensitive (unions fall
  *    back to the composite estimator), so the contract is the ±~1.6%
  *    (lgK=12) error BOUND, not a reproducible integer — spec-pinned as
  *    such;
  *  - theta: supports set ALGEBRA — `a_not_b` (novelty: distinct keys in
  *    the new crawl absent from the kept corpus) and intersection
  *    (overlap) — the incremental sibling of [[Dedup.snapshotDiff]] and
  *    [[Contamination]]'s exact joins, at sketch cost; below its sampling
  *    threshold (default 4096 distinct keys) a theta sketch is the exact
  *    hash SET — exact and partition-invariant, including the set
  *    algebra (spec-pinned).
  *
  * Artifacts are 1-row (or 1-row-per-group) DataFrames with a binary
  * sketch column + metadata, persisted via plain parquet save/load. */
object SketchStats {

  /** One-row HLL artifact over `keyExpr`: (sketch, lg_k, n_rows). */
  def hllSketch(df: DataFrame, keyExpr: Column, lgK: Int = 12): DataFrame = {
    require(lgK >= 4 && lgK <= 21, s"lgK must be in [4, 21], got $lgK")
    df.agg(hll_sketch_agg(keyExpr, lit(lgK)).as("sketch"),
      lit(lgK).as("lg_k"), count(keyExpr).as("n_rows"))
  }

  /** One-row theta artifact over `keyExpr` — the set-algebra family. */
  def thetaSketch(df: DataFrame, keyExpr: Column): DataFrame =
    df.agg(theta_sketch_agg(keyExpr).as("sketch"),
      count(keyExpr).as("n_rows"))

  /** Per-group HLL artifacts (one row per group) — e.g. the per-language
    * distinct-vocabulary tracker. Merge a batch in with [[mergeHllByGroup]]. */
  def hllSketchByGroup(df: DataFrame, groupCol: String, keyExpr: Column,
                       lgK: Int = 12): DataFrame = {
    require(lgK >= 4 && lgK <= 21, s"lgK must be in [4, 21], got $lgK")
    df.groupBy(groupCol)
      .agg(hll_sketch_agg(keyExpr, lit(lgK)).as("sketch"),
        lit(lgK).as("lg_k"), count(keyExpr).as("n_rows"))
  }

  /** Distinct-count estimate from any 1-row artifact of either family. */
  def estimate(sketch: DataFrame): Long =
    sketch.select(
      (if (isTheta(sketch)) theta_sketch_estimate(col("sketch"))
       else hll_sketch_estimate(col("sketch"))).cast("long"))
      .head().getLong(0)

  /** Merge two artifacts of the same family into one (allowDifferentLgK
    * for HLL downgrades to the smaller precision, the DataSketches rule). */
  def merge(a: DataFrame, b: DataFrame): DataFrame = {
    val pair = a.select(col("sketch").as("__a"), col("n_rows").as("__na"))
      .crossJoin(b.select(col("sketch").as("__b"), col("n_rows").as("__nb")))
    if (isTheta(a))
      pair.select(theta_union(col("__a"), col("__b")).as("sketch"),
        (col("__na") + col("__nb")).as("n_rows"))
    else
      pair.select(hll_union(col("__a"), col("__b"), true).as("sketch"),
        lit(-1).as("lg_k"), (col("__na") + col("__nb")).as("n_rows"))
  }

  /** Fold a batch's per-group artifacts into a persisted per-group state:
    * full-outer on the group, `hll_union_agg` over the sketch pair — new
    * groups appear, untouched groups survive. ONE key-bounded shuffle. */
  def mergeHllByGroup(state: DataFrame, batch: DataFrame,
                      groupCol: String): DataFrame =
    state.select(col(groupCol), col("sketch"), col("lg_k"), col("n_rows"))
      .unionByName(batch.select(col(groupCol), col("sketch"), col("lg_k"),
        col("n_rows")))
      .groupBy(groupCol)
      .agg(hll_union_agg(col("sketch"), lit(true)).as("sketch"),
        min(col("lg_k")).as("lg_k"), sum(col("n_rows")).as("n_rows"))

  /** Novelty estimate from THETA artifacts alone: ≈ |keys(new) ∖
    * keys(seen)| — "how many distinct documents does this crawl add" with
    * the kept corpus never rescanned (the sketch-cost sibling of
    * [[Dedup.dedupeAgainst]] + count). */
  def noveltyEstimate(newSketch: DataFrame, seenSketch: DataFrame): Long =
    newSketch.select(col("sketch").as("__n"))
      .crossJoin(seenSketch.select(col("sketch").as("__s")))
      .select(theta_sketch_estimate(
        theta_difference(col("__n"), col("__s"))).cast("long"))
      .head().getLong(0)

  /** Overlap estimate from THETA artifacts: ≈ |keys(a) ∩ keys(b)| — the
    * sketch-cost contamination screen. */
  def overlapEstimate(a: DataFrame, b: DataFrame): Long =
    a.select(col("sketch").as("__a"))
      .crossJoin(b.select(col("sketch").as("__b")))
      .select(theta_sketch_estimate(
        theta_intersection(col("__a"), col("__b"))).cast("long"))
      .head().getLong(0)

  /** Jaccard similarity of two key sets from their THETA artifacts alone:
    * |A∩B| / |A∪B| — the corpus-version similarity number ("how much did
    * this crawl really change") at sketch cost, the set-level sibling of
    * the per-document MinHash estimate. Exact while the UNION stays below
    * the sampling threshold — the union inherits sampling once |A∪B| > k,
    * and with it the usual relative-error estimate regime (both
    * spec-pinned); 0 when both sides are empty. */
  def jaccardEstimate(a: DataFrame, b: DataFrame): Double = {
    val row = a.select(col("sketch").as("__a"))
      .crossJoin(b.select(col("sketch").as("__b")))
      .select(
        theta_sketch_estimate(theta_intersection(col("__a"), col("__b")))
          .cast("double").as("__i"),
        theta_sketch_estimate(theta_union(col("__a"), col("__b")))
          .cast("double").as("__u"))
      .head()
    if (row.getDouble(1) == 0.0) 0.0 else row.getDouble(0) / row.getDouble(1)
  }

  /** Persist / load an artifact (either family, global or per-group). */
  /** Per-group KLL quantile artifacts (one row per group, `k` the
    * DataSketches accuracy parameter): the DISTRIBUTIONS member of the
    * sketch roster — persist once, answer "what is p50/p99 of document
    * length in this slice" forever without rescanning, and fold new
    * batches in with [[mergeKllByGroup]]. Guarantee is the normalized
    * RANK error bound `graft.plans.KllAggregate.normalizedRankError(k)`
    * (~1.65% at k=200), not reproducible bytes — KLL compaction keeps odd
    * or even survivors by a random bit, the same honest-nondeterminism
    * contract as the HLL HIP estimator. */
  def kllSketchByGroup(df: DataFrame, groupCol: String, valueExpr: Column,
                       k: Int = 200): DataFrame = {
    require(k >= 8 && k <= 65535, s"k must be in [8, 65535], got $k")
    df.groupBy(groupCol)
      .agg(native("graft_kll_agg",
          valueExpr.cast("double"), lit(k)).as("sketch"),
        lit(k).as("kll_k"), count(valueExpr).as("n_rows"))
  }

  /** Fold a batch's per-group KLL artifacts into a persisted state — the
    * BINARY input mode of the same aggregate (merge, not re-build), so
    * maintenance never touches raw values. Groups new to either side pass
    * through; `k` must match (the merge degrades to the smaller k by the
    * DataSketches rule, surfaced via `min(kll_k)`). */
  def mergeKllByGroup(state: DataFrame, batch: DataFrame,
                      groupCol: String): DataFrame = {
    val unioned = state
      .select(col(groupCol), col("sketch"), col("kll_k"), col("n_rows"))
      .unionByName(batch.select(col(groupCol), col("sketch"), col("kll_k"),
        col("n_rows")))
    // merge-k = min over BOTH sides (a batch built with smaller k than
    // every state row degrades the merge by the DataSketches rule, so the
    // lit we pass must already be that minimum); min over an empty union
    // is NULL — fail loud instead of NPEing on getInt. The probe scans
    // only the kilobyte-sized artifact rows, never raw values.
    val kRow = unioned.agg(min(col("kll_k"))).head()
    require(!kRow.isNullAt(0),
      "mergeKllByGroup: both state and batch are empty — nothing to merge")
    val k = kRow.getInt(0)
    unioned
      .groupBy(groupCol)
      .agg(native("graft_kll_agg", col("sketch"), lit(k)).as("sketch"),
        min(col("kll_k")).as("kll_k"), sum(col("n_rows")).as("n_rows"))
  }

  /** Quantile estimate column over a KLL artifact's sketch column. */
  def kllQuantile(sketch: Column, p: Double): Column =
    native("graft_kll_quantile", sketch, lit(p))

  /** Normalized-rank estimate column over a KLL artifact's sketch column. */
  def kllRank(sketch: Column, v: Column): Column =
    native("graft_kll_rank", sketch, v.cast("double"))

  def save(artifact: DataFrame, path: String): Unit =
    artifact.coalesce(1).write.mode("overwrite").parquet(path)

  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  private def isTheta(artifact: DataFrame): Boolean =
    !artifact.columns.contains("lg_k")
}
