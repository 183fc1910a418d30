package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Competence-based curriculum scheduling [Bengio et al., ICML 2009
  * (curriculum learning); Platanios et al., NAACL 2019 (competence-based
  * curricula), public]: order training data easy-to-hard and release each
  * example at the first training step whose model "competence" covers the
  * example's difficulty percentile. The reference system has no analog;
  * this extends the ordering tier next to [[Sampling.epochShuffle]] (which
  * fixes a reproducible RANDOM order — this fixes a reproducible
  * PEDAGOGICAL order).
  *
  * The Platanios square-root competence schedule:
  * `c(t) = min(1, sqrt(c0² + (1 − c0²) · t/T))` — at step t the model
  * trains on the easiest `c(t)` fraction of the corpus. Inverting it gives
  * each example's release step in closed form: with `pr` the example's
  * difficulty percentile (rank/N over ascending difficulty),
  * `release = max(1, ceil(T · (pr² − c0²) / (1 − c0²)))` — the easiest
  * `c0` fraction is available from step 1, the hardest example exactly at
  * step T. Everything after the rank is per-row arithmetic, so the whole
  * schedule is ONE range shuffle.
  *
  * Scale: the global ascending-difficulty rank is [[Selection.globalRank]],
  * a [[RangeScan]]; ties and NULL difficulties are broken by id (NULLs
  * rank hardest). The N for the percentile is `max(rank)` read off the
  * checkpoint-pinned rank frame globalRank returns (one narrow pass over
  * (id, rank), no second corpus scan), and the id-keyed join back is the
  * only other shuffle.
  *
  * Determinism: ranks are exact integers; `pr` and the release step are
  * fixed IEEE expressions of them — bit-identical across engines, no
  * rounding needed in the gate. */
object Curriculum {

  /** Attach `rank` (1..N, ascending difficulty, ties→id), `pr` (= rank/N),
    * and `release_step` (1..steps) to each row of `df`.
    *
    * @param c0 initial competence in (0, 1) — the easiest `c0` fraction
    *           trains from step 1 (0.1 in the paper; 1.0 would be "no
    *           curriculum" and is rejected to keep the inversion defined) */
  def competenceSchedule(df: DataFrame, idCol: String, difficultyCol: String,
                         steps: Int, c0: Double = 0.1): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    require(c0 > 0.0 && c0 < 1.0, s"c0 must be in (0, 1), got $c0")
    // globalRank orders DESC by its score — negate for easiest-first.
    // NULL difficulties sort last either way (desc_nulls_last).
    val ranked = Selection.globalRank(df, idCol,
      col(difficultyCol).cast("double") * -1)
    // one narrow pass over the pinned (id, rank) frame; a bounded scalar
    val nRow = ranked.agg(max("rank")).head()
    require(!nRow.isNullAt(0), "competenceSchedule: empty input frame")
    val n = nRow.getLong(0)
    val pr = col("rank").cast("double") / n.toDouble
    val release = greatest(lit(1L),
      ceil(lit(steps.toDouble) * (pr * pr - c0 * c0) / (1.0 - c0 * c0)))
    df.join(ranked, idCol)
      .withColumn("pr", pr)
      .withColumn("release_step", release)
  }
}
