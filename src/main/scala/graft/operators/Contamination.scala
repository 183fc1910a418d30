package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.HashExpressions.native

/** Benchmark decontamination: find (and remove) training documents that
  * share k-token n-grams with an evaluation/benchmark set — the standard
  * leakage control run before pretraining.
  *
  * Scale shape: the benchmark side is SMALL by nature (eval sets are
  * thousands of docs, the corpus is billions), so its distinct shingle-hash
  * postings BROADCAST; the corpus side streams through one map-only
  * shingle pass and a broadcast hash join — no corpus shuffle at all for
  * the contaminated-id set. Shared n-grams are counted on 8-byte xxhash64
  * shingle hashes (injective in practice at corpus scale; identical counts
  * to string shingles — same argument as the x02d inverted index).
  *
  * The broadcast is GUARDED, not unconditional: a misuse-scale "benchmark"
  * (say another corpus) would blow past the driver/executor broadcast limit,
  * so by default the bench side's Catalyst size estimate (file-size-derived
  * for a source scan — ZERO extra actions) is compared against
  * `spark.sql.autoBroadcastJoinThreshold`, scaled by the postings-per-byte
  * expansion of shingling, and the plan degrades to a shuffle join above
  * the threshold. Both paths produce identical results (pinned in
  * ContaminationSpec).
  */
object Contamination {

  /** Broadcast-side bytes per SOURCE byte of the bench frame: shingling
    * emits ~one (id, 8-byte hash) posting per text character, so in-memory
    * postings outweigh the scanned bytes by roughly id+hash+row overhead
    * per character. Deliberately conservative (high). */
  private val PostingBytesPerSourceByte = 32L

  /** Estimated in-memory bytes per broadcast posting row (exact-count
    * path): 8-byte hash + doc id + row overhead. Conservative (high). */
  private val BytesPerPosting = 32L

  /** Exact postings counts memoized per (logical plan, current size
    * estimate) — a repeated pipeline pays the counting job once, while a
    * bench whose underlying files GROW re-keys (the estimate is
    * file-size-derived) and re-counts instead of reusing a stale small
    * count to justify a now-dangerous broadcast. The estimate in the key
    * also de-fangs 32-bit semanticHash collisions between different
    * plans. */
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def postings(df: DataFrame, idCol: String, textCol: String,
                       k: Int): DataFrame = {
    df.select(col(idCol),
        explode(array_distinct(
          native("graft_shingle_hashes", col(textCol), lit(k))))
          .as("__h"))
  }

  /** Apply the broadcast guard to the benchmark postings.
    *
    * `force = Some(true)` always broadcasts (caller knows the eval set is
    * small), `Some(false)` never does; `None` (default) decides in two
    * rungs. First the optimizer's size estimate for the postings plan —
    * file-size-derived for a source scan, ZERO extra actions: if even that
    * (times the shingle expansion factor) fits under
    * `spark.sql.autoBroadcastJoinThreshold`, broadcast immediately. Basic
    * stats over-estimate FILTERED scans though (a Filter passes its child's
    * sizeInBytes through), so a moderate bench slice of a big corpus looks
    * corpus-sized; rather than degrade such benches to a shuffle join, the
    * second rung runs ONE exact count of the postings, memoized per logical
    * plan for the JVM's lifetime — a repeated pipeline (or repeated
    * benchmark pass) pays the counting job once, and a genuinely
    * misuse-scale "benchmark" still lands in the shuffle fallback (the
    * round-6 guard counted eagerly on EVERY call; the round-5 one always
    * broadcast). */
  private def guardedPostings(b: DataFrame, force: Option[Boolean])
      : (DataFrame, DataFrame => DataFrame) = force match {
    case Some(true)  => (broadcast(b), identity)
    case Some(false) => (b, identity)
    case None =>
      val threshold =
        b.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
      if (threshold <= 0) (b, identity)
      else {
        val est = b.queryExecution.optimizedPlan.stats.sizeInBytes
        if (est * PostingBytesPerSourceByte <= BigInt(threshold))
          (broadcast(b), identity)
        else {
          val key = s"${b.queryExecution.analyzed.semanticHash()}:$est"
          val cached = countCache.get(key)
          if (cached != null) {
            val fits = cached.longValue * BytesPerPosting <= threshold
            (if (fits) broadcast(b) else b, identity)
          } else {
            // cold counting rung: persist so the count job and the actual
            // join share ONE computation of the bench postings, released
            // once the caller's (small) result is materialized
            val persisted =
              b.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            val c = persisted.count()
            if (countCache.size > 64) countCache.clear()
            countCache.put(key, c)
            val fits = c * BytesPerPosting <= threshold
            (if (fits) broadcast(persisted) else persisted,
              out => CacheOps.materializeAndRelease(out, persisted))
          }
        }
      }
  }

  /** Estimated in-memory bytes per broadcast contaminated-id row: one id
    * value + row overhead. Conservative (high). */
  private val BytesPerIdRow = 32L

  /** Broadcast-or-shuffle decision for a COMPUTED id set (the anti-join
    * side of [[decontaminate]]/[[semanticDecontaminate]]). Normally the set
    * is bounded by the benchmark's reach and broadcasting is right; but a
    * corpus-scale "benchmark" or a permissive cosine threshold can flag an
    * unbounded corpus fraction, and an unconditional broadcast then dies at
    * the driver. Same two rungs as [[guardedPostings]]: the optimizer's
    * size estimate first (an id projection, so no expansion factor), then
    * ONE exact count, memoized per (plan, estimate). The cold counting rung
    * persists the id set, counts it, localCheckpoints it and releases the
    * persist — so the corpus scan behind the id set runs once and the only
    * lingering storage is the materialized id column, never the corpus
    * (the caller's output is corpus-sized and must NOT be checkpointed). */
  private def guardedIds(ids: DataFrame, force: Option[Boolean]): DataFrame =
    force match {
      case Some(true)  => broadcast(ids)
      case Some(false) => ids
      case None =>
        val threshold =
          ids.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
        if (threshold <= 0) ids
        else {
          val est = ids.queryExecution.optimizedPlan.stats.sizeInBytes
          if (est <= BigInt(threshold)) broadcast(ids)
          else {
            val key = s"ids:${ids.queryExecution.analyzed.semanticHash()}:$est"
            val cached = countCache.get(key)
            if (cached != null) {
              if (cached.longValue * BytesPerIdRow <= threshold) broadcast(ids)
              else ids
            } else {
              val persisted = ids.persist(
                org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              val c = persisted.count()
              if (countCache.size > 64) countCache.clear()
              countCache.put(key, c)
              val materialized =
                CacheOps.materializeAndRelease(persisted, persisted)
              if (c * BytesPerIdRow <= threshold) broadcast(materialized)
              else materialized
            }
          }
        }
    }

  /** All (corpus doc, benchmark doc) pairs sharing at least `minShared`
    * distinct k-grams, with the shared count. */
  def overlapPairs(corpus: DataFrame, corpusId: String, corpusText: String,
                   bench: DataFrame, benchId: String, benchText: String,
                   k: Int = 8, minShared: Int = 1,
                   benchBroadcast: Option[Boolean] = None): DataFrame = {
    val c = postings(corpus, corpusId, corpusText, k)
      .select(col(corpusId).as("corpus_id"), col("__h"))
    val (b, release) = guardedPostings(
      postings(bench, benchId, benchText, k)
        .select(col(benchId).as("bench_id"), col("__h")),
      benchBroadcast)
    release(c.join(b, "__h")
      .groupBy("corpus_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared))
  }

  /** Corpus ids contaminated by ANY benchmark doc. For minShared=1 this is
    * a semi-join on the hash — with the (guarded) broadcast, the corpus
    * never shuffles. */
  def contaminatedIds(corpus: DataFrame, corpusId: String, corpusText: String,
                      bench: DataFrame, benchId: String, benchText: String,
                      k: Int = 8, minShared: Int = 1,
                      benchBroadcast: Option[Boolean] = None): DataFrame =
    if (minShared <= 1) {
      val (b, release) = guardedPostings(
        postings(bench, benchId, benchText, k).select("__h").distinct(),
        benchBroadcast)
      release(postings(corpus, corpusId, corpusText, k)
        .join(b, Seq("__h"), "left_semi")
        .select(col(corpusId)).distinct())
    } else
      overlapPairs(corpus, corpusId, corpusText, bench, benchId, benchText,
        k, minShared, benchBroadcast)
        .select(col("corpus_id").as(corpusId)).distinct()

  /** Embedding-space contamination — the paraphrase leakage n-gram overlap
    * misses: corpus ids whose embedding reaches cosine ≥ `minCosine`
    * against ANY benchmark embedding. The bench side is eval-set-sized and
    * BROADCASTS (same smallness argument as the postings); the corpus
    * streams map-only through the native cosine expression — no corpus
    * shuffle before the final distinct on ids. Exact by construction: every
    * (corpus, bench) pair is scored, candidate count = |corpus|·|bench|
    * map-side work with the bench in memory — right up to thousands of
    * bench vectors; for a corpus-scale "bench", LSH-bucket both sides
    * ([[SimilaritySearch]]) instead. */
  def semanticContaminatedIds(corpus: DataFrame, corpusId: String,
                              corpusVec: String, bench: DataFrame,
                              benchVec: String,
                              minCosine: Double): DataFrame = {
    corpus.select(col(corpusId), col(corpusVec).as("__cv"))
      .crossJoin(broadcast(bench.select(col(benchVec).as("__bv"))))
      .where(native("graft_cosine", col("__cv"), col("__bv")) >= minCosine)
      .select(col(corpusId)).distinct()
  }

  /** The corpus minus embedding-space contamination ([[semanticContaminatedIds]]
    * anti-joined back through [[guardedIds]] — normally bench-bounded and
    * broadcast, but a permissive `minCosine` can flag an unbounded corpus
    * fraction, so the anti-join degrades to a shuffle above the threshold).
    * Compose with [[decontaminate]] for both leakage channels.
    * `idsBroadcast` forces the decision either way. */
  def semanticDecontaminate(corpus: DataFrame, corpusId: String,
                            corpusVec: String, bench: DataFrame,
                            benchVec: String, minCosine: Double,
                            idsBroadcast: Option[Boolean] = None): DataFrame =
    corpus.join(
      guardedIds(semanticContaminatedIds(corpus, corpusId, corpusVec,
        bench, benchVec, minCosine), idsBroadcast),
      Seq(corpusId), "left_anti")

  /** Per-document n-gram novelty against a reference corpus: for each
    * corpus document, the fraction of its DISTINCT k-token shingles that
    * appear nowhere in `reference` — the freshness/memorization-risk signal
    * dual to [[overlapPairs]] (contamination asks "which docs overlap the
    * benchmark?"; novelty asks "how much of THIS doc is new relative to
    * what the model has already seen?"). Used to score a candidate dump
    * against the existing training mix, or eval sets against the corpus.
    *
    * Output: (`idCol`, `n_grams` = distinct shingles in the doc, `n_novel` =
    * those absent from the reference, `novelty` = n_novel/n_grams — one
    * exact IEEE division of exact integers, bit-identical cross-engine).
    * Shingling matches [[overlapPairs]]: whitespace tokens, k-gram hashes,
    * whole-text fallback below k tokens — so every non-null text has ≥ 1
    * shingle and `novelty` is never NULL for non-null text.
    *
    * Shape: the reference collapses to its DISTINCT 8-byte shingle-hash set
    * (never bodies); the corpus explodes to (id, hash) postings and LEFT
    * JOINs that set — AQE broadcasts a benchmark-sized reference, and a
    * corpus-scale reference degrades to one narrow hash-keyed shuffle of
    * 8-byte postings. The per-doc aggregate re-shuffles on id only. */
  def noveltyFractions(corpus: DataFrame, idCol: String, textCol: String,
                       reference: DataFrame, refTextCol: String,
                       k: Int = 8): DataFrame = {
    val refSet = reference
      .select(explode(array_distinct(
        native("graft_shingle_hashes", col(refTextCol), lit(k))))
        .as("__h"))
      .distinct()
      .withColumn("__seen", lit(1))
    postings(corpus, idCol, textCol, k)
      .join(refSet, Seq("__h"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", col("n_novel").cast("double") / col("n_grams"))
  }

  /** The corpus with contaminated documents removed (anti-join on id,
    * through [[guardedIds]] — normally bench-bounded and broadcast, but a
    * corpus-scale "benchmark" flags an unbounded corpus fraction and the
    * anti-join degrades to a shuffle join above the threshold). The
    * postings-join guard inside [[contaminatedIds]] is governed by
    * `benchBroadcast`, the anti-join side by `idsBroadcast`. */
  def decontaminate(corpus: DataFrame, corpusId: String, corpusText: String,
                    bench: DataFrame, benchId: String, benchText: String,
                    k: Int = 8, minShared: Int = 1,
                    benchBroadcast: Option[Boolean] = None,
                    idsBroadcast: Option[Boolean] = None): DataFrame =
    corpus.join(
      guardedIds(contaminatedIds(corpus, corpusId, corpusText,
        bench, benchId, benchText, k, minShared, benchBroadcast), idsBroadcast),
      Seq(corpusId), "left_anti")
}
