package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.HashExpressions.native
import graft.functions.TextAnalysis

/** Byte-pair-encoding tokenizer [Sennrich et al., ACL 2016] — real subword
  * token counts for budgeting/packing instead of the regex proxy
  * ([[TextAnalysis.bpeishTokenCount]]).
  *
  * Scale split, the textbook one: the corpus-sized work — word-frequency
  * counting — is ONE distributed word-count (partial-aggregated shuffle on
  * word strings); merge LEARNING then runs on the resulting word-TYPE
  * histogram, which is vocabulary-sized (≤ `maxWordTypes` rows) and lives on
  * the driver like every other model artifact here (IVF centroids, PQ
  * codebooks, PCA components). Applying the learned merges corpus-wide is a
  * map-only native expression (`graft_bpe_tokens`) with the merge table as a
  * foldable literal — zero UDFs, fuses with the scan.
  *
  * Training and application share ONE pre-tokenization — the native
  * `graft_bpe_words` / `graft_bpe_tokens` pair both case-fold in
  * Locale.ROOT and split on `Character.isWhitespace` through the same
  * helper ([[graft.plans.BpePreTokenize]]), with a word-end marker `</w>`,
  * the original BPE formulation. Train/apply skew is impossible by
  * construction (pinned in BpeSpec on U+3000 whitespace). */
object Bpe {

  /** Ordered merge list — rank = position. The whole model artifact. */
  final case class BpeModel(merges: Seq[(String, String)])

  /** One distributed word-count + the driver-side merge loop over word
    * types. `numMerges` bounds the learned vocabulary; `maxWordTypes` caps
    * the histogram the driver sees (highest-frequency types first — rare
    * tail types barely influence merges). Ties in pair frequency break
    * lexicographically, so the model is deterministic across partitionings
    * (pinned in BpeSpec). */
  def train(df: DataFrame, textCol: String, numMerges: Int,
            maxWordTypes: Int = 50000): BpeModel = {
    require(numMerges > 0 && maxWordTypes > 0, "numMerges and maxWordTypes must be positive")
    val wordFreqs: Array[(String, Long)] = df
      .select(explode(native("graft_bpe_words", col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(maxWordTypes)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    BpeModel(learnMerges(wordFreqs, numMerges))
  }

  /** Word types as symbol sequences: chars, last one carrying the `</w>`
    * marker. */
  private def toSymbols(wordFreqs: Array[(String, Long)]): Array[(Array[String], Long)] =
    wordFreqs.map { case (w, c) =>
      val chars = w.map(_.toString).toArray
      if (chars.nonEmpty) chars(chars.length - 1) += "</w>"
      (chars, c)
    }

  /** Adjacent-pair occurrence counts WITHIN one symbol sequence. */
  private def pairsOf(syms: Array[String]): scala.collection.mutable.HashMap[(String, String), Long] = {
    val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
    var j = 0
    while (j < syms.length - 1) {
      val k = (syms(j), syms(j + 1))
      m.update(k, m.getOrElse(k, 0L) + 1L)
      j += 1
    }
    m
  }

  /** The merge-learning loop with INCREMENTAL pair-count maintenance: a
    * global (count, a, b) ordered set yields each argmax in O(log P), and
    * applying a merge touches only the word types that actually contain the
    * merged pair (tracked per pair), re-deriving deltas from those types
    * alone. The round-6 loop recounted EVERY pair in every type after every
    * merge — O(numMerges × total symbols), ~10⁹ driver ops at a real 32k
    * vocabulary; this is O(Σ affected-type length + numMerges·log P), the
    * standard incremental formulation. Bit-identical output to the recount
    * loop ([[learnMergesRecount]], retained as the differential reference —
    * BpeSpec pins equality on the canonical fixture and randomized
    * corpora): same exact frequencies, same (-count, a, b) tie-break. */
  private[graft] def learnMerges(wordFreqs: Array[(String, Long)],
                                 numMerges: Int): Seq[(String, String)] = {
    import scala.collection.mutable
    val types = toSymbols(wordFreqs)
    val pairFreq = mutable.HashMap.empty[(String, String), Long]
    val pairTypes = mutable.HashMap.empty[(String, String), mutable.BitSet]
    val ord: Ordering[(Long, String, String)] =
      Ordering.Tuple3(Ordering.Long.reverse, Ordering.String, Ordering.String)
    val queue = mutable.TreeSet.empty[(Long, String, String)](ord)
    def bump(p: (String, String), delta: Long): Unit = {
      val old = pairFreq.getOrElse(p, 0L)
      if (old != 0L) queue.remove((old, p._1, p._2))
      val nw = old + delta
      if (nw > 0L) { pairFreq(p) = nw; queue.add((nw, p._1, p._2)) }
      else pairFreq.remove(p)
    }
    types.zipWithIndex.foreach { case ((syms, c), ti) =>
      pairsOf(syms).foreach { case (p, occ) =>
        bump(p, occ * c)
        pairTypes.getOrElseUpdate(p, mutable.BitSet.empty) += ti
      }
    }
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    while (merges.length < numMerges && queue.nonEmpty) {
      val (_, a, b) = queue.head
      val best = (a, b)
      merges += best
      val mergedSym = a + b
      // only the types CONTAINING the merged pair change; for each, diff its
      // old vs new adjacent-pair multiset and apply weighted deltas
      pairTypes.get(best).map(_.toArray).getOrElse(Array.emptyIntArray).foreach { ti =>
        val (syms, c) = types(ti)
        val oldPairs = pairsOf(syms)
        val out = mutable.ArrayBuffer.empty[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
            out += mergedSym; j += 2
          } else { out += syms(j); j += 1 }
        }
        val ns = out.toArray
        types(ti) = (ns, c)
        val newPairs = pairsOf(ns)
        oldPairs.foreach { case (p, occ) =>
          val nocc = newPairs.getOrElse(p, 0L)
          if (nocc != occ) bump(p, (nocc - occ) * c)
          if (nocc == 0L) pairTypes.get(p).foreach(_ -= ti)
        }
        newPairs.foreach { case (p, occ) =>
          if (!oldPairs.contains(p)) {
            bump(p, occ * c)
            pairTypes.getOrElseUpdate(p, mutable.BitSet.empty) += ti
          }
        }
      }
      pairTypes.remove(best) // merged away everywhere by the sweep above
    }
    merges.toSeq
  }

  /** Round-6 learning loop — full pair recount per merge. Retained ONLY as
    * the differential reference for [[learnMerges]] (quadratic in practice:
    * O(numMerges × total symbols) driver time). */
  private[graft] def learnMergesRecount(wordFreqs: Array[(String, Long)],
                                        numMerges: Int): Seq[(String, String)] = {
    var types = toSymbols(wordFreqs)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var i = 0
    var exhausted = false
    while (i < numMerges && !exhausted) {
      val pairFreq = scala.collection.mutable.HashMap.empty[(String, String), Long]
      types.foreach { case (syms, c) =>
        var j = 0
        while (j < syms.length - 1) {
          val k = (syms(j), syms(j + 1))
          pairFreq.update(k, pairFreq.getOrElse(k, 0L) + c)
          j += 1
        }
      }
      if (pairFreq.isEmpty) exhausted = true
      else {
        val best = pairFreq.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        val mergedSym = best._1 + best._2
        types = types.map { case (syms, c) =>
          if (syms.length < 2) (syms, c)
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var j = 0
            while (j < syms.length) {
              if (j < syms.length - 1 && syms(j) == best._1 && syms(j + 1) == best._2) {
                out += mergedSym; j += 2
              } else { out += syms(j); j += 1 }
            }
            (out.toArray, c)
          }
        }
        i += 1
      }
    }
    merges.toSeq
  }

  /** Foldable merge-table literal: ARRAY<ARRAY<STRING>> of [a, b] pairs in
    * rank order. */
  def mergesLit(model: BpeModel): Column =
    array(model.merges.map { case (a, b) => array(lit(a), lit(b)) }: _*)

  /** Subword tokens per row (native `graft_bpe_tokens`): whitespace
    * pre-tokenize + lowercase, then greedy lowest-rank-first merging per
    * word — the standard BPE apply. Map-only. */
  def tokens(df: DataFrame, textCol: String, model: BpeModel,
             outCol: String = "bpe_tokens"): DataFrame = {
    df.withColumn(outCol,
      native("graft_bpe_tokens", col(textCol), mergesLit(model)))
  }

  /** Real-model token count — the budgeting input for [[Packing]]. */
  def tokenCount(df: DataFrame, textCol: String, model: BpeModel,
                 outCol: String = "n_bpe_tokens"): DataFrame = {
    df.withColumn(outCol,
      size(native("graft_bpe_tokens", col(textCol), mergesLit(model))))
  }

  /** Persist / load the merge list (rank-ordered) — the tokenizer artifact. */
  def save(spark: org.apache.spark.sql.SparkSession, model: BpeModel, path: String): Unit = {
    import spark.implicits._
    model.merges.zipWithIndex.map { case ((a, b), r) => (r, a, b) }
      .toDF("rank", "a", "b").coalesce(1).write.mode("overwrite").parquet(path)
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): BpeModel =
    BpeModel(spark.read.parquet(path).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq)
}
