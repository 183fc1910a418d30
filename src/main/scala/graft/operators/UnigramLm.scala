package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.HashExpressions.native

/** Unigram-language-model subword tokenizer [Kudo, ACL 2018] — the
  * SentencePiece algorithm, completing the real-tokenizer roster next to
  * [[Bpe]] (the two subword algorithms production models actually use).
  * Where BPE greedily composes pieces bottom-up, the unigram model starts
  * from a large seed vocabulary, fits per-piece probabilities by EM over a
  * segmentation lattice, and prunes low-probability pieces — yielding a
  * probabilistic model that segments via Viterbi.
  *
  * Scale split, identical to [[Bpe]]'s: the corpus-sized work is ONE
  * distributed word-count through the shared native pre-tokenizer
  * (`graft_bpe_words` — the SAME case-fold/whitespace split the apply path
  * uses, so train/apply skew is impossible by construction); EM + pruning
  * run on the word-TYPE histogram (≤ `maxWordTypes` rows) driver-side like
  * every other model artifact here (IVF centroids, PQ codebooks, BPE
  * merges). Application corpus-wide is the map-only native
  * `graft_unigram_tokens` expression with the piece table as foldable
  * literals — zero UDFs, fuses with the scan.
  *
  * Determinism: every fold the EM performs iterates in a FIXED order (word
  * types by descending count then word; pieces lexicographically), so the
  * model is bit-identical across runs and input partitionings (pinned in
  * UnigramLmSpec). Single characters seen in training are never pruned —
  * segmentation totality — and apply-time UNSEEN characters fall back to
  * one-char pieces at a fixed unk penalty (see
  * [[graft.plans.UnigramTokensExpr]]).
  */
object UnigramLm {

  /** The whole tokenizer artifact: (piece, log probability), lex-sorted. */
  final case class UnigramModel(pieces: Seq[(String, Double)]) {
    @transient lazy val table: Map[String, Double] = pieces.toMap
    @transient lazy val maxPieceLen: Int =
      if (pieces.isEmpty) 1 else math.max(1, pieces.iterator.map(_._1.length).max)
    @transient lazy val unkLogp: Double =
      pieces.iterator.map(_._2).foldLeft(0.0)(math.min) - 10.0
  }

  /** One distributed word-count + driver-side seed/EM/prune over word
    * types.
    *
    * @param vocabSize     target piece count (single chars always retained,
    *                      so the floor is the seen-character count)
    * @param emIters       EM sweeps per pruning round (likelihood is
    *                      non-decreasing within a round — pinned)
    * @param seedMaxPieceLen longest candidate substring in the seed
    * @param seedSize      multi-char seed candidates kept (top by
    *                      occurrence-weighted count)
    * @param pruneFrac     fraction of multi-char pieces dropped per round
    *                      (lowest probability first) until vocabSize holds
    */
  def train(df: DataFrame, textCol: String, vocabSize: Int,
            emIters: Int = 2, seedMaxPieceLen: Int = 8,
            seedSize: Int = 20000, maxWordTypes: Int = 50000,
            pruneFrac: Double = 0.25): UnigramModel = {
    require(vocabSize > 0 && emIters > 0 && seedMaxPieceLen > 0 && seedSize > 0,
      "vocabSize, emIters, seedMaxPieceLen, seedSize must be positive")
    require(pruneFrac > 0 && pruneFrac < 1, "pruneFrac must be in (0, 1)")
    val wordFreqs: Array[(String, Long)] = df
      .select(explode(native("graft_bpe_words", col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(maxWordTypes)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    trainOnTypes(wordFreqs, vocabSize, emIters, seedMaxPieceLen, seedSize, pruneFrac)
  }

  /** Driver-side core (exposed for the spec's differential pins). */
  private[graft] def trainOnTypes(wordFreqs: Array[(String, Long)],
                                  vocabSize: Int, emIters: Int,
                                  seedMaxPieceLen: Int, seedSize: Int,
                                  pruneFrac: Double): UnigramModel = {
    if (wordFreqs.isEmpty) return UnigramModel(Seq.empty)
    // ---- seed: occurrence-weighted substring counts (fixed fold order:
    // the histogram is already (count desc, word) sorted)
    val subCounts = scala.collection.mutable.HashMap.empty[String, Double]
    wordFreqs.foreach { case (w, c) =>
      var i = 0
      while (i < w.length) {
        var j = i + 1
        val jMax = math.min(i + seedMaxPieceLen, w.length)
        while (j <= jMax) {
          val s = w.substring(i, j)
          subCounts.update(s, subCounts.getOrElse(s, 0.0) + c.toDouble)
          j += 1
        }
        i += 1
      }
    }
    val chars: Set[String] = subCounts.keysIterator.filter(_.length == 1).toSet
    val multis = subCounts.iterator.filter(_._1.length > 1).toArray
      .sortBy { case (s, c) => (-c, s) }.take(seedSize).map(_._1)
    var vocab: Map[String, Double] = {
      val init = (chars.toSeq ++ multis).sorted
      val total = init.iterator.map(subCounts(_)).sum
      init.map(s => s -> math.log(subCounts(s) / total)).toMap
    }
    // ---- EM + prune rounds
    var done = false
    while (!done) {
      var it = 0
      while (it < emIters) { vocab = emStep(wordFreqs, vocab)._1; it += 1 }
      val nMulti = vocab.count(_._1.length > 1)
      val targetMulti = math.max(0, vocabSize - chars.size)
      if (nMulti <= targetMulti) done = true
      else {
        val keep = math.max(targetMulti,
          (nMulti * (1.0 - pruneFrac)).toInt)
        val kept = vocab.iterator.filter(_._1.length > 1).toArray
          .sortBy { case (s, lp) => (-lp, s) }.take(keep).map(_._1).toSet
        vocab = vocab.filter { case (s, _) => s.length == 1 || kept(s) }
        if (keep == targetMulti) { // final round: one more EM to renormalize
          var it2 = 0
          while (it2 < emIters) { vocab = emStep(wordFreqs, vocab)._1; it2 += 1 }
          done = true
        }
      }
    }
    UnigramModel(vocab.toSeq.sortBy(_._1))
  }

  /** One EM sweep: expected piece counts from the forward-backward
    * segmentation lattice of every word type (weighted by type frequency),
    * then re-normalized log probabilities. Returns (new vocab, total data
    * log-likelihood under the INPUT vocab) — the likelihood sequence over
    * repeated calls is non-decreasing (standard EM; pinned in
    * UnigramLmSpec). Folds run in fixed order → bit-deterministic. */
  private[graft] def emStep(wordFreqs: Array[(String, Long)],
                            vocab: Map[String, Double]): (Map[String, Double], Double) = {
    val maxLen = math.max(1, vocab.keysIterator.map(_.length).foldLeft(1)(math.max))
    val unk = vocab.valuesIterator.foldLeft(0.0)(math.min) - 10.0
    val exp = scala.collection.mutable.HashMap.empty[String, Double]
    var totalLL = 0.0
    wordFreqs.foreach { case (w, c) =>
      val n = w.length
      if (n > 0) {
        def lpOf(s: Int, e: Int): Double = {
          val piece = w.substring(s, e)
          vocab.get(piece) match {
            case Some(lp) => lp
            case None => if (e - s == 1) unk else Double.NegativeInfinity
          }
        }
        // forward
        val fwd = Array.fill(n + 1)(Double.NegativeInfinity)
        fwd(0) = 0.0
        var e = 1
        while (e <= n) {
          var s = math.max(0, e - maxLen)
          while (s < e) {
            val lp = lpOf(s, e)
            if (lp != Double.NegativeInfinity && fwd(s) != Double.NegativeInfinity)
              fwd(e) = logSumExp(fwd(e), fwd(s) + lp)
            s += 1
          }
          e += 1
        }
        // backward
        val bwd = Array.fill(n + 1)(Double.NegativeInfinity)
        bwd(n) = 0.0
        var s2 = n - 1
        while (s2 >= 0) {
          var e2 = s2 + 1
          val eMax = math.min(n, s2 + maxLen)
          while (e2 <= eMax) {
            val lp = lpOf(s2, e2)
            if (lp != Double.NegativeInfinity && bwd(e2) != Double.NegativeInfinity)
              bwd(s2) = logSumExp(bwd(s2), lp + bwd(e2))
            e2 += 1
          }
          s2 -= 1
        }
        val z = fwd(n)
        totalLL += c.toDouble * z
        // posterior edge marginals → expected counts
        var s3 = 0
        while (s3 < n) {
          var e3 = s3 + 1
          val eMax = math.min(n, s3 + maxLen)
          while (e3 <= eMax) {
            val piece = w.substring(s3, e3)
            if (vocab.contains(piece) &&
                fwd(s3) != Double.NegativeInfinity &&
                bwd(e3) != Double.NegativeInfinity) {
              val post = math.exp(fwd(s3) + vocab(piece) + bwd(e3) - z)
              if (post > 0.0)
                exp.update(piece, exp.getOrElse(piece, 0.0) + post * c)
            }
            e3 += 1
          }
          s3 += 1
        }
      }
    }
    // M step over pieces in fixed (lex) order; pieces with zero expectation
    // keep a floor so single chars never vanish from the table
    val keys = vocab.keysIterator.toArray.sorted
    val floor = 1e-12
    val total = keys.iterator.map(k => math.max(floor, exp.getOrElse(k, 0.0))).sum
    val next = keys.map { k =>
      k -> math.log(math.max(floor, exp.getOrElse(k, 0.0)) / total)
    }.toMap
    (next, totalLL)
  }

  private def logSumExp(a: Double, b: Double): Double =
    if (a == Double.NegativeInfinity) b
    else if (b == Double.NegativeInfinity) a
    else { val m = math.max(a, b); m + math.log(math.exp(a - m) + math.exp(b - m)) }

  /** Driver-side Viterbi segmentation — the differential reference for the
    * native expression (identical loop + tie-break: smallest start index,
    * i.e. the longest final piece, wins ties). */
  private[graft] def segmentWord(word: String, model: UnigramModel): Seq[String] = {
    val n = word.length
    if (n == 0) return Seq.empty
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = Array.fill(n + 1)(-1)
    best(0) = 0.0
    var end = 1
    while (end <= n) {
      var start = math.max(0, end - model.maxPieceLen)
      while (start < end) {
        if (best(start) != Double.NegativeInfinity) {
          val piece = word.substring(start, end)
          val score = model.table.get(piece) match {
            case Some(lp) => best(start) + lp
            case None =>
              if (end - start == 1) best(start) + model.unkLogp
              else Double.NegativeInfinity
          }
          if (score > best(end)) { best(end) = score; back(end) = start }
        }
        start += 1
      }
      end += 1
    }
    val rev = scala.collection.mutable.ArrayBuffer.empty[String]
    var at = n
    while (at > 0) { val s = back(at); rev += word.substring(s, at); at = s }
    rev.reverse.toSeq
  }

  /** Foldable piece-table literals (parallel arrays, lex order). Fails
    * loud on an empty model: `array()` of zero literals types as
    * ARRAY<NULL>, which would surface downstream as an opaque
    * "pieces/logps must be foldable" analysis error from
    * `graft_unigram_tokens`. An empty model comes from training on an
    * empty or whitespace-only corpus. */
  def piecesLit(model: UnigramModel): (Column, Column) = {
    require(model.pieces.nonEmpty,
      "empty unigram model (no pieces) — training input was empty or " +
        "whitespace-only; train on a non-empty corpus before tokenizing")
    (array(model.pieces.map(p => lit(p._1)): _*),
      array(model.pieces.map(p => lit(p._2)): _*))
  }

  /** Subword tokens per row via the native `graft_unigram_tokens`. */
  def tokens(df: DataFrame, textCol: String, model: UnigramModel,
             outCol: String = "unigram_tokens"): DataFrame = {
    val (ps, ls) = piecesLit(model)
    df.withColumn(outCol,
      native("graft_unigram_tokens", col(textCol), ps, ls))
  }

  /** Real-model token count — the budgeting input for [[Packing]],
    * interchangeable with [[Bpe.tokenCount]]. */
  def tokenCount(df: DataFrame, textCol: String, model: UnigramModel,
                 outCol: String = "n_unigram_tokens"): DataFrame = {
    val (ps, ls) = piecesLit(model)
    df.withColumn(outCol,
      size(native("graft_unigram_tokens", col(textCol), ps, ls)))
  }

  /** Persist / load the piece table — the tokenizer artifact. */
  def save(spark: org.apache.spark.sql.SparkSession, model: UnigramModel,
           path: String): Unit = {
    import spark.implicits._
    model.pieces.toDF("piece", "logp").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): UnigramModel =
    UnigramModel(spark.read.parquet(path).orderBy("piece")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq)
}
