package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.UnigramLm

/** Unigram-LM (SentencePiece-style) tokenizer [Kudo ACL'18]:
  * seed → EM → prune training on the word-type histogram, Viterbi apply
  * via the native expression. */
class UnigramLmSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // a corpus where "abc" is an overwhelmingly frequent unit
  private val corpus = Seq(
    (1L, "abcabc abcx abc abc"),
    (2L, "abc yz abcabc"),
    (3L, "abc abc qabc"))
    .toDF("doc_id", "text")

  private def freqs(rows: (String, Long)*): Array[(String, Long)] =
    rows.sortBy { case (w, c) => (-c, w) }.toArray

  test("single characters are always retained; every word segments totally") {
    val m = UnigramLm.trainOnTypes(
      freqs("abc" -> 10L, "abcabc" -> 5L, "xyz" -> 1L),
      vocabSize = 4, emIters = 2, seedMaxPieceLen = 4, seedSize = 50,
      pruneFrac = 0.5)
    val chars = Set("a", "b", "c", "x", "y", "z")
    assert(chars.subsetOf(m.pieces.map(_._1).toSet))
    Seq("abc", "abcabc", "xyz", "zzz").foreach { w =>
      val segs = UnigramLm.segmentWord(w, m)
      assert(segs.mkString("") == w, s"round-trip failed for $w: $segs")
    }
  }

  test("EM likelihood is non-decreasing over iterations at fixed vocab") {
    val wf = freqs("abc" -> 10L, "abcabc" -> 5L, "ab" -> 3L, "bc" -> 2L)
    // fixed starting vocab: uniform over chars + two multis
    var vocab = Seq("a", "b", "c", "ab", "bc", "abc")
      .map(_ -> math.log(1.0 / 6)).toMap
    val lls = scala.collection.mutable.ArrayBuffer.empty[Double]
    (0 until 5).foreach { _ =>
      val (next, ll) = UnigramLm.emStep(wf, vocab)
      lls += ll
      vocab = next
    }
    lls.sliding(2).foreach { case scala.collection.Seq(a, b) =>
      assert(b >= a - 1e-9, s"likelihood decreased: $lls")
    }
  }

  test("a dominant substring survives pruning to a small vocabulary") {
    val m = UnigramLm.trainOnTypes(
      freqs("abc" -> 100L, "abcabc" -> 50L, "abcd" -> 40L, "xy" -> 1L),
      vocabSize = 7, emIters = 2, seedMaxPieceLen = 4, seedSize = 100,
      pruneFrac = 0.25)
    assert(m.pieces.map(_._1).contains("abc"),
      s"expected 'abc' to survive: ${m.pieces.map(_._1)}")
    // and Viterbi actually uses it
    assert(UnigramLm.segmentWord("abcabc", m) == Seq("abc", "abc"))
  }

  test("native expression matches the driver Viterbi reference, incl. unseen chars") {
    val m = UnigramLm.train(corpus, "text", vocabSize = 10, emIters = 2,
      seedMaxPieceLen = 4, seedSize = 100)
    // apply to text with a char never seen in training (Ω) and mixed case
    val applyDf = Seq((1L, "abcabc Xabc"), (2L, "Ωabc yz"), (3L, ""))
      .toDF("id", "text")
    val native = UnigramLm.tokens(applyDf, "text", m)
      .select("id", "unigram_tokens").as[(Long, Seq[String])].collect().toMap
    val expected = applyDf.select("id", "text").as[(Long, String)].collect().map {
      case (id, text) =>
        val words = scala.collection.mutable.ArrayBuffer.empty[String]
        text.toLowerCase(java.util.Locale.ROOT).split("\\s+")
          .filter(_.nonEmpty).foreach(words += _)
        id -> words.flatMap(w => UnigramLm.segmentWord(w, m)).toSeq
    }.toMap
    assert(native == expected)
  }

  test("training is partitioning-invariant and deterministic") {
    val m1 = UnigramLm.train(corpus.repartition(1), "text", vocabSize = 10,
      emIters = 2, seedMaxPieceLen = 4, seedSize = 100)
    val m7 = UnigramLm.train(corpus.repartition(7), "text", vocabSize = 10,
      emIters = 2, seedMaxPieceLen = 4, seedSize = 100)
    assert(m1.pieces == m7.pieces, "model must be bit-identical across partitionings")
  }

  test("vocabSize bounds the multi-char piece count (char floor retained)") {
    val m = UnigramLm.trainOnTypes(
      freqs("abcdef" -> 10L, "abcfed" -> 8L, "fedabc" -> 6L),
      vocabSize = 8, emIters = 1, seedMaxPieceLen = 4, seedSize = 1000,
      pruneFrac = 0.5)
    val nChars = m.pieces.count(_._1.length == 1)
    val nMulti = m.pieces.count(_._1.length > 1)
    assert(nMulti <= math.max(0, 8 - nChars),
      s"vocab ${m.pieces.map(_._1)} exceeds the bound")
  }

  test("tokenCount feeds budgeting; save/load round-trips the artifact") {
    val m = UnigramLm.train(corpus, "text", vocabSize = 10, emIters = 2,
      seedMaxPieceLen = 4, seedSize = 100)
    val counts = UnigramLm.tokenCount(corpus, "text", m)
      .select("doc_id", "n_unigram_tokens").as[(Long, Int)].collect().toMap
    assert(counts.values.forall(_ > 0))
    val path = graft.sources.Scratch.dir("uni").toString + "/model"
    UnigramLm.save(spark, m, path)
    val loaded = UnigramLm.load(spark, path)
    assert(loaded.pieces == m.pieces)
  }

  test("guards: invalid parameters throw") {
    intercept[IllegalArgumentException](
      UnigramLm.train(corpus, "text", vocabSize = 0))
    intercept[IllegalArgumentException](
      UnigramLm.train(corpus, "text", vocabSize = 5, pruneFrac = 1.0))
  }

  test("guards: an empty model (empty training corpus) fails loud at tokenize") {
    import spark.implicits._
    val empty = UnigramLm.train(Seq("", "   ").toDF("text"), "text", vocabSize = 10)
    assert(empty.pieces.isEmpty)
    // without the guard this would surface as an opaque ARRAY<NULL>
    // "must be foldable" analysis error from graft_unigram_tokens
    val docs = Seq("hello").toDF("text")
    val e = intercept[IllegalArgumentException](
      UnigramLm.tokens(docs, "text", empty))
    assert(e.getMessage.contains("empty"))
    intercept[IllegalArgumentException](
      UnigramLm.tokenCount(docs, "text", empty))
  }
}
