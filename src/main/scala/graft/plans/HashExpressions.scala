package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the sketching hot paths (SURVEY.md §7.3:
  * "promote to native Expression only if bench shows UDF overhead" — it did:
  * the higher-order-function formulations evaluate their lambdas interpreted,
  * per element; a MinHash signature is numHashes × |shingles| lambda calls
  * per row. These expressions make ONE call per row and run a primitive
  * `while` loop inside — ~20× faster at sf0.1, and the loop is exactly what
  * `doGenCode` would emit anyway (CodegenFallback costs one virtual call per
  * row here, not per element).
  */

/** `graft_minhash_sig(hashes ARRAY<BIGINT>, numHashes INT)` →
  * `ARRAY<BIGINT>`: sig[s] = min over h in hashes of xxh64(h, seed = s). */
case class MinHashSignatureExpr(hashes: Expression, numHashes: Expression)
  extends BinaryExpression with CodegenFallback {

  override def left: Expression = hashes
  override def right: Expression = numHashes
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(arr: Any, n: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    val len = a.numElements()
    val nh = n.asInstanceOf[Int]
    val out = new Array[Long](nh)
    var s = 0
    while (s < nh) {
      var m = Long.MaxValue
      var i = 0
      while (i < len) {
        val h = XXH64.hashLong(a.getLong(i), s.toLong)
        if (h < m) m = h
        i += 1
      }
      out(s) = if (len == 0) 0L else m
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): MinHashSignatureExpr =
    copy(hashes = l, numHashes = r)
}

/** `graft_simhash(tokens ARRAY<STRING>)` → BIGINT: 64-bit SimHash — bit i is
  * the sign of Σ_tokens (bit i of xxh64(token) ? +1 : −1). */
case class SimHash64Expr(tokens: Expression)
  extends UnaryExpression with CodegenFallback {

  override def child: Expression = tokens
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def nullSafeEval(arr: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    val len = a.numElements()
    val counters = new Array[Int](64)
    var i = 0
    while (i < len) {
      val h = XXH64.hashUTF8String(a.getUTF8String(i), 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counters(b) > 0) out |= (1L << b); b += 1 }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(c: Expression): SimHash64Expr =
    copy(tokens = c)
}

/** `graft_shingle_hashes(text STRING, k INT)` → `ARRAY<BIGINT>`: whitespace-
  * tokenize, then hash each k-gram of consecutive tokens as an xxh64 chain
  * over the token hashes (no shingle strings are ever materialized). Fewer
  * than k tokens → one hash over all tokens — mirroring
  * [[graft.operators.NearDup.shingles]]. */
case class ShingleHashesExpr(text: Expression, k: Expression)
  extends BinaryExpression with CodegenFallback {

  override def left: Expression = text
  override def right: Expression = k
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override def nullSafeEval(t: Any, kAny: Any): Any = {
    val s = t.toString
    val kk = kAny.asInstanceOf[Int]
    // whitespace-tokenize and hash tokens in one scan
    val tokenHashes = new scala.collection.mutable.ArrayBuffer[Long](64)
    var i = 0; val n = s.length
    while (i < n) {
      while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
      val start = i
      while (i < n && !Character.isWhitespace(s.charAt(i))) i += 1
      if (i > start)
        tokenHashes += XXH64.hashUTF8String(
          org.apache.spark.unsafe.types.UTF8String.fromString(s.substring(start, i)), 42L)
    }
    val m = tokenHashes.length
    if (m < kk) {
      var h = 42L
      var j = 0
      while (j < m) { h = XXH64.hashLong(tokenHashes(j), h); j += 1 }
      new GenericArrayData(Array(h))
    } else {
      val out = new Array[Long](m - kk + 1)
      var p = 0
      while (p <= m - kk) {
        var h = 42L
        var j = p
        while (j < p + kk) { h = XXH64.hashLong(tokenHashes(j), h); j += 1 }
        out(p) = h
        p += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): ShingleHashesExpr = copy(text = l, k = r)
}

/** Standard Spark extensions entry point: registers the native functions at
  * session build time —
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit =
    HashExpressions.nativeFunctions.foreach { f =>
      e.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.exprClass.getName, f.name), f.build))
    }
}

object HashExpressions {
  /** A native SQL function: its name, the expression class it builds (for
    * `ExpressionInfo`) and the builder over its argument expressions. */
  final case class NativeFunction(name: String, exprClass: Class[_],
                                  build: Seq[Expression] => Expression)

  private def fn[E <: Expression](name: String)(build: Seq[Expression] => E)(
      implicit ct: scala.reflect.ClassTag[E]): NativeFunction =
    NativeFunction(name, ct.runtimeClass, build)

  /** Every `graft_*` function, listed once: both wiring paths
    * (`GraftExtensions` at session build time, `register` on a live
    * session) read this table. */
  val nativeFunctions: Seq[NativeFunction] = Seq(
    fn("graft_minhash_sig")(a => MinHashSignatureExpr(a(0), a(1))),
    fn("graft_simhash")(a => SimHash64Expr(a(0))),
    fn("graft_shingle_hashes")(a => ShingleHashesExpr(a(0), a(1))),
    fn("graft_text_stats")(a => TextStatsExpr(a(0))),
    fn("graft_lang_id")(a => LangIdExpr(a(0))),
    fn("graft_cosine")(a => CosineSimilarityExpr(a(0), a(1))),
    fn("graft_nearest_cells")(a => NearestCentroidsExpr(a(0), a(1), a(2))),
    fn("graft_lsh_bucket")(a => HyperplaneBucketExpr(a(0), a(1))),
    fn("graft_winnow")(a => WinnowFingerprintExpr(a(0), a(1), a(2))),
    fn("graft_nearest_dist")(a => NearestCentroidDistExpr(a(0), a(1))),
    fn("graft_pq_encode")(a => PqEncodeExpr(a(0), a(1))),
    fn("graft_pq_lut")(a => PqLutExpr(a(0), a(1))),
    fn("graft_pq_adc")(a => PqAdcExpr(a(0), a(1))),
    // Spark's own bloom-filter pair (used internally by runtime join
    // filters) exposed as callable functions: the analyzer wraps the
    // AggregateFunction in an AggregateExpression on resolution.
    fn("graft_bloom_agg")(a =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(a(0), a(1))),
    fn("graft_bloom_contains")(a => BloomFilterMightContain(a(0), a(1))),
    fn("graft_nfc")(a => NfcNormalizeExpr(a(0))),
    fn("graft_deflate_len")(a => DeflateLenExpr(a(0), a(1))),
    fn("graft_bpe_tokens")(a => BpeTokensExpr(a(0), a(1))),
    fn("graft_gramian")(a => GramianAggregate(a(0), a(1))),
    fn("graft_bpe_words")(a => BpeWordsExpr(a(0))),
    fn("graft_pca_project")(a => PcaProjectExpr(a(0), a(1), a(2))),
    fn("graft_mg_sketch")(a => MisraGriesAggregate(a(0), a(1))),
    fn("graft_topk")(a => TopKAggregate(a(0), a(1), a(2))),
    fn("graft_unigram_tokens")(a => UnigramTokensExpr(a(0), a(1), a(2))),
    fn("graft_latest")(a => LatestAggregate(a(0), a(1))),
    fn("graft_earliest")(a => LatestAggregate(a(0), a(1), earliest = true)),
    fn("graft_topk_rows")(a => TopKRowsAggregate(a(0), a(1), a(2))),
    fn("graft_kll_agg")(a => KllAggregate(a(0), a(1))),
    fn("graft_kll_quantile")(a => KllQuantileExpr(a(0), a(1))),
    fn("graft_kll_rank")(a => KllRankExpr(a(0), a(1))))

  /** Register the native functions in a session's registry (idempotent);
    * callers then use `functions.call_function("graft_minhash_sig", ...)`. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    nativeFunctions.foreach(f =>
      reg.createOrReplaceTempFunction(f.name, f.build, "built-in"))
  }
}
