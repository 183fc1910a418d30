package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{ScalarQuantization, SimilaritySearch}
import graft.operators.ScalarQuantization.ScalarQuantParams

/** Pins for the int8 scalar quantizer: exact code arithmetic (the
  * engine-portable floor(+0.5) contract), bounded reconstruction error,
  * round-trip stability, search recall vs the float corpus, artifact
  * round-trip, and edge dims. */
class ScalarQuantizationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def emb = graft.sources.Tables.table(spark, TestSpark.sf0001, "embeddings")

  test("codes match the driver-side arithmetic exactly") {
    val df = Seq((1L, Seq(0.0f, 10.0f, 5.0f)), (2L, Seq(1.0f, 20.0f, 5.0f)),
      (3L, Seq(0.5f, 15.0f, 5.0f))).toDF("id", "vec")
    val p = ScalarQuantization.fit(df, "vec")
    assert(p.mins.toSeq == Seq(0.0, 10.0, 5.0) && p.maxs.toSeq == Seq(1.0, 20.0, 5.0))
    val got = ScalarQuantization.quantize(df, "vec", p)
      .select(col("id"), col("codes")).as[(Long, Seq[Byte])]
      .collect().toMap
    def code(x: Double, mn: Double, mx: Double): Int =
      if (mx == mn) -128
      else math.min(127, math.max(-128,
        math.floor((x - mn) * 255.0 / (mx - mn) + 0.5).toInt - 128))
    assert(got(1L) == Seq(code(0, 0, 1), code(10, 10, 20), -128).map(_.toByte))
    assert(got(2L) == Seq(127.toByte, 127.toByte, -128.toByte))
    assert(got(3L) == Seq(code(0.5, 0, 1), code(15, 10, 20), -128).map(_.toByte))
  }

  test("reconstruction error is bounded by half a step per dimension") {
    val p = ScalarQuantization.fit(emb, "embedding")
    val codes = ScalarQuantization.quantize(emb, "embedding", p)
    val deq = ScalarQuantization.dequantize(codes, "codes", p)
    val maxErr = deq.select(
        max(expr("""aggregate(zip_with(embedding, dequantized,
          (a, b) -> abs(CAST(a AS DOUBLE) - CAST(b AS DOUBLE))),
          CAST(0.0 AS DOUBLE), (acc, e) -> greatest(acc, e))""")))
      .head().getDouble(0)
    val stepBound = p.mins.indices.map(j => (p.maxs(j) - p.mins(j)) / 510.0).max
    assert(maxErr <= stepBound + 1e-4, // + float-cast rounding slack
      s"max abs error $maxErr exceeds half-step bound $stepBound")
  }

  test("quantize∘dequantize∘quantize is a fixed point") {
    // codes are the nearest grid points, so re-quantizing the
    // reconstruction must give back the same codes
    val p = ScalarQuantization.fit(emb, "embedding")
    val codes = ScalarQuantization.quantize(emb, "embedding", p)
      .select(col("vec_id"), col("codes"))
    val again = ScalarQuantization.quantize(
        ScalarQuantization.dequantize(codes, "codes", p, "deq"), "deq", p, "codes2")
      .select(col("vec_id"), col("codes"), col("codes2"))
    assert(again.where(col("codes") =!= col("codes2")).count() == 0)
  }

  test("quantized top-k keeps high recall vs the float corpus") {
    val p = ScalarQuantization.fit(emb, "embedding")
    val codes = ScalarQuantization.quantize(emb, "embedding", p)
      .select(col("vec_id"), col("codes"))
    val q = emb.where(col("vec_id") === 7).select("embedding")
      .head().getSeq[Float](0).toArray
    val exact = SimilaritySearch.topK(emb, "vec_id", "embedding", q, 10)
      .select("vec_id").as[Long].collect().toSet
    val approx = ScalarQuantization
      .quantizedTopK(codes, "vec_id", "codes", p, q, 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall below 0.8: $approx vs $exact")
  }

  test("artifact round-trips through parquet") {
    val p = ScalarQuantization.fit(emb, "embedding")
    val path = graft.sources.Scratch.dir("sq").toString + "/params"
    ScalarQuantization.save(spark, p, path)
    val loaded = ScalarQuantization.load(spark, path)
    assert(loaded.mins.toSeq == p.mins.toSeq && loaded.maxs.toSeq == p.maxs.toSeq)
  }

  test("guards: empty input and ragged dims fail loud; NULL vecs pass through") {
    intercept[IllegalArgumentException](
      ScalarQuantization.fit(emb.where(col("vec_id") < 0), "embedding"))
    val ragged = Seq(Seq(1.0f, 2.0f), Seq(1.0f)).toDF("vec")
    intercept[IllegalArgumentException](ScalarQuantization.fit(ragged, "vec"))
    val p = ScalarQuantParams(Array(0.0), Array(1.0))
    val withNull = Seq((1L, Seq(0.5f)), (2L, null)).toDF("id", "vec")
    val out = ScalarQuantization.quantize(withNull, "vec", p)
    assert(out.where(col("id") === 2 && col("codes").isNull).count() == 1)
  }
}
