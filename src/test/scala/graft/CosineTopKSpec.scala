package graft

import scala.jdk.CollectionConverters._

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.SimilaritySearch
import graft.plans.HashExpressions.native

/** `SimilaritySearch.topKAll` (one `graft_cosine_topk` scan) against the
  * cross join + `ROW_NUMBER` spelling it replaced, kept here as the oracle:
  * rows, ranks, schema and every score's bits must be equal on generated
  * inputs with score ties, NULL scores, duplicate and NULL ids, k beyond
  * the candidate count, FLOAT and DOUBLE vectors and several corpus
  * partitionings — on the shared `local[4]` session and in a `local[1]`
  * JVM of its own. */
class CosineTopKSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("property: topKAll equals the cross-join ROW_NUMBER oracle") {
    CosineTopKProperty.check(spark)
  }

  test("property: topKAll equals the oracle on local[1]") {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val args = Seq(javaBin, "-Xmx1g") ++
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.filter(_.startsWith("--add-opens")) ++
      Seq("-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", System.getProperty("java.class.path"), "graft.CosineTopKProperty")
    val p = new ProcessBuilder(args: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    assert(p.waitFor() == 0, out.linesIterator.toSeq.takeRight(40).mkString("\n"))
  }

  test("graft_cosine_topk planned as a Spark aggregate ranks like topKAll") {
    val corpus = spark.range(0, 60).selectExpr("id",
        "transform(sequence(0, 3), j -> CAST(sin(id * 7 + j * 13) AS FLOAT)) AS vec")
      .repartition(3)
    val queries = corpus.where(col("id") % 7 === 0)
    val q = queries.collect()
    val ids = array(q.map(r => lit(r.getLong(0))).toSeq: _*)
    val vecs = array(q.map(r => array(r.getSeq[Float](1).map(lit): _*)).toSeq: _*)
    val planned = corpus
      .agg(native("graft_cosine_topk", lit(5), col("id"), ids, col("id"), ids,
        col("vec"), vecs).as("top"))
      .select(explode(col("top")).as("g"))
      .select(posexplode(col("g")(0)).as(Seq("pos", "h")))
      .select(col("h.query_id"), col("h.corpus_id"), col("h.score"), (col("pos") + 1).as("rank"))
    val want = SimilaritySearch.topKAll(corpus, queries, "id", "vec", "id", 5)
    val (a, b) = (planned.orderBy("query_id", "rank").collect().toSeq,
      want.orderBy("query_id", "rank").collect().toSeq)
    assert(a.length == 45 && a == b, s"${a.diff(b).take(3)}")
  }

  test("graft_cosine_topk rejects a non-literal or mismatched query side") {
    val c = spark.range(3).select(col("id"), array(lit(1.0f)).as("v"))
    def run(ids: org.apache.spark.sql.Column, vecs: org.apache.spark.sql.Column) =
      c.agg(native("graft_cosine_topk", lit(2), col("id"), ids, lit(null), lit(null),
        col("v"), vecs)).collect()
    val e1 = intercept[Exception](run(array(col("id")), array(array(lit(1.0f)))))
    assert(e1.getMessage.contains("graft_cosine_topk"), e1.getMessage)
    val e2 = intercept[Exception](run(array(lit(1L), lit(2L)), array(array(lit(1.0f)))))
    assert(e2.getMessage.contains("one element per query"), e2.getMessage)
  }
}

/** The generated cases and the oracle comparison, shared by the spec and
  * the `local[1]` JVM (`main`). */
object CosineTopKProperty {
  private val Dim = 4

  /** The cross join + window spelling `topKAll` used before it became one
    * aggregate. */
  def oracle(corpus: DataFrame, queries: DataFrame, k: Int,
             excludeSelf: Boolean): DataFrame = {
    val c = corpus.select(col("id").as("corpus_id"), col("vec").as("__cv"))
    val q = queries.select(col("id").as("query_id"), col("vec").as("__qv"))
    val paired = c.crossJoin(broadcast(q))
    val scored = (if (excludeSelf) paired.where(col("query_id") =!= col("corpus_id"))
                  else paired)
      .withColumn("score", native("graft_cosine", col("__qv"), col("__cv")))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("corpus_id"))
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("query_id"), col("corpus_id"), col("score"), col("__rn").as("rank"))
  }

  // small integer elements make equal and opposite vectors (score ties) common
  private val element: Gen[java.lang.Float] =
    Gen.frequency(20 -> Gen.choose(-2, 2).map(i => java.lang.Float.valueOf(i.toFloat)),
      1 -> Gen.const(null))
  private def vector(dim: Int): Gen[Seq[java.lang.Float]] =
    Gen.listOfN(dim, Gen.choose(-2, 2).map(i => java.lang.Float.valueOf(i.toFloat)))

  private def vec(earlier: Seq[Seq[java.lang.Float]]): Gen[Seq[java.lang.Float]] =
    Gen.frequency(
      12 -> vector(Dim),
      4 -> (if (earlier.isEmpty) vector(Dim) else Gen.oneOf(earlier)), // duplicates
      1 -> Gen.const(Seq.fill(Dim)(java.lang.Float.valueOf(0f))),    // zero norm
      1 -> Gen.const(null),                                          // NULL vector
      1 -> Gen.listOfN(Dim, element),                                // NULL elements
      1 -> vector(Dim + 1))                                          // mismatched dims

  private def rows(n: Int, ids: Gen[java.lang.Long]): Gen[List[Row]] =
    (0 until n).foldLeft(Gen.const(List.empty[Row])) { (acc, _) =>
      for {
        done <- acc
        id <- ids
        v <- vec(done.flatMap(r => Option(r.getSeq[java.lang.Float](1))))
      } yield done :+ Row(id, v)
    }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("vec", ArrayType(FloatType))))

  /** One generated case: corpus, queries (a corpus sample plus rows with
    * duplicate and NULL ids), k, excludeSelf, element type, partitions. */
  private def trial(seed: Long) = {
    val g = for {
      n <- Gen.choose(1, 24)
      corpus <- rows(n, Gen.frequency(
        12 -> Gen.choose(0L, 40L).map(java.lang.Long.valueOf), 1 -> Gen.const(null)))
      sample <- Gen.someOf(corpus)
      extra <- rows(3, Gen.frequency(
        3 -> Gen.oneOf(corpus.map(_.get(0).asInstanceOf[java.lang.Long])),
        1 -> Gen.const(null)))
      k <- Gen.choose(1, n + 3)
      excludeSelf <- Gen.oneOf(true, false)
      double <- Gen.oneOf(true, false)
      parts <- Gen.choose(1, 5)
    } yield (corpus, sample.toList ++ extra, k, excludeSelf, double, parts)
    g.apply(Gen.Parameters.default, Seed(seed)).get
  }

  def check(spark: SparkSession): Unit = (0 until 40).foreach { t =>
    val (c, q, k, excludeSelf, double, parts) = trial(9000L + t)
    def frame(rs: List[Row]) = {
      val df = spark.createDataFrame(rs.asJava, schema)
      if (double) df.withColumn("vec", col("vec").cast("array<double>")) else df
    }
    val corpus = frame(c).repartition(parts)
    val queries = frame(q)
    val got = SimilaritySearch.topKAll(corpus, queries, "id", "vec", "id", k, excludeSelf)
    val want = oracle(corpus, queries, k, excludeSelf)
    val what = s"trial $t (n=${c.size}, k=$k, excludeSelf=$excludeSelf, " +
      s"double=$double, partitions=$parts)"
    assert(got.schema == want.schema, s"$what: ${got.schema} != ${want.schema}")
    // score as its bit pattern: equal rows means bit-identical scores
    def bits(df: DataFrame) = df.orderBy("query_id", "rank").collect().toSeq.map(r =>
      (Option(r.get(0)), Option(r.get(1)),
        if (r.isNullAt(2)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2))),
        r.getInt(3)))
    val (a, b) = (bits(got), bits(want))
    assert(a == b, s"$what:\n got  ${a.take(12)}\n want ${b.take(12)}")
  }

  /** Runs [[check]] in a `local[1]` session; exit status 1 on a mismatch. */
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.configure(SparkSession.builder().master("local[1]"), 1,
      "cosine-topk-local1").getOrCreate()
    val ok = try { check(spark); true } catch {
      case e: Throwable => e.printStackTrace(); false
    } finally spark.stop()
    System.exit(if (ok) 0 else 1)
  }
}
