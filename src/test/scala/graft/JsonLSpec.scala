package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.JsonL
import graft.operators.MissingInputException
import java.nio.file.Files

class JsonLSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("score", DoubleType)))

  private val rows = Seq(
    (1L, "plain text", 0.5),
    (2L, "unicode é中文 and \"quotes\" and \\ backslash", 1.25),
    (3L, null.asInstanceOf[String], 0.0))

  private def df = rows.toDF("doc_id", "text", "score")

  test("single-file round-trip is lossless incl. nulls, unicode, escapes; count returned") {
    val f = graft.sources.Scratch.dir("jsonl").toString + "/out.jsonl"
    val n = JsonL.writeSingleFile(df, f)
    assert(n == 3)
    val back = JsonL.read(spark, f, schema)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(back == rows.sortBy(_._1))
    // the file is genuine JSONL: 3 lines, each parseable JSON
    val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq
    assert(lines.length == 3 && lines.forall(l => l.startsWith("{") && l.endsWith("}")))
    // explicit null (ignoreNullFields=false): the null text is present as null
    assert(lines.exists(_.contains("\"text\":null")), lines.mkString("\n"))
  }

  test("gzip round-trip through both writeDir and writeSingleFile") {
    val dir = graft.sources.Scratch.dir("jsonlgz").toString
    JsonL.writeDir(df, s"$dir/parts", gzip = true)
    val backDir = JsonL.read(spark, s"$dir/parts", schema)
    assert(backDir.count() == 3)
    val f = s"$dir/single.jsonl.gz"
    assert(JsonL.writeSingleFile(df, f, gzip = true) == 3)
    val back = JsonL.read(spark, f, schema)
    assert(back.orderBy("doc_id").select("doc_id").as[Long].collect().toSeq == Seq(1L, 2L, 3L))
  }

  test("missing input fails loudly with the typed error") {
    intercept[MissingInputException] {
      JsonL.read(spark, "/nonexistent/nope.jsonl", schema)
    }
  }

  test("corrupt lines: FAILFAST raises, permissive captures them in _corrupt_record") {
    val dir = graft.sources.Scratch.dir("jsonlbad").toString
    val f = s"$dir/bad.jsonl"
    java.nio.file.Files.write(java.nio.file.Paths.get(f),
      "{\"doc_id\":1,\"text\":\"ok\",\"score\":1.0}\nNOT JSON AT ALL\n".getBytes("UTF-8"))
    intercept[org.apache.spark.SparkException] {
      JsonL.read(spark, f, schema, failFast = true).collect()
    }
    // Spark disallows querying ONLY _corrupt_record straight off raw files
    // (the column exists only during parse) — materialize first, as the
    // operator's doc instructs for corrupt-line audits
    val tolerant = JsonL.read(spark, f, schema, failFast = false).cache()
    try {
      val good = tolerant.where(col("_corrupt_record").isNull).count()
      val bad = tolerant.where(col("_corrupt_record").isNotNull)
        .select("_corrupt_record").as[String].collect().toSeq
      assert(good == 1 && bad == Seq("NOT JSON AT ALL"),
        "undecodable lines must be captured verbatim, never silently dropped")
    } finally tolerant.unpersist()
  }

  test("streaming JSONL ingest lands arriving files as micro-batches") {
    val dir = graft.sources.Scratch.dir("jsonlstream").toString
    def drop(name: String, content: String): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$name"),
        content.getBytes("UTF-8"))
    drop("a.jsonl", "{\"doc_id\":1,\"text\":\"t1\",\"score\":0.1}\n")
    val q = JsonL.readStream(spark, dir, schema)
      .select("doc_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("jsonlstream").start()
    q.processAllAvailable()
    drop("b.jsonl", "{\"doc_id\":2,\"text\":\"t2\",\"score\":0.2}\n")
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("jsonlstream").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L))
  }
}
