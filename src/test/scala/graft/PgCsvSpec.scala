package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.sources.{CsvDialect, PgCsv}

/** CSV dialect round-trip — the riskiest parity area (SURVEY.md §7.4#1):
  * NULL vs empty string, embedded delimiters/quotes/newlines, gzip. Modeled
  * on the reference's file-behavior tests
  * (`/root/reference/tests/test_operators.py:89-102,182-196`). */
class PgCsvSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("a", StringType), StructField("b", StringType)))

  private def roundTrip(rows: Seq[(String, String)],
                        dialect: CsvDialect = CsvDialect()): Seq[(String, String)] = {
    val dir = graft.sources.Scratch.dir("pgcsv").toString
    val path = s"$dir/out.csv" + (if (dialect.compression.contains("gzip")) ".gz" else "")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 2), schema)
    PgCsv.writeSingleFile(df, path, dialect)
    PgCsv.read(spark, path, dialect, Some(schema))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
  }

  test("NULL vs empty string survive a round-trip (PG COPY distinction)") {
    val rows = Seq(("x", null), ("", "y"), (null, ""), ("a", "b"))
    assert(roundTrip(rows).toSet == rows.toSet)
  }

  test("embedded delimiter, quote, and newline survive") {
    val rows = Seq(("a,b", "c\"d"), ("line1\nline2", "q\"\"q"), ("plain", ","))
    assert(roundTrip(rows).toSet == rows.toSet)
  }

  test("gzip round-trip produces a readable gzip file with header") {
    val dir = graft.sources.Scratch.dir("pgcsvgz").toString
    val path = s"$dir/out.csv.gz"
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("1", "2"), Row("3", null)), 2), schema)
    val n = PgCsv.writeSingleFile(df, path, CsvDialect(compression = Some("gzip")))
    assert(n == 2)
    // readable as standard gzip (multi-member)
    val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(path))
    val text = new String(in.readAllBytes(), "UTF-8")
    assert(text.startsWith("a,b\n"))
    assert(text.contains("1,2"))
  }

  test("custom delimiter and quote char") {
    val d = CsvDialect(delimiter = "|", quote = "'")
    val rows = Seq(("x|y", "it's"), ("n", null))
    assert(roundTrip(rows, d).toSet == rows.toSet)
  }

  test("row count from writeSingleFile matches") {
    val rows = (1 to 57).map(i => (s"k$i", s"v$i"))
    val dir = graft.sources.Scratch.dir("pgcsvn").toString
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 3), schema)
    assert(PgCsv.writeSingleFile(df, s"$dir/n.csv", CsvDialect()) == 57)
  }

  test("custom null_string round-trips NULLs; colliding data value is a KNOWN divergence") {
    val d = CsvDialect(nullString = "NULL")
    val rows = Seq(("x", null), (null, "y"), ("", "z"))
    assert(roundTrip(rows, d).toSet == rows.toSet)
    // Postgres COPY quotes a DATA value equal to the null string to keep it
    // distinguishable; Spark's writer has no such hook, so a literal "NULL"
    // string under null_string="NULL" reads back as SQL NULL. The reference's
    // default (null_string="", operators.py:112) is unaffected — that case is
    // handled exactly via the quoted-empty sentinel. Pinned here so the
    // divergence is explicit, not silent.
    val collide = roundTrip(Seq(("NULL", "ok")), d)
    assert(collide == Seq((null, "ok")))
  }

  test("property: arbitrary content round-trips") {
    val cell: Gen[String] = Gen.oneOf(
      Gen.const(null: String),
      Gen.const(""),
      Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(',', '"', '\n', '\r', '|', '\'', ' ', 'é', '中')))
        .map(_.mkString))
    val gen = Gen.listOfN(8, Gen.zip(cell, cell))
    (1 to 15).foreach { i =>
      val rows = gen.apply(Gen.Parameters.default, Seed(42L + i)).get
      assert(roundTrip(rows).groupBy(identity).view.mapValues(_.size).toMap ==
        rows.groupBy(identity).view.mapValues(_.size).toMap,
        s"seed ${42L + i}: rows=$rows")
    }
  }
}
