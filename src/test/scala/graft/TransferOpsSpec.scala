package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators._
import graft.sources.CsvDialect
import java.nio.file.Files

/** E1/E2 behavior specs — the direct analog of the reference's operator tests
  * (`/root/reference/tests/test_operators.py`): header toggle, gzip, column
  * mapping + header skip, truncate mode, missing input, row counts,
  * identifier quoting, semicolon strip. */
class TransferOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(name: String) =
    Files.createTempDirectory("xfer").resolve(name).toString

  test("QueryToCsv: header, row count, exact path (test_operators.py:76-87)") {
    graft.sources.Tables.registerAll(spark, TestSpark.sf0001)
    val out = tmp("regions.csv")
    val r = QueryToCsv.run(spark,
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey;", out)
    assert(r.rowCount == 5 && r.csvFilePath == out)
    val lines = Files.readAllLines(java.nio.file.Paths.get(out))
    assert(lines.get(0) == "r_regionkey,r_name" && lines.size == 6)
  }

  test("QueryToCsv: has_header=false omits header (test_operators.py:147-163)") {
    graft.sources.Tables.registerAll(spark, TestSpark.sf0001)
    val out = tmp("noheader.csv")
    QueryToCsv.run(spark, "SELECT r_regionkey FROM region ORDER BY 1", out,
      hasHeader = false)
    val first = Files.readAllLines(java.nio.file.Paths.get(out)).get(0)
    assert(first == "0")
  }

  test("QueryToCsv: gzip export readable (test_operators.py:89-102)") {
    graft.sources.Tables.registerAll(spark, TestSpark.sf0001)
    val out = tmp("r.csv.gz")
    val r = QueryToCsv.run(spark, "SELECT r_name FROM region ORDER BY r_name", out,
      compression = Some("gzip"))
    assert(r.rowCount == 5)
    val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(out))
    assert(new String(in.readAllBytes(), "UTF-8").startsWith("r_name\n"))
  }

  test("QueryToCsv: named parameters bind (operators.py:77)") {
    graft.sources.Tables.registerAll(spark, TestSpark.sf0001)
    val out = tmp("params.csv")
    val r = QueryToCsv.run(spark,
      "SELECT o_orderkey FROM orders WHERE o_totalprice > :p ORDER BY 1",
      out, parameters = Map("p" -> 400000))
    assert(r.rowCount > 0 && r.rowCount < 1500)
  }

  test("CsvToTable: catalog append + truncate + row count (test_operators.py:165-180)") {
    spark.sql("DROP TABLE IF EXISTS xfer_target")
    spark.sql("CREATE TABLE xfer_target (id INT, name STRING) USING parquet")
    val csv = tmp("in.csv")
    Files.writeString(java.nio.file.Paths.get(csv), "id,name\n1,alpha\n2,beta\n")
    assert(CsvToTable.run(spark, "xfer_target", csv) == 2)
    assert(spark.table("xfer_target").count() == 2)
    assert(CsvToTable.run(spark, "xfer_target", csv) == 2) // append
    assert(spark.table("xfer_target").count() == 4)
    assert(CsvToTable.run(spark, "xfer_target", csv, truncate = true) == 2)
    assert(spark.table("xfer_target").count() == 2) // truncated then loaded
  }

  test("CsvToTable: row count observed on the write pass — CSV scanned once") {
    spark.sql("DROP TABLE IF EXISTS xfer_onejob")
    spark.sql("CREATE TABLE xfer_onejob (id INT, name STRING) USING parquet")
    val csv = tmp("once.csv")
    Files.writeString(java.nio.file.Paths.get(csv), "id,name\n1,a\n2,b\n")
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        actions.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(CsvToTable.run(spark, "xfer_onejob", csv) == 2)
      // listener events are delivered asynchronously. Two phases, both
      // load-tolerant: (1) wait until the FIRST event lands (under a loaded
      // window delivery can lag well past a single poll interval — exiting
      // on "stable at 0" was the r15 737/738 flake); (2) then wait for the
      // count to settle so a second, unexpected action is still caught.
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline && actions.get() == 0)
        Thread.sleep(100)
      var last = -1
      while (System.nanoTime() < deadline && actions.get() != last) {
        last = actions.get(); Thread.sleep(300)
      }
      // exactly ONE tracked action (the insertInto write) — the pre-fix shape
      // was two (a count() scan, then the write re-reading the CSV)
      assert(actions.get() == 1, s"expected 1 action per load, saw ${actions.get()}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("CsvToTable: explicit columns map positionally, header skipped (test_operators.py:148-157)") {
    spark.sql("DROP TABLE IF EXISTS xfer_cols")
    spark.sql("CREATE TABLE xfer_cols (name STRING, id INT, extra STRING) USING parquet")
    val csv = tmp("cols.csv")
    // file header names DON'T match the mapping — must be ignored positionally
    Files.writeString(java.nio.file.Paths.get(csv), "h1,h2\nalpha,1\nbeta,2\n")
    assert(CsvToTable.run(spark, "xfer_cols", csv,
      columns = Some(Seq("name", "id"))) == 2)
    val rows = spark.table("xfer_cols").orderBy("id").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("alpha", "beta"))
    assert(rows.forall(_.isNullAt(2))) // unmapped column NULL-filled
  }

  test("CsvToTable: headerless positional load") {
    spark.sql("DROP TABLE IF EXISTS xfer_pos")
    spark.sql("CREATE TABLE xfer_pos (id INT, name STRING) USING parquet")
    val csv = tmp("pos.csv")
    Files.writeString(java.nio.file.Paths.get(csv), "7,seven\n8,eight\n")
    assert(CsvToTable.run(spark, "xfer_pos", csv,
      dialect = CsvDialect(hasHeader = false)) == 2)
    assert(spark.table("xfer_pos").where("id = 7").count() == 1)
  }

  test("CsvToTable: header names ignored, mapped positionally (operators.py:180-181)") {
    spark.sql("DROP TABLE IF EXISTS xfer_hdr")
    spark.sql("CREATE TABLE xfer_hdr (id INT, name STRING) USING parquet")
    val csv = tmp("hdr.csv")
    // header names do NOT match the table — COPY ignores them; values load
    Files.writeString(java.nio.file.Paths.get(csv), "colA,colB\n3,tres\n")
    assert(CsvToTable.run(spark, "xfer_hdr", csv) == 1)
    val row = spark.table("xfer_hdr").head()
    assert(row.getInt(0) == 3 && row.getString(1) == "tres")
  }

  test("QueryToCsv → CsvToTable round trip keeps timestamp microseconds (COPY precision)") {
    val out = tmp("ts.csv")
    val sql = "SELECT 1 AS id, TIMESTAMP_NTZ'2024-03-05 06:07:08.123456' AS ntz, " +
      "TIMESTAMP'2024-03-05 06:07:08.654321' AS ts"
    assert(QueryToCsv.run(spark, sql, out).rowCount == 1)
    spark.sql("DROP TABLE IF EXISTS xfer_ts")
    spark.sql("CREATE TABLE xfer_ts (id INT, ntz TIMESTAMP_NTZ, ts TIMESTAMP) USING parquet")
    assert(CsvToTable.run(spark, "xfer_ts", out) == 1)
    assert(spark.table("xfer_ts").collect().toSeq == spark.sql(sql).collect().toSeq)
  }

  test("CsvToTable: field-count mismatch raises, never NULL-fills (COPY semantics)") {
    spark.sql("DROP TABLE IF EXISTS xfer_mismatch")
    spark.sql("CREATE TABLE xfer_mismatch (id INT, name STRING, extra STRING) USING parquet")
    val csv = tmp("mismatch.csv")
    Files.writeString(java.nio.file.Paths.get(csv), "id,name\n1,uno\n")
    intercept[GraftException] { CsvToTable.run(spark, "xfer_mismatch", csv) }
    assert(spark.table("xfer_mismatch").count() == 0)
  }

  test("CsvToTable: missing file raises (test_operators.py:106-114)") {
    intercept[MissingInputException] {
      CsvToTable.run(spark, "xfer_target", "/nonexistent/file.csv")
    }
  }

  test("CsvToTable: gzip import (test_operators.py:182-196)") {
    spark.sql("DROP TABLE IF EXISTS xfer_gz")
    spark.sql("CREATE TABLE xfer_gz (id INT, name STRING) USING parquet")
    val csv = tmp("in.csv.gz")
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(csv))
    out.write("id,name\n5,five\n".getBytes("UTF-8")); out.close()
    assert(CsvToTable.run(spark, "xfer_gz", csv) == 1)
    assert(spark.table("xfer_gz").head().getInt(0) == 5)
  }

  test("CsvToTable: compression flag decompresses a gzipped file named .csv (operators.py:210-212)") {
    spark.sql("DROP TABLE IF EXISTS xfer_gzflag")
    spark.sql("CREATE TABLE xfer_gzflag (id INT, name STRING) USING parquet")
    // gzipped bytes but NO .gz extension — the reference keys on the flag,
    // not the filename; extension inference alone would load garbage
    val csv = tmp("flagged.csv")
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(csv))
    out.write("id,name\n7,seven\n".getBytes("UTF-8")); out.close()
    assert(CsvToTable.run(spark, "xfer_gzflag", csv,
      dialect = CsvDialect(compression = Some("gzip")), truncate = true) == 1)
    assert(spark.table("xfer_gzflag").head().getInt(0) == 7)
  }

  test("CsvToTable: JDBC sink round-trip with truncate (Derby in-memory)") {
    val url = "jdbc:derby:memory:graftdb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val conn = java.sql.DriverManager.getConnection(url)
    // quoted DDL: Derby folds unquoted names to uppercase, and our E9 quoting
    // (like the reference's) preserves the given case
    // CLOB, not VARCHAR: Spark's Derby dialect maps StringType → CLOB and
    // Derby refuses implicit CLOB→VARCHAR conversion on insert
    conn.createStatement().execute("CREATE TABLE \"jtarget\" (id INT, name CLOB)")
    conn.close()
    val csv = tmp("jdbc.csv")
    Files.writeString(java.nio.file.Paths.get(csv), "id,name\n1,uno\n2,dos\n")
    assert(CsvToTable.toJdbc(spark, url, "jtarget", csv,
      connectionProperties = props) == 2)
    assert(CsvToTable.toJdbc(spark, url, "jtarget", csv,
      connectionProperties = props, truncate = true) == 2)
    val df = spark.read.jdbc(url, "\"jtarget\"", props)
    assert(df.count() == 2) // truncate replaced, not appended
  }

  test("QueryToCsv.fromJdbc: query pushdown to the source DB → single CSV (operators.py:80)") {
    val url = "jdbc:derby:memory:graftsrc;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute("CREATE TABLE \"src\" (id INT, v INT)")
    val st = conn.createStatement()
    (1 to 20).foreach(i => st.execute(s"INSERT INTO \"src\" VALUES ($i, ${i * 10})"))
    conn.close()
    val out = tmp("jdbc_export.csv")
    // arbitrary SQL — aggregation runs INSIDE Derby (query pushdown)
    val r = QueryToCsv.fromJdbc(spark, url,
      "SELECT COUNT(*) AS n, SUM(v) AS sv FROM \"src\";", out,
      connectionProperties = props)
    assert(r.rowCount == 1)
    val lines = Files.readAllLines(java.nio.file.Paths.get(out))
    assert(lines.get(0).equalsIgnoreCase("n,sv") && lines.get(1) == "20,2100")
  }

  test("TimeoutGuard: expired timeout cancels the job group and raises (operators.py:76)") {
    import spark.implicits._
    // margin rationale (r15 deflake): the task sleep is the ONLY wall-clock
    // budget the watchdog has to land its cancel — 15s vs an 800ms deadline
    // leaves >14s of slack for a loaded window's timer/scheduler lag, and
    // the interrupt-on-cancel means the happy path still exits in ~1s.
    val slow = spark.range(0, 64, 1, 8).mapPartitions { it =>
      Thread.sleep(15000); it
    }
    intercept[GraftTimeoutException] {
      TimeoutGuard.runMillis(spark, timeoutMs = 800) { slow.count() }
    }
  }

  test("TimeoutGuard: deadline between jobs of a multi-job body still times out") {
    import spark.implicits._
    // job 1 finishes before the deadline; job 2 starts after it fired — the
    // re-cancel loop must catch it (previously it ran to completion
    // uncancelled). Load-tolerant by construction: if a loaded window makes
    // job 1 itself outlive the 600ms deadline, the guard cancels IT and the
    // expected GraftTimeoutException still surfaces; the 15s task sleep
    // gives the 100ms re-cancel loop >14s of slack to land on job 2.
    val quick = spark.range(0, 4, 1, 2)
    val slow = spark.range(0, 64, 1, 8).mapPartitions { it => Thread.sleep(15000); it }
    intercept[GraftTimeoutException] {
      TimeoutGuard.runMillis(spark, timeoutMs = 600) {
        quick.count()
        Thread.sleep(900) // driver-side gap spanning the deadline
        slow.count()
      }
    }
  }

  test("TimeoutGuard: fast work inside the deadline passes through") {
    assert(TimeoutGuard.run(spark, timeoutMinutes = 60) { 1 + 1 } == 2)
  }

  test("compression flag on an empty directory or missing path fails loudly, never loads garbage") {
    val dir = Files.createTempDirectory("gzdir").toString
    intercept[GraftException] {
      graft.sources.PgCsv.read(spark, dir,
        CsvDialect(compression = Some("gzip")))
    }
    intercept[GraftException] {
      graft.sources.PgCsv.read(spark, dir + "/nonexistent.csv",
        CsvDialect(compression = Some("gzip")))
    }
  }

  test("compression flag on a directory of .csv.gz parts round-trips (E8 dir contract)") {
    val dir = Files.createTempDirectory("gzparts").toString
    for (i <- 0 until 3) {
      val out = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(s"$dir/part-0000$i.csv.gz"))
      out.write(s"${i * 2}\n${i * 2 + 1}\n".getBytes("UTF-8")); out.close()
    }
    // hidden files must be ignored, not parsed
    Files.writeString(java.nio.file.Paths.get(s"$dir/_SUCCESS"), "")
    val df = graft.sources.PgCsv.read(spark, dir,
      CsvDialect(hasHeader = false, compression = Some("gzip")))
    assert(df.collect().map(_.getString(0).toInt).sorted.toSeq == (0 until 6))
  }

  test("compression flag decompresses a directory of EXTENSION-LESS gzipped parts (operators.py:210-212)") {
    // the reference keys decompression on the flag, not the filename — a
    // directory of gzipped parts named plain .csv must decompress via the
    // same symlink mapping as the single-file path, never parse as text
    val dir = Files.createTempDirectory("gzflagdir").toString
    for (i <- 0 until 3) {
      val out = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(s"$dir/part-0000$i.csv"))
      out.write(s"${i * 2}\n${i * 2 + 1}\n".getBytes("UTF-8")); out.close()
    }
    val df = graft.sources.PgCsv.read(spark, dir,
      CsvDialect(hasHeader = false, compression = Some("gzip")))
    val got = df.collect().map(_.getString(0))
    // loud proof no gzip header bytes leaked through as "text rows"
    assert(got.forall(s => s != null && s.forall(_.isDigit)), got.mkString("|"))
    assert(got.map(_.toInt).sorted.toSeq == (0 until 6))
  }

  test("compression flag recurses into partitioned (nested) directory layouts") {
    val dir = Files.createTempDirectory("gznest").toString
    new java.io.File(s"$dir/lang=en").mkdirs()
    new java.io.File(s"$dir/lang=de").mkdirs()
    new java.io.File(s"$dir/.hiddendir").mkdirs()
    def gz(path: String, body: String): Unit = {
      val o = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(path))
      o.write(body.getBytes("UTF-8")); o.close()
    }
    gz(s"$dir/lang=en/part-0.csv", "1\n")      // extension-less gzipped
    gz(s"$dir/lang=de/part-0.csv.gz", "2\n")   // extension carried
    gz(s"$dir/.hiddendir/part-0.csv", "99\n")  // hidden subtree → ignored
    Files.writeString(java.nio.file.Paths.get(s"$dir/_SUCCESS"), "")
    val got = graft.sources.PgCsv.read(spark, dir,
        CsvDialect(hasHeader = false, compression = Some("gzip")))
      .collect().map(_.getString(0).toInt).sorted.toSeq
    assert(got == Seq(1, 2), s"nested parts must decompress, hidden ignored: $got")
  }

  test("compression flag glob expansion skips hidden files (_SUCCESS, .crc)") {
    val dir = Files.createTempDirectory("gzhidden").toString
    val o = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/part-0.csv"))
    o.write("5\n".getBytes("UTF-8")); o.close()
    Files.writeString(java.nio.file.Paths.get(s"$dir/_SUCCESS"), "")
    Files.writeString(java.nio.file.Paths.get(s"$dir/.part-0.csv.crc"), "junk")
    val got = graft.sources.PgCsv.read(spark, s"$dir/*",
        CsvDialect(hasHeader = false, compression = Some("gzip")))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("5"), s"hidden glob matches must not be parsed: $got")
  }

  test("compression flag on a glob of extension-less gzipped parts decompresses each match") {
    val dir = Files.createTempDirectory("gzglob").toString
    for (i <- 0 until 2) {
      val out = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(s"$dir/chunk-$i.csv"))
      out.write(s"$i\n".getBytes("UTF-8")); out.close()
    }
    val df = graft.sources.PgCsv.read(spark, s"$dir/chunk-*.csv",
      CsvDialect(hasHeader = false, compression = Some("gzip")))
    assert(df.collect().map(_.getString(0).toInt).sorted.toSeq == Seq(0, 1))
    intercept[GraftException] {
      graft.sources.PgCsv.read(spark, s"$dir/nomatch-*.csv",
        CsvDialect(compression = Some("gzip")))
    }
  }

  test("TimeoutGuard: nested guard keeps its own timeout attribution") {
    // outer deadline fires during the body; the body's own (inner) timeout
    // must surface with ITS minutes, not be re-labeled by the outer guard
    val e = intercept[GraftTimeoutException] {
      TimeoutGuard.runMillis(spark, timeoutMs = 50, reportedMinutes = 60) {
        Thread.sleep(200)
        throw new GraftTimeoutException(7)
      }
    }
    assert(e.getMessage.contains("7 minutes"), e.getMessage)
  }

  test("TimeoutGuard: body that completes despite the deadline succeeds (statement_timeout parity)") {
    // no Spark jobs → nothing for the cancel to interrupt; the work commits,
    // so reporting a timeout would tell callers to retry an applied load
    val out = TimeoutGuard.runMillis(spark, timeoutMs = 100) {
      Thread.sleep(400); "committed"
    }
    assert(out == "committed")
  }

  test("Identifiers: per-part quoting with embedded quotes (operators.py:194-208)") {
    assert(Identifiers.quoteQualified("myschema.mytable") == "\"myschema\".\"mytable\"")
    assert(Identifiers.quote("we\"ird") == "\"we\"\"ird\"")
    assert(Identifiers.columnList(Seq("a", "b")) == "(\"a\", \"b\")")
  }

  test("SqlRunner: trailing semicolon + whitespace stripped (test_operators.py:64-74)") {
    assert(graft.sql.SqlRunner.normalize("  SELECT 1 ;  ") == "SELECT 1")
    assert(graft.sql.SqlRunner.normalize("SELECT 1") == "SELECT 1")
  }
}
