package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.ZoneMap

class ZoneMapSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Range-clustered fixture: 3 files with disjoint id ranges, plus one
    * file whose stat column is entirely NULL (unprunable). */
  private lazy val dir: String = {
    val d = graft.sources.Scratch.dir("graft-zonemap").toString
    (1 to 30).map(i => (i.toLong, Some(i.toLong * 10), s"p$i")).toDF("id", "x", "payload")
      .repartitionByRange(3, col("id"))
      .write.mode("overwrite").parquet(d)
    Seq((100L, None: Option[Long], "pnull"), (101L, None, "pnull2"))
      .toDF("id", "x", "payload")
      .coalesce(1).write.mode("append").parquet(d)
    d
  }

  test("build: one row per file, bounds match a per-file ground-truth read") {
    val zm = ZoneMap.build(spark, dir, Seq("x")).collect()
    assert(zm.length == 4)
    zm.foreach { r =>
      val f = r.getAs[String]("file")
      val truth = spark.read.parquet(f)
        .agg(count(lit(1)), min("x"), max("x")).collect().head
      assert(r.getAs[Long]("rows") == truth.getLong(0))
      assert(r.getAs[Any]("x_min") == truth.get(1))
      assert(r.getAs[Any]("x_max") == truth.get(2))
    }
  }

  test("prunedFiles: range intersection keeps only overlapping files + NULL-bound files") {
    val zm = ZoneMap.build(spark, dir, Seq("x"))
    val all = zm.count()
    assert(all == 4)
    // x in [10, 300]: the all-NULL file must survive (no evidence), the
    // fully-out-of-range files must not
    val mid = ZoneMap.prunedFiles(zm, "x", 10L, 100L)
    assert(mid.size < all && mid.nonEmpty)
    // a range covering nothing prunes every file with bounds, keeps NULL
    val none = ZoneMap.prunedFiles(zm, "x", 100000L, 200000L)
    assert(none.size == 1) // only the NULL-bound file survives
  }

  test("prunedScan: identical rows to the full filter, with files actually skipped") {
    val zm = ZoneMap.build(spark, dir, Seq("x"))
    val (df, total, read) = ZoneMap.prunedScan(spark, dir, zm, "x", 50L, 120L)
    val got = df.select("id", "x").orderBy("id").collect().toSeq
    val want = spark.read.parquet(dir)
      .where(col("x").between(50L, 120L))
      .select("id", "x").orderBy("id").collect().toSeq
    assert(got == want)
    assert(read < total, s"pruning must engage: read $read of $total")
    assert(got.nonEmpty)
  }

  test("prunedScan: all files pruned short-circuits to an empty frame, schema intact") {
    val zm = ZoneMap.build(spark, dir, Seq("id")) // id has no NULL file
    val (df, total, read) = ZoneMap.prunedScan(spark, dir, zm, "id",
      100000L, 200000L)
    assert(read == 0 && total == 4)
    assert(df.count() == 0)
    assert(df.columns.toSeq == Seq("id", "x", "payload"))
  }

  test("update: appended files merge to exactly the full rebuild; no-op when nothing is new") {
    val d = graft.sources.Scratch.dir("graft-zonemap-inc")
      .toString
    (1 to 10).map(i => (i.toLong, i.toLong * 10)).toDF("id", "x")
      .repartitionByRange(2, col("id"))
      .write.mode("overwrite").parquet(d)
    val zm0 = ZoneMap.build(spark, d, Seq("x"))
    // no-op: nothing new → the same frame comes back
    assert(ZoneMap.update(spark, d, zm0, Seq("x")).collect().toSet
      == zm0.collect().toSet)
    // append a new range and update — only the fresh file is scanned,
    // and the merged map must equal a full rebuild
    (11 to 15).map(i => (i.toLong, i.toLong * 10)).toDF("id", "x")
      .coalesce(1).write.mode("append").parquet(d)
    val zm1 = ZoneMap.update(spark, d, zm0, Seq("x"))
    val full = ZoneMap.build(spark, d, Seq("x"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[String]("file"),
        r.getAs[Long]("rows"), r.getAs[Any]("x_min"),
        r.getAs[Any]("x_max"))).toSet
    assert(canon(zm1) == canon(full))
    assert(zm1.count() == zm0.count() + 1)
    // the updated map prunes end-to-end like a fresh one
    val (df, total, read) = ZoneMap.prunedScan(spark, d, zm1, "x",
      110L, 150L)
    assert(df.select("id").collect().map(_.getLong(0)).sorted.toSeq
      == (11L to 15L))
    assert(read < total)
  }

  test("update: partitioned dt=… layout merges correctly (recursive listing)") {
    // build() reads via spark.read.parquet, which descends into Hive-style
    // partition directories — update()'s listing must descend the same way,
    // or every known file looks 'gone' / fresh appends go unseen (the
    // r18 fail-silent path: a non-recursive listing saw zero files and
    // returned the stale map unchanged)
    val d = graft.sources.Scratch.dir("graft-zonemap-part")
      .toString
    (1 to 10).map(i => (i.toLong, i.toLong * 10, s"d${i % 2}"))
      .toDF("id", "x", "dt")
      .write.mode("overwrite").partitionBy("dt").parquet(d)
    val zm0 = ZoneMap.build(spark, d, Seq("x"))
    assert(zm0.count() >= 2) // at least one file per partition dir
    // no-op first: all known files must be FOUND (not reported gone)
    assert(ZoneMap.update(spark, d, zm0, Seq("x")).collect().toSet
      == zm0.collect().toSet)
    // append into a NEW partition directory; update must pick it up
    Seq((11L, 110L, "d9"), (12L, 120L, "d9")).toDF("id", "x", "dt")
      .coalesce(1).write.mode("append").partitionBy("dt").parquet(d)
    val zm1 = ZoneMap.update(spark, d, zm0, Seq("x"))
    val full = ZoneMap.build(spark, d, Seq("x"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[String]("file"),
        r.getAs[Long]("rows"), r.getAs[Any]("x_min"),
        r.getAs[Any]("x_max"))).toSet
    assert(canon(zm1) == canon(full))
    assert(zm1.count() == zm0.count() + 1)
  }

  test("update: an empty/vanished layout refuses loudly instead of merging") {
    val d = graft.sources.Scratch.dir("graft-zonemap-empty")
      .toString
    (1 to 4).map(i => (i.toLong, i.toLong)).toDF("id", "x")
      .coalesce(1).write.mode("overwrite").parquet(d)
    val zm = ZoneMap.build(spark, d, Seq("x"))
    val zmRows = zm.collect()
    // delete every data file → the recursive listing is empty; update must
    // refuse before even reaching the gone-files check
    new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => assert(f.delete()))
    val frozen = spark.createDataFrame(
      spark.sparkContext.parallelize(zmRows.toIndexedSeq), zm.schema)
    val e = intercept[IllegalArgumentException] {
      ZoneMap.update(spark, d, frozen, Seq("x"))
    }
    assert(e.getMessage.contains("no parquet files"))
  }

  test("update: a map referencing vanished files refuses loudly") {
    val d = graft.sources.Scratch.dir("graft-zonemap-gone")
      .toString
    (1 to 6).map(i => (i.toLong, i.toLong)).toDF("id", "x")
      .repartitionByRange(2, col("id"))
      .write.mode("overwrite").parquet(d)
    val zm = ZoneMap.build(spark, d, Seq("x"))
    zm.count() // materialize stats before the file disappears
    val zmRows = zm.collect()
    val victim = new java.io.File(
      new java.net.URI(zmRows.head.getAs[String]("file")).getPath)
    assert(victim.delete())
    val frozen = spark.createDataFrame(
      spark.sparkContext.parallelize(zmRows.toIndexedSeq), zm.schema)
    val e = intercept[IllegalArgumentException] {
      ZoneMap.update(spark, d, frozen, Seq("x"))
    }
    assert(e.getMessage.contains("no longer"))
  }

  test("surviving files still filter exactly (zone pruning is conservative)") {
    val zm = ZoneMap.build(spark, dir, Seq("x"))
    // [55, 65] lands inside one file's [min,max] but matches one row
    val (df, _, read) = ZoneMap.prunedScan(spark, dir, zm, "x", 55L, 65L)
    assert(df.select("x").collect().map(_.getLong(0)).toSeq == Seq(60L))
    assert(read >= 1)
  }
}
