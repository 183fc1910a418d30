package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.TimestampNTZType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** `Tables.table` resolves a table's schema once per session: a repeat call
  * on unchanged files launches no job, a rewritten file is re-inferred, and
  * every call still yields a fresh relation. Each spec reads a copy of the
  * fixture in a temp dir, so the files can be rewritten. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Tag = "graft.TablesSpec"

  /** Jobs launched by `body` on this thread. A marker job after it flushes
    * the listener queue: events reach a listener in order, so once the
    * marker's start is seen, every earlier job start has been counted. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val marker = new CountDownLatch(1)
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Tag)).orNull match {
          case "body" => jobs += 1
          case "marker" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, "body")
      val a = try body finally sc.setLocalProperty(Tag, "marker")
      try spark.range(1).collect() finally sc.setLocalProperty(Tag, null)
      assert(marker.await(30, TimeUnit.SECONDS), "marker job never reached the listener")
      (a, jobs)
    } finally sc.removeSparkListener(listener)
  }

  private def fixtureCopy(names: String*): Path = {
    val dir = graft.sources.Scratch.dir("tables")
    names.foreach(n => Files.copy(Paths.get(TestSpark.sf0001, s"$n.parquet"),
      dir.resolve(s"$n.parquet")))
    dir
  }

  test("a fresh session infers once; a repeat call on unchanged files launches no job") {
    val dir = fixtureCopy("orders").toString
    val s = spark.newSession()
    val (first, inferJobs) = jobsOf(Tables.table(s, dir, "orders"))
    assert(inferJobs == 1)
    val (again, memoJobs) = jobsOf(Tables.table(s, dir, "orders"))
    assert(memoJobs == 0)
    assert(again.schema == first.schema)
    assert(again.orderBy("o_orderkey").collect().sameElements(
      first.orderBy("o_orderkey").collect()))
    // another session does not see this one's schemas
    assert(jobsOf(Tables.table(spark.newSession(), dir, "orders"))._2 == 1)
  }

  test("a rewritten file is re-inferred: new schema and new rows") {
    val dir = fixtureCopy("region")
    val s = spark.newSession()
    assert(Tables.table(s, dir.toString, "region").count() == 5)
    val staged = graft.sources.Scratch.dir("tables-rewrite").resolve("r")
    s.range(3).selectExpr("id AS r_regionkey", "'x' AS r_name", "id * 10 AS r_extra")
      .coalesce(1).write.parquet(staged.toString)
    val part = Files.list(staged).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get
    Files.copy(part, dir.resolve("region.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val (df, jobs) = jobsOf(Tables.table(s, dir.toString, "region"))
    assert(jobs == 1)
    assert(df.columns.toSeq == Seq("r_regionkey", "r_name", "r_extra"))
    assert(df.orderBy("r_regionkey").collect().map(_.getLong(2)).toSeq == Seq(0L, 10L, 20L))
  }

  test("two calls on one table self-join like the SQL spelling (fresh attribute ids)") {
    val dir = fixtureCopy("orders").toString
    val s = spark.newSession()
    Tables.table(s, dir, "orders")
    val (a, jobs) = jobsOf(Tables.table(s, dir, "orders"))
    assert(jobs == 0)
    val b = Tables.table(s, dir, "orders")
    val viaDf = a.join(b, a("o_custkey") === b("o_custkey")).count()
    Tables.register(s, dir, Seq("orders"))
    val viaSql = s.sql(
      "SELECT COUNT(*) FROM orders x JOIN orders y ON x.o_custkey = y.o_custkey")
      .head().getLong(0)
    assert(viaDf == viaSql)
    assert(viaDf > a.count() && viaDf < a.count() * a.count())
  }

  test("events.ts is TIMESTAMP_NTZ on the memoized path too") {
    val dir = fixtureCopy("events").toString
    val s = spark.newSession()
    val first = Tables.table(s, dir, "events")
    val (again, jobs) = jobsOf(Tables.table(s, dir, "events"))
    assert(jobs == 0)
    assert(again.schema("ts").dataType == TimestampNTZType)
    assert(again.orderBy("event_id").collect().sameElements(
      first.orderBy("event_id").collect()))
  }

  test("viaSql's view set is the fixture tables named as whole words") {
    assert(Tables.referencedIn("SELECT * FROM Events WHERE user_id < 50") == Seq("events"))
    assert(Tables.referencedIn(
      "SELECT c_custkey FROM customer WHERE c_custkey IN (SELECT o_custkey FROM ORDERS)") ==
      Seq("customer", "orders"))
    assert(Tables.referencedIn("SELECT date_part('year', x), partition_id FROM t").isEmpty)
  }
}
