package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStreams

class StreamingCusumSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Hand series split 2/2/2 across three ordered micro-batches. */
  private def replay(xs: Seq[Double], target: Double, k: Double, h: Double,
                     batchSize: Int = 2): Seq[(Long, Double, Double, Boolean, Boolean)] = {
    val dir = graft.sources.Scratch.dir("graft-scusum")
    val ingest = dir.resolve("in").toString
    val rows = xs.zipWithIndex.map { case (x, i) =>
      ("a", i.toLong, x, target, k, h)
    }
    rows.grouped(batchSize).zipWithIndex.foreach { case (chunk, i) =>
      chunk.toDF("key", "ord", "value", "target", "allow", "thresh")
        .coalesce(1).write.mode(if (i == 0) "overwrite" else "append")
        .parquet(ingest)
    }
    val stream = spark.readStream
      .schema("key STRING, ord LONG, value DOUBLE, target DOUBLE, " +
        "allow DOUBLE, thresh DOUBLE")
      .option("maxFilesPerTrigger", 1).parquet(ingest)
    val name = s"scusum${xs.hashCode.abs}"
    val q = EventStreams.cusumMonitor(spark, stream)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).orderBy("ord")
      .collect()
      .map(r => (r.getAs[Long]("ord"), r.getAs[Double]("cusum_up"),
        r.getAs[Double]("cusum_dn"), r.getAs[Boolean]("alarm_up"),
        r.getAs[Boolean]("alarm_dn")))
      .toSeq
  }

  test("streaming statistics are bit-identical to the batch closed form") {
    val xs = (1 to 12).map(i => ((i * 2654435761L) % 21).toDouble)
    val got = replay(xs, target = 10, k = 1, h = 5)
    val batch = graft.operators.ChangePoint.cusum(
        xs.zipWithIndex.map { case (x, i) => ("a", i.toLong, x) }
          .toDF("key", "ord", "value"),
        "key", "ord", "value", lit(10.0), lit(1.0), lit(5.0))
      .orderBy("ord")
      .collect()
      .map(r => (r.getAs[Long]("ord"), r.getAs[Double]("cusum_up"),
        r.getAs[Double]("cusum_dn"), r.getAs[Boolean]("alarm_up"),
        r.getAs[Boolean]("alarm_dn")))
      .toSeq
    assert(got == batch)
  }

  test("alarms fire mid-stream exactly where the hand recursion says") {
    // the ChangePointSpec hand series: up-alarms at i=3,4, down at i=5
    val got = replay(Seq(10, 10, 14, 14, 10, 2), 10, 1, 3)
    assert(got.map(_._4) == Seq(false, false, false, true, true, false))
    assert(got.map(_._5) == Seq(false, false, false, false, false, true))
  }

  test("state carries across batch boundaries (one point per micro-batch)") {
    // batchSize 1: every transition crosses the state store
    val got = replay(Seq(12, 12, 12), target = 10, k = 0, h = 100,
      batchSize = 1)
    assert(got.map(_._2) == Seq(2.0, 4.0, 6.0))
  }

  test("out-of-order delivery across batches fails loudly") {
    val dir = graft.sources.Scratch.dir("graft-scusum-ooo")
    val ingest = dir.resolve("in").toString
    Seq(("a", 5L, 1.0, 0.0, 0.0, 9.0)).toDF("key", "ord", "value",
      "target", "allow", "thresh")
      .coalesce(1).write.mode("overwrite").parquet(ingest)
    Seq(("a", 3L, 1.0, 0.0, 0.0, 9.0)).toDF("key", "ord", "value",
      "target", "allow", "thresh")
      .coalesce(1).write.mode("append").parquet(ingest)
    val stream = spark.readStream
      .schema("key STRING, ord LONG, value DOUBLE, target DOUBLE, " +
        "allow DOUBLE, thresh DOUBLE")
      .option("maxFilesPerTrigger", 1).parquet(ingest)
    val q = EventStreams.cusumMonitor(spark, stream)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("scusumooo").start()
    val e = intercept[Exception] {
      try q.processAllAvailable() finally q.stop()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("out-of-order")))
  }
}
