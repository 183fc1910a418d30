package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStreams
import java.nio.file.Files

/** Streaming layer specs: file-source micro-batches driven synchronously
  * (`processAllAvailable`), results asserted against the equivalent batch
  * query — streaming/batch parity is the core Structured Streaming promise. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Events split across 3 parquet files → 3 micro-batches at
    * maxFilesPerTrigger=1. */
  private lazy val streamDir: String = {
    val dir = graft.sources.Scratch.dir("events-stream").toString
    val ev = graft.sources.Tables.table(spark, TestSpark.sf0001, "events")
    ev.repartitionByRange(3, col("event_id")).write.mode("overwrite").parquet(dir)
    dir
  }

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
                          mode: OutputMode = OutputMode.Append()): Unit = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
  }

  test("tumbling window counts match the batch Q32 aggregation") {
    runToMemory(EventStreams.tumblingCounts(
      EventStreams.readEvents(spark, streamDir)), "tumbling",
      OutputMode.Complete())
    val streamed = spark.table("tumbling")
      .select(col("h"), col("event_type"), col("n"))
      .orderBy("h", "event_type").collect().toSeq
    val batch = graft.sources.Tables.table(spark, TestSpark.sf0001, "events")
      .groupBy(date_trunc("HOUR", col("ts").cast("timestamp")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("h", "event_type").collect().toSeq
    assert(streamed == batch)
  }

  test("session windows merge activity bursts per user") {
    runToMemory(EventStreams.userSessions(
      EventStreams.readEvents(spark, streamDir), gap = "30 minutes"),
      "sessions", OutputMode.Complete())
    val s = spark.table("sessions")
    assert(s.count() > 0)
    // session invariants: start <= end, n_events >= 1, no overlapping
    // sessions per user
    assert(s.where(col("session_start") > col("session_end")).count() == 0)
    assert(s.where(col("n_events") < 1).count() == 0)
    val x = s.select(col("user_id"), col("session_start").as("a_start"),
      col("session_end").as("a_end"))
    val y = s.select(col("user_id").as("uid2"), col("session_start").as("b_start"))
    val overlaps = x.join(y, col("user_id") === col("uid2") &&
      col("a_start") < col("b_start") && col("b_start") < col("a_end")).count()
    assert(overlaps == 0)
  }

  test("stateful running totals accumulate across micro-batches") {
    implicit val s = spark
    runToMemory(EventStreams.runningUserTotals(spark,
      EventStreams.readEvents(spark, streamDir)).toDF(), "running",
      OutputMode.Update())
    // final state per user (last update) must equal the batch totals
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    val finalState = spark.table("running")
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select("user_id", "n_events").orderBy("user_id").collect().toSeq
    val batch = graft.sources.Tables.table(spark, TestSpark.sf0001, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
      .orderBy("user_id").collect().toSeq
    assert(finalState == batch)
  }

  test("foreachBatch sink lands micro-batches in a catalog table") {
    spark.sql("DROP TABLE IF EXISTS stream_sink")
    spark.sql("CREATE TABLE stream_sink (h TIMESTAMP, event_type STRING, n BIGINT, sv DOUBLE) USING parquet")
    val ckpt = graft.sources.Scratch.dir("ckpt").toString
    val q = EventStreams.writeToTable(
      EventStreams.tumblingCounts(EventStreams.readEvents(spark, streamDir)),
      "stream_sink", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    // append-mode windowed agg only emits windows closed by the watermark;
    // with a 10min watermark over 1000 events most hourly windows close
    assert(spark.table("stream_sink").count() > 0)
  }

  test("stream-static enrichment joins each micro-batch against the dim, left-preserving") {
    val dir = graft.sources.Scratch.dir("senrich").toString
    import spark.implicits._
    def write(rows: Seq[(Long, Long)]): Unit =
      rows.toDF("event_id", "user_id")
        .coalesce(1).write.mode("append").parquet(dir)
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    write(Seq((10L, 1L), (11L, 3L)))  // user 3 has no dim row
    val stream = spark.readStream.schema("event_id LONG, user_id LONG")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = EventStreams.enrichWithDim(stream, dim, Seq("user_id"))
      .select("event_id", "user_id", "tier")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("senrich").start()
    q.processAllAvailable()
    write(Seq((12L, 2L)))             // later batch re-plans the same dim
    q.processAllAvailable()
    q.stop()
    val got = spark.table("senrich").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) null else r.getString(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq((10L, "gold"), (11L, null), (12L, "basic")),
      s"each event exactly once, un-enrichable rows null-padded: $got")
    // inner drops the un-enrichable row instead
    val q2 = EventStreams.enrichWithDim(stream, dim, Seq("user_id"), "inner")
      .select("event_id")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("senrich_inner").start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.table("senrich_inner").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(10L, 12L))
    intercept[IllegalArgumentException] {
      EventStreams.enrichWithDim(stream, dim, Seq("user_id"), "full_outer")
    }
  }

  test("stream-static blocklist drops listed keys in every micro-batch, keeps the rest once") {
    val dir = graft.sources.Scratch.dir("sblock").toString
    import spark.implicits._
    def write(rows: Seq[(Long, Long)]): Unit =
      rows.toDF("event_id", "user_id")
        .coalesce(1).write.mode("append").parquet(dir)
    val block = Seq(Tuple1(7L)).toDF("user_id")
    write(Seq((1L, 7L), (2L, 8L)))
    val stream = spark.readStream.schema("event_id LONG, user_id LONG")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = EventStreams.excludeByDim(stream, block, Seq("user_id"))
      .select("event_id")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sblock").start()
    q.processAllAvailable()
    write(Seq((3L, 7L), (4L, 9L)))   // listed user recurs in a later batch
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sblock").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(2L, 4L),
      s"blocklisted rows absent in every batch, others exactly once: $got")
    intercept[IllegalArgumentException] {
      EventStreams.excludeByDim(stream, block, Nil)
    }
  }

  test("streaming dedup keeps first arrival per key across micro-batches") {
    val dir = graft.sources.Scratch.dir("sdedup").toString
    import spark.implicits._
    def write(rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("event_id", "ts_s", "user_id")
        .select(col("event_id"), col("ts_s").cast("timestamp_ntz").as("ts"),
          col("user_id"), lit("a").as("event_type"), lit(1.0).as("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("append").parquet(dir)
    // batch 1: ids 1,2; batch 2 re-delivers id 1 (within the watermark) + new id 3
    write(Seq((1L, "2024-01-01 08:00:00", 1L), (2L, "2024-01-01 08:01:00", 1L)))
    val q = EventStreams.dedupEvents(
        EventStreams.readEvents(spark, dir), Seq("event_id"))
      .select("event_id")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sdedup").start()
    q.processAllAvailable()
    write(Seq((1L, "2024-01-01 08:02:00", 1L), (3L, "2024-01-01 08:03:00", 1L)))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("sdedup").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"duplicate must be suppressed: $ids")
  }

  test("latestPerKey maintains the current row per key across micro-batches, out-of-order safe") {
    val dir = graft.sources.Scratch.dir("slatest").toString
    import spark.implicits._
    def write(rows: Seq[(Long, String, Long, Double)]): Unit =
      rows.toDF("event_id", "ts_s", "user_id", "value")
        .select(col("event_id"), col("ts_s").cast("timestamp_ntz").as("ts"),
          col("user_id"), lit("a").as("event_type"), col("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("append").parquet(dir)
    write(Seq((1L, "2024-01-01 08:00:00", 1L, 10.0),
      (2L, "2024-01-01 08:05:00", 2L, 20.0)))
    val q = EventStreams.latestPerKey(
        EventStreams.readEvents(spark, dir), Seq("user_id"), Seq("ts", "event_id"))
      .select("user_id", "event_id")
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("slatest").start()
    q.processAllAvailable()
    val mid = spark.table("slatest").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mid == Map(1L -> 1L, 2L -> 2L))
    // batch 2: user 1 gets a NEWER event (id 3); user 2 an out-of-order
    // OLDER one (id 4) that must NOT displace the stored id 2
    write(Seq((3L, "2024-01-01 09:00:00", 1L, 11.0),
      (4L, "2024-01-01 08:00:00", 2L, 19.0)))
    q.processAllAvailable()
    q.stop()
    val state = spark.table("slatest").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state == Map(1L -> 3L, 2L -> 2L))
    // parity: the streamed state table equals batch keepLatest over
    // everything ever delivered — same expressions, so by construction
    val batch = graft.operators.Dedup.keepLatest(
        spark.read.parquet(dir), Seq("user_id"), Seq("ts", "event_id"))
      .select("user_id", "event_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch == state)
  }

  test("Dedup.dedupeAgainst runs stream-static: arriving docs deduped against the kept corpus") {
    // The batch incremental-dedup operator works unchanged on a streaming new
    // side: the anti-join is stream-static (static seen keys, re-read per
    // micro-batch), so continuous ingest composes with cross-snapshot dedup
    // without a second implementation.
    val dir = graft.sources.Scratch.dir("sdagainst").toString
    import spark.implicits._
    val seen = Seq((1L, "kept text one"), (2L, "kept text two")).toDF("doc_id", "text")
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
    write(Seq((10L, "kept text one"), (11L, "novel text a")))
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(dir)
    val q = graft.operators.Dedup.dedupeAgainst(stream, seen, df => df("text"))
      .select("doc_id")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sdagainst").start()
    q.processAllAvailable()
    write(Seq((12L, "kept text two"), (13L, "novel text b")))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("sdagainst").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(11L, 13L),
      s"docs matching the kept corpus must be dropped in every micro-batch: $ids")
  }

  test("foreachBatch composes the batch fuzzy incremental dedup into streaming ingest") {
    // The LSH machinery (persist + localCheckpoint) is a batch shape;
    // foreachBatch is the supported bridge: each arriving micro-batch is
    // fuzzy-deduped against the static kept corpus with the SAME operator
    // the batch path uses — no second implementation, no semantic fork.
    val dir = graft.sources.Scratch.dir("sfuzzy").toString
    import spark.implicits._
    val seen = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"))
      .toDF("doc_id", "text")
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
    write(Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (11L, "completely different content with no overlap whatsoever here now")))
    // registering before start() is the SQL-text path; the operator itself
    // needs no registration (ExtensionsSpec runs it in a fresh session)
    graft.plans.HashExpressions.register(spark)
    val stream = spark.readStream.schema("doc_id LONG, text STRING").parquet(dir)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.Dedup.dedupeAgainstFuzzy(batch, seen, "doc_id", "text",
            minJaccard = 0.8)
          .write.mode("append").saveAsTable("sfuzzy_out")
      }
      .start()
    q.processAllAvailable()
    write(Seq((12L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu")))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("sfuzzy_out").select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    // 10 is an exact copy (j=1.0), 12 a one-token edit (j≈0.82) — both go
    assert(kept == Seq(11L), s"fuzzy dedup must apply per micro-batch: $kept")
    spark.sql("DROP TABLE IF EXISTS sfuzzy_out")
  }

  test("stream-stream interval join pairs events within the bound, across micro-batches") {
    import spark.implicits._
    val ldir = graft.sources.Scratch.dir("ssj-l").toString
    val rdir = graft.sources.Scratch.dir("ssj-r").toString
    def write(dir: String, rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("event_id", "ts_s", "user_id")
        .select(col("event_id"), col("ts_s").cast("timestamp_ntz").as("ts"),
          col("user_id"), lit("x").as("event_type"), lit(1.0).as("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("append").parquet(dir)
    // left: impressions at 08:00 (user 1) and 08:00 (user 2)
    write(ldir, Seq((1L, "2024-01-01 08:00:00", 1L), (2L, "2024-01-01 08:00:00", 2L)))
    // right batch 1: conversion for user 1 within 10 min
    write(rdir, Seq((101L, "2024-01-01 08:05:00", 1L)))
    val joined = EventStreams.intervalJoin(
      EventStreams.readEvents(spark, ldir), EventStreams.readEvents(spark, rdir),
      "user_id", maxDelay = "10 minutes")
    val q = joined.select("user_id", "l_id", "r_id")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ssj").start()
    q.processAllAvailable()
    // right batch 2, later micro-batch: user 2 converts too late (25 min),
    // user 1 converts again inside the bound
    write(rdir, Seq((102L, "2024-01-01 08:25:00", 2L), (103L, "2024-01-01 08:08:00", 1L)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssj").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 1L, 101L), (1L, 1L, 103L)),
      s"in-bound pairs join across micro-batches, the 25-min conversion must not: $got")
  }

  test("left-outer interval join: never-matched left row null-pads exactly once at watermark expiry") {
    import spark.implicits._
    val ldir = graft.sources.Scratch.dir("ssjlo-l").toString
    val rdir = graft.sources.Scratch.dir("ssjlo-r").toString
    def write(dir: String, rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("event_id", "ts_s", "user_id")
        .select(col("event_id"), col("ts_s").cast("timestamp_ntz").as("ts"),
          col("user_id"), lit("x").as("event_type"), lit(1.0).as("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("append").parquet(dir)
    // user 1 converts in-bound; user 2 NEVER converts — absence is the signal
    write(ldir, Seq((1L, "2024-01-01 08:00:00", 1L), (2L, "2024-01-01 08:00:00", 2L)))
    write(rdir, Seq((101L, "2024-01-01 08:05:00", 1L)))
    val joined = EventStreams.intervalJoin(
      EventStreams.readEvents(spark, ldir), EventStreams.readEvents(spark, rdir),
      "user_id", maxDelay = "10 minutes", joinType = "left_outer")
    val q = joined.select("user_id", "l_id", "r_id")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ssj_lo").start()
    try {
      q.processAllAvailable()
      // user 2's row must NOT have emitted yet: absence is only decidable
      // once the watermark passes l_ts + maxDelay
      val early = spark.table("ssj_lo").where(col("l_id") === 2L).count()
      assert(early == 0L, s"outer row emitted before the watermark sealed it: $early")
      // advance BOTH watermarks (the join watermark is their min) far past
      // 08:00 + 10 min delay + 10 min watermark; two advancing batches so
      // the sealed state actually drains
      write(ldir, Seq((3L, "2024-01-01 10:00:00", 9L)))
      write(rdir, Seq((103L, "2024-01-01 10:00:00", 9L)))
      q.processAllAvailable()
      write(ldir, Seq((4L, "2024-01-01 12:00:00", 9L)))
      write(rdir, Seq((104L, "2024-01-01 12:00:00", 9L)))
      q.processAllAvailable()
    } finally q.stop()
    val u2 = spark.table("ssj_lo").where(col("user_id") === 2L)
      .collect().map(r => (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(u2.toSeq == Seq((2L, -1L)),
      s"the unmatched left row must appear exactly once, null-padded: ${u2.toSeq}")
    val u1 = spark.table("ssj_lo").where(col("user_id") === 1L)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(u1.toSeq == Seq((1L, 101L)), s"matched pair must stay a plain pair: ${u1.toSeq}")
  }

  test("full-outer interval join: BOTH sides' never-matched rows null-pad exactly once") {
    import spark.implicits._
    val ldir = graft.sources.Scratch.dir("ssjfo-l").toString
    val rdir = graft.sources.Scratch.dir("ssjfo-r").toString
    def write(dir: String, rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("event_id", "ts_s", "user_id")
        .select(col("event_id"), col("ts_s").cast("timestamp_ntz").as("ts"),
          col("user_id"), lit("x").as("event_type"), lit(1.0).as("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("append").parquet(dir)
    // user 1 matched; user 2 views but never converts (unmatched LEFT);
    // user 3 converts with no view at all (unmatched RIGHT — the
    // attribution hole only full_outer surfaces)
    write(ldir, Seq((1L, "2024-01-01 08:00:00", 1L), (2L, "2024-01-01 08:00:00", 2L)))
    write(rdir, Seq((101L, "2024-01-01 08:05:00", 1L), (102L, "2024-01-01 08:05:00", 3L)))
    val joined = EventStreams.intervalJoin(
      EventStreams.readEvents(spark, ldir), EventStreams.readEvents(spark, rdir),
      "user_id", maxDelay = "10 minutes", joinType = "full_outer")
    val q = joined.select("user_id", "l_id", "r_id")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ssj_fo").start()
    try {
      q.processAllAvailable()
      assert(spark.table("ssj_fo").where(col("l_id").isNull ||
        col("r_id").isNull).count() == 0L,
        "outer rows must not emit before the watermark seals them")
      write(ldir, Seq((3L, "2024-01-01 10:00:00", 9L)))
      write(rdir, Seq((103L, "2024-01-01 10:00:00", 9L)))
      q.processAllAvailable()
      write(ldir, Seq((4L, "2024-01-01 12:00:00", 9L)))
      write(rdir, Seq((104L, "2024-01-01 12:00:00", 9L)))
      q.processAllAvailable()
    } finally q.stop()
    def rows(u: Long): Seq[(Long, Long)] =
      spark.table("ssj_fo").where(col("user_id") === u).collect().toSeq
        .map(r => (if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(rows(1L) == Seq((1L, 101L)), s"matched pair: ${rows(1L)}")
    assert(rows(2L) == Seq((2L, -1L)), s"unmatched left, once: ${rows(2L)}")
    assert(rows(3L) == Seq((-1L, 102L)),
      s"unmatched right must surface with its own key, once: ${rows(3L)}")
  }

  test("interval-join state is evicted as the watermark advances (long replay plateaus)") {
    import spark.implicits._
    val ldir = graft.sources.Scratch.dir("ssjst-l").toString
    val rdir = graft.sources.Scratch.dir("ssjst-r").toString
    def write(dir: String, rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("event_id", "ts_s", "user_id")
        .select(col("event_id"), col("ts_s").cast("timestamp_ntz").as("ts"),
          col("user_id"), lit("x").as("event_type"), lit(1.0).as("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("append").parquet(dir)
    val joined = EventStreams.intervalJoin(
      EventStreams.readEvents(spark, ldir), EventStreams.readEvents(spark, rdir),
      "user_id", maxDelay = "10 minutes", watermark = "10 minutes")
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ssj_state").start()
    val totals = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      // 12 pairs of batches marching 30 min apart: every row leaves the
      // watermark+interval horizon long before the replay ends, so state
      // must PLATEAU — rows-in-state growing with rows-ingested is the
      // unbounded-state bug the interval exists to prevent
      (0 until 12).foreach { i =>
        val t = f"2024-01-01 ${8 + i / 2}%02d:${(i % 2) * 30}%02d:00"
        write(ldir, Seq((i.toLong, t, i.toLong)))
        write(rdir, Seq((100L + i, t, i.toLong)))
        q.processAllAvailable()
        Option(q.lastProgress).foreach { p =>
          if (p.stateOperators.nonEmpty)
            totals += p.stateOperators.map(_.numRowsTotal).sum
        }
      }
    } finally q.stop()
    assert(totals.nonEmpty, "expected state-operator metrics in query progress")
    // 24 rows ingested; the watermark trails ~40-70 min so only the last few
    // batches' rows are retainable. Any linear growth would blow past this.
    assert(totals.max <= 10,
      s"state must stay bounded by watermark+interval, got rows-in-state=$totals")
    assert(totals.last < 24, s"state rows must be evicted, not accumulated: $totals")
  }

  test("flatMapGroupsWithState emits sessions as they close (gap or timeout)") {
    val dir = graft.sources.Scratch.dir("fmgws").toString
    import spark.implicits._
    def write(rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("event_id", "ts_s", "user_id")
        .select(col("event_id"), col("ts_s").cast("timestamp_ntz").as("ts"),
          col("user_id"), lit("a").as("event_type"), lit(1.0).as("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("append").parquet(dir)
    def us(s: String): Long =
      java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    // batch 1: user 7 bursts at 08:00–08:05 — session stays OPEN (no output)
    write(Seq((1L, "2024-01-01 08:00:00", 7L), (2L, "2024-01-01 08:05:00", 7L)))
    val q = EventStreams.closedUserSessions(spark,
        EventStreams.readEvents(spark, dir), gapMs = 30L * 60 * 1000)
      .toDF()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("closed_sessions").start()
    q.processAllAvailable()
    assert(spark.table("closed_sessions").count() == 0)
    // batch 2: same user at 12:00 — 3h55m gap closes the first session
    write(Seq((3L, "2024-01-01 12:00:00", 7L)))
    q.processAllAvailable()
    val rows = spark.table("closed_sessions")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq((7L, us("2024-01-01 08:00:00"),
      us("2024-01-01 08:05:00"), 2L)))
    // batch 3: a cross-batch latecomer 4 minutes BEFORE the open session's
    // start (within the gap) must extend the session start backward
    write(Seq((6L, "2024-01-01 11:56:00", 7L)))
    q.processAllAvailable()
    // batch 4: another user far in the future — watermark passes the open
    // session + gap, it times out and drains with the extended bounds
    write(Seq((4L, "2024-01-02 09:00:00", 8L)))
    q.processAllAvailable()
    q.stop()
    val drained = spark.table("closed_sessions")
      .where(col("start_us") === us("2024-01-01 11:56:00")).collect()
    assert(drained.length == 1 && drained.head.getLong(3) == 2L,
      "late event within gap must merge and extend the session start backward")
  }

  test("two adjacent latecomers merge into ONE closed session, not two singletons") {
    val dir = graft.sources.Scratch.dir("fmgws2").toString
    import spark.implicits._
    def write(rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("event_id", "ts_s", "user_id")
        .select(col("event_id"), col("ts_s").cast("timestamp_ntz").as("ts"),
          col("user_id"), lit("a").as("event_type"), lit(1.0).as("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("append").parquet(dir)
    def us(s: String): Long =
      java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    // gap 5 min, watermark 10 min: latecomers can land INSIDE the watermark
    // window yet MORE than a gap before the open session
    write(Seq((1L, "2024-01-01 20:00:00", 7L)))
    val q = EventStreams.closedUserSessions(spark,
        EventStreams.readEvents(spark, dir), gapMs = 5L * 60 * 1000)
      .toDF()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("late_pair").start()
    q.processAllAvailable()
    // batch 2: two adjacent latecomers at 19:51 + 19:53 — above the watermark
    // (19:50), within one gap of EACH OTHER, but >gap before the 20:00 open
    // session: batch session_window would make them one separate session
    write(Seq((2L, "2024-01-01 19:51:00", 7L), (3L, "2024-01-01 19:53:00", 7L)))
    q.processAllAvailable()
    // advance the watermark past every seal point so all sessions drain
    write(Seq((4L, "2024-01-01 22:00:00", 8L)))
    q.processAllAvailable()
    write(Seq((5L, "2024-01-01 22:10:00", 8L)))
    q.processAllAvailable()
    q.stop()
    val u7 = spark.table("late_pair").where(col("user_id") === 7L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(u7 == Set(
      (us("2024-01-01 19:51:00"), us("2024-01-01 19:53:00"), 2L),
      (us("2024-01-01 20:00:00"), us("2024-01-01 20:00:00"), 1L)),
      s"latecomer pair must merge into ONE session: $u7")
  }

  test("multiple open sessions per user drain in watermark order") {
    val dir = graft.sources.Scratch.dir("fmgws3").toString
    import spark.implicits._
    def write(rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("event_id", "ts_s", "user_id")
        .select(col("event_id"), col("ts_s").cast("timestamp_ntz").as("ts"),
          col("user_id"), lit("a").as("event_type"), lit(1.0).as("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("append").parquet(dir)
    def us(s: String): Long =
      java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    def closedStarts(): Seq[Long] =
      spark.table("drain_order").where(col("user_id") === 9L)
        .collect().map(_.getLong(1)).sorted.toSeq
    // gap 5 min, watermark 10 min: events 8 min apart are >gap (new session
    // each) but the watermark trails by 10 min, so the older session's seal
    // point stays ahead of the watermark for one extra batch — NOTE Spark
    // runs a no-data batch whenever the watermark advances, so a session
    // drains EAGERLY (via event-time timeout) the moment wm passes its seal
    // point, not at the next data batch
    write(Seq((1L, "2024-01-01 10:00:00", 9L)))
    val q = EventStreams.closedUserSessions(spark,
        EventStreams.readEvents(spark, dir), gapMs = 5L * 60 * 1000)
      .toDF()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("drain_order").start()
    q.processAllAvailable()
    write(Seq((2L, "2024-01-01 10:08:00", 9L)))
    q.processAllAvailable()
    // watermark 09:58 < 10:05 seal → BOTH sessions still open, none emitted
    assert(closedStarts() == Seq(), "two open sessions must coexist")
    write(Seq((3L, "2024-01-01 10:16:00", 9L)))
    q.processAllAvailable()
    // wm 10:06 seals only the 10:00 session — oldest drains first
    assert(closedStarts() == Seq(us("2024-01-01 10:00:00")))
    write(Seq((4L, "2024-01-01 10:24:00", 9L)))
    q.processAllAvailable()
    // wm 10:14 seals the 10:08 session next
    assert(closedStarts() == Seq(us("2024-01-01 10:00:00"),
      us("2024-01-01 10:08:00")))
    // no more data for user 9: remaining sessions drain via event-time
    // TIMEOUT as another user pushes the watermark past both seal points
    write(Seq((5L, "2024-01-01 11:24:00", 99L)))
    q.processAllAvailable()
    q.stop()
    assert(closedStarts() == Seq(us("2024-01-01 10:00:00"),
      us("2024-01-01 10:08:00"), us("2024-01-01 10:16:00"),
      us("2024-01-01 10:24:00")), "all open sessions must drain by timeout")
  }

  test("streaming sessionization equals batch session_window under K micro-batch permutations") {
    import spark.implicits._
    val gapMs = 30L * 60 * 1000
    val ev = graft.sources.Tables.table(spark, TestSpark.sf0001, "events")
    val span = ev.agg(
      min(unix_millis(col("ts").cast("timestamp"))).as("lo"),
      max(unix_millis(col("ts").cast("timestamp"))).as("hi")).head()
    val (loMs, hiMs) = (span.getLong(0), span.getLong(1))
    // a watermark delay wider than the whole event span: NO event is ever
    // late regardless of how files shuffle events across micro-batches, so
    // every permutation must converge to the exact batch answer
    val delayMin = (hiMs - loMs) / 60000 + 60
    val flushUser = 999999L
    val flush1 = hiMs + delayMin * 60000 + gapMs + 3600000
    val batch = ev
      .groupBy(session_window(col("ts").cast("timestamp"), "30 minutes").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_micros(col("w.start")).as("s"),
        (unix_micros(col("w.end")) - gapMs * 1000L).as("e"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // K=3 different micro-batch compositions of the SAME events
    val splits = Seq(
      pmod(hash(col("event_id")), lit(3)),
      pmod(col("event_id"), lit(3)).cast("int"),
      pmod(col("user_id"), lit(3)).cast("int"))
    splits.zipWithIndex.foreach { case (splitExpr, k) =>
      val dir = graft.sources.Scratch.dir(s"perm$k").toString
      val tagged = ev.withColumn("b", splitExpr)
      for (b <- 0 until 3)
        tagged.where(col("b") === b).drop("b")
          .coalesce(1).write.mode("append").parquet(dir)
      val q = EventStreams.closedUserSessions(spark,
          EventStreams.readEvents(spark, dir), gapMs = gapMs,
          watermark = s"$delayMin minutes")
        .toDF()
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName(s"perm_sessions$k").start()
      q.processAllAvailable()
      // two flush batches: the first advances the watermark past every seal
      // point, the second fires the event-time timeouts that drain state
      def flush(tsMs: Long): Unit =
        Seq((0L, new java.sql.Timestamp(tsMs), flushUser))
          .toDF("event_id", "ts_t", "user_id")
          .select(col("event_id"), col("ts_t").cast("timestamp_ntz").as("ts"),
            col("user_id"), lit("a").as("event_type"), lit(1.0).as("value"),
            lit("{}").as("props"))
          .coalesce(1).write.mode("append").parquet(dir)
      flush(flush1); q.processAllAvailable()
      flush(flush1 + 3600000); q.processAllAvailable()
      q.stop()
      val streamed = spark.table(s"perm_sessions$k")
        .where(col("user_id") =!= flushUser)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(streamed == batch,
        s"permutation $k diverged from batch session_window: " +
          s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    }
  }

  test("streaming CSV ingest: continuous COPY preserves dialect semantics per micro-batch") {
    import graft.sources.CsvDialect
    spark.sql("DROP TABLE IF EXISTS stream_copy")
    spark.sql("CREATE TABLE stream_copy (id INT, name STRING) USING parquet")
    val dir = graft.sources.Scratch.dir("csvstream").toString
    val ckpt = graft.sources.Scratch.dir("csvstream-ckpt").toString
    // file 1 BEFORE start; unquoted empty = NULL, quoted "" = empty string
    Files.writeString(java.nio.file.Paths.get(s"$dir/f1.csv"),
      "id,name\n1,alpha\n2,\n3,\"\"\n")
    val q = graft.operators.CsvToTable.streamToTable(
      spark, "stream_copy", dir, ckpt)
    try {
      q.processAllAvailable()
      // file 2 arrives later → its own micro-batch through the same path
      Files.writeString(java.nio.file.Paths.get(s"$dir/f2.csv"),
        "id,name\n4,delta\n")
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("stream_copy").orderBy("id")
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) null else r.getString(1)))
    assert(rows.toSeq == Seq((1, "alpha"), (2, null), (3, ""), (4, "delta")),
      s"dialect NULL-vs-empty distinction must survive streaming ingest: ${rows.toSeq}")
    // the explicit compression flag is a batch-only contract
    intercept[graft.operators.GraftException] {
      graft.sources.PgCsv.readStream(spark, dir,
        CsvDialect(compression = Some("gzip")), spark.table("stream_copy").schema)
    }
  }

  test("continuous COPY checkpoint recovery: replayed batch lands exactly once") {
    spark.sql("DROP TABLE IF EXISTS stream_copy_rec")
    spark.sql("CREATE TABLE stream_copy_rec (id INT, name STRING) USING parquet")
    val dir = graft.sources.Scratch.dir("csvrec").toString
    val ckpt = graft.sources.Scratch.dir("csvrec-ckpt").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/f1.csv"),
      "id,name\n1,a\n2,b\n")
    val q1 = graft.operators.CsvToTable.streamToTable(
      spark, "stream_copy_rec", dir, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.table("stream_copy_rec").count() == 2)
    // simulate the at-least-once crash window: the sink append committed but
    // the checkpoint's batch-0 commit record did not — on restart Spark
    // REPLAYS batch 0 into foreachBatch, and only the idempotence marker
    // stands between the table and duplicated rows
    val c0 = new java.io.File(s"$ckpt/commits", "0")
    assert(c0.isFile, "expected the batch-0 checkpoint commit record")
    assert(c0.delete())
    // the local FS keeps a checksum sidecar; a stale one fails the commit
    // log's atomic rename on the rerun
    new java.io.File(s"$ckpt/commits", ".0.crc").delete()
    Files.writeString(java.nio.file.Paths.get(s"$dir/f2.csv"),
      "id,name\n3,c\n")
    val q2 = graft.operators.CsvToTable.streamToTable(
      spark, "stream_copy_rec", dir, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    // the pre-restart count() cached this session's file listing for the
    // table; drop it so the read sees the restarted stream's appends
    spark.sql("REFRESH TABLE stream_copy_rec")
    val rows = spark.table("stream_copy_rec").orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.toSeq == Seq((1, "a"), (2, "b"), (3, "c")),
      s"no duplicates from the replayed batch, no lost rows: ${rows.toSeq}")
  }

  test("late data beyond the watermark is dropped in append mode") {
    val dir = graft.sources.Scratch.dir("late").toString
    import spark.implicits._
    def write(name: String, rows: Seq[(Long, String, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
        .select(col("event_id"), col("ts_s").cast("timestamp_ntz").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .coalesce(1).write.mode("append").parquet(dir)
    // batch 1: events up to 10:00 → watermark advances to ~09:50
    write("b1", Seq(
      (1L, "2024-01-01 08:10:00", 1L, "a", 1.0, "{}"),
      (2L, "2024-01-01 10:00:00", 1L, "a", 1.0, "{}")))
    val q = EventStreams.tumblingCounts(
      EventStreams.readEvents(spark, dir), watermark = "10 minutes")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("late_agg").start()
    q.processAllAvailable()
    // batch 2: an event at 07:30 — far behind the watermark → dropped
    write("b2", Seq((3L, "2024-01-01 07:30:00", 1L, "a", 99.0, "{}")))
    q.processAllAvailable()
    // batch 3: advance watermark far so the 08:00 window finalizes
    write("b3", Seq((4L, "2024-01-01 23:00:00", 1L, "a", 1.0, "{}")))
    q.processAllAvailable()
    q.stop()
    val eight = spark.table("late_agg")
      .where(col("h") === lit("2024-01-01 08:00:00").cast("timestamp"))
      .select("n").collect()
    assert(eight.length == 1 && eight.head.getLong(0) == 1L,
      s"late event must not be counted: ${eight.mkString}")
  }

  // ------------------------------------------------------- document ingest

  /** Prose that passes the Gopher screens at low minTokens AND survives
    * C4 line cleaning (terminal period, ≥3 words): all-alpha words, mean
    * token length ~4, contains 'the'. */
  private def prose(i: Long): String =
    s"the quick brown fox jumps over the lazy dog number $i end."

  test("curatedIngest: streaming equals the batch spelling of the same gate") {
    import spark.implicits._
    val dir = graft.sources.Scratch.dir("docs-stream").toString
    val docs = graft.sources.Tables.table(spark, TestSpark.sf0001, "documents")
    docs.repartitionByRange(3, col("doc_id")).write.mode("overwrite").parquet(dir)
    val streamed = graft.streaming.DocumentStreams.curatedIngest(
      graft.streaming.DocumentStreams.readDocuments(spark, dir))
    runToMemory(streamed, "curated_stream")
    val got = spark.table("curated_stream").orderBy("doc_id")
      .collect().map(_.toString).toSeq
    val want = graft.streaming.DocumentStreams.curatedIngest(docs)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(got == want && want.nonEmpty)
  }

  test("dedupedIngest suppresses duplicates ACROSS micro-batches") {
    import spark.implicits._
    val dir = graft.sources.Scratch.dir("docs-dedup").toString
    def row(id: Long, text: String) =
      (id, text, "en", "src0", text.length.toLong)
    def write(rows: Seq[(Long, String, String, String, Long)]): Unit =
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(dir)
    write((1L to 20L).map(i => row(i, prose(i))))
    Thread.sleep(1100) // distinct mod times → deterministic file order
    // second file: 10 fresh docs + 10 TEXT duplicates of docs 1-10
    write((21L to 30L).map(i => row(i, prose(i))) ++
      (31L to 40L).map(i => row(i, prose(i - 30))))
    val out = graft.streaming.DocumentStreams.dedupedIngest(
      graft.streaming.DocumentStreams.readDocuments(spark, dir),
      minTokens = 5, minStopwordHits = 1)
    runToMemory(out, "deduped_stream")
    val kept = spark.table("deduped_stream")
    assert(kept.count() == 30L, "one survivor per distinct text")
    assert(kept.select("fingerprint").distinct().count() == 30L)
    // exactly one of each duplicate pair (i, i+30) survives
    val ids = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    (1L to 10L).foreach { i =>
      assert(ids.contains(i) ^ ids.contains(i + 30L),
        s"exactly one of ($i, ${i + 30}) must survive")
    }
  }

  test("dedupedIngestWithinWatermark dedups inside the event-time window") {
    import spark.implicits._
    val dir = graft.sources.Scratch.dir("docs-wm").toString
    Seq(
      (1L, prose(1), "en", "src0", "2024-01-01 10:00:00"),
      (2L, prose(1), "en", "src0", "2024-01-01 10:02:00"), // dup, in-window
      (3L, prose(3), "en", "src0", "2024-01-01 10:01:00"))
      .toDF("doc_id", "text", "lang", "source", "ts_s")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"),
        col("ts_s").cast("timestamp").as("ingest_ts"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING, source STRING, " +
        "n_chars BIGINT, ingest_ts TIMESTAMP")
    val out = graft.streaming.DocumentStreams.dedupedIngestWithinWatermark(
      graft.streaming.DocumentStreams.readDocuments(spark, dir, schema = schema),
      "ingest_ts", "10 minutes", minTokens = 5, minStopwordHits = 1)
    runToMemory(out, "wm_dedup")
    val kept = spark.table("wm_dedup")
    assert(kept.count() == 2L, "the in-window duplicate must be suppressed")
    assert(kept.select("fingerprint").distinct().count() == 2L)
  }

  test("vocabTracker folds micro-batches into the persisted per-lang sketch") {
    import spark.implicits._
    // 2 parquet files → 2 micro-batches; tiny vocab → HLL exact regime, so
    // the streamed fold must land on the batch-union exact distinct counts
    val dir = graft.sources.Scratch.dir("vocab-stream").toString
    Seq(("en", "alpha beta gamma"), ("de", "eins zwei"))
      .toDF("lang", "text").write.parquet(dir + "/b1")
    Seq(("en", "beta delta"), ("fr", "un"))
      .toDF("lang", "text").write.parquet(dir + "/b2")
    val all = spark.read.parquet(dir + "/b1", dir + "/b2")
    val statePath = graft.sources.Scratch.dir("vocab-state").toString + "/state"
    val src = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir + "/b*")
    val q = graft.streaming.DocumentStreams.vocabTracker(
      src, "lang", "text", statePath,
      graft.sources.Scratch.dir("vocab-ckpt").toString)
    try q.processAllAvailable() finally q.stop()
    val est = graft.operators.SketchStats.load(spark, statePath)
      .select(col("__lang"),
        hll_sketch_estimate(col("sketch")).cast("long").as("d"))
      .as[(String, Long)].collect().toMap
    assert(est == Map("en" -> 4L, "de" -> 2L, "fr" -> 1L), est.toString)
  }

  test("binnedHistogram: sealed windows equal the batch histogram, emitted exactly once") {
    import spark.implicits._
    // two 10-day phases in separate files (ordered micro-batches), then a
    // far-future sentinel to ratchet the watermark twice — the x146 shape.
    // Values chosen so the edge fold's tie rule matters: 5.0 sits ON an edge
    // and must land in the HIGHER bin (x >= edge) on both paths.
    val dir = graft.sources.Scratch.dir("hist-stream").toString
    def ts(day: Long) = new java.sql.Timestamp(day * 86400000L)
    val p1 = Seq((ts(10), 1.0), (ts(11), 5.0), (ts(12), 9.0), (ts(13), 5.0))
    val p2 = Seq((ts(20), 2.0), (ts(21), 7.0), (ts(22), 7.0))
    p1.toDF("ts", "value").coalesce(1).write.parquet(dir + "/b1")
    p2.toDF("ts", "value").coalesce(1).write.parquet(dir + "/b2")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("b1", "b2").zipWithIndex.foreach { case (b, i) =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$b"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .foreach(f => fs.setTimes(f.getPath, 1600000000000L + i * 60000L, -1L))
    }
    val edges = Seq(5.0)
    val src = spark.readStream.schema("ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", 1).parquet(dir + "/b*")
    val sink = graft.sources.Scratch.dir("hist-sink").toString
    val q = EventStreams.binnedHistogram(src, "value", edges,
        window_ = "10 days", watermark = "0 seconds")
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation",
        graft.sources.Scratch.dir("hist-ckpt").toString)
      .format("parquet").option("path", sink).start()
    def flush(day: Long): Unit =
      Seq((ts(day), 0.0)).toDF("ts", "value")
        .coalesce(1).write.mode("append").parquet(dir + "/b2")
    try {
      q.processAllAvailable()
      flush(100000L); q.processAllAvailable()
      flush(100010L); q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(sink)
      .where(col("ws") < lit(ts(99999L)))
      .select((col("ws").cast("long") / 86400L).cast("long").as("phase"),
        col("bucket"), col("n_cur"))
      .as[(Long, Int, Long)].collect().toSet
    // batch truth: phase 10 → {1.0}→b1, {5.0,5.0,9.0}→b2; phase 20 →
    // {2.0}→b1, {7.0,7.0}→b2
    assert(got == Set((10L, 1, 1L), (10L, 2, 3L), (20L, 1, 1L), (20L, 2, 2L)),
      got.toString)
    // exactly-once: no (window, bucket) row is ever re-emitted
    val dups = spark.read.parquet(sink)
      .groupBy("ws", "bucket").count().where(col("count") > 1).count()
    assert(dups == 0)
  }
}
