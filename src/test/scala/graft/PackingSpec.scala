package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Packing

class PackingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("chunkDocuments: short doc yields itself; window/overlap arithmetic exact") {
    val d = docs(
      (1L, "a b c"),                                  // 3 ≤ max → one chunk
      (2L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens, max 4, ov 1
      (3L, ""))                                       // empty → one empty chunk
    val out = Packing.chunkDocuments(d, "doc_id", "text", maxTokens = 4, overlap = 1)
      .orderBy("doc_id", "chunk_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    assert(out.filter(_._1 == 1L).toSeq == Seq((1L, 0, "a b c", 3)))
    // step 3: starts 0,3,6 — the third window already reaches the last token,
    // so no trailing sliver chunk is emitted
    assert(out.filter(_._1 == 2L).toSeq == Seq(
      (2L, 0, "t1 t2 t3 t4", 4), (2L, 1, "t4 t5 t6 t7", 4),
      (2L, 2, "t7 t8 t9 t10", 4)))
    assert(out.filter(_._1 == 3L).toSeq == Seq((3L, 0, "", 0)))
  }

  test("chunkDocuments: chunks cover every token and overlap by exactly `overlap`") {
    val text = (1 to 57).map(i => s"w$i").mkString(" ")
    val chunks = Packing.chunkDocuments(docs((9L, text)), "doc_id", "text",
        maxTokens = 10, overlap = 3)
      .orderBy("chunk_id").collect().map(_.getString(2).split(" ").toSeq)
    // coverage: concatenating each chunk minus its leading overlap rebuilds the doc
    val rebuilt = chunks.head ++ chunks.tail.flatMap(_.drop(3))
    assert(rebuilt == text.split(" ").toSeq)
    chunks.sliding(2).foreach { w =>
      if (w.length == 2)
        assert(w(0).takeRight(3) == w(1).take(3),
          "adjacent chunks must share the overlap")
    }
  }

  test("chunkDocuments rejects invalid window parameters") {
    val d = docs((1L, "x"))
    intercept[IllegalArgumentException] {
      Packing.chunkDocuments(d, "doc_id", "text", maxTokens = 0) }
    intercept[IllegalArgumentException] {
      Packing.chunkDocuments(d, "doc_id", "text", maxTokens = 5, overlap = 5) }
  }

  test("packSequences equals the sequential driver-side fold, at any partition count") {
    val d = graft.sources.Tables.table(spark, TestSpark.sf0001, "documents")
    val counts = d.select(col("doc_id"),
        graft.functions.TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val cap = 512L
    // ground truth: one sequential scan
    var off = 0L
    val expected = counts.map { case (id, n) =>
      val r = (id, n, off, off / cap, (off + math.max(n, 1) - 1) / cap)
      off += n; r
    }.toSeq
    for (p <- Seq(1, 3, 32)) {
      val got = TestSpark.withConf("spark.sql.shuffle.partitions" -> p.toString)(
          Packing.packSequences(d, "doc_id",
            graft.functions.TextAnalysis.tokenCount(col("text")), cap))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq
      assert(got == expected, s"partition count $p diverged from sequential fold")
    }
  }

  test("packSequences property: random corpora with duplicate ids and empty docs equal the sequential fold") {
    val rnd = new scala.util.Random(20260812L)
    for (trial <- 1 to 5) {
      val rows = (1 to 60).map { _ =>
        // duplicate-heavy id space + zero-token docs: the adversarial cases
        (rnd.nextInt(20).toLong, rnd.nextInt(40).toLong)
      }
      val cap = 1L + rnd.nextInt(64)
      val df = rows.toDF("doc_id", "n")
      // ground truth mirrors the operator's total order: (id, n_tokens)
      var off = 0L
      val expected = rows.sorted.map { case (id, n) =>
        val r = (id, n, off, off / cap, (off + math.max(n, 1) - 1) / cap)
        off += n; r
      }
      val got = TestSpark.withConf("spark.sql.shuffle.partitions" -> "4")(
          Packing.packSequences(df, "doc_id", col("n"), cap))
        .orderBy("doc_id", "n_tokens", "start_offset").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq
      assert(got == expected, s"trial $trial (cap $cap) diverged")
    }
  }

  test("chunkDocuments property: random windows always cover every token exactly") {
    val rnd = new scala.util.Random(42L)
    for (trial <- 1 to 5) {
      val maxTokens = 2 + rnd.nextInt(12)
      val overlap = rnd.nextInt(maxTokens)
      val texts = (1 to 20).map(i =>
        (i.toLong, (0 until rnd.nextInt(50)).map(j => s"t$j").mkString(" ")))
      val out = Packing.chunkDocuments(texts.toDF("doc_id", "text"),
          "doc_id", "text", maxTokens, overlap)
        .orderBy("doc_id", "chunk_id")
        .collect().map(r => (r.getLong(0), r.getString(2)))
      texts.foreach { case (id, text) =>
        val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
        val chunks = out.filter(_._1 == id).map(_._2.split(" ").filter(_.nonEmpty).toSeq)
        val rebuilt =
          if (chunks.isEmpty) Seq.empty
          else chunks.head ++ chunks.tail.flatMap(_.drop(overlap))
        assert(rebuilt == toks,
          s"trial $trial doc $id (max $maxTokens ov $overlap): coverage broken")
      }
    }
  }

  test("packSummary: bins partition the documents; totals add up") {
    val d = graft.sources.Tables.table(spark, TestSpark.sf0001, "documents")
    val tc = graft.functions.TextAnalysis.tokenCount(col("text"))
    val asg = Packing.packSequences(d, "doc_id", tc, capacity = 512L)
    val sm = Packing.packSummary(asg).orderBy("bin").collect()
    assert(sm.map(_.getLong(1)).sum == d.count())
    val totalTokens = d.select(sum(tc.cast("long"))).head().getLong(0)
    assert(sm.map(_.getLong(2)).sum == totalTokens)
    // every bin a doc touches is within [0, ceil(total/cap))
    val maxBin = asg.select(max("bin_last")).head().getLong(0)
    assert(maxBin == (totalTokens - 1) / 512L)
  }

  test("chunkSentences: greedy packing equals the driver-side fold; never splits a sentence") {
    val rnd = new scala.util.Random(17)
    val words = Seq("alpha", "beta", "gamma", "delta", "eps")
    def sentence(n: Int) = (1 to n).map(_ => words(rnd.nextInt(5))).mkString(" ") + "."
    val texts = (1L to 60L).map { i =>
      (i, (1 to rnd.nextInt(8) + 1).map(_ => sentence(rnd.nextInt(9) + 1)).mkString(" "))
    }
    val df = texts.toDF("doc_id", "text").repartition(4)
    val maxTok = 12
    val got = Packing.chunkSentences(df, "doc_id", "text", maxTok)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    // driver reference: identical split + greedy fold
    val want = texts.flatMap { case (id, text) =>
      val sents = text.split("(?<=[.!?])\\s+").filter(_.trim.nonEmpty)
      val chunks = scala.collection.mutable.ArrayBuffer.empty[String]
      var cur = ""; var n = 0
      sents.foreach { s =>
        val sn = s.split("\\s+").count(_.nonEmpty)
        if (n > 0 && n + sn > maxTok) { chunks += cur; cur = s; n = sn }
        else { cur = if (n == 0) s else cur + " " + s; n += sn }
      }
      if (n > 0) chunks += cur
      chunks.zipWithIndex.map { case (c, i) =>
        (id, i, c, c.split("\\s+").count(_.nonEmpty)) }
    }.sortBy(t => (t._1, t._2))
    assert(got == want)
    // chunks never exceed the budget except single-oversized-sentence chunks
    got.foreach { case (_, _, text, n) =>
      if (n > maxTok)
        assert(!text.dropRight(1).exists(".!?".contains(_)),
          s"oversized chunk must be ONE sentence: '$text'")
    }
    // empty / whitespace docs yield no chunks; guard fires
    val empty = Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text")
    assert(Packing.chunkSentences(empty, "doc_id", "text", 10).count() == 0)
    intercept[IllegalArgumentException](
      Packing.chunkSentences(df, "doc_id", "text", 0))
  }

  test("assignTokenShards equals the windowed spelling; shards are budget-bounded") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(41)
    val rows = (1L to 300L).map(i => (i, rnd.nextInt(80) + 1L))
    val df = rows.toDF("doc_id", "n").repartition(7)
    val got = Packing.assignTokenShards(df, "doc_id", col("n"), 500L, "s0")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // reference: single global window over the same deterministic order
    val w = Window.orderBy(col("__k"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df
      .withColumn("__k", sha2(concat_ws(":", col("doc_id"), lit("s0")), 256))
      .withColumn("__cum", sum("n").over(w))
      .select(col("doc_id"), col("n"),
        floor((col("__cum") - col("n")).cast("double") / 500.0).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got == want)
    // every shard except possibly the last holds ≥ budget − max(doc) + 1
    // tokens and < budget + max(doc): contiguous budget cuts
    val byShard = got.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    val lastShard = byShard.keys.max
    byShard.foreach { case (sid, tot) =>
      if (sid != lastShard)
        assert(tot >= 500L - 80L + 1 && tot < 500L + 80L, s"shard $sid: $tot")
    }
    // partitioning invariance
    val again = Packing.assignTokenShards(df.coalesce(1), "doc_id", col("n"), 500L, "s0")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(again == got)
    intercept[IllegalArgumentException](
      Packing.assignTokenShards(df, "doc_id", col("n"), 0L, "s0"))
  }

  test("paddingAudit: sorted waste <= shuffled; uniform lengths waste zero; " +
    "recipe equals the windowed spelling") {
    import org.apache.spark.sql.expressions.Window
    val df = (1L to 97L).map(i => (i, (i * 37 % 50 + 1)))
      .toDF("doc_id", "n").repartition(5)
    val got = Packing.paddingAudit(df, "doc_id", col("n"), batchSize = 8,
        salt = "b1")
      .orderBy("ordering").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val Array(sh, so) = got
    assert(sh._1 == "shuffled" && so._1 == "sorted")
    assert(sh._2 == 13L && so._2 == 13L, "ceil(97/8) batches each")
    assert(sh._3 == so._3, "total tokens identical across orderings")
    assert(so._5 <= sh._5,
      s"sorted batching can never waste more: sorted ${so._5} vs ${sh._5}")
    // differential vs the single-window spelling for the shuffled order
    val w = Window.orderBy(
      sha2(concat_ws(":", col("doc_id").cast("string"), lit("b1")), 256),
      col("doc_id"))
    val windowed = df
      .withColumn("__b", floor((row_number().over(w) - 1).cast("double") / 8)
        .cast("long"))
      .groupBy("__b")
      .agg(max("n").as("mx"), count(lit(1)).as("c"), sum("n").as("s"))
      .agg(sum(col("mx") * col("c"))).head().getLong(0)
    assert(sh._4 == windowed, "recipe must equal the windowed batching")
    // uniform lengths: zero waste under BOTH orderings
    val flat = (1L to 40L).map(i => (i, 7L)).toDF("doc_id", "n")
    Packing.paddingAudit(flat, "doc_id", col("n"), 8, "z").collect()
      .foreach(r => assert(r.getDouble(4) == 0.0, s"uniform waste: $r"))
    intercept[IllegalArgumentException](
      Packing.paddingAudit(df, "doc_id", col("n"), 0, "b"))
  }
}
