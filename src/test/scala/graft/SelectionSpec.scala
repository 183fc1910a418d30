package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Percentiles, Profiling, Selection}

/** Pins for the corpus-selection surface (Selection) and the global-quantile
  * fits behind it (Percentiles.exactGlobalValues/Multi, Profiling
  * .robustScale) — the round-11 additions the advisor flagged as unpinned. */
class SelectionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // --------------------------------------------------------------- budget fill

  test("selectByBudget is PREFIX truncation: first overshoot ends the fill") {
    // ranked token counts (10, 100, 5) with budget 20: the prefix policy
    // keeps ONLY doc 1 — doc 2 overshoots and doc 3 is NOT re-admitted,
    // and the overshooting doc's tokens stay in the running total
    val df = Seq((1L, 3.0, 10L), (2L, 2.0, 100L), (3L, 1.0, 5L))
      .toDF("doc_id", "score", "n")
    val out = Selection.selectByBudget(df, "doc_id", col("score"), col("n"), 20L)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 10L, 10L)))
  }

  test("selectByBudget equals the windowed-SQL spelling on multi-partition data") {
    val rnd = new scala.util.Random(7)
    val rows = (1L to 500L).map(i => (i, rnd.nextDouble(), rnd.nextInt(40) + 1L))
    val df = rows.toDF("doc_id", "score", "n").repartition(7)
    val budget = 2000L
    val got = Selection.selectByBudget(df, "doc_id", col("score"), col("n"), budget)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // oracle: single-partition window over the same ranking
    df.createOrReplaceTempView("sel_docs")
    val want = spark.sql(
      s"""SELECT doc_id, n_tokens, cum_tokens FROM (
            SELECT doc_id, n AS n_tokens,
              SUM(n) OVER (ORDER BY score DESC, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS cum_tokens
            FROM sel_docs)
          WHERE cum_tokens <= $budget
          ORDER BY doc_id""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq)
    assert(got.nonEmpty)
  }

  test("selectByBudgetPerGroup: independent group-local fills and budgets") {
    val df = Seq(
      ("a", 1L, 5.0, 10L), ("a", 2L, 4.0, 10L), ("a", 3L, 3.0, 10L),
      ("b", 4L, 9.0, 7L), ("b", 5L, 8.0, 7L))
      .toDF("src", "doc_id", "score", "n").repartition(4)
    val out = Selection.selectByBudgetPerGroup(df, "src", "doc_id",
        col("score"), col("n"), defaultBudget = 20L,
        budgets = Map("b" -> 7L))
      .orderBy("src", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    // group a (budget 20): docs 1,2 fit (10, 20); doc 3 overshoots.
    // group b (budget 7): doc 4 fits exactly; doc 5 overshoots.
    assert(out.toSeq == Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 4L, 7L)))
  }

  test("selectByBudgetPerGroup: few-groups route ≡ window spelling") {
    // 3 groups over multi-partition random data: the default probe routes
    // through one distributed selectByBudget per group; fewGroups = 0
    // forces the grouped-window spelling. Both must keep identical rows
    // with identical group-local running totals.
    val rnd = new scala.util.Random(23)
    val rows = (1L to 300L).map { i =>
      (Seq("a", "b", "c")(rnd.nextInt(3)), i, rnd.nextDouble(), rnd.nextInt(30) + 1L)
    }
    val df = rows.toDF("src", "doc_id", "score", "n").repartition(5)
    def run(few: Int) = Selection.selectByBudgetPerGroup(df, "src", "doc_id",
        col("score"), col("n"), defaultBudget = 400L,
        budgets = Map("b" -> 150L), fewGroups = few)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val routed = run(8)
    val windowed = run(0)
    assert(routed.nonEmpty && routed == windowed)
  }

  test("selectByBudgetPerGroup: non-string groups resolve budgets " +
    "identically in both regimes") {
    // int group column with string budget keys: budget resolution must go
    // through the SAME cast-compare in the few-group route and the window
    // route — a "05" key must miss int group 5 in BOTH (falling back to the
    // default), and a "2" key must hit int group 2 in BOTH.
    val rows = (1L to 120L).map { i =>
      ((i % 3 + 1).toInt, i, (i * 37 % 101).toDouble, i % 9 + 1L)
    }
    val df = rows.toDF("grp", "doc_id", "score", "n").repartition(4)
    def run(few: Int) = Selection.selectByBudgetPerGroup(df, "grp", "doc_id",
        col("score"), col("n"), defaultBudget = 200L,
        budgets = Map("2" -> 40L, "05" -> 10L), fewGroups = few)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val routed = run(8)
    val windowed = run(0)
    assert(routed.nonEmpty && routed == windowed)
    // the "2" budget actually bit (group 2 kept fewer tokens than default
    // would allow) — otherwise this test proves nothing
    val g2 = routed.filter(_._1 == 2).map(_._3).sum
    assert(g2 <= 40L && g2 > 0L)
  }

  test("topKPerGroup: non-integral id and non-numeric score fail loud") {
    val df = Seq(("a", "x1", 1.0), ("a", "x2", 2.0))
      .toDF("grp", "sid", "score")
    val e = intercept[IllegalArgumentException](
      Selection.topKPerGroup(df, Seq("grp"), "score", "sid", 1))
    assert(e.getMessage.contains("integral"))
    val df2 = Seq(("a", 1L, "high")).toDF("grp", "id", "score")
    intercept[IllegalArgumentException](
      Selection.topKPerGroup(df2, Seq("grp"), "score", "id", 1))
  }

  test("selectByBudgetSkipGreedy keeps filling past an overshooting doc") {
    // same fixture as the prefix pin: skip-greedy keeps docs 1 AND 3
    // (10 + 5 = 15 ≤ 20), with kept-only running totals
    val df = Seq((1L, 3.0, 10L), (2L, 2.0, 100L), (3L, 1.0, 5L))
      .toDF("doc_id", "score", "n")
    val out = Selection
      .selectByBudgetSkipGreedy(df, "doc_id", col("score"), col("n"), 20L)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 10L, 10L), (3L, 5L, 15L)))
  }

  test("selectByBudgetSkipGreedy equals the sequential walk on random data") {
    val rnd = new scala.util.Random(11)
    val rows = (1L to 400L).map(i => (i, rnd.nextDouble(), rnd.nextInt(60) + 1L))
    val budget = 1500L
    // sequential reference: walk (score DESC, id ASC), keep iff it fits
    val expected = {
      var rem = budget
      val kept = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      rows.sortBy { case (id, s, _) => (-s, id) }.foreach { case (id, _, n) =>
        if (n <= rem) { rem -= n; kept += ((id, n, budget - rem)) }
      }
      kept.sortBy(_._1).toSeq
    }
    val df = rows.toDF("doc_id", "score", "n").repartition(9)
    val got = Selection
      .selectByBudgetSkipGreedy(df, "doc_id", col("score"), col("n"), budget)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == expected)
  }

  test("selectByBudgetSkipGreedy: alternating oversize/undersize converges") {
    // adversarial shape for the Jacobi relaxation: big docs that only the
    // final remaining-budget can reject, interleaved with small ones
    val rows = (1L to 60L).map(i =>
      (i, 1000.0 - i, if (i % 2 == 1) 9L else 1L))
    val budget = 20L
    val expected = {
      var rem = budget
      val kept = scala.collection.mutable.ArrayBuffer[Long]()
      rows.foreach { case (id, _, n) => if (n <= rem) { rem -= n; kept += id } }
      kept.toSeq
    }
    val got = Selection
      .selectByBudgetSkipGreedy(rows.toDF("doc_id", "score", "n").repartition(5),
        "doc_id", col("score"), col("n"), budget)
      .orderBy("doc_id").select("doc_id").as[Long].collect().toSeq
    assert(got == expected)
  }

  test("selectByBudgetSkipGreedy: empty input keeps nothing") {
    val df = Seq.empty[(Long, Double, Long)].toDF("doc_id", "score", "n")
    assert(Selection
      .selectByBudgetSkipGreedy(df, "doc_id", col("score"), col("n"), 10L)
      .count() == 0L)
  }

  // --------------------------------------------------------------- quantile cut

  test("keepAboveQuantile keeps the top (1−q) and matches a manual threshold") {
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "s")
      .repartition(6)
    val kept = Selection.keepAboveQuantile(df, "s", 0.9)
      .select("id").as[Long].collect().sorted.toSeq
    // exact 0.9-quantile of 1..100 is h=(99)(0.9)=89.1 → between 90 and 91
    // → threshold 90.1; kept = 91..100
    assert(kept == (91L to 100L))
  }

  test("keepAboveQuantile: NULL scores never pass; all-NULL keeps nothing") {
    val mixed = Seq((1L, Some(5.0)), (2L, None), (3L, Some(1.0)))
      .toDF("id", "s")
    val kept = Selection.keepAboveQuantile(mixed, "s", 0.0)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L))
    val allNull = Seq((1L, Option.empty[Double]), (2L, None)).toDF("id", "s")
    assert(Selection.keepAboveQuantile(allNull, "s", 0.5).count() == 0L)
  }

  test("assignQuantileBuckets: exact quartiles of 1..100 give 25/25/25/25") {
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "s")
      .repartition(6)
    val out = Selection.assignQuantileBuckets(df, "s", k = 4)
      .orderBy("id").select("id", "bucket")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    // thresholds: 25.75, 50.5, 75.25 → buckets split 1..25 / 26..50 /
    // 51..75 / 76..100
    out.foreach { case (id, b) =>
      val want = if (id <= 25) 1 else if (id <= 50) 2 else if (id <= 75) 3 else 4
      assert(b == want, s"id $id in bucket $b, want $want")
    }
  }

  test("assignQuantileBuckets: ties share a bucket; NULL score → NULL bucket") {
    val df = Seq((1L, Some(7.0)), (2L, Some(7.0)), (3L, Some(7.0)),
      (4L, None)).toDF("id", "s")
    val out = Selection.assignQuantileBuckets(df, "s", k = 5)
      .orderBy("id").collect()
    val buckets = out.take(3).map(r => r.getInt(2))
    assert(buckets.distinct.length == 1, "equal scores must share one bucket")
    assert(out(3).isNullAt(2), "NULL score must get a NULL bucket")
    val allNull = Seq((1L, Option.empty[Double])).toDF("id", "s")
    assert(Selection.assignQuantileBuckets(allNull, "s", 3)
      .where(col("bucket").isNotNull).count() == 0L)
  }

  // ------------------------------------------------- global quantiles (the fit)

  test("exactGlobalValues == percentile() on a multi-partition fixture") {
    val lineitem = graft.sources.Tables.table(spark, TestSpark.sf0001, "lineitem")
    val ps = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val got = Percentiles.exactGlobalValues(lineitem, "l_extendedprice", ps)
      .map(_.get)
    val want = lineitem
      .select(percentile(col("l_extendedprice"),
        lit(ps.toArray)).as("p"))
      .head().getSeq[Double](0)
    got.zip(want).zip(ps).foreach { case ((g, w), q) =>
      assert(g == w, s"quantile $q: exactGlobalValues $g != percentile() $w")
    }
  }

  test("exactGlobalValues: single row and all-NULL edge cases") {
    val one = Seq((1L, 42.0)).toDF("id", "v")
    assert(Percentiles.exactGlobalValues(one, "v", Seq(0.0, 0.5, 1.0))
      == Seq(Some(42.0), Some(42.0), Some(42.0)))
    val nulls = Seq((1L, Option.empty[Double]), (2L, None)).toDF("id", "v")
    assert(Percentiles.exactGlobalValues(nulls, "v", Seq(0.25, 0.75))
      == Seq(None, None))
  }

  test("exactGlobalValuesMulti == per-column exactGlobalValues in one scan") {
    val lineitem = graft.sources.Tables.table(spark, TestSpark.sf0001, "lineitem")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val ps = Seq(0.25, 0.5, 0.75)
    val multi = Percentiles.exactGlobalValuesMulti(lineitem, cols, ps)
    cols.foreach { c =>
      val single = Percentiles.exactGlobalValues(lineitem, c, ps)
      assert(multi(c) == single, s"column $c: multi != single")
    }
  }

  test("exactGlobalValuesMulti: a fully-NULL column is None, others unaffected") {
    val df = Seq((1.0, Option.empty[Double]), (2.0, None), (3.0, None))
      .toDF("a", "b")
    val m = Percentiles.exactGlobalValuesMulti(df, Seq("a", "b"), Seq(0.5))
    assert(m("a") == Seq(Some(2.0)))
    assert(m("b") == Seq(None))
  }

  test("exactByGroupRanged ≡ exactByGroup (incl. all-NULL group), guard fires") {
    val lineitem = graft.sources.Tables.table(spark, TestSpark.sf0001, "lineitem")
    val ps = Seq(0.25, 0.5, 0.9); val names = Seq("p25", "p50", "p90")
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val window = rows(Percentiles.exactByGroup(
      lineitem, "l_returnflag", "l_extendedprice", ps, names))
    val ranged = rows(Percentiles.exactByGroupRanged(
      lineitem, "l_returnflag", "l_extendedprice", ps, names))
    assert(ranged.toSeq == window.toSeq) // bit-identical, not approximately
    // all-NULL group keeps NULL percentiles in both forms
    val mixed = Seq(("a", Some(1.0)), ("a", Some(3.0)), ("b", None))
      .toDF("g", "v").repartition(3)
    val m = Percentiles.exactByGroupRanged(mixed, "g", "v", Seq(0.5), Seq("p50"))
      .orderBy("g").collect()
    assert(m(0).getDouble(1) == 2.0 && m(1).isNullAt(1))
    // no group has a value: every group keeps NULL percentiles
    val allNull = Seq(("a", Option.empty[Double]), ("b", None)).toDF("g", "v")
    val n = Percentiles.exactByGroupRanged(allNull, "g", "v", Seq(0.5), Seq("p50"))
      .collect()
    assert(n.length == 2 && n.forall(_.isNullAt(1)))
    // bounded-group guard
    intercept[IllegalArgumentException] {
      Percentiles.exactByGroupRanged(
        lineitem, "l_orderkey", "l_extendedprice", Seq(0.5), Seq("p50"),
        maxGroups = 10)
    }
  }

  test("discByGroupRanged = nearest-rank percentile_disc: brute ground " +
      "truth bit-identical, p=0/1 edges, all-NULL group, always a data value") {
    val lineitem = graft.sources.Tables.table(spark, TestSpark.sf0001, "lineitem")
    val ps = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val names = Seq("p0", "p25", "p50", "p90", "p100")
    val got = Percentiles.discByGroupRanged(
      lineitem, "l_returnflag", "l_extendedprice", ps, names)
      .orderBy("l_returnflag").collect()
    val byG = lineitem.select(col("l_returnflag"),
        col("l_extendedprice").cast("double").as("v")).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).map { case (g, a) => g -> a.map(_._2).sorted }
    assert(got.nonEmpty)
    got.foreach { r =>
      val sorted = byG(r.getString(0))
      ps.zipWithIndex.foreach { case (p, i) =>
        // Postgres percentile_disc: the value at rank max(1, ceil(p*n)) —
        // p=0 is the minimum, p=1 the maximum, and every answer is an
        // ACTUAL data value (bit-identical, no interpolation tolerance)
        val rank = math.max(1L, math.ceil(p * sorted.length).toLong)
        assert(r.getDouble(i + 1) == sorted((rank - 1).toInt),
          s"${r.getString(0)} p=$p")
      }
    }
    // disc vs cont face: n=2 at p=0.5 → disc picks the LOWER data value
    // where cont would interpolate the midpoint; all-NULL group stays NULL
    val mixed = Seq(("a", Some(1.0)), ("a", Some(3.0)), ("b", None))
      .toDF("g", "v").repartition(3)
    val m = Percentiles.discByGroupRanged(mixed, "g", "v", Seq(0.5), Seq("p50"))
      .orderBy("g").collect()
    assert(m(0).getDouble(1) == 1.0 && m(1).isNullAt(1))
    // bounded-group guard holds for the disc face too
    intercept[IllegalArgumentException] {
      Percentiles.discByGroupRanged(
        lineitem, "l_orderkey", "l_extendedprice", Seq(0.5), Seq("p50"),
        maxGroups = 10)
    }
  }

  // --------------------------------------------------------------- robust scale

  test("robustScale matches manual (x − median)/IQR; NULL in → NULL out") {
    // values 1..9: median 5, q25 = 3 (h=2), q75 = 7 (h=6) → IQR 4
    val df = ((1 to 9).map(i => (i.toLong, Some(i.toDouble))) :+ (10L, None))
      .toDF("id", "v").repartition(4)
    val out = Profiling.robustScale(df, Seq("v"))
      .orderBy("id").select("v_r").collect()
    (1 to 9).foreach { i =>
      assert(out(i - 1).getDouble(0) == (i.toDouble - 5.0) / 4.0,
        s"row $i scaled wrong")
    }
    assert(out(9).isNullAt(0), "NULL input must scale to NULL")
  }

  test("winsorize clips at the exact fitted quantiles; NULL passthrough") {
    // values 1..100: bounds via the same (1−d)·lo + d·hi IEEE sequence the
    // fit computes (a decimal literal can differ in the last ulp)
    def interp(q: Double): Double = {
      val h = 99.0 * q
      val d = h - math.floor(h)
      (1.0 - d) * (math.floor(h) + 1.0) + d * (math.ceil(h) + 1.0)
    }
    val (lo, hi) = (interp(0.1), interp(0.9))
    val df = ((1 to 100).map(i => (i.toLong, Some(i.toDouble))) :+ (101L, None))
      .toDF("id", "v").repartition(5)
    val out = Profiling.winsorize(df, Seq("v"), lower = 0.1, upper = 0.9)
      .orderBy("id").collect()
    (1 to 100).foreach { i =>
      val w = out(i - 1).getDouble(2)
      val want = math.min(math.max(i.toDouble, lo), hi)
      assert(w == want, s"value $i clipped to $w, want $want")
    }
    assert(out(100).isNullAt(2), "NULL input must stay NULL")
    // interior values pass through bit-identically
    assert(out(49).getDouble(2) == 50.0)
  }

  test("robustScaleByGroup: each group scaled by its OWN median/IQR") {
    // group a = 1..9 (med 5, IQR 4); group b = 101..109 (med 105, IQR 4);
    // group c is zero-IQR; a NULL-group row passes through unscaled-NULL
    val rows = (1 to 9).map(i => (Some("a"), i.toLong, Some(i.toDouble))) ++
      (101 to 109).map(i => (Some("b"), i.toLong, Some(i.toDouble))) ++
      Seq((Some("c"), 200L, Some(7.0)), (Some("c"), 201L, Some(7.0)),
        (Option.empty[String], 300L, Some(5.0)))
    val out = Profiling.robustScaleByGroup(
        rows.toDF("g", "id", "v").repartition(5), "g", "v")
      .orderBy("id").collect()
    out.foreach { r =>
      val (g, id) = (if (r.isNullAt(0)) null else r.getString(0), r.getLong(1))
      val scaled = if (r.isNullAt(3)) None else Some(r.getDouble(3))
      val want = g match {
        case "a" => Some((id.toDouble - 5.0) / 4.0)
        case "b" => Some((id.toDouble - 100.0 - 5.0) / 4.0)
        case _ => None // zero-IQR group and NULL group both yield NULL
      }
      assert(scaled == want, s"group $g id $id: $scaled, want $want")
    }
    assert(out.length == rows.length, "no row may be dropped")
  }

  test("robustScale: zero-IQR column maps to NULL everywhere") {
    val df = (1 to 20).map(i => (i.toLong, 7.0, i.toDouble)).toDF("id", "c", "v")
    val out = Profiling.robustScale(df, Seq("c", "v"))
    assert(out.where(col("c_r").isNotNull).count() == 0L)
    assert(out.where(col("v_r").isNull).count() == 0L)
  }

  // --------------------------------------------------- reciprocalRankFusion

  test("reciprocalRankFusion equals the windowed-SQL spelling on multi-partition data") {
    val rnd = new scala.util.Random(11)
    val rows = (1L to 400L).map(i =>
      (i, rnd.nextDouble(), rnd.nextInt(50).toDouble, rnd.nextDouble()))
    val df = rows.toDF("doc_id", "s1", "s2", "s3").repartition(7)
    val got = Selection.reciprocalRankFusion(df, "doc_id", Seq("s1", "s2", "s3"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    df.createOrReplaceTempView("rrf_docs")
    val want = spark.sql(
      """SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY s1 DESC NULLS LAST, doc_id) AS r1,
           ROW_NUMBER() OVER (ORDER BY s2 DESC NULLS LAST, doc_id) AS r2,
           ROW_NUMBER() OVER (ORDER BY s3 DESC NULLS LAST, doc_id) AS r3
         FROM rrf_docs""")
      .collect().map { r =>
        val (r1, r2, r3) = (r.getInt(1).toLong, r.getInt(2).toLong, r.getInt(3).toLong)
        (r.getLong(0), r1, r2, r3,
          1.0 / (60 + r1) + 1.0 / (60 + r2) + 1.0 / (60 + r3))
      }.sortBy(_._1)
    assert(got.toSeq == want.toSeq)
  }

  test("reciprocalRankFusion: NULL scores rank last, ties break by id") {
    val df = Seq(
      (1L, Some(5.0)), (2L, None), (3L, Some(5.0)), (4L, None))
      .toDF("doc_id", "s")
    val got = Selection.reciprocalRankFusion(df, "doc_id", Seq("s"), k = 10)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 3L -> 2L, 2L -> 3L, 4L -> 4L))
  }

  test("precisionThresholdPerGroup picks the deepest cut meeting the target") {
    // a: prefixes 1/1, 2/2, 2/3(.667 fails), 3/4(.75), 3/5(.6 fails)
    //    -> qualifying scores {0.9, 0.8, 0.6}, deepest = 0.6
    // b: all negatives -> unattainable -> NULL row
    val df = Seq(
      ("a", 0.9, 1L), ("a", 0.8, 1L), ("a", 0.7, 0L), ("a", 0.6, 1L),
      ("a", 0.5, 0L), ("b", 0.9, 0L), ("b", 0.1, 0L)
    ).toDF("g", "s", "y")
    val out = Selection.precisionThresholdPerGroup(df, "g", "s", "y", 0.7)
      .orderBy("g").collect()
    val a = out(0)
    assert(a.getDouble(1) == 0.6 && a.getLong(2) == 4 && a.getLong(3) == 3 &&
      math.abs(a.getDouble(4) - 0.75) < 1e-12)
    val b = out(1)
    assert(b.isNullAt(1) && b.isNullAt(2) && b.isNullAt(4))
  }

  test("precisionThresholdPerGroup: score ties stay together, guards fire") {
    // distinct-score prefix: 0.5 -> 1/2 = 0.5 qualifies at target 0.5 and
    // keeps BOTH tied rows; the deeper cut (1/3) fails
    val df = Seq(("c", 0.5, 1L), ("c", 0.5, 0L), ("c", 0.4, 0L))
      .toDF("g", "s", "y")
    val r = Selection.precisionThresholdPerGroup(df, "g", "s", "y", 0.5)
      .head()
    assert(r.getDouble(1) == 0.5 && r.getLong(2) == 2 && r.getLong(3) == 1)
    intercept[IllegalArgumentException] {
      Selection.precisionThresholdPerGroup(df, "g", "s", "y", 0.0)
    }
    intercept[Exception] {
      Selection.precisionThresholdPerGroup(
        Seq(("c", 0.5, 2L)).toDF("g", "s", "y"), "g", "s", "y", 0.5).collect()
    }
  }
}
