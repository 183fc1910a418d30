package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The distributed prefix scan against a sequential fold, and its release
  * and overflow contracts as seen through the operators built on it. */
class RangeScanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // (id, g, k, m): unique ids; g skewed toward "hot" so that key spans
  // several range partitions; k has heavy ties and NULLs; m is a nullable
  // measure
  private def rowsGen(n: Int): Gen[List[(Long, String, Option[Int], Option[Long])]] =
    Gen.listOfN(n, for {
      g <- Gen.oneOf("hot", "hot", "hot", "cold")
      k <- Gen.option(Gen.choose(0, 4))
      m <- Gen.option(Gen.choose(0L, 50L))
    } yield (g, k, m))
      .map(_.zipWithIndex.map { case ((g, k, m), i) => (i.toLong, g, k, m) })

  /** Per row: id -> (inclusive running sum of m, global row number), plus
    * the per-key totals of m and of rows, and the partitions each key hit. */
  private def scanned(df: DataFrame, keys: Seq[String], order: Seq[Column]) =
    RangeScan(df, keys, order, tieBreak = Seq(col("id"))) { scan =>
      val sums = scan.offsets(sum("m"))
      val counts = scan.offsets(count(lit(1)))
      val upTo = scan.window.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val rows = scan.frame.select(col("id"), col("g"), col("__pid"),
          (sums.column + sum("m").over(upTo)).as("cum"),
          (counts.column + row_number().over(scan.window)).as("rn"))
        .collect()
      (rows.map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap,
        sums.totals, counts.totals,
        rows.groupBy(_.getString(1)).map { case (g, rs) => g -> rs.map(_.getInt(2)).toSet })
    }

  /** The same numbers from one sequential fold over the sorted rows. */
  private def folded(rows: Seq[(Long, String, Option[Int], Option[Long])],
                     key: ((Long, String, Option[Int], Option[Long])) => Seq[Any],
                     sortKey: Option[Int] => Int) = {
    val byKey = rows.groupBy(key).map { case (k, rs) =>
      k -> rs.sortBy(r => (sortKey(r._3), r._1))
    }
    val perRow = byKey.values.flatMap { rs =>
      var (cum, rn) = (0L, 0L)
      rs.map { r => cum += r._4.getOrElse(0L); rn += 1; r._1 -> (cum, rn) }
    }.toMap
    (perRow, byKey.map { case (k, rs) => k -> rs.map(_._4.getOrElse(0L)).sum },
      byKey.map { case (k, rs) => k -> rs.size.toLong })
  }

  test("property: running sum and row number equal the sequential fold at " +
      "shuffle widths 1, 3 and 32") {
    (0 until 4).foreach { trial =>
      // 12 rows leave most of 32 range partitions empty
      val n = if (trial == 0) 12 else 40 + trial * 23
      val rows = rowsGen(n).apply(Gen.Parameters.default, Seed(900L + trial)).get
      val df = rows.toDF("id", "g", "k", "m")
        .withColumn("m", coalesce(col("m"), lit(0L))) // the callers' NULL fill
      // keyless, Selection's order: k DESC NULLS LAST, then id
      val (flat, flatSums, flatCounts) =
        folded(rows, _ => Seq.empty, k => k.fold(Int.MaxValue)(-_))
      // keyed by g, ascending k (NULLS FIRST), then id
      val (keyed, keyedSums, keyedCounts) =
        folded(rows, r => Seq(r._2), k => k.fold(Int.MinValue)(identity))
      for (p <- Seq(1, 3, 32))
          TestSpark.withConf("spark.sql.shuffle.partitions" -> p.toString) {
        val ctx = s"trial $trial, width $p"
        val (got, sums, counts, _) = scanned(df, Nil, Seq(col("k").desc_nulls_last))
        assert(got == flat, ctx)
        assert(sums == flatSums && counts == flatCounts, ctx)
        val (gotK, sumsK, countsK, pids) = scanned(df, Seq("g"), Seq(col("k")))
        assert(gotK == keyed, ctx)
        assert(sumsK == keyedSums && countsK == keyedCounts, ctx)
        if (p > 1 && n > 12)
          assert(pids("hot").size > 1, s"$ctx: the hot key must span partitions")
      }
    }
  }

  test("empty input: no totals, and the offset column still evaluates") {
    val empty = Seq.empty[(Long, Long)].toDF("id", "m")
    val (rows, totals) = RangeScan(empty, Nil, Seq(col("id"))) { scan =>
      val o = scan.offsets(sum("m"))
      (scan.frame.select(o.column + sum("m").over(scan.window)).collect(), o.totals)
    }
    assert(rows.isEmpty && totals.isEmpty)
  }

  test("a failed scan releases its persisted frame") {
    spark.catalog.clearCache()
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // one partition holding both rows: its ANSI sum overflows in the
    // subtotal job
    val df = Seq((1L, 2.0, Long.MaxValue), (2L, 1.0, 1L)).toDF("id", "score", "n")
    intercept[ArithmeticException] {
      TestSpark.withConf("spark.sql.shuffle.partitions" -> "1")(
        Selection.selectByBudget(df, "id", col("score"), col("n"), 10L))
    }
    assert(cache.isEmpty, "the scan's persisted frame outlived the failure")
  }

  test("a driver-side offset overflow fails instead of wrapping negative") {
    // one document per range partition at width 3: each partition total
    // fits in a long, the first two together do not. With ANSI off no
    // executor-side add checks the running total, so only the driver's
    // prefix sum can; wrapped, it made the last two rows fit the budget.
    val half = Long.MaxValue / 2 + 1
    val df = Seq((1L, 3.0, half), (2L, 2.0, half), (3L, 1.0, 1L))
      .toDF("id", "score", "n")
    TestSpark.withConf("spark.sql.shuffle.partitions" -> "3",
        "spark.sql.ansi.enabled" -> "false") {
      val e = intercept[ArithmeticException] {
        Selection.selectByBudget(df, "id", col("score"), col("n"), 10L).collect()
      }
      assert(e.getMessage.contains("overflow"), e.toString)
    }
  }
}
