package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.SketchStats

/** Pins for the mergeable distinct-count artifacts: accuracy vs exact,
  * merge ≡ union-sketch (HLL register-max), partition invariance, theta
  * set algebra vs exact novelty/overlap, per-group incremental fold,
  * artifact round-trip. */
class SketchStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def keyed(lo: Long, hi: Long, parts: Int = 6) =
    (lo to hi).map(i => (i, s"doc-$i")).toDF("id", "key").repartition(parts)

  test("HLL estimates within 3% of exact under any partitioning") {
    // NOT bit-identical across partitionings: DataSketches HLL keeps an
    // HIP estimator that is stream/merge-order sensitive (unions fall back
    // to the composite estimator) — the contract is the error bound, and
    // both spellings must sit inside it
    val est = SketchStats.estimate(
      SketchStats.hllSketch(keyed(1, 20000), col("key")))
    val est1 = SketchStats.estimate(
      SketchStats.hllSketch(keyed(1, 20000, parts = 1), col("key")))
    assert(math.abs(est - 20000.0) / 20000.0 < 0.03, s"estimate $est")
    assert(math.abs(est1 - 20000.0) / 20000.0 < 0.03, s"estimate $est1")
  }

  test("merge of two HLL artifacts tracks the union sketch") {
    val a = SketchStats.hllSketch(keyed(1, 8000), col("key"))
    val b = SketchStats.hllSketch(keyed(5000, 15000), col("key"))
    val merged = SketchStats.estimate(SketchStats.merge(a, b))
    val full = SketchStats.estimate(
      SketchStats.hllSketch(keyed(1, 15000), col("key")))
    assert(math.abs(merged - full).toDouble / full < 0.03,
      s"merge ($merged) must track union sketch ($full)")
    assert(math.abs(merged - 15000.0) / 15000.0 < 0.03, s"merged $merged")
  }

  test("theta is EXACT below its sampling threshold, under any partitioning") {
    // theta keeps the raw hash set until k (default 4096) distinct keys —
    // below that it is a set, not an estimate: exact and partition-invariant
    val e1 = SketchStats.estimate(
      SketchStats.thetaSketch(keyed(1, 3000), col("key")))
    val e2 = SketchStats.estimate(
      SketchStats.thetaSketch(keyed(1, 3000, parts = 1), col("key")))
    assert(e1 == 3000L && e2 == 3000L)
    val novel = SketchStats.noveltyEstimate(
      SketchStats.thetaSketch(keyed(2001, 4000), col("key")),
      SketchStats.thetaSketch(keyed(1, 3000), col("key")))
    assert(novel == 1000L, s"sub-threshold novelty must be exact, got $novel")
  }

  test("theta novelty/overlap track the exact set algebra") {
    val seen = keyed(1, 10000)
    val fresh = keyed(7001, 13000) // 3000 overlap, 6000 - 3000 = 3000 new
    val sSeen = SketchStats.thetaSketch(seen, col("key"))
    val sNew = SketchStats.thetaSketch(fresh, col("key"))
    val novel = SketchStats.noveltyEstimate(sNew, sSeen)
    val overlap = SketchStats.overlapEstimate(sNew, sSeen)
    assert(math.abs(novel - 3000.0) / 3000.0 < 0.05, s"novelty $novel")
    assert(math.abs(overlap - 3000.0) / 3000.0 < 0.05, s"overlap $overlap")
  }

  test("theta jaccard: exact sub-threshold, 0 on empty, 1 on identical") {
    // exactness needs the UNION below the sampling threshold (the union
    // inherits sampling once |A∪B| > k — with |A∪B| = 5000 the estimate
    // is ~1% off, which is the documented estimate regime)
    val a = SketchStats.thetaSketch(keyed(1, 2000), col("key"))
    val b = SketchStats.thetaSketch(keyed(1501, 3500), col("key"))
    // |A∩B| = 500, |A∪B| = 3500
    assert(SketchStats.jaccardEstimate(a, b) == 500.0 / 3500.0)
    assert(SketchStats.jaccardEstimate(a, a) == 1.0)
    val big = SketchStats.thetaSketch(keyed(1, 3000), col("key"))
    val bigB = SketchStats.thetaSketch(keyed(2001, 5000), col("key"))
    val est = SketchStats.jaccardEstimate(big, bigB) // union 5000 > k: estimate
    assert(math.abs(est - 0.2) < 0.01, s"super-threshold estimate $est")
    val empty = SketchStats.thetaSketch(
      keyed(1, 10).where(col("id") < 0), col("key"))
    assert(SketchStats.jaccardEstimate(empty, empty) == 0.0)
    assert(SketchStats.jaccardEstimate(a, empty) == 0.0)
  }

  test("per-group fold: new groups appear, untouched survive, counts grow") {
    val state = SketchStats.hllSketchByGroup(
      Seq(("en", "a"), ("en", "b"), ("de", "x")).toDF("lang", "w"),
      "lang", col("w"))
    val batch = SketchStats.hllSketchByGroup(
      Seq(("en", "c"), ("fr", "y")).toDF("lang", "w"), "lang", col("w"))
    val folded = SketchStats.mergeHllByGroup(state, batch, "lang")
    val est = folded.select(col("lang"),
        hll_sketch_estimate(col("sketch")).cast("long").as("d"))
      .as[(String, Long)].collect().toMap
    assert(est == Map("en" -> 3L, "de" -> 1L, "fr" -> 1L), est.toString)
  }

  test("artifact round-trips through parquet with an unchanged estimate") {
    val df = keyed(1, 500)
    val art = SketchStats.hllSketch(df, col("key"))
    val before = SketchStats.estimate(art)
    val path = graft.sources.Scratch.dir("hll").toString + "/art"
    SketchStats.save(art, path)
    assert(SketchStats.estimate(SketchStats.load(spark, path)) == before,
      "save/load must not change the sketch")
    val theta = SketchStats.thetaSketch(df, col("key"))
    val tPath = graft.sources.Scratch.dir("theta").toString + "/art"
    SketchStats.save(theta, tPath)
    assert(SketchStats.estimate(SketchStats.load(spark, tPath)) == 500L,
      "theta below threshold is exact, and save/load preserves it")
  }

  test("guards: lgK bounds") {
    val df = keyed(1, 10)
    intercept[IllegalArgumentException](
      SketchStats.hllSketch(df, col("key"), lgK = 2))
    intercept[IllegalArgumentException](
      SketchStats.hllSketchByGroup(df, "id", col("key"), lgK = 30))
  }

  test("KLL: quantiles within the rank-error bound of exact, any partitioning") {
    // values 1..2000 in one group, shuffled across partitions: the sketch's
    // p-quantile must sit within ±3ε ranks of p·n (ε = the k=200 bound,
    // ~1.65%; the contract is the bound, not reproducible bytes)
    val df = (1L to 2000L).map(i => ("g", ((i * 977) % 2000 + 1).toDouble))
      .toDF("grp", "v").repartition(7)
    val sk = SketchStats.kllSketchByGroup(df, "grp", col("v"))
    val eps = graft.plans.KllAggregate.normalizedRankError(200)
    Seq(0.1, 0.5, 0.9, 0.99).foreach { p =>
      val q = sk.select(SketchStats.kllQuantile(col("sketch"), p))
        .head().getDouble(0)
      // true rank of the returned value is q/2000 (values are exactly 1..n)
      assert(math.abs(q / 2000.0 - p) <= 3 * eps,
        s"p=$p returned $q (rank ${q / 2000.0}), bound $eps")
    }
    assert(sk.head().getAs[Long]("n_rows") == 2000L)
  }

  test("KLL: per-group artifacts fold incrementally without raw values") {
    val a = SketchStats.kllSketchByGroup(
      (1L to 500L).map(i => ("x", i.toDouble)).toDF("grp", "v"), "grp", col("v"))
    val b = SketchStats.kllSketchByGroup(
      (501L to 1000L).map(i => ("x", i.toDouble)).toDF("grp", "v") union
        (1L to 100L).map(i => ("y", i.toDouble)).toDF("grp", "v"),
      "grp", col("v"))
    val merged = SketchStats.mergeKllByGroup(a, b, "grp")
      .orderBy("grp").collect()
    assert(merged.map(_.getString(0)).toSeq == Seq("x", "y"),
      "new groups must appear, existing survive")
    val x = merged(0)
    assert(x.getAs[Long]("n_rows") == 1000L)
    // the merged sketch spans BOTH halves: its median must sit near 500
    val med = SketchStats.mergeKllByGroup(a, b, "grp")
      .where(col("grp") === "x")
      .select(SketchStats.kllQuantile(col("sketch"), 0.5)).head().getDouble(0)
    assert(med > 400 && med < 600, s"merged median $med not spanning halves")
  }

  test("KLL: rank probe inverts the quantile probe; empty sketch yields NULL") {
    val df = (1L to 1000L).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val sk = SketchStats.kllSketchByGroup(df, "grp", col("v"))
    val r = sk.select(SketchStats.kllRank(col("sketch"), lit(250.0)))
      .head().getDouble(0)
    assert(math.abs(r - 0.25) < 0.05, s"rank of 250/1000 read $r")
    // a group whose values are all NULL builds an EMPTY sketch → NULL probes
    val empty = SketchStats.kllSketchByGroup(
      Seq(("e", null.asInstanceOf[java.lang.Double])).toDF("grp", "v"),
      "grp", col("v"))
    assert(empty.select(SketchStats.kllQuantile(col("sketch"), 0.5))
      .head().isNullAt(0))
  }

  test("KLL: artifact round-trips through parquet") {
    val df = (1L to 800L).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val p = graft.sources.Scratch.dir("kll_art").toString + "/a"
    SketchStats.save(SketchStats.kllSketchByGroup(df, "grp", col("v")), p)
    val q = SketchStats.load(spark, p)
      .select(SketchStats.kllQuantile(col("sketch"), 0.5)).head().getDouble(0)
    assert(q > 300 && q < 500, s"round-tripped median $q")
  }
}
