package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.tools.ScaleSmoke

/** Pins the DECORRELATION invariants of the scale-smoke corpus builder: a
  * copies× self-union must be a BIGGER workload, not a DIFFERENT one —
  * within-copy structure preserved exactly, cross-copy similarity pushed
  * below every near-dup threshold the flagship pipelines use. */
class ScaleSmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val copies = 3
  private lazy val outDir: String = {
    val d = graft.sources.Scratch.dir("scale_smoke_spec").toString
    ScaleSmoke.buildScaledDir(spark, TestSpark.sf0001, d, copies)
    d
  }

  test("row counts scale by copies and ids stay distinct") {
    val docs = spark.read.parquet(s"$outDir/documents.parquet")
    val emb = spark.read.parquet(s"$outDir/embeddings.parquet")
    val baseDocs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val baseEmb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    assert(docs.count() == copies * baseDocs.count())
    assert(emb.count() == copies * baseEmb.count())
    assert(docs.select("doc_id").distinct().count() == docs.count())
    assert(emb.select("vec_id").distinct().count() == emb.count())
  }

  test("event copies preserve per-user timelines in fresh id universes") {
    val ev = spark.read.parquet(s"$outDir/events.parquet")
    val base = spark.read.parquet(s"${TestSpark.sf0001}/events.parquet")
    assert(ev.count() == copies * base.count())
    assert(ev.select("event_id").distinct().count() == ev.count())
    // every base user appears as exactly `copies` scaled users, each with an
    // IDENTICAL (event count, ts span) timeline profile — the as-of sweep's
    // per-key work is preserved, only key cardinality grows
    val bad = ev.groupBy("user_id")
      .agg(count("*").as("n"), min("ts").as("lo"), max("ts").as("hi"))
      .groupBy(pmod(col("user_id"), lit(ScaleSmoke.IdOffset)).as("bu"))
      .agg(count("*").as("nusers"),
        countDistinct(col("n"), col("lo"), col("hi")).as("profiles"))
      .where(col("nusers") =!= copies || col("profiles") =!= 1)
    assert(bad.isEmpty, "per-user timeline profiles must replicate exactly")
  }

  test("copy 0 is byte-identical to the base tables") {
    val docs = spark.read.parquet(s"$outDir/documents.parquet")
      .where(col("doc_id") < ScaleSmoke.IdOffset)
    val base = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    assert(docs.exceptAll(base).isEmpty && base.exceptAll(docs).isEmpty)
  }

  test("embedding copies are orthogonal transforms: norms preserved exactly") {
    val emb = spark.read.parquet(s"$outDir/embeddings.parquet")
    val norm = expr(
      "aggregate(embedding, 0.0D, (a, x) -> a + CAST(x AS DOUBLE) * x)")
    // group the copies of one base vector by base id: an orthogonal
    // transform must leave the squared norm bit-exact for float inputs
    // summed in double, up to association order — allow 1e-6 relative
    val spread = emb
      .groupBy(pmod(col("vec_id"), lit(ScaleSmoke.IdOffset)).as("base_id"))
      .agg(((max(norm) - min(norm)) / greatest(max(norm), lit(1e-12)))
        .as("rel_spread"))
      .agg(max("rel_spread")).head().getDouble(0)
    assert(spread < 1e-6, s"norms drift across copies: rel spread $spread")
  }

  test("cross-copy embeddings decorrelate (mean |cosine| small) and differ per copy") {
    val emb = spark.read.parquet(s"$outDir/embeddings.parquet")
    val c0 = emb.where(col("vec_id") < ScaleSmoke.IdOffset)
      .select(col("vec_id").as("base_id"), col("embedding").as("e0"))
    def copyK(k: Int) = emb
      .where(col("vec_id") >= k * ScaleSmoke.IdOffset &&
        col("vec_id") < (k + 1) * ScaleSmoke.IdOffset)
      .select((col("vec_id") - k * ScaleSmoke.IdOffset).as("base_id"),
        col("embedding").as(s"e$k"))
    graft.plans.HashExpressions.register(spark)
    val joined = c0.join(copyK(1), "base_id").join(copyK(2), "base_id")
    val stats = joined.agg(
      avg(abs(call_function("graft_cosine", col("e0"), col("e1")))).as("c01"),
      avg(abs(call_function("graft_cosine", col("e0"), col("e2")))).as("c02"),
      avg(abs(call_function("graft_cosine", col("e1"), col("e2")))).as("c12"),
      sum(when(col("e1") === col("e2"), 1L).otherwise(0L)).as("eq12")
    ).head()
    // pseudo-random 64-dim cosines concentrate near 0.1; 0.35 is far below
    // any near-dup threshold (x02c/x14c use ≥ 0.4) yet flake-proof
    Seq("c01", "c02", "c12").foreach { c =>
      val v = stats.getAs[Double](c)
      assert(v < 0.35, s"mean |cos| $c = $v — copies are not decorrelated")
    }
    assert(stats.getAs[Long]("eq12") == 0L,
      "distinct copies produced identical vectors (transform repeats)")
  }

  test("cross-copy texts fall below the near-dup Jaccard threshold") {
    val docs = spark.read.parquet(s"$outDir/documents.parquet")
    val c0 = docs.where(col("doc_id") < ScaleSmoke.IdOffset)
      .select(col("doc_id").as("base_id"), col("text").as("t0"))
    val c1 = docs
      .where(col("doc_id") >= ScaleSmoke.IdOffset &&
        col("doc_id") < 2L * ScaleSmoke.IdOffset)
      .select((col("doc_id") - ScaleSmoke.IdOffset).as("base_id"),
        col("text").as("t1"))
    def shingles(c: org.apache.spark.sql.Column) = array_distinct(
      filter(transform(split(c, "\\s+"),
        (w, i) => concat_ws(" ", w, try_element_at(split(c, "\\s+"), i + 2))),
        s => size(split(s, " ")) === 2))
    val jac = c0.join(c1, "base_id")
      .select((size(array_intersect(shingles(col("t0")), shingles(col("t1"))))
        / greatest(size(array_union(shingles(col("t0")), shingles(col("t1")))),
          lit(1))).as("j"))
      .agg(max("j"), avg("j")).head()
    // x02/x16 pair thresholds are ≥ 0.6; mutated copies must sit well under
    assert(jac.getDouble(1) < 0.4,
      s"mean cross-copy Jaccard ${jac.getDouble(1)} too high")
  }

  test("part copies: within-copy distances preserved, cross-copy outside d<=2") {
    val pt = spark.read.parquet(s"$outDir/part.parquet")
    val base = spark.read.parquet(s"${TestSpark.sf0001}/part.parquet")
    assert(pt.count() == copies * base.count())
    // distinct names scale by copies: each copy's 4-letter code is unique
    assert(pt.select("p_name").distinct().count()
      == copies * base.select("p_name").distinct().count())
    // a shared suffix preserves within-copy Levenshtein distances exactly:
    // copy 1's distinct-pair distance histogram (d <= 2) equals the base's
    def pairHist(df: org.apache.spark.sql.DataFrame): Map[Int, Long] = {
      val n = df.select(col("p_name")).distinct()
      n.as("a").crossJoin(n.as("b"))
        .where(col("a.p_name") < col("b.p_name"))
        .select(levenshtein(col("a.p_name"), col("b.p_name")).as("d"))
        .where(col("d") <= 2)
        .groupBy("d").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    val c1 = pt.where(col("p_partkey") >= ScaleSmoke.IdOffset &&
      col("p_partkey") < 2L * ScaleSmoke.IdOffset)
    assert(pairHist(c1) == pairHist(base),
      "appending the copy code must not change within-copy d<=2 structure")
    // cross-copy: the distance-3 code keeps every cross-copy pair of the
    // SAME base name at d >= 3 — strictly outside the join
    val minCross = pt.select(col("p_name"),
        pmod(col("p_partkey"), lit(ScaleSmoke.IdOffset)).as("bk"),
        (col("p_partkey") / lit(ScaleSmoke.IdOffset)).cast("int").as("cp"))
      .as("a")
      .join(pt.select(col("p_name").as("nb"),
        pmod(col("p_partkey"), lit(ScaleSmoke.IdOffset)).as("bk"),
        (col("p_partkey") / lit(ScaleSmoke.IdOffset)).cast("int").as("cpb"))
        .as("b"), Seq("bk"))
      .where(col("cp") < col("cpb"))
      .select(levenshtein(col("p_name"), col("nb")).as("d"))
      .agg(min("d")).head().getInt(0)
    assert(minCross >= 3, s"cross-copy min distance $minCross breaches d<=2")
  }

  test("scaled dir serves a full declared entry unchanged") {
    val out = SparkEntry.queries("x12_pack_sequences")(spark, outDir)
    assert(out.limit(1).count() == 1L)
  }
}
