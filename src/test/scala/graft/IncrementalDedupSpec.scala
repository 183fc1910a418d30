package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, NearDup}

/** Incremental (snapshot-over-snapshot) dedup: [[Dedup.dedupeAgainst]],
  * [[NearDup.nearDuplicatesAgainst]], [[Dedup.dedupeAgainstFuzzy]]. */
class IncrementalDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // Kept corpus: docs 1-3. New batch: 10 is an exact copy of 1; 11 a near-dup
  // of 2 (token 3 changed inside the first 60 chars → Jaccard 25/31 ≈ 0.81,
  // prefix differs); 12 shares exactly the first 60 chars with 3 but the long
  // divergent tails push Jaccard to 11/29 ≈ 0.38 (< 0.5); 13 is novel.
  private val seen = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
    (2L, "one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty twentyone twentytwo twentythree twentyfour twentyfive twentysix twentyseven twentyeight twentynine thirty"),
    (3L, "this exact sixty character prefix is shared with the new doc and then the kept tail diverges into many additional words entirely"))
    .toDF("doc_id", "text")
  private val fresh = Seq(
    (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
    (11L, "one two REPLACED four five six seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty twentyone twentytwo twentythree twentyfour twentyfive twentysix twentyseven twentyeight twentynine thirty"),
    (12L, "this exact sixty character prefix is shared with the new doc and then something completely different happens afterwards with extra padding words"),
    (13L, "totally novel content that matches nothing in the kept corpus at all"))
    .toDF("doc_id", "text")

  test("dedupeAgainst on full text drops only the exact copy") {
    val out = Dedup.dedupeAgainst(fresh, seen, df => df("text"))
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(11L, 12L, 13L))
  }

  test("dedupeAgainst on a prefix key drops prefix-sharers too") {
    val out = Dedup.dedupeAgainst(fresh, seen, df => substring(df("text"), 1, 60))
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(11L, 13L), "10 (exact) and 12 (shared prefix) must go")
  }

  test("nearDuplicatesAgainst finds cross-corpus pairs with exact Jaccard, never self-pairs") {
    val pairs = NearDup.nearDuplicatesAgainst(fresh, seen, "doc_id", "text",
        minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((10L, 1L)), "exact copy must pair with its original")
    assert(keys.contains((11L, 2L)), "one-word edit at j>=0.5 must be found")
    assert(pairs.forall(p => p._1 >= 10L && p._2 < 10L),
      "pairs must be strictly new x seen — the kept corpus is never self-paired")
    val exact = pairs.find(p => p._1 == 10L && p._2 == 1L).get._3
    assert(exact == 1.0, "identical text must verify at jaccard exactly 1.0")
  }

  test("nearDuplicatesAgainst matches brute-force cross Jaccard at the gate threshold") {
    // Brute force over the same shingle definition (NearDup.jaccard).
    val brute = fresh.as("n").crossJoin(seen.as("s"))
      .select(col("n.doc_id").as("new_id"), col("s.doc_id").as("seen_id"),
        NearDup.jaccard(col("n.text"), col("s.text")).as("j"))
      .where(col("j") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = NearDup.nearDuplicatesAgainst(fresh, seen, "doc_id", "text",
        minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == brute)
  }

  test("dedupeAgainstFuzzy keeps exactly the novel docs") {
    val out = Dedup.dedupeAgainstFuzzy(fresh, seen, "doc_id", "text",
        minJaccard = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(12L, 13L),
      "10 (exact, j=1.0) and 11 (j≈0.81) go; 12 (j≈0.38) only shares a prefix")
  }

  test("dedupeAgainstFuzzy works with STRING doc ids (no silent no-op)") {
    // Round-6 regression: the anti-join cast ids to long, nulling string ids
    // so the join never matched and every duplicate was silently KEPT.
    val seenS = seen.withColumn("doc_id", concat(lit("doc-"), col("doc_id")))
    val freshS = fresh.withColumn("doc_id", concat(lit("doc-"), col("doc_id")))
    val out = Dedup.dedupeAgainstFuzzy(freshS, seenS, "doc_id", "text",
        minJaccard = 0.5)
      .select("doc_id").as[String].collect().sorted
    assert(out.toSeq == Seq("doc-12", "doc-13"),
      "string-id fuzzy dedup must drop the same near-dups as the long-id path")
  }

  test("dedupeAgainstBloom is row-identical to dedupeAgainst at any filter size") {
    val docs = graft.sources.Tables.table(spark, TestSpark.sf0001, "documents")
    val newHalf = docs.where(col("doc_id") >= 250)
    val seenHalf = docs.where(col("doc_id") < 250)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().sorted.toSeq
    val exact = ids(Dedup.dedupeAgainst(newHalf, seenHalf,
      df => substring(df("text"), 1, 80)))
    // well-sized filter AND a deliberately undersized one (high FPP): false
    // positives may only add rows to the verify join, never change output
    Seq(100000L, 4L).foreach { est =>
      val got = ids(Dedup.dedupeAgainstBloom(newHalf, seenHalf,
        df => substring(df("text"), 1, 80), expectedDistinct = est))
      assert(got == exact, s"bloom path must be exact at expectedDistinct=$est")
    }
  }

  test("dedupeAgainstBloom: empty seen corpus keeps everything") {
    val out = Dedup.dedupeAgainstBloom(fresh, seen.where(col("doc_id") < 0),
      df => df("text"), expectedDistinct = 10)
    assert(out.count() == fresh.count())
  }

  test("index path equals the direct path; artifact round-trips through parquet") {
    val direct = NearDup.nearDuplicatesAgainst(fresh, seen, "doc_id", "text",
        minJaccard = 0.5, numHashes = 64, bands = 16)
      .select("new_id", "seen_id").as[(Long, Long)].collect().toSet
    assert(direct.nonEmpty, "fixture must produce at least one cross pair")
    val index = NearDup.buildNearDupIndex(seen, "doc_id", "text", numHashes = 64)
    // params (numHashes=64, k=3) come from the artifact, not the call site
    val viaIndex = NearDup.nearDuplicatesAgainstIndex(fresh, index,
        "doc_id", "text", minJaccard = 0.5, bands = 16)
      .select("new_id", "seen_id").as[(Long, Long)].collect().toSet
    assert(viaIndex == direct)
    val path = graft.sources.Scratch.dir("ndidx").toString + "/idx"
    index.write.mode("overwrite").parquet(path)
    val reloaded = NearDup.nearDuplicatesAgainstIndex(fresh,
        spark.read.parquet(path), "doc_id", "text", minJaccard = 0.5, bands = 16)
      .select("new_id", "seen_id").as[(Long, Long)].collect().toSet
    assert(reloaded == direct, "parquet round-trip must not change results")
  }

  test("dedupeAgainstFuzzyIndex keeps exactly the non-near-dup rows") {
    val index = NearDup.buildNearDupIndex(seen, "doc_id", "text", numHashes = 64)
    val kept = Dedup.dedupeAgainstFuzzyIndex(fresh, index, "doc_id", "text",
        minJaccard = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val direct = Dedup.dedupeAgainstFuzzy(fresh, seen, "doc_id", "text",
        minJaccard = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == direct, "index spelling must keep the same rows")
    assert(kept == Seq(12L, 13L), "10 (exact) and 11 (0.81 jaccard) must go")
  }

  test("index path: empty index drops nothing; bad bands fail loud") {
    val empty = NearDup.buildNearDupIndex(seen.where(col("doc_id") < 0), "doc_id", "text")
    val out = NearDup.nearDuplicatesAgainstIndex(fresh, empty, "doc_id", "text")
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("new_id", "seen_id", "jaccard"))
    val idx = NearDup.buildNearDupIndex(seen, "doc_id", "text", numHashes = 64)
    intercept[IllegalArgumentException](
      NearDup.nearDuplicatesAgainstIndex(fresh, idx, "doc_id", "text", bands = 48)
        .collect())
  }

  test("index path: a mixed-parameter index union fails loud") {
    // a union of artifacts built with different (num_hashes, shingle_k)
    // must be rejected, not silently signed with one row's parameters
    val idx64 = NearDup.buildNearDupIndex(seen, "doc_id", "text", numHashes = 64)
    val idx32 = NearDup.buildNearDupIndex(seen, "doc_id", "text", numHashes = 32)
    val e = intercept[IllegalArgumentException](
      NearDup.nearDuplicatesAgainstIndex(fresh, idx64.union(idx32),
        "doc_id", "text", bands = 16))
    assert(e.getMessage.contains("mixed-parameter"))
  }

  test("dedupeAgainst is partitioning-invariant") {
    val a = Dedup.dedupeAgainst(fresh.repartition(7), seen.repartition(3),
        df => df("text")).select("doc_id").as[Long].collect().sorted.toSeq
    val b = Dedup.dedupeAgainst(fresh.coalesce(1), seen.coalesce(1),
        df => df("text")).select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == b)
  }
}
