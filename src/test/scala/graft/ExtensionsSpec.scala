package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators._
import graft.functions.{TextAnalysis, Vectors}

/** X2–X5 extension specs: near-dup detection, similarity search, text
  * analysis, multimodal plumbing — on the driver testdata plus adversarial
  * synthetic rows. */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.DataFrame

  private def docs: DataFrame =
    graft.sources.Tables.table(spark, TestSpark.sf0001, "documents")
  private def embs: DataFrame =
    graft.sources.Tables.table(spark, TestSpark.sf0001, "embeddings")

  // ---- X2: near-dup ----

  test("minhash LSH finds planted near-duplicates, not unrelated docs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tomorrow") // 1-word edit
    val far = "completely different content about spark distributed query engines"
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = NearDup.nearDuplicates(df, "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("minhash est_jaccard ≈ exact jaccard on identical docs") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h")).toDF("doc_id", "text")
    val est = NearDup.minhashCandidates(df, "doc_id", "text").head().getDouble(2)
    assert(est == 1.0)
  }

  test("simhash: identical → distance 0, near → small, far → large") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = base.replace("tok40", "tokX")
    val far = (1 to 40).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, base), (4L, far)).toDF("id", "t")
    val sh = df.select(col("id"), NearDup.simhash(col("t")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(3L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(2L)) < 12)
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(4L)) > 12)
    val pairs = NearDup.simhashPairs(df, "id", "t", maxBits = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.contains((1L, 4L)))
  }

  test("simhashPairs: band count derived from maxBits keeps full recall past distance 3") {
    import spark.implicits._
    // find a mutation whose simhash lands 4-8 bits from base — under the old
    // fixed 4x16 banding such a pair could share no band and be silently dropped
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val variants = (1 to 40).map(v =>
      (v.toLong, base.replace(s"tok${v % 59 + 1}", s"m${v}a")
                     .replace(s"tok${(v * 7) % 59 + 1}", s"m${v}b")))
    val all = ((0L, base) +: variants).toDF("id", "t")
    val sh = all.select(col("id"), NearDup.simhash(col("t")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pick = variants.map(_._1).find { v =>
      val d = java.lang.Long.bitCount(sh(0L) ^ sh(v)); d >= 4 && d <= 8
    }
    assert(pick.nonEmpty, "no variant landed at distance 4-8")
    val df = all.where(col("id").isin(0L, pick.get))
    val pairs = NearDup.simhashPairs(df, "id", "t", maxBits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, pick.get))) // pigeonhole: 9 bands guarantee a shared band
  }

  test("graft_cosine: bit-identical to the HOF cosine; null on dim mismatch/zero") {
    import spark.implicits._
    graft.plans.HashExpressions.register(spark)
    val pairs = embs.limit(50).crossJoin(
        embs.limit(50).select(col("vec_id").as("id2"), col("embedding").as("e2")))
      .select(
        call_function("graft_cosine", col("embedding"), col("e2")).as("native"),
        Vectors.cosine(col("embedding"), col("e2")).as("hof"))
      .collect()
    assert(pairs.nonEmpty && pairs.forall(r => r.getDouble(0) == r.getDouble(1)))
    val edge = Seq((Seq(1.0f, 2.0f), Seq(1.0f)), (Seq(1.0f), Seq(0.0f)))
      .toDF("a", "b")
      .select(call_function("graft_cosine", col("a"), col("b"))).collect()
    assert(edge.forall(_.isNullAt(0))) // mismatched dims; zero vector
    // NULL element propagates (like the HOF fold: acc + null → null)
    val withNull = Seq(1).toDF("x")
      .select(call_function("graft_cosine",
        array(lit(1.0), lit(null).cast("double")), array(lit(1.0), lit(2.0))))
      .collect()
    assert(withNull.head.isNullAt(0))
    // non-array input is rejected at analysis, not runtime
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1).toDF("x").select(call_function("graft_cosine", col("x"), col("x"))).collect()
    }
    assert(bad.getMessage.toLowerCase.contains("graft_cosine"))
  }

  test("graft_lsh_bucket: bit-identical buckets to the HOF lshBucket form") {
    graft.plans.HashExpressions.register(spark)
    val planes = 8; val seed = 42L
    // same driver-built hyperplanes feed both forms
    val hp = SimilaritySearch.hyperplanes(64, planes, seed)
    val planesLit = array(hp.map(p => array(p.map(lit): _*)): _*)
    val rows = embs.select(
        call_function("graft_lsh_bucket", col("embedding"), planesLit).as("native"),
        SimilaritySearch.lshBucket(col("embedding"), 64, planes, seed).as("hof"))
      .collect()
    assert(rows.nonEmpty && rows.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("graft_nearest_cells: same assignment and probe order as the HOF argmin form") {
    graft.plans.HashExpressions.register(spark)
    val cents = embs.orderBy("vec_id").limit(6)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val centLit = array(cents.map(c => array(c.map(lit): _*)): _*)
    val hofDists = array(cents.zipWithIndex.map { case (c, i) =>
      struct(Vectors.l2Distance(col("embedding"), array(c.map(lit): _*)).as("d"),
        lit(i).as("cell"))
    }: _*)
    val rows = embs.select(
        call_function("graft_nearest_cells", col("embedding"), centLit, lit(3)).as("native"),
        transform(slice(array_sort(hofDists), 1, 3), s => s.getField("cell")).as("hof"),
        array_min(hofDists).getField("cell").as("argmin"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1), "probe order diverges from HOF sort")
      assert(r.getSeq[Int](0).head == r.getInt(2), "cell assignment diverges from argmin")
    }
  }

  test("cosinePairsExact: equals HOF-computed ground truth, symmetric-free (id_1<id_2)") {
    val got = NearDup.cosinePairsExact(embs, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = embs.select(col("vec_id").as("i1"), col("embedding").as("e1"))
    val b = embs.select(col("vec_id").as("i2"), col("embedding").as("e2"))
    val want = a.crossJoin(b).where(col("i1") < col("i2"))
      .where(Vectors.cosine(col("e1"), col("e2")) >= 0.4)
      .select("i1", "i2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
    assert(got.forall { case (i, j) => i < j })
  }

  test("jaccardPairsExact: inverted-index pairs equal the cross-join ground truth") {
    val got = NearDup.jaccardPairsExact(docs, "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sh = docs.select(col("doc_id"),
      array_distinct(NearDup.shingles(col("text"))).as("sh")).cache()
    val a = sh.select(col("doc_id").as("id_1"), col("sh").as("s1"))
    val b = sh.select(col("doc_id").as("id_2"), col("sh").as("s2"))
    val want = a.crossJoin(b).where(col("id_1") < col("id_2"))
      .withColumn("j", size(array_intersect(col("s1"), col("s2"))).cast("double") /
        size(array_union(col("s1"), col("s2"))).cast("double"))
      .where(col("j") >= 0.5)
      .select("id_1", "id_2", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    sh.unpersist()
    assert(got.nonEmpty && got == want)
    // dfCap drops hot shingles conservatively: output is a subset
    val capped = NearDup.jaccardPairsExact(docs, "doc_id", "text",
        minJaccard = 0.5, dfCap = Some(3L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(got.map(t => (t._1, t._2))))
  }

  test("containmentPairs: quoted-subset docs score 1.0 where Jaccard misses them") {
    import spark.implicits._
    val tweet = "the quick brown fox jumps over the lazy dog every single morning"
    val article = "breaking news coverage begins here with context " + tweet +
      " and then continues with extended analysis commentary reactions and a " +
      "long closing section about entirely different subjects and themes"
    val df = Seq((1L, tweet), (2L, article),
      (3L, "an unrelated document about completely different things altogether"))
      .toDF("doc_id", "text")
    val got = NearDup.containmentPairs(df, "doc_id", "text", minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.length == 1)
    val (i1, i2, c12, c21) = got.head
    assert(i1 == 1L && i2 == 2L)
    assert(c12 == 1.0, s"tweet fully contained, got $c12") // every shingle present
    assert(c21 < 0.6, s"article mostly NOT in tweet, got $c21")
    // the symmetric detector misses exactly this pair
    val jac = NearDup.jaccardPairsExact(df, "doc_id", "text", minJaccard = 0.5)
    assert(jac.count() == 0)
  }

  test("containmentPairs: ratios equal the cross-join ground truth; dfCap is conservative") {
    val got = NearDup.containmentPairs(docs, "doc_id", "text", minContainment = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    val sh = docs.select(col("doc_id"),
      array_distinct(NearDup.shingles(col("text"))).as("sh")).cache()
    val a = sh.select(col("doc_id").as("id_1"), col("sh").as("s1"))
    val b = sh.select(col("doc_id").as("id_2"), col("sh").as("s2"))
    val want = a.crossJoin(b).where(col("id_1") < col("id_2"))
      .withColumn("c", size(array_intersect(col("s1"), col("s2"))).cast("double"))
      .withColumn("c12", col("c") / size(col("s1")).cast("double"))
      .withColumn("c21", col("c") / size(col("s2")).cast("double"))
      .where(greatest(col("c12"), col("c21")) >= 0.5)
      .select("id_1", "id_2", "c12", "c21")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    sh.unpersist()
    assert(got.nonEmpty && got == want)
    val capped = NearDup.containmentPairs(docs, "doc_id", "text",
        minContainment = 0.5, dfCap = Some(3L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(got.map(t => (t._1, t._2))))
  }

  test("winnowOverlapPairs finds shared-passage pairs, not disjoint docs") {
    import spark.implicits._
    val passage = "the shared middle section of these two documents goes on " +
      "for quite a while so the winnowing guarantee threshold is comfortably met"
    val df = Seq(
      (1L, s"first document begins differently $passage and ends its own way"),
      (2L, s"second document has another opening $passage plus a distinct tail"),
      (3L, "a third document with entirely unrelated content about something else " +
        "that shares no passage with the other two documents at all")).toDF("id", "t")
    val pairs = NearDup.winnowOverlapPairs(df, "id", "t",
        k = 12, w = 8, minShared = 1, dfCap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("exact jaccard column") {
    import spark.implicits._
    val df = Seq(("a b c d", "a b c d"), ("a b c d", "x y z w")).toDF("t1", "t2")
    val j = df.select(NearDup.jaccard(col("t1"), col("t2"), k = 2)).collect().map(_.getDouble(0))
    assert(j(0) == 1.0 && j(1) == 0.0)
  }

  test("LSH near-dup finds EXACTLY the ground-truth pairs in documents (recall+precision 1.0)") {
    val got = NearDup.nearDuplicates(docs, "doc_id", "text", minJaccard = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact all-pairs ground truth via crossJoin (feasible at 500 docs);
    // shingle sets precomputed ONCE per side, not per pair
    val sh = docs.select(col("doc_id"),
      array_distinct(NearDup.shingles(col("text"))).as("sh")).cache()
    val a = sh.select(col("doc_id").as("id_1"), col("sh").as("s1"))
    val b = sh.select(col("doc_id").as("id_2"), col("sh").as("s2"))
    val want = a.crossJoin(b).where(col("id_1") < col("id_2"))
      .withColumn("j", size(array_intersect(col("s1"), col("s2"))).cast("double") /
        size(array_union(col("s1"), col("s2"))))
      .where(col("j") >= 0.8)
      .select("id_1", "id_2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    sh.unpersist()
    assert(want.nonEmpty, "testdata should contain planted near-duplicates")
    assert(got == want, s"missed=${want -- got} extra=${got -- want}")
  }

  // ---- X3: similarity search ----

  test("brute-force topK returns the query's own vector first (cosine=1)") {
    val q = embs.where(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val top = SimilaritySearch.topK(embs, "vec_id", "embedding", q, 5).collect()
    assert(top.head.getLong(0) == 0L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
    assert(top.map(_.getDouble(1)).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("LSH bucketed topK achieves decent recall@10 vs brute force") {
    val queries = embs.where(col("vec_id") < 20)
    val ann = SimilaritySearch.lshBucketedTopK(embs, queries,
      "vec_id", "embedding", "vec_id", k = 10, dim = 64, planes = 4)
    val annSets = ann.groupBy("query_id").agg(collect_set("corpus_id").as("got"))
    // brute force per query via self-join rank
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("corpus_id"))
    val bf = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(embs.select(col("vec_id").as("corpus_id"), col("embedding").as("cv")))
      .where(col("query_id") =!= col("corpus_id"))
      .withColumn("score", Vectors.cosine(col("qv"), col("cv")))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 10)
      .groupBy("query_id").agg(collect_set("corpus_id").as("want"))
    val recall = annSets.join(bf, "query_id")
      .select(avg(size(array_intersect(col("got"), col("want"))) / size(col("want"))))
      .head().getDouble(0)
    assert(recall > 0.3, s"recall@10 = $recall") // 4 planes ⇒ ~16 buckets over 500 vecs
  }

  test("IVF topK achieves decent recall@10 vs brute force") {
    val queries = embs.where(col("vec_id") < 20)
    val ivf = SimilaritySearch.ivfTopK(embs, queries,
      "vec_id", "embedding", "vec_id", k = 10, nlist = 8, nprobe = 3)
    val got = ivf.groupBy("query_id").agg(collect_set("corpus_id").as("got"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("corpus_id"))
    val bf = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(embs.select(col("vec_id").as("corpus_id"), col("embedding").as("cv")))
      .where(col("query_id") =!= col("corpus_id"))
      .withColumn("score", Vectors.cosine(col("qv"), col("cv")))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 10)
      .groupBy("query_id").agg(collect_set("corpus_id").as("want"))
    val recall = got.join(bf, "query_id")
      .select(avg(size(array_intersect(col("got"), col("want"))) / size(col("want"))))
      .head().getDouble(0)
    assert(recall > 0.3, s"IVF recall@10 = $recall")
  }

  test("recallAtK: identity is 1.0, full-probe IVF is exhaustive, partial hits count exactly") {
    val queries = embs.where(col("vec_id") < 15)
    val exact = SimilaritySearch.topKAll(embs, queries,
      "vec_id", "embedding", "vec_id", k = 8)
    // ground truth against itself: every query at recall 1.0 with n_exact=8
    val self = SimilaritySearch.recallAtK(exact, exact, 8).collect()
    assert(self.nonEmpty && self.forall(r =>
      r.getDouble(3) == 1.0 && r.getLong(1) == 8L))
    // probing ALL cells is exhaustive by construction -> recall exactly 1.0
    val cents = SimilaritySearch.trainIvf(embs, "vec_id", "embedding",
      nlist = 8, refineIters = 2)
    val full = SimilaritySearch.ivfSearch(cents, embs, queries,
      "vec_id", "embedding", "vec_id", k = 8, nprobe = 8)
    assert(SimilaritySearch.recallAtK(exact, full, 8).collect()
      .forall(_.getDouble(3) == 1.0), "nprobe = nlist must equal exact")
    // hand check: an approx frame missing exactly one of each query's hits
    val crippled = exact.where(col("rank") =!= 1)
      .withColumn("rank", col("rank") - 1)
    val part = SimilaritySearch.recallAtK(exact, crippled, 8).collect()
    assert(part.forall(r => r.getLong(2) == 7L && r.getDouble(3) == 7.0 / 8))
  }

  test("review fixes: dim mismatch → NULL; NULL vectors don't break refinement; topKAll self-inclusion") {
    import spark.implicits._
    graft.plans.HashExpressions.register(spark)
    // graft_lsh_bucket / graft_nearest_cells: plane/centroid dim mismatch
    // yields NULL, never a silently truncated dot product
    val planes2 = array(array(lit(1.0), lit(2.0)))
    val cents2 = array(array(lit(1.0), lit(2.0)))
    val v3 = Seq(1).toDF("x").select(array(lit(1.0), lit(2.0), lit(3.0)).as("v"))
    assert(v3.select(call_function("graft_lsh_bucket", col("v"), planes2)).head().isNullAt(0))
    assert(v3.select(call_function("graft_nearest_cells", col("v"), cents2, lit(1))).head().isNullAt(0))
    // refineCentroids tolerates NULL vectors (no NPE, NULLs assign nowhere)
    val withNull = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, null.asInstanceOf[Array[Float]])).toDF("id", "vec")
    val refined = SimilaritySearch.refineCentroids(withNull, "vec",
      Seq(Array(1.0, 0.0), Array(0.0, 1.0)), iters = 1)
    assert(refined.size == 2)
    // topKAll: excludeSelf=false keeps the id-coincident pair
    val corpus = Seq((42L, Array(1.0f, 0.0f))).toDF("item_id", "vec")
    val queries = Seq((42L, Array(1.0f, 0.0f))).toDF("user_id", "vec")
    val withSelf = SimilaritySearch.topKAll(corpus, queries, "item_id", "vec",
      "user_id", k = 1, excludeSelf = false).count()
    val without = SimilaritySearch.topKAll(corpus, queries, "item_id", "vec",
      "user_id", k = 1).count()
    assert(withSelf == 1 && without == 0)
  }

  test("IVF Lloyd refinement never increases the quantization objective") {
    graft.plans.HashExpressions.register(spark)
    val init = embs.select(col("embedding")).orderBy(xxhash64(col("vec_id"))).limit(8)
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray).toSeq
    val e0 = SimilaritySearch.quantizationError(embs, "embedding", init)
    val r1 = SimilaritySearch.refineCentroids(embs, "embedding", init, iters = 1)
    val e1 = SimilaritySearch.quantizationError(embs, "embedding", r1)
    val r2 = SimilaritySearch.refineCentroids(embs, "embedding", r1, iters = 1)
    val e2 = SimilaritySearch.quantizationError(embs, "embedding", r2)
    assert(e1 <= e0 + 1e-9 && e2 <= e1 + 1e-9, s"Lloyd must not regress: $e0 -> $e1 -> $e2")
    assert(e1 < e0, "first Lloyd step should strictly improve on sample init")
  }

  test("sampled Lloyd: under-cap training matches full-corpus refinement") {
    graft.plans.HashExpressions.register(spark)
    // floor 0 forces the sampling path; the fixture is far under
    // RefineSampleCap, so the materialized sample IS the whole corpus:
    // trainIvf must equal init + full-corpus Lloyd up to
    // aggregation-order float drift
    spark.conf.set(SimilaritySearch.RefineSampleFloorConf, "0")
    val cents = try SimilaritySearch.trainIvf(embs, "vec_id", "embedding",
      nlist = 8, refineIters = 2)
    finally spark.conf.unset(SimilaritySearch.RefineSampleFloorConf)
    val init = embs.where(col("embedding").isNotNull)
      .select(col("embedding")).orderBy(xxhash64(col("vec_id"))).limit(8)
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray).toSeq
    val full = SimilaritySearch.refineCentroids(embs, "embedding", init, iters = 2)
    assert(cents.size == full.size)
    cents.zip(full).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-9, s"sampled/full drift: $x vs $y") }
    }
  }

  test("refinement sample: capped, deterministic, partitioning-invariant") {
    val base = embs.select(col("vec_id"), col("embedding"))
    val cap = 50
    def ids(df: DataFrame) = SimilaritySearch.refinementSample(df, "vec_id", cap)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val a = ids(base)
    val b = ids(base.repartition(13))
    assert(a.size == cap, s"sample must hold exactly cap rows, got ${a.size}")
    assert(a == b, "sample must not move when the input is repartitioned")
    // above-cap training still produces a usable quantizer: the objective
    // on the FULL corpus must improve over the sample init (clustered data)
    spark.conf.set(SimilaritySearch.RefineSampleFloorConf, "0")
    val sampled = try SimilaritySearch.trainIvf(embs, "vec_id", "embedding",
      nlist = 8, refineIters = 2, refineSampleCap = cap)
    finally spark.conf.unset(SimilaritySearch.RefineSampleFloorConf)
    val init = embs.where(col("embedding").isNotNull)
      .select(col("embedding")).orderBy(xxhash64(col("vec_id"))).limit(8)
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray).toSeq
    val e0 = SimilaritySearch.quantizationError(embs, "embedding", init)
    val eS = SimilaritySearch.quantizationError(embs, "embedding", sampled)
    assert(eS < e0, s"sampled refinement must beat raw init on the corpus: $e0 -> $eS")
  }

  test("graft_nearest_dist is bit-identical to the interpreted assign-then-fold form") {
    graft.plans.HashExpressions.register(spark)
    val cents = embs.select(col("embedding")).orderBy(xxhash64(col("vec_id"))).limit(8)
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray).toSeq
    val centLit = array(cents.map(c => array(c.map(lit): _*)): _*)
    val both = embs.select(col("vec_id"),
        call_function("graft_nearest_dist", col("embedding"), centLit).as("native"),
        aggregate(zip_with(col("embedding"),
            element_at(centLit,
              element_at(call_function("graft_nearest_cells", col("embedding"),
                centLit, lit(1)), 1) + 1),
            (x, y) => { val d = x.cast("double") - y; d * d }),
          lit(0.0), (acc, v) => acc + v).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getDouble(1) == r.getDouble(2),
      s"vec ${r.getLong(0)}: native ${r.getDouble(1)} != hof ${r.getDouble(2)}"))
  }

  test("ivfSearch over pre-trained centroids equals the train+search composition") {
    val queries = embs.where(col("vec_id") < 10)
    val cents = SimilaritySearch.trainIvf(embs, "vec_id", "embedding",
      nlist = 8, refineIters = 2)
    val split = SimilaritySearch.ivfSearch(cents, embs, queries,
        "vec_id", "embedding", "vec_id", k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val fused = SimilaritySearch.ivfTopK(embs, queries,
        "vec_id", "embedding", "vec_id", k = 5, nlist = 8, nprobe = 3, refineIters = 2)
      .orderBy("query_id", "rank").collect().toSeq
    assert(split.nonEmpty && split == fused)
  }

  test("centroid artifact save/load round-trips; indexed search equals in-memory search") {
    val queries = embs.where(col("vec_id") < 10)
    val cents = SimilaritySearch.trainIvf(embs, "vec_id", "embedding",
      nlist = 8, refineIters = 2)
    // 1) the trained-index artifact survives a save/load cycle exactly
    val centsPath = graft.sources.Scratch.dir("ivf-cents").toString
    SimilaritySearch.saveCentroids(spark, cents, centsPath)
    val loaded = SimilaritySearch.loadCentroids(spark, centsPath)
    assert(loaded.map(_.toSeq) == cents.map(_.toSeq),
      "centroids must round-trip bit-exactly through parquet")
    val fromMemory = SimilaritySearch.ivfSearch(cents, embs, queries,
        "vec_id", "embedding", "vec_id", k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val fromDisk = SimilaritySearch.ivfSearch(loaded, embs, queries,
        "vec_id", "embedding", "vec_id", k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(fromDisk.nonEmpty && fromDisk == fromMemory)
    // 2) the materialized cell-partitioned index returns identical results
    val idxPath = graft.sources.Scratch.dir("ivf-index").toString
    SimilaritySearch.buildIvfIndex(embs, "vec_id", "embedding", cents, idxPath)
    val indexed = SimilaritySearch.ivfSearchIndexed(spark, idxPath, loaded,
        queries, "embedding", "vec_id", k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(indexed == fromMemory,
      "probed-cell index search must equal the full-corpus-assignment search")
    // 3) the mismatch-proof overload: quantizer embedded in the index itself
    val embedded = SimilaritySearch.ivfSearchIndexed(spark, idxPath,
        queries, "embedding", "vec_id", k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(embedded == fromMemory,
      "embedded-quantizer search must equal the explicit-centroids path")
  }

  test("IVF delta-append: search over base+delta equals a rebuilt index on the union") {
    import org.apache.spark.sql.functions.input_file_name
    val queries = embs.where(col("vec_id") < 10)
    val base = embs.where(pmod(col("vec_id"), lit(3)) =!= 0)
    val delta = embs.where(pmod(col("vec_id"), lit(3)) === 0)
    // quantizer trained on the BASE only — the append must reuse it
    // (embedded in the index), never retrain on the delta
    val cents = SimilaritySearch.trainIvf(base, "vec_id", "embedding",
      nlist = 8, refineIters = 1)
    val idxPath = graft.sources.Scratch.dir("ivf-delta").toString
    SimilaritySearch.buildIvfIndex(base, "vec_id", "embedding", cents, idxPath)
    SimilaritySearch.appendToIvfIndex(delta, "vec_id", "embedding", idxPath)
    val appended = SimilaritySearch.ivfSearchIndexed(spark, idxPath,
        queries, "embedding", "vec_id", k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect().toSeq
    // rebuilt from scratch on the union, SAME quantizer
    val rebuiltPath = graft.sources.Scratch.dir("ivf-rebuilt").toString
    SimilaritySearch.buildIvfIndex(base.unionAll(delta), "vec_id", "embedding",
      cents, rebuiltPath)
    val rebuilt = SimilaritySearch.ivfSearchIndexed(spark, rebuiltPath,
        queries, "embedding", "vec_id", k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(appended.nonEmpty && appended == rebuilt,
      "delta-append must be indistinguishable from a rebuild on the union")
    // partition pruning still holds with delta part files present
    val one = embs.where(col("vec_id") === 0)
    val search = SimilaritySearch.ivfSearchIndexed(spark, idxPath,
      one, "embedding", "vec_id", k = 5, nprobe = 2)
    val cellsRead = search.join(spark.read.parquet(idxPath)
        .select(col("corpus_id"), input_file_name().as("__f")), "corpus_id")
      .select("__f").distinct().collect().map(_.getString(0))
      .map(f => f.split("/").find(_.startsWith("cell=")).getOrElse("?")).distinct
    assert(cellsRead.length <= 2,
      s"append must not defeat cell pruning: ${cellsRead.toSeq}")
  }

  test("gate entries: x03c_search_indexed equals x03c_search row-for-row") {
    val direct = Queries.queries("x03c_search")(spark, TestSpark.sf0001)
      .collect().toSeq
    val indexed = Queries.queries("x03c_search_indexed")(spark, TestSpark.sf0001)
      .collect().toSeq
    assert(indexed.nonEmpty && indexed == direct)
  }

  test("bucket/cell expressions reject invalid foldable args at analysis") {
    import spark.implicits._
    graft.plans.HashExpressions.register(spark)
    val v = Seq(1).toDF("x").select(array(lit(1.0), lit(2.0)).as("v"))
    // >64 planes would wrap 1L << p and collide buckets — rejected up front
    val planes65 = array((0 until 65).map(_ => array(lit(1.0), lit(2.0))): _*)
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      v.select(call_function("graft_lsh_bucket", col("v"), planes65)).collect()
    }
    assert(e1.getMessage.contains("64"))
    // NULL / non-positive n would NPE or negative-size at eval — rejected
    val cents = array(array(lit(1.0), lit(2.0)))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      v.select(call_function("graft_nearest_cells", col("v"), cents,
        lit(null).cast("int"))).collect()
    }
    assert(e2.getMessage.contains("non-null"))
    val e3 = intercept[org.apache.spark.sql.AnalysisException] {
      v.select(call_function("graft_nearest_cells", col("v"), cents, lit(0))).collect()
    }
    assert(e3.getMessage.contains("positive"))
  }

  test("winnowing guarantee: any shared passage ≥ w+k−1 chars shares a fingerprint (100 random cases)") {
    import spark.implicits._
    // Schleimer et al. SIGMOD'03, Thm: a match of length ≥ w+k−1 spans w
    // consecutive k-grams, so ONE window lies entirely inside it in both
    // documents; winnowing selects that window's min hash in both → the
    // fingerprint SETS intersect. Randomized: alphabetic docs with a planted
    // passage of exactly w+k−1 chars at random positions, one Spark job for
    // all cases.
    val k = 8; val w = 4
    val rnd = new scala.util.Random(20260812L)
    def word(n: Int): String = Array.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    def doc(passage: String): String = {
      val pre = Seq.fill(1 + rnd.nextInt(8))(word(1 + rnd.nextInt(10))).mkString(" ")
      val post = Seq.fill(1 + rnd.nextInt(8))(word(1 + rnd.nextInt(10))).mkString(" ")
      s"$pre $passage $post"
    }
    val cases = (1 to 100).map { i =>
      val passage = word(k + w - 1) // letters only: normalization-invariant
      (i, doc(passage), doc(passage))
    }
    val df = cases.toDF("case_id", "a", "b")
    val overlapping = df.select(col("case_id"),
        arrays_overlap(
          TextAnalysis.winnowFingerprints(col("a"), k, w),
          TextAnalysis.winnowFingerprints(col("b"), k, w)).as("shared"))
      .where(!col("shared")).collect()
    assert(overlapping.isEmpty,
      s"winnowing guarantee violated for cases: ${overlapping.map(_.getInt(0)).mkString(",")}")
  }

  test("salted join equals plain join on skewed data and splits the hot key") {
    import spark.implicits._
    // hot key: 10k rows of key=1, a handful of others
    val big = ((1 to 10000).map(i => (1L, i.toLong)) ++ Seq((2L, 1L), (3L, 2L)))
      .toDF("k", "payload")
    val small = Seq((1L, "hot"), (2L, "warm"), (3L, "cool"), (4L, "unused"))
      .toDF("k", "label")
    val salted = Skew.saltedJoin(big, small, "k", salt = 8)
    val plain = big.join(small, Seq("k"))
    assert(salted.count() == plain.count())
    assert(salted.groupBy("k", "label").count().orderBy("k").collect().toSeq ==
      plain.groupBy("k", "label").count().orderBy("k").collect().toSeq)
    val hist = Skew.keyHistogram(big, col("k"), 3).collect()
    assert(hist.head.getLong(0) == 1L && hist.head.getLong(1) == 10000L)
  }

  test("embedding near-dup: planted duplicate vector found") {
    import spark.implicits._
    val v1 = Array.fill(8)(1.0f); val v2 = v1.map(_ * 2.0f) // cosine 1
    val v3 = Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val df = Seq((1L, v1), (2L, v2), (3L, v3)).toDF("id", "vec")
    val pairs = NearDup.embeddingNearDups(df, "id", "vec", dim = 8, minCosine = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("multimodal resize refreshes header dims; decode features unchanged") {
    implicit val sp = spark
    import org.apache.spark.sql.functions.element_at
    val media = graft.operators.Multimodal.synthesize(docs.limit(20), "doc_id")
    val before = graft.operators.Multimodal.decodeFeatures(media).toDF()
      .select(col("media_id"), element_at(col("feature"), 1).as("f"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val after = graft.operators.Multimodal.decodeFeatures(
        graft.operators.Multimodal.resize(media, 320, 240).toDF())
      .toDF().collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getSeq[Double](4).head)).toSeq
    assert(after.nonEmpty)
    after.foreach { case (id, w, h, f) =>
      assert(w == 320 && h == 240, s"media $id dims not rewritten")
      assert(f == before(id), s"media $id body feature must be unchanged")
    }
  }

  test("multimodal: real PNG bytes decode and resample through the JDK codec") {
    implicit val sp = spark
    import spark.implicits._
    // a REAL PNG, encoded in-test: 8×4 solid red + 6×6 solid blue
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq(
      (1L, "image/png", png(8, 4, 0xff0000)),
      (2L, "image/png", png(6, 6, 0x0000ff)))
      .toDF("media_id", "mime", "content")
    val dec = graft.operators.Multimodal.decodeFeatures(media).collect()
      .map(d => d.media_id -> d).toMap
    assert(dec(1L).width == 8 && dec(1L).height == 4 && dec(1L).n_frames == 1)
    assert(dec(2L).width == 6 && dec(2L).height == 6)
    // solid red: mean R=1, G=B=0, luminance=0.299; solid blue: B=1, lum=0.114
    assert(dec(1L).feature.zip(Array(1.0, 0.0, 0.0, 0.299))
      .forall { case (a, e) => math.abs(a - e) < 1e-9 })
    assert(dec(2L).feature.zip(Array(0.0, 0.0, 1.0, 0.114))
      .forall { case (a, e) => math.abs(a - e) < 1e-9 })
    // real resample: output is a valid PNG at the target dims; a solid
    // color stays solid through bilinear resampling
    val resized = graft.operators.Multimodal.resize(media, 4, 2).toDF()
    val redec = graft.operators.Multimodal.decodeFeatures(
        resized.withColumnRenamed("content", "content")).collect()
      .map(d => d.media_id -> d).toMap
    assert(redec(1L).width == 4 && redec(1L).height == 2)
    assert(redec(1L).feature.zip(Array(1.0, 0.0, 0.0, 0.299))
      .forall { case (a, e) => math.abs(a - e) < 1e-9 },
      "solid color must survive the real resample")
  }

  test("Percentiles.exactByGroup keeps all-NULL groups with NULL percentiles") {
    import spark.implicits._
    val df = Seq(("a", Some(1.0)), ("a", Some(3.0)),
      ("z", None), ("z", None)).toDF("g", "v")
    val out = graft.operators.Percentiles
      .exactByGroup(df, "g", "v", Seq(0.5), Seq("p50"))
      .orderBy("g").collect()
    assert(out.length == 2)
    assert(out(0).getString(0) == "a" && out(0).getDouble(1) == 2.0)
    assert(out(1).getString(0) == "z" && out(1).isNullAt(1)) // group kept, NULL value
  }

  test("Percentiles.exactByGroup equals the percentile() aggregate bit-for-bit") {
    val li = graft.sources.Tables.table(spark, TestSpark.sf0001, "lineitem")
    val sortBased = graft.operators.Percentiles.exactByGroup(
        li, "l_returnflag", "l_extendedprice", Seq(0.25, 0.5, 0.9), Seq("a", "b", "c"))
      .orderBy("l_returnflag").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSeq
    val agg = li.groupBy("l_returnflag")
      .agg(percentile(col("l_extendedprice"),
        array(lit(0.25), lit(0.5), lit(0.9))).as("ps"))
      .orderBy("l_returnflag").collect()
      .map(r => (r.getString(0), r.getSeq[Double](1)(0), r.getSeq[Double](1)(1),
        r.getSeq[Double](1)(2))).toSeq
    assert(sortBased == agg)
  }

  // ---- X4: text analysis ----

  test("token counts and quality metrics") {
    import spark.implicits._
    val df = Seq(
      ("clean", "the cat sat on the mat and it was happy to be there"),
      ("noisy", "@@@ ### !!! $$$ %%% ^^^ &&&"),
      ("empty", "")).toDF("name", "text")
    val r = df.select(col("name"),
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.bpeishTokenCount(col("text")).as("bpe"),
      TextAnalysis.punctRatio(col("text")).as("punct"),
      TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(r("clean").getInt(1) == 13)
    assert(r("clean").getDouble(4) > r("noisy").getDouble(4))
    assert(r("noisy").getDouble(3) > 0.5)
  }

  test("langId: script + stopword heuristics") {
    import spark.implicits._
    val df = Seq(
      ("zh", "这是 一个 中文 句子 关于 数据"),
      ("en", "the cat is on the mat and it is happy"),
      ("es", "el gato está en la casa y es feliz con los niños"),
      ("ru", "это русское предложение о данных"),
      ("und", "zzz qqq xxx")).toDF("want", "text")
    val got = df.select(col("want"), TextAnalysis.langId(col("text")).as("got")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"want ${r.getString(0)} got ${r.getString(1)}"))
  }

  test("fingerprint is whitespace/case-insensitive but content-sensitive") {
    import spark.implicits._
    val df = Seq(("a", "Hello   World"), ("b", "hello world"), ("c", "hello worlds"))
      .toDF("id", "t")
    val fp = df.select(col("id"), TextAnalysis.fingerprint(col("t")).as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fp("a") == fp("b") && fp("a") != fp("c"))
  }

  // ---- X5: multimodal ----

  test("multimodal: synthesize → batch decode → features (stubbed codec)") {
    implicit val s = spark
    val media = Multimodal.synthesize(docs.limit(50), "doc_id")
    assert(media.schema("content").dataType == org.apache.spark.sql.types.BinaryType)
    val decoded = Multimodal.decodeFeatures(media)
    val rows = decoded.collect()
    assert(rows.length == 50)
    rows.foreach { d =>
      assert(d.width % 8 == 0 && d.width >= 8 && d.height >= 8)
      assert(d.feature.length == 4 && d.feature.forall(v => v >= 0 && v <= 255))
    }
    // deterministic: same id → same features
    val again = Multimodal.decodeFeatures(media).collect()
    assert(rows.sortBy(_.media_id).map(_.feature.toSeq).toSeq ==
      again.sortBy(_.media_id).map(_.feature.toSeq).toSeq)
  }

  test("multimodal: frame-sample plan prunes payload column") {
    val media = Multimodal.synthesize(docs.limit(10), "doc_id")
    val frames = Multimodal.sampleFramePlan(media, everyN = 2)
    assert(frames.columns.toSeq == Seq("media_id", "frame_idx"))
    assert(frames.count() > 10) // at least one frame per media, most have several
    val plan = frames.queryExecution.optimizedPlan.toString
    assert(!plan.contains("content"), "payload column must be pruned from the plan")
  }

  test("multimodal: frameSampleUniform picks exactly-k uniform indices, dedups short clips") {
    implicit val s = spark
    val media = Multimodal.synthesize(docs.limit(50), "doc_id")
    val out = Multimodal.frameSampleUniform(media, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byId = out.groupBy(_._1)
    byId.foreach { case (id, rows) =>
      val nf = id % 16 + 1
      val want = (0L until 4L).map(j => j * nf / 4).distinct
      val got = rows.sortBy(_._2).map(_._3).toSeq
      assert(got == want, s"media $id (nf=$nf): $got != $want")
      // sample_ord is the 0-based position in the deduplicated list
      assert(rows.sortBy(_._2).map(_._2).toSeq == want.indices.map(_.toLong))
      // the stub decode is the documented deterministic fake
      rows.foreach { case (_, _, fi, luma) =>
        assert(luma == (id * 31 + fi * 7) % 256 && luma >= 0 && luma < 256)
      }
    }
    // a 1-frame clip yields exactly one sample despite k=4
    val one = byId.collect { case (id, rows) if id % 16 == 0 => rows.length }
    assert(one.forall(_ == 1))
    intercept[IllegalArgumentException](Multimodal.frameSampleUniform(media, 0))
  }

  // ---- SemDeDup: clustered semantic dedup (x30 ground truth) ----

  test("semanticDedupe: nlist=1 degenerates to the exact brute-force kept set") {
    graft.plans.HashExpressions.register(spark)
    def kept(df: DataFrame): Seq[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
    val exact = Dedup.keepClusterRepresentatives(embs, "vec_id",
      NearDup.cosinePairsExact(embs, "vec_id", "embedding", minCosine = 0.45))
    val one = NearDup.semanticDedupe(embs, "vec_id", "embedding",
      minCosine = 0.45, nlist = 1, refineIters = 0)
    val k = kept(one)
    assert(k == kept(exact), "one cell holds every pair — kept sets must match")
    assert(k.size < embs.count(), "the 0.45 bar must actually drop duplicates")
  }

  test("semanticDedupe: cell pairs are exact-verified subsets with high recall; deterministic") {
    graft.plans.HashExpressions.register(spark)
    val cents = SimilaritySearch.trainIvf(embs, "vec_id", "embedding",
      nlist = 4, refineIters = 2)
    def pairSet(df: DataFrame): Set[(Long, Long)] =
      df.select("id_1", "id_2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cell = pairSet(NearDup.cellPairs(embs, "vec_id", "embedding", cents,
      minCosine = 0.45, probes = 2))
    val exact = pairSet(NearDup.cosinePairsExact(embs, "vec_id", "embedding",
      minCosine = 0.45))
    assert(cell.subsetOf(exact),
      "every cell pair is exact-cosine-scored — no false positives possible")
    assert(exact.nonEmpty && cell.size >= 0.8 * exact.size,
      s"multi-probe cell recall too low: ${cell.size}/${exact.size}")
    // the candidate stage is a pure expression over fixed centroids —
    // partitioning-invariant
    val repart = pairSet(NearDup.cellPairs(embs.repartition(13), "vec_id",
      "embedding", cents, minCosine = 0.45, probes = 2))
    assert(repart == cell)
    // end-to-end: same frame, same parameters → same kept set, and dropped
    // ids are exactly (corpus minus kept)
    def kept(df: DataFrame): Seq[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
    val a = NearDup.semanticDedupe(embs, "vec_id", "embedding",
      minCosine = 0.45, nlist = 4, refineIters = 2, probes = 2)
    val b = NearDup.semanticDedupe(embs, "vec_id", "embedding",
      minCosine = 0.45, nlist = 4, refineIters = 2, probes = 2)
    assert(kept(a) == kept(b))
    assert(kept(a).size >= kept(Dedup.keepClusterRepresentatives(embs, "vec_id",
        NearDup.cosinePairsExact(embs, "vec_id", "embedding", 0.45))).size,
      "missing cross-cell pairs can only KEEP more docs, never drop extras")
  }

  test("semanticDedupeAuto: targetCellSize >= n degenerates to the exact nlist=1 path") {
    graft.plans.HashExpressions.register(spark)
    def kept(df: DataFrame): Seq[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
    val auto = NearDup.semanticDedupeAuto(embs, "vec_id", "embedding",
      minCosine = 0.45, targetCellSize = 1000000, refineIters = 0)
    val exact = Dedup.keepClusterRepresentatives(embs, "vec_id",
      NearDup.cosinePairsExact(embs, "vec_id", "embedding", minCosine = 0.45))
    assert(kept(auto) == kept(exact))
  }

  // ---- X5+: perceptual image hash + hamming-band pairing ----

  private def pngBytes(w: Int, h: Int)(pix: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pix(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def mediaOf(rows: Seq[(Long, Array[Byte])]): DataFrame = {
    import spark.implicits._
    rows.toDF("media_id", "content")
  }

  private def hashOf(media: DataFrame): Map[Long, Long] = {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    Multimodal.averageHash(media).collect().map(m => m.media_id -> m.ahash).toMap
  }

  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("averageHash: identical real images collide; perturbed stay near; unrelated far") {
    def gray(v: Int) = { val c = v.max(0).min(255); (c << 16) | (c << 8) | c }
    val gradient = pngBytes(64, 64)((x, y) => gray(x * 4 - y))
    val shifted = pngBytes(64, 64)((x, y) => gray(x * 4 - y + 4))
    val rnd = new java.util.Random(42)
    val noise = pngBytes(64, 64)((_, _) => gray(rnd.nextInt(256)))
    val h = hashOf(mediaOf(Seq(1L -> gradient, 2L -> gradient.clone(),
      3L -> shifted, 4L -> noise)))
    assert(h(1L) == h(2L), "identical bytes must collide exactly")
    assert(hamming(h(1L), h(3L)) <= 4,
      "uniform brightness shift moves cells AND threshold together")
    assert(hamming(h(1L), h(4L)) >= 10, "unrelated content must be far")
  }

  test("averageHash survives a real bilinear downscale within a few bits") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    def gray(v: Int) = { val c = v.max(0).min(255); (c << 16) | (c << 8) | c }
    val img = pngBytes(96, 96)((x, y) => gray((x + 2 * y) / 2))
    val media = mediaOf(Seq(7L -> img))
      .withColumn("mime", lit("image/png"))
    val small = Multimodal.resize(media, 48, 48).toDF()
    val h0 = hashOf(media)(7L)
    val h1 = hashOf(small)(7L)
    assert(hamming(h0, h1) <= 12, s"resize moved the hash ${hamming(h0, h1)} bits")
  }

  test("GRFT synthetic hash is deterministic and invariant under synthetic resize") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val media = Multimodal.synthesize(docs.select("doc_id").limit(50), "doc_id")
    val before = hashOf(media)
    val after = hashOf(Multimodal.resize(media, 128, 96).toDF())
    assert(before == after, "synthetic resize rewrites only the header")
    // independent JVM rederivation from sha256 nibbles (the x33 oracle rule)
    before.foreach { case (id, got) =>
      val hex = java.security.MessageDigest.getInstance("SHA-256")
        .digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val want = hex.take(64).foldLeft(0L)((h, ch) =>
        (h << 1) | (if (Character.digit(ch, 16) >= 8) 1L else 0L))
      assert(got == want, s"media $id")
    }
  }

  test("hammingPairs64: exact ball recall vs brute force at c=1 and c=2 thresholds") {
    import spark.implicits._
    val rnd = new java.util.Random(7)
    val base = (0 until 60).map(i => (i.toLong, rnd.nextLong()))
    // plant near pairs: ids 100+i = base(i) with i%9 flipped bits
    val planted = (0 until 9).map { i =>
      var v = base(i)._2
      (0 until i).foreach(b => v ^= (1L << (7 * b + 3)))
      (100L + i, v)
    }
    val df = (base ++ planted).toDF("id", "h64")
    for (maxBits <- Seq(3, 8)) {
      val got = NearDup.hammingPairs64(df, "id", "h64", maxBits)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val all = (base ++ planted)
      val want = (for {
        (i, a) <- all; (j, b) <- all
        if i < j && java.lang.Long.bitCount(a ^ b) <= maxBits
      } yield (i, j)).toSet
      assert(got == want, s"maxBits=$maxBits")
    }
  }

  test("imageNearDupPairs surfaces the duplicate image, not the distinct one") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    def gray(v: Int) = { val c = v.max(0).min(255); (c << 16) | (c << 8) | c }
    val a = pngBytes(32, 32)((x, y) => gray(x * 8))
    val rnd = new java.util.Random(11)
    val other = pngBytes(32, 32)((_, _) => gray(rnd.nextInt(256)))
    val pairs = Multimodal.imageNearDupPairs(
        mediaOf(Seq(1L -> a, 2L -> a.clone(), 3L -> other)), maxBits = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((1L, 2L, 0)))
  }

  // ---- audio (PCM window features) ----

  test("pcmWindowFeatures: sine RMS/peak/ZCR match closed form; silence is zero") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val sr = 16000
    val sine = Multimodal.sinePcm(440.0, sr, 16000, amplitude = 0.5) // 1 s
    val silence = new Array[Byte](8000) // 4000 zero samples
    val media = mediaOf(Seq(1L -> sine, 2L -> silence))
    val ws = Multimodal.pcmWindowFeatures(media, windowSamples = 4000)
      .collect().groupBy(_.media_id)
    val sineW = ws(1L).sortBy(_.window_id)
    assert(sineW.length == 4 && sineW.forall(_.n_samples == 4000))
    // full windows of a sine: rms = A/√2, peak ≈ A, zcr ≈ 2f/sr
    sineW.foreach { w =>
      assert(math.abs(w.rms - 0.5 / math.sqrt(2)) < 0.01, s"rms ${w.rms}")
      assert(w.peak > 0.48 && w.peak <= 0.5001, s"peak ${w.peak}")
      assert(math.abs(w.zcr - 2.0 * 440 / sr) < 0.01, s"zcr ${w.zcr}")
    }
    val silW = ws(2L)
    assert(silW.forall(w => w.rms == 0.0 && w.peak == 0.0 && w.zcr == 0.0))
  }

  test("pcmWindowFeatures: short last window, odd trailing byte, empty content") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    // 10 samples + windowSamples=4 → windows of 4,4,2; plus 1 stray byte
    val pcm = Multimodal.sinePcm(100.0, 1000, 10) ++ Array(7.toByte)
    val media = mediaOf(Seq(1L -> pcm, 2L -> Array.empty[Byte]))
    val ws = Multimodal.pcmWindowFeatures(media, 4).collect()
    val byId = ws.groupBy(_.media_id)
    assert(byId(1L).sortBy(_.window_id).map(_.n_samples).toSeq == Seq(4, 4, 2))
    assert(!byId.contains(2L), "empty content yields no windows")
    intercept[IllegalArgumentException](
      Multimodal.pcmWindowFeatures(media, 1).collect())
  }

  // ---- negative mining (contrastive pairs) ----

  test("hardNegatives skips presumed positives and re-ranks; rides ivfTopK too") {
    import spark.implicits._
    val queries = embs.where(col("label") === 0).limit(5)
    val neighbors = SimilaritySearch.topKAll(
      embs, queries, "vec_id", "embedding", "vec_id", k = 6)
    val mined = SimilaritySearch.hardNegatives(neighbors, skipTop = 1, k = 5)
    // per query: exactly ranks 2..6 of the source, re-ranked 1..5, no self
    val src = neighbors.as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(_._2).toSeq).toMap
    val got = mined.as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(_._2).toSeq).toMap
    assert(got.nonEmpty)
    got.foreach { case (q, negs) =>
      assert(negs == src(q).drop(1), s"query $q: $negs vs ${src(q)}")
      assert(!negs.contains(q))
    }
    // same post-pass composes over the ANN frame (shared schema)
    val viaIvf = SimilaritySearch.hardNegatives(
      SimilaritySearch.ivfTopK(embs, queries, "vec_id", "embedding",
        "vec_id", k = 6, nlist = 4), skipTop = 1, k = 5)
    assert(viaIvf.columns.toSeq ==
      Seq("query_id", "neg_id", "score", "neg_rank"))
    assert(viaIvf.count() > 0)
  }

  test("easyNegatives: deterministic, partitioning-invariant, self-free, k per query") {
    val queries = embs.where(col("label") === 1).limit(4)
    def mine(c: DataFrame) = SimilaritySearch.easyNegatives(
        c, queries, "vec_id", "vec_id", k = 7, salt = "s1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val a = mine(embs.repartition(9))
    val b = mine(embs.coalesce(1))
    assert(a == b && a.nonEmpty)
    val perQuery = a.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perQuery.values.forall(_ == 7))
    assert(!a.exists(t => t._1 == t._2), "self pair leaked")
    // a different salt draws a different pool
    val c = SimilaritySearch.easyNegatives(embs, queries, "vec_id", "vec_id",
        k = 7, salt = "s2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(c != a)
  }

  // ---- operators need no function registration ----

  /** A session with its own function registry, holding only Spark's
    * built-ins: no graft_* function is registered in it. */
  private def freshSession(): org.apache.spark.sql.SparkSession = {
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("graft_cosine"))
    fresh
  }

  test("text helpers work in a session where no graft function is registered") {
    def run(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      Seq((1, "cafe\u0301 " + "lorem ipsum " * 8), (2, "plain text, short"))
        .toDF("id", "t")
        .select(col("id"), TextAnalysis.nfcNormalize(col("t")).as("nfc"),
          TextAnalysis.compressionRatio(col("t")).as("ratio"),
          TextAnalysis.winnowFingerprints(col("t"), k = 4, w = 3).as("fp"))
        .orderBy("id").collect().toSeq
    }
    val fresh = freshSession()
    val got = run(fresh)
    assert(got.head.getString(1).startsWith("caf\u00e9 "))
    assert(got.head.getDouble(2) < 1.0 && got.head.getSeq[Long](3).nonEmpty)
    assert(got == run(spark))
    assert(!fresh.catalog.functionExists("graft_nfc"))
    // an unknown native name fails when the Column is built, naming it
    val bad = intercept[IllegalArgumentException](
      graft.plans.HashExpressions.native("graft_nope", col("t")))
    assert(bad.getMessage.contains("graft_nope"))
  }

  test("topKAll and keepLatest in a fresh session equal the shared session's rows; " +
    "nothing is registered") {
    def run(s: org.apache.spark.sql.SparkSession) = {
      val e = graft.sources.Tables.table(s, TestSpark.sf0001, "embeddings")
      val top = SimilaritySearch.topKAll(e, e.where(col("vec_id") < 5),
        "vec_id", "embedding", "vec_id", k = 3)
        .orderBy("query_id", "rank").collect().toSeq
      val ev = graft.sources.Tables.table(s, TestSpark.sf0001, "events")
      val latest = Dedup.keepLatest(ev, Seq("user_id"), Seq("ts", "event_id"))
        .select("user_id", "event_id").orderBy("user_id").collect().toSeq
      (top, latest)
    }
    val fresh = freshSession()
    val (top, latest) = run(fresh)
    assert(top.size == 15 && latest.nonEmpty)
    assert((top, latest) == run(spark))
    assert(!fresh.catalog.functionExists("graft_cosine"))
    assert(!fresh.catalog.functionExists("graft_latest"))
  }

  test("dedupeAgainstFuzzy inside foreachBatch needs no registration before start()") {
    val fresh = freshSession()
    import fresh.implicits._
    val dir = graft.sources.Scratch.dir("sfuzzy-fresh").toString
    val seen = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"))
      .toDF("doc_id", "text")
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
    write(Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (11L, "completely different content with no overlap whatsoever here now")))
    val kept = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = fresh.readStream.schema("doc_id LONG, text STRING").parquet(dir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Dedup.dedupeAgainstFuzzy(batch, seen, "doc_id", "text", minJaccard = 0.8)
          .select("doc_id").collect().foreach(r => kept.add(r.getLong(0)))
      }
      .start()
    try {
      q.processAllAvailable()
      write(Seq((12L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu")))
      q.processAllAvailable()
    } finally q.stop()
    // the same ids StreamingSpec keeps with the functions registered first
    import scala.jdk.CollectionConverters._
    assert(kept.asScala.toSeq.sorted == Seq(11L))
    assert(!fresh.catalog.functionExists("graft_minhash_sig"))
  }
}
