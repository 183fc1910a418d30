package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.ProductQuantization
import graft.operators.SimilaritySearch

/** Product quantization: encode/LUT/ADC native expressions + train/search
  * operators, pinned against JVM brute-force ground truth (no SQL oracle
  * exists for argmin-over-trained-codebooks — same declaration as x03b/c). */
class PqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8
  private val m = 4
  private val dsub = dim / m

  // Deterministic pseudo-random corpus: 3 well-separated cluster centers ±
  // small per-coordinate jitter, unit-ish scale.
  private def vec(seed: Int): Array[Float] = {
    val rnd = new scala.util.Random(seed)
    val center = seed % 3
    Array.tabulate(dim)(i => (center * 3.0 + 0.1 * rnd.nextDouble() + (if (i % dsub == center) 1.0 else 0.0)).toFloat)
  }
  private val corpus = (0 until 60).map(i => (i.toLong, vec(i).toSeq)).toDF("vec_id", "embedding")

  // Fixed small codebooks for the expression-level tests (m × ksub × dsub).
  private val fixedCb: Seq[Seq[Array[Double]]] =
    (0 until m).map(mi => (0 until 4).map(c =>
      Array.tabulate(dsub)(j => (c * 3.0 + mi * 0.1 + j * 0.01))).toSeq)

  private def encodeJvm(v: Array[Float], cb: Seq[Seq[Array[Double]]]): Array[Int] =
    cb.zipWithIndex.map { case (book, mi) =>
      val sub = v.slice(mi * dsub, (mi + 1) * dsub).map(_.toDouble)
      book.zipWithIndex.minBy { case (cent, ci) =>
        (sub.zip(cent).map { case (a, b) => (a - b) * (a - b) }.sum, ci)
      }._2
    }.toArray

  test("graft_pq_encode matches brute-force argmin per subspace") {
    val got = ProductQuantization.encode(corpus, "embedding", fixedCb)
      .select("vec_id", "pq_code").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    (0 until 60).foreach { i =>
      assert(got(i.toLong).toSeq == encodeJvm(vec(i), fixedCb).toSeq,
        s"code mismatch for vec $i")
    }
  }

  test("adc(encode(v), lut(v)) is exactly the squared reconstruction error") {
    graft.plans.HashExpressions.register(spark)
    val cbl = ProductQuantization.codebooksLit(fixedCb)
    val got = corpus.select(col("vec_id"),
        call_function("graft_pq_adc",
          call_function("graft_pq_encode", col("embedding"), cbl),
          call_function("graft_pq_lut", col("embedding"), cbl)).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (0 until 60).foreach { i =>
      val v = vec(i)
      val codes = encodeJvm(v, fixedCb)
      // same association as the expressions: each LUT entry is a per-subspace
      // subtotal, ADC then sums the m subtotals (not one flat accumulation)
      var want = 0.0
      (0 until m).foreach { mi =>
        val cent = fixedCb(mi)(codes(mi))
        var sub = 0.0
        var j = 0
        while (j < dsub) {
          val d = v(mi * dsub + j).toDouble - cent(j); sub += d * d; j += 1
        }
        want += sub
      }
      assert(got(i.toLong) == want, s"adc must equal reconstruction error for vec $i")
    }
  }

  test("trainPq refinement sample: cap-invariant under cap, useful above cap") {
    spark.conf.set(SimilaritySearch.RefineSampleFloorConf, "0") // force sampling
    try {
      // any cap ≥ |corpus| draws the same sample (same hash order, same
      // repartition) → bit-identical codebooks
      val a = ProductQuantization.trainPq(corpus, "vec_id", "embedding", dim, m,
        ksub = 4, iters = 2, refineSampleCap = 1000)
      val b = ProductQuantization.trainPq(corpus, "vec_id", "embedding", dim, m,
        ksub = 4, iters = 2, refineSampleCap = 100000)
      assert(a.flatten.map(_.toSeq) == b.flatten.map(_.toSeq),
        "above-corpus caps must train identically")
      // a cap of half the corpus still has to beat the un-refined init on
      // the FULL corpus (clustered fixture: sampled Lloyd converges to the
      // same cluster structure)
      val init = ProductQuantization.trainPq(corpus, "vec_id", "embedding", dim, m,
        ksub = 4, iters = 0)
      val sampled = ProductQuantization.trainPq(corpus, "vec_id", "embedding", dim, m,
        ksub = 4, iters = 2, refineSampleCap = 30)
      val e0 = ProductQuantization.reconstructionError(corpus, "embedding", init)
      val eS = ProductQuantization.reconstructionError(corpus, "embedding", sampled)
      assert(eS < e0, s"sampled refinement must beat raw init: $e0 -> $eS")
      // and the default stats floor routes this small fixture AROUND the
      // sample materialization, to the identical-rows direct path
      spark.conf.unset(SimilaritySearch.RefineSampleFloorConf)
      val direct = ProductQuantization.trainPq(corpus, "vec_id", "embedding",
        dim, m, ksub = 4, iters = 2, refineSampleCap = 1000)
      val eD = ProductQuantization.reconstructionError(corpus, "embedding", direct)
      assert(math.abs(eD - ProductQuantization.reconstructionError(
        corpus, "embedding", a)) < 1e-9,
        "direct and sampled paths must train equivalent codebooks under cap")
    } finally spark.conf.unset(SimilaritySearch.RefineSampleFloorConf)
  }

  test("trainPq never increases reconstruction error across Lloyd iterations") {
    val e0 = ProductQuantization.reconstructionError(corpus, "embedding",
      ProductQuantization.trainPq(corpus, "vec_id", "embedding", dim, m, ksub = 3, iters = 0))
    val e1 = ProductQuantization.reconstructionError(corpus, "embedding",
      ProductQuantization.trainPq(corpus, "vec_id", "embedding", dim, m, ksub = 3, iters = 1))
    val e2 = ProductQuantization.reconstructionError(corpus, "embedding",
      ProductQuantization.trainPq(corpus, "vec_id", "embedding", dim, m, ksub = 3, iters = 2))
    assert(e1 <= e0 + 1e-9 && e2 <= e1 + 1e-9, s"Lloyd must not regress: $e0 -> $e1 -> $e2")
    assert(e2 < e0, s"refinement must actually improve on this clustered corpus: $e0 -> $e2")
  }

  test("pqTopKAll recall vs exact L2 top-k on the clustered corpus") {
    val cb = ProductQuantization.trainPq(corpus, "vec_id", "embedding", dim, m, ksub = 8, iters = 2)
    val codes = ProductQuantization.encode(corpus, "embedding", cb)
    val queries = corpus.where(col("vec_id") < 5)
    val k = 10
    val got = ProductQuantization.pqTopKAll(codes, queries,
        "vec_id", "pq_code", "vec_id", "embedding", cb, k, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // exact squared-L2 ground truth in the JVM
    val all = (0 until 60).map(i => i.toLong -> vec(i)).toMap
    val exact = (0L until 5L).map { q =>
      val qv = all(q)
      q -> all.toSeq.filter(_._1 != q)
        .sortBy { case (id, v) =>
          (v.zip(qv).map { case (a, b) => (a.toDouble - b) * (a - b) }.sum, id) }
        .take(k).map(_._1).toSet
    }.toMap
    val recalls = (0L until 5L).map(q => got(q).intersect(exact(q)).size.toDouble / k)
    assert(recalls.forall(_ >= 0.7),
      s"ADC top-10 recall must be >= 0.7 per query on clustered data: $recalls")
  }

  test("OPQ rotation beats plain PQ recall on an anisotropic corpus") {
    // Worst case for axis-aligned subspaces: correlated coordinate pairs
    // STRADDLE the subspace boundaries — pairs (1,2), (3,4), (5,6), (7,0)
    // each carry one shared latent factor, so every subspace {2i, 2i+1}
    // sees two INDEPENDENT factors (a genuine 2-D spread its ksub=4 codes
    // must tile), while the data is really 4-D. The PCA rotation collapses
    // each pair to one axis and the eigenvalue allocation hands each
    // subspace one signal axis + one noise axis — 1-D structure per
    // quantizer, which the same code budget quantizes much finer.
    val d2 = 8; val m2 = 4
    def avec(seed: Int): Array[Float] = {
      val rnd = new scala.util.Random(1000 + seed)
      val t = Array.fill(4)(rnd.nextDouble() * 10.0)
      val x = new Array[Double](d2)
      (0 until 4).foreach { g =>
        x((2 * g + 1) % d2) += t(g); x((2 * g + 2) % d2) += t(g)
      }
      x.map(v => (v + 0.05 * rnd.nextGaussian()).toFloat)
    }
    val aniso = (0 until 80).map(i => (i.toLong, avec(i).toSeq)).toDF("vec_id", "embedding")
    val queries = aniso.where(col("vec_id") < 8)
    val k = 10
    val all = (0 until 80).map(i => i.toLong -> avec(i)).toMap
    val exact = (0L until 8L).map { q =>
      val qv = all(q)
      q -> all.toSeq.filter(_._1 != q)
        .sortBy { case (id, v) =>
          (v.zip(qv).map { case (a, b) => (a.toDouble - b) * (a - b) }.sum, id) }
        .take(k).map(_._1).toSet
    }.toMap
    def meanRecall(got: Map[Long, Set[Long]]): Double =
      (0L until 8L).map(q => got(q).intersect(exact(q)).size.toDouble / k).sum / 8
    val cb = ProductQuantization.trainPq(aniso, "vec_id", "embedding", d2, m2, ksub = 4, iters = 2)
    val plain = ProductQuantization.pqTopKAll(
        ProductQuantization.encode(aniso, "embedding", cb), queries,
        "vec_id", "pq_code", "vec_id", "embedding", cb, k, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val opq = ProductQuantization.trainOpq(aniso, "vec_id", "embedding", d2, m2, ksub = 4, iters = 2)
    val rotated = ProductQuantization.opqTopKAll(
        ProductQuantization.encodeOpq(aniso, "embedding", opq), queries,
        "vec_id", "pq_code", "vec_id", "embedding", opq, k, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val (rPq, rOpq) = (meanRecall(plain), meanRecall(rotated))
    info(f"mean recall: plain PQ $rPq%.3f, OPQ $rOpq%.3f")
    assert(rOpq >= rPq,
      f"OPQ must not lose recall to plain PQ on anisotropic data: $rOpq%.3f < $rPq%.3f")
    assert(rOpq >= 0.6, f"OPQ recall floor: $rOpq%.3f")
    // the allocated rotation stays orthonormal — distances are preserved
    val w = opq.rotation.components
    (0 until d2).foreach { i => (0 until d2).foreach { j =>
      val dot = (0 until d2).map(c => w(i)(c) * w(j)(c)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"rotation not orthonormal at ($i,$j)")
    }}
  }

  test("eigenvalue allocation is scale-invariant: big axes spread across buckets") {
    // 4 dominant + 4 noise axes, m=4: each bucket must get exactly one
    // dominant axis (indices 0-3) — at ANY absolute scale. The unscaled raw
    // log-product greedy degenerates when every eigenvalue < 1 (logs all
    // negative → the first bucket absorbs all the signal).
    Seq(1.0, 1e-4, 1e6).foreach { scale =>
      val eig = Array(8.0, 7.0, 6.0, 5.0, 0.01, 0.008, 0.006, 0.004).map(_ * scale)
      val perm = ProductQuantization.eigenAllocation(eig, m = 4)
      val buckets = perm.grouped(2).toSeq
      buckets.zipWithIndex.foreach { case (b, i) =>
        assert(b.count(_ < 4) == 1,
          s"scale=$scale bucket $i must hold exactly one dominant axis: $perm")
      }
    }
  }

  test("OPQ keeps its recall edge on a unit-scale (all eigenvalues < 1) corpus") {
    // Same anisotropic structure as the main OPQ test, shrunk 100×: every
    // covariance eigenvalue is ≪ 1, the regime where an uncentered
    // allocation silently degenerates. Recall sets are scale-free, so OPQ
    // must still not lose to plain PQ.
    val d2 = 8; val m2 = 4
    def svec(seed: Int): Array[Float] = {
      val rnd = new scala.util.Random(1000 + seed)
      val t = Array.fill(4)(rnd.nextDouble() * 10.0)
      val x = new Array[Double](d2)
      (0 until 4).foreach { g =>
        x((2 * g + 1) % d2) += t(g); x((2 * g + 2) % d2) += t(g)
      }
      x.map(v => ((v + 0.05 * rnd.nextGaussian()) / 100.0).toFloat)
    }
    val aniso = (0 until 80).map(i => (i.toLong, svec(i).toSeq)).toDF("vec_id", "embedding")
    val queries = aniso.where(col("vec_id") < 8)
    val k = 10
    val all = (0 until 80).map(i => i.toLong -> svec(i)).toMap
    val exact = (0L until 8L).map { q =>
      val qv = all(q)
      q -> all.toSeq.filter(_._1 != q)
        .sortBy { case (id, v) =>
          (v.zip(qv).map { case (a, b) => (a.toDouble - b) * (a - b) }.sum, id) }
        .take(k).map(_._1).toSet
    }.toMap
    def meanRecall(got: Map[Long, Set[Long]]): Double =
      (0L until 8L).map(q => got(q).intersect(exact(q)).size.toDouble / k).sum / 8
    val cb = ProductQuantization.trainPq(aniso, "vec_id", "embedding", d2, m2, ksub = 4, iters = 2)
    val plain = ProductQuantization.pqTopKAll(
        ProductQuantization.encode(aniso, "embedding", cb), queries,
        "vec_id", "pq_code", "vec_id", "embedding", cb, k, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val opq = ProductQuantization.trainOpq(aniso, "vec_id", "embedding", d2, m2, ksub = 4, iters = 2)
    val rotated = ProductQuantization.opqTopKAll(
        ProductQuantization.encodeOpq(aniso, "embedding", opq), queries,
        "vec_id", "pq_code", "vec_id", "embedding", opq, k, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val (rPq, rOpq) = (meanRecall(plain), meanRecall(rotated))
    info(f"unit-scale mean recall: plain PQ $rPq%.3f, OPQ $rOpq%.3f")
    assert(rOpq >= rPq,
      f"OPQ must not lose recall on a unit-scale corpus: $rOpq%.3f < $rPq%.3f")
  }

  test("encode is partitioning-invariant; model round-trips through parquet") {
    val cb = ProductQuantization.trainPq(corpus, "vec_id", "embedding", dim, m, ksub = 4, iters = 1)
    def codesOf(df: org.apache.spark.sql.DataFrame) =
      ProductQuantization.encode(df, "embedding", cb)
        .select("vec_id", "pq_code").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(codesOf(corpus.repartition(7)) == codesOf(corpus.coalesce(1)))
    val path = graft.sources.Scratch.dir("pqmodel").toString + "/model"
    ProductQuantization.savePqModel(spark, cb, path)
    val loaded = ProductQuantization.loadPqModel(spark, path)
    assert(loaded.map(_.map(_.toSeq)) == cb.map(_.map(_.toSeq)),
      "loaded codebooks must be identical")
  }

  test("ivfPqTopKAll with nprobe = nlist equals flat pqTopKAll exactly") {
    val nlist = 4
    val cb = ProductQuantization.trainPq(corpus, "vec_id", "embedding", dim, m, ksub = 8, iters = 1)
    val cents = SimilaritySearch.trainIvf(corpus, "vec_id", "embedding", nlist, refineIters = 1)
    val indexed = ProductQuantization.ivfPqAssign(corpus, "vec_id", "embedding", cents, cb)
    val queries = corpus.where(col("vec_id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val full = rows(ProductQuantization.ivfPqTopKAll(indexed, queries,
      "vec_id", "cell", "pq_code", "vec_id", "embedding", cents, cb,
      nprobe = nlist, k = 5, excludeSelf = true))
    val flat = rows(ProductQuantization.pqTopKAll(
      ProductQuantization.encode(corpus, "embedding", cb), queries,
      "vec_id", "pq_code", "vec_id", "embedding", cb, k = 5, excludeSelf = true))
    assert(full == flat, "probing every cell must reduce to the flat PQ search")
  }

  test("ivfPqTopKAll probes narrow: candidates only from probed cells") {
    val nlist = 4
    val cb = ProductQuantization.trainPq(corpus, "vec_id", "embedding", dim, m, ksub = 8, iters = 1)
    val cents = SimilaritySearch.trainIvf(corpus, "vec_id", "embedding", nlist, refineIters = 1)
    val indexed = ProductQuantization.ivfPqAssign(corpus, "vec_id", "embedding", cents, cb)
      .cache()
    try {
      val queries = corpus.where(col("vec_id") === 0)
      val got = ProductQuantization.ivfPqTopKAll(indexed, queries,
          "vec_id", "cell", "pq_code", "vec_id", "embedding", cents, cb,
          nprobe = 1, k = 60, excludeSelf = true)
        .select("corpus_id").as[Long].collect().toSet
      // with nprobe=1, results must be exactly the query's own cell members
      val qCell = indexed.where(col("vec_id") === 0).select("cell").as[Int].head()
      val cellIds = indexed.where(col("cell") === qCell)
        .select("vec_id").as[Long].collect().toSet - 0L
      assert(got == cellIds, "nprobe=1 candidates must be exactly the probed cell's members")
    } finally indexed.unpersist()
  }

  test("materialized IVF-PQ index: search equals the lazy composition and prunes partitions") {
    import org.apache.spark.sql.execution.ExplainMode
    val nlist = 4
    val cb = ProductQuantization.trainPq(corpus, "vec_id", "embedding", dim, m, ksub = 8, iters = 1)
    val cents = SimilaritySearch.trainIvf(corpus, "vec_id", "embedding", nlist, refineIters = 1)
    val idx = graft.sources.Scratch.dir("ivfpq").toString + "/index"
    ProductQuantization.buildIvfPqIndex(corpus, "vec_id", "embedding", cents, cb, idx)
    val queries = corpus.where(col("vec_id") < 3)
    val viaIndex = ProductQuantization.ivfPqSearchIndexed(spark, idx, queries,
        "embedding", "vec_id", k = 5, nprobe = 2, excludeSelf = true)
    val lazyForm = ProductQuantization.ivfPqTopKAll(
        ProductQuantization.ivfPqAssign(corpus, "vec_id", "embedding", cents, cb),
        queries, "vec_id", "cell", "pq_code", "vec_id", "embedding", cents, cb,
        nprobe = 2, k = 5, excludeSelf = true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(rows(viaIndex) == rows(lazyForm),
      "index search must be deterministically identical to the lazy composition")
    // the index scan must carry a cell partition filter (static pruning) and
    // must NOT contain the embedding column at all — search is vector-free
    val p = viaIndex.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("cell"), s"expected a cell partition filter:\n${p.take(800)}")
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!read.contains("embedding"),
      s"the index scan must read codes only, never raw vectors: $read")
  }

  test("residual IVFADC: quantizing v - centroid(cell) cuts reconstruction error") {
    val nlist = 3
    val cents = SimilaritySearch.trainIvf(corpus, "vec_id", "embedding", nlist, refineIters = 2)
    val residuals = ProductQuantization.residualsOf(corpus, "vec_id", "embedding", cents)
    val cbRaw = ProductQuantization.trainPq(corpus, "vec_id", "embedding", dim, m, ksub = 4, iters = 2)
    val cbRes = ProductQuantization.trainPq(residuals, "vec_id", "residual", dim, m, ksub = 4, iters = 2)
    val eRaw = ProductQuantization.reconstructionError(corpus, "embedding", cbRaw)
    val eRes = ProductQuantization.reconstructionError(residuals, "residual", cbRes)
    // the corpus has 3 well-separated cluster centers: after the coarse
    // quantizer absorbs them, the same ksub=4 budget quantizes only the
    // within-cell jitter — error must drop hard, not marginally
    assert(eRes < eRaw * 0.5, s"residual encoding must cut error: raw=$eRaw residual=$eRes")
  }

  test("residual index: marker round-trips, indexed search equals lazy residual composition") {
    val nlist = 3
    val cents = SimilaritySearch.trainIvf(corpus, "vec_id", "embedding", nlist, refineIters = 1)
    val residuals = ProductQuantization.residualsOf(corpus, "vec_id", "embedding", cents)
    val cbRes = ProductQuantization.trainPq(residuals, "vec_id", "residual", dim, m, ksub = 4, iters = 1)
    val idx = graft.sources.Scratch.dir("ivfpq-res").toString + "/index"
    ProductQuantization.buildIvfPqIndex(corpus, "vec_id", "embedding", cents, cbRes,
      idx, residual = true)
    val queries = corpus.where(col("vec_id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val viaIndex = rows(ProductQuantization.ivfPqSearchIndexed(spark, idx, queries,
      "embedding", "vec_id", k = 5, nprobe = 2, excludeSelf = true))
    val lazyForm = rows(ProductQuantization.ivfPqTopKAll(
      ProductQuantization.ivfPqAssign(corpus, "vec_id", "embedding", cents, cbRes,
        residual = true),
      queries, "vec_id", "cell", "pq_code", "vec_id", "embedding", cents, cbRes,
      nprobe = 2, k = 5, excludeSelf = true, residual = true))
    assert(viaIndex == lazyForm,
      "the _encoding marker must make indexed search score residual codes with residual LUTs")
  }

  test("a corrupt _encoding marker fails loudly — never a silent raw-LUT fallback") {
    val nlist = 3
    val cb = ProductQuantization.trainPq(corpus, "vec_id", "embedding", dim, m, ksub = 4, iters = 0)
    val cents = SimilaritySearch.trainIvf(corpus, "vec_id", "embedding", nlist, refineIters = 0)
    val idx = graft.sources.Scratch.dir("ivfpq-bad").toString + "/index"
    ProductQuantization.buildIvfPqIndex(corpus, "vec_id", "embedding", cents, cb,
      idx, residual = true)
    // corrupt the marker: present but unreadable must THROW (scoring residual
    // codes with raw-vector LUTs would be silently wrong everywhere)
    val marker = new java.io.File(s"$idx/_encoding")
    marker.listFiles().foreach(_.delete())
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$idx/_encoding/garbage.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    intercept[Exception] {
      ProductQuantization.ivfPqSearchIndexed(spark, idx,
        corpus.where(col("vec_id") === 0), "embedding", "vec_id", k = 3).collect()
    }
  }

  test("NULL and shape edge cases return NULL, never wrong values") {
    graft.plans.HashExpressions.register(spark)
    val cbl = ProductQuantization.codebooksLit(fixedCb)
    val bad = Seq(
      (1L, Some(Seq.fill(dim)(1.0f))),      // fine
      (2L, None),                            // null vector
      (3L, Some(Seq.fill(dim + 1)(1.0f))))   // dim mismatch
      .toDF("id", "embedding")
    val out = bad.select(col("id"),
        call_function("graft_pq_encode", col("embedding"), cbl).as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Int](1))).toMap
    assert(out(1L) != null && out(2L) == null && out(3L) == null)
  }
}
