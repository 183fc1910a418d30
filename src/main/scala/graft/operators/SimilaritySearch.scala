package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Vectors
import scala.util.Random

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2c X3).
  *
  *  - [[topK]] — brute-force cosine top-k for ONE query vector: score is a
  *    per-row expression, `ORDER BY ... LIMIT k` plans as
  *    TakeOrderedAndProject (per-partition heaps + driver merge of k·P rows —
  *    fully distributed, the exact baseline).
  *  - [[lshBucketedTopK]] — the scale path for MANY queries: random-hyperplane
  *    signatures bucket the corpus; each query joins only its bucket
  *    (equi-join shuffle on a 4-byte key), exact cosine re-ranks within the
  *    bucket, a window keeps top-k per query. Recall is tunable via `planes`
  *    (fewer planes → bigger buckets → higher recall, more compute).
  */
object SimilaritySearch {

  /** Default row cap for k-means refinement passes ([[trainIvf]],
    * [[ProductQuantization.trainPq]]): far above k·(points-per-centroid)
    * for every configuration shipped here, far below any corpus. */
  val RefineSampleCap: Int = 1 << 16

  /** Inputs whose OPTIMIZER size estimate sits under this many bytes skip
    * the sample materialization entirely and run Lloyd straight over the
    * input (identical rows either way — the sample would be under-cap — but
    * zero extra jobs): the TakeOrdered + checkpoint overhead only amortizes
    * when per-iteration scans are actually expensive. Stats-based, so the
    * decision costs no job; estimates only ever err LARGE (filters/joins
    * pass child sizes through), which errs toward sampling — safe. */
  val RefineSampleBytesFloor: Long = 64L << 20

  /** Session override for [[RefineSampleBytesFloor]] (set to `0` to force
    * the sampling path — specs use this to pin it on small fixtures). */
  val RefineSampleFloorConf = "graft.refineSampleFloorBytes"

  private[graft] def smallEnoughToScan(df: DataFrame): Boolean = {
    val floor = df.sparkSession.conf.getOption(RefineSampleFloorConf)
      .map(_.toLong).getOrElse(RefineSampleBytesFloor)
    df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(floor)
  }

  /** Deterministic, partitioning-invariant refinement sample for Lloyd
    * passes: k-means needs thousands of points per centroid, not the
    * corpus, and a FULL-corpus scan per iteration is the index-build
    * bottleneck at 100 TB. One TakeOrdered pass over `xxhash64(id)` picks a
    * stable pseudo-random `cap`-row subset — the same ordering discipline
    * as the codebook/centroid init, so under-cap inputs train on exactly
    * the rows they always did — localCheckpointed so every iteration reads
    * `cap` rows from block storage, re-spread across the session's shuffle
    * partitions so the refinement passes stay parallel (TakeOrdered's
    * output is a single partition). */
  private[graft] def refinementSample(corpus: DataFrame, idCol: String,
                                      cap: Int): DataFrame = {
    require(cap > 0, "refineSampleCap must be positive")
    val p = corpus.sparkSession.sessionState.conf.numShufflePartitions
    corpus.orderBy(xxhash64(col(idCol))).limit(cap)
      .repartition(p).localCheckpoint(true)
  }

  /** Deterministic random hyperplanes (seeded) as literal arrays — resolved
    * once on the driver, broadcast with the plan; dim·planes doubles. */
  private[graft] def hyperplanes(dim: Int, planes: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(planes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  private def planeLit(p: Array[Double]): Column = array(p.map(lit): _*)

  /** Pack sign(v·h_i) bits into one integer bucket id — per-row expression
    * (HOF form; kept as the registration-free Column API and the equivalence
    * baseline the native form is pinned against). */
  def lshBucket(vec: Column, dim: Int, planes: Int = 16, seed: Long = 42L): Column =
    hyperplanes(dim, planes, seed).zipWithIndex.map { case (p, i) =>
      when(Vectors.dot(vec, planeLit(p)) >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Native bucket: one primitive planes×dim loop per row via
    * `graft_lsh_bucket` — the HOF form evaluates planes×dim interpreted
    * lambda calls per row. Same fold order → identical buckets. Callers must
    * have registered [[graft.plans.HashExpressions]]. */
  private def lshBucketNative(vec: Column, dim: Int, planes: Int, seed: Long): Column =
    call_function("graft_lsh_bucket", vec,
      array(hyperplanes(dim, planes, seed).map(planeLit): _*))

  /** Brute-force cosine top-k against a single query vector. Scoring uses
    * the native expression (bit-identical to the HOF fold — pinned in
    * ExtensionsSpec), so the exact baseline is also the fast one. */
  def topK(corpus: DataFrame, idCol: String, vecCol: String,
           query: Array[Float], k: Int): DataFrame = {
    graft.plans.HashExpressions.register(corpus.sparkSession)
    val q = array(query.map(x => lit(x.toDouble)): _*)
    corpus.select(col(idCol),
        call_function("graft_cosine", col(vecCol), q).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Exact many-query top-k — the brute-force baseline the LSH/IVF paths are
    * measured against (and the correctness oracle for them: fully
    * SQL-expressible). The small query side broadcasts; every (query,
    * corpus) pair is scored with the native cosine, a per-query window keeps
    * the top k. Quadratic in corpus×queries BY DESIGN — use
    * [[lshBucketedTopK]]/[[ivfTopK]] when the query side is large.
    *
    * @param excludeSelf drop pairs with query_id == corpus_id. ONLY valid
    *   when `queries` shares `corpus`'s id space (self-search); with
    *   unrelated id spaces a coincidental id match would silently drop a
    *   genuine top-k candidate — pass false there. */
  def topKAll(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, queryIdCol: String,
              k: Int, excludeSelf: Boolean = true): DataFrame = {
    graft.plans.HashExpressions.register(corpus.sparkSession)
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"))
    val q = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("__qv"))
    cosineTopK(c.crossJoin(broadcast(q)), k, excludeSelf)
  }

  /** The exact re-rank every many-query search ends in: drop self pairs
    * (when asked), score each (query, candidate) pair of `paired` — columns
    * `query_id`/`__qv`, `corpus_id`/`__cv` — with the native cosine, and
    * keep each query's top k by (score DESC, corpus_id) as
    * (query_id, corpus_id, score, rank). */
  private def cosineTopK(paired: DataFrame, k: Int,
                         excludeSelf: Boolean = true): DataFrame = {
    val scored = (if (excludeSelf) paired.where(col("query_id") =!= col("corpus_id"))
                  else paired)
      .withColumn("score", call_function("graft_cosine", col("__qv"), col("__cv")))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("corpus_id"))
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("query_id"), col("corpus_id"), col("score"), col("__rn").as("rank"))
  }

  /** Many-query ANN: bucket corpus and queries by LSH signature, exact-rerank
    * within buckets, top-k per query. Both sides shuffle once on the bucket
    * id; no cross join ever materializes. Multi-probe (the standard recall
    * fix): each query additionally probes every bucket at Hamming distance 1
    * from its own — `planes+1` probe rows per query, corpus stays single-
    * bucketed, so the blow-up is on the (small) query side only. */
  def lshBucketedTopK(corpus: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String, queryIdCol: String,
                      k: Int, dim: Int, planes: Int = 8,
                      seed: Long = 42L, multiProbe: Boolean = true): DataFrame = {
    graft.plans.HashExpressions.register(corpus.sparkSession)
    val cb = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"),
      lshBucketNative(col(vecCol), dim, planes, seed).as("__bucket"))
    val qb0 = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("__qv"),
      lshBucketNative(col(vecCol), dim, planes, seed).as("__b0"))
    val qb =
      if (!multiProbe) qb0.withColumnRenamed("__b0", "__bucket")
      else qb0.select(col("query_id"), col("__qv"),
          explode(array(col("__b0") +:
            (0 until planes).map(i => col("__b0").bitwiseXOR(lit(1L << i))): _*))
            .as("__bucket"))
    // exact rerank with the NATIVE cosine (one call per candidate, primitive
    // loop) — the interpreted HOF form costs 3 lambda calls × dim per pair
    cosineTopK(qb.join(cb, "__bucket"), k)
  }

  /** IVF (inverted-file) ANN: a data-adaptive coarse quantizer — `nlist`
    * centroids sampled deterministically from the corpus; each corpus vector
    * lives in its nearest centroid's cell, each query probes its `nprobe`
    * nearest cells. Versus random hyperplanes, cells follow the data's
    * cluster structure, so recall at equal candidate count is higher on
    * clustered embeddings. The centroid table is driver-side literals
    * (nlist × dim doubles — a real IVF would k-means refine them; sampling is
    * the standard cheap initialization and keeps this fully deterministic). */
  /** Lloyd refinement: assign → recompute cell means → repeat. Each
    * iteration is one distributed pass (native cell assignment + a
    * (cell, dim) partial-aggregated mean); only nlist×dim doubles return to
    * the driver. Empty cells keep their previous centroid. Lloyd's step
    * never increases the quantization objective (mean squared distance to
    * the assigned centroid) — pinned in ExtensionsSpec. */
  private[graft] def refineCentroids(corpus: DataFrame, vecCol: String,
                                     init: Seq[Array[Double]],
                                     iters: Int): Seq[Array[Double]] = {
    var cents = init
    for (_ <- 1 to iters) {
      val centLit = array(cents.map(c => array(c.map(lit): _*)): _*)
      val means = corpus.where(col(vecCol).isNotNull)
        .select(
          element_at(call_function("graft_nearest_cells", col(vecCol), centLit, lit(1)), 1)
            .as("__cell"),
          posexplode(col(vecCol)).as(Seq("__i", "__x")))
        .where(col("__cell").isNotNull) // NULL-element vectors assign nowhere
        .groupBy("__cell", "__i").agg(avg(col("__x").cast("double")).as("__m"))
        .collect()
      val next = cents.map(_.clone()).toArray
      means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      cents = next.toSeq
    }
    cents
  }

  /** Mean squared L2 distance to each vector's nearest centroid — the
    * k-means objective (diagnostic; used by the refinement spec). One native
    * primitive loop per row (`graft_nearest_dist`); same selection and fold
    * order as the interpreted assign-then-zip_with form it replaced, so the
    * value is bit-identical (pinned in ExtensionsSpec). */
  private[graft] def quantizationError(corpus: DataFrame, vecCol: String,
                                       cents: Seq[Array[Double]]): Double = {
    graft.plans.HashExpressions.register(corpus.sparkSession)
    val centLit = array(cents.map(c => array(c.map(lit): _*)): _*)
    corpus.select(avg(
        call_function("graft_nearest_dist", col(vecCol), centLit)).as("e"))
      .head().getDouble(0)
  }

  /** Train the IVF coarse quantizer ONCE: deterministic corpus sample init +
    * distributed Lloyd refinement (see [[refineCentroids]]). Returns the
    * centroid table — nlist × dim doubles on the driver, the trained-index
    * ARTIFACT a deployment stores and reuses. Splitting training from
    * [[ivfSearch]] is what decouples search latency from corpus size: at
    * 100 TB the k-means passes run once per index build, not once per query
    * batch — and each pass scans a [[refinementSample]] capped at
    * `refineSampleCap` rows, not the corpus (standard k-means practice;
    * under-cap corpora train on every row, so small inputs are unchanged). */
  def trainIvf(corpus: DataFrame, idCol: String, vecCol: String,
               nlist: Int = 16, refineIters: Int = 2,
               refineSampleCap: Int = RefineSampleCap): Seq[Array[Double]] = {
    graft.plans.HashExpressions.register(corpus.sparkSession)
    if (refineIters <= 0)
      corpus.select(col(vecCol)).orderBy(xxhash64(col(idCol))).limit(nlist)
        .collect()
        .map(r => r.getSeq[Number](0).map(_.doubleValue).toArray).toSeq
    else {
      val filtered =
        corpus.select(col(idCol), col(vecCol)).where(col(vecCol).isNotNull)
      val sample =
        if (smallEnoughToScan(filtered)) filtered
        else refinementSample(filtered, idCol, refineSampleCap)
      // first nlist rows of the SAME hash order the sample was drawn by —
      // identical init vectors to sampling-free training
      val init = sample.orderBy(xxhash64(col(idCol))).limit(nlist)
        .collect()
        .map(r => r.getSeq[Number](1).map(_.doubleValue).toArray).toSeq
      refineCentroids(sample, vecCol, init, refineIters)
    }
  }

  /** Search a pre-trained IVF index ([[trainIvf]]'s centroids): each corpus
    * vector lives in its nearest centroid's cell, each query probes its
    * `nprobe` nearest cells, native cosine re-ranks within the probed cells,
    * a window keeps top-k per query. The centroid table is ONE foldable
    * nested-array literal: `graft_nearest_cells` materializes it once per
    * task and runs a primitive nlist×dim loop per row. The plan is a single
    * equi-join on cell ids — NO corpus-wide training pass. */
  def ivfSearch(centroids: Seq[Array[Double]], corpus: DataFrame,
                queries: DataFrame, idCol: String, vecCol: String,
                queryIdCol: String, k: Int, nprobe: Int = 2): DataFrame = {
    graft.plans.HashExpressions.register(corpus.sparkSession)
    val cents: Column = array(centroids
      .map(c => array(c.map(lit): _*)): _*)
    val corpusCell = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"),
      element_at(call_function("graft_nearest_cells", col(vecCol), cents, lit(1)), 1)
        .as("__cell"))
    val queryCells = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("__qv"),
        explode(call_function("graft_nearest_cells", col(vecCol), cents, lit(nprobe)))
          .as("__cell"))
    cosineTopK(queryCells.join(corpusCell, "__cell"), k)
  }

  /** Persist the trained quantizer ([[trainIvf]]'s centroids) as a tiny
    * parquet table (cell, centroid) — the on-disk half of the trained-index
    * artifact: an index built once survives the session and ships to the
    * search cluster as nlist×dim doubles. */
  def saveCentroids(spark: org.apache.spark.sql.SparkSession,
                    centroids: Seq[Array[Double]], path: String): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveCentroids]] artifact back into the driver-side centroid
    * table, ordered by cell id — `ivfSearch(loadCentroids(...), ...)` is
    * identical to searching with the in-memory centroids. */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                    path: String): Seq[Array[Double]] =
    spark.read.parquet(path).orderBy("cell")
      .collect().map(_.getSeq[Double](1).toArray).toSeq

  /** Materialize the IVF INVERTED LISTS: the corpus written cell-partitioned
    * (`partitionBy(cell)`), one directory per centroid cell. This is the
    * scale rung above [[ivfSearch]]: search over the materialized index scans
    * ONLY the probed cells' partitions (static partition pruning at the file
    * index — visible as `PartitionFilters` in the plan), so probe cost is
    * proportional to the probed fraction of the corpus, not the corpus —
    * sublinear search, the property an index exists for. Cell assignment runs
    * once at build time, not once per search batch. */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    centroids: Seq[Array[Double]], path: String): Unit = {
    graft.plans.HashExpressions.register(corpus.sparkSession)
    val cents: Column = array(centroids.map(c => array(c.map(lit): _*)): _*)
    corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"),
        element_at(call_function("graft_nearest_cells", col(vecCol), cents, lit(1)), 1)
          .as("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(path)
    // the quantizer ships INSIDE the index (underscore prefix → invisible to
    // the parquet scan), so search can never pair a retrained centroid table
    // with stale cell assignments
    saveCentroids(corpus.sparkSession, centroids, s"$path/_centroids")
  }

  /** Delta-append new vectors to a materialized [[buildIvfIndex]] index —
    * never a retrain: assignments use the index's EMBEDDED quantizer, so
    * base and delta rows are always cell-consistent by construction (the
    * invariant a retrain-on-append would break). New rows land as
    * additional part files inside their cell partitions, so
    * [[ivfSearchIndexed]]'s static partition pruning keeps holding: probed
    * cells are scanned base+delta, unprobed cells stay unread. This is the
    * standard IVF ingestion path at 100 TB — append daily deltas, rebuild
    * (retrain) only when the quantizer drifts from the data. */
  def appendToIvfIndex(newRows: DataFrame, idCol: String, vecCol: String,
                       indexPath: String): Unit = {
    val spark = newRows.sparkSession
    graft.plans.HashExpressions.register(spark)
    val centroids = loadCentroids(spark, s"$indexPath/_centroids")
    val cents: Column = array(centroids.map(c => array(c.map(lit): _*)): _*)
    newRows.select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"),
        element_at(call_function("graft_nearest_cells", col(vecCol), cents, lit(1)), 1)
          .as("cell"))
      .write.partitionBy("cell").mode("append").parquet(indexPath)
  }

  /** Search a materialized index with ITS OWN embedded quantizer — the
    * mismatch-proof form: probe cells always come from the same centroids
    * the cells were assigned with. */
  def ivfSearchIndexed(spark: org.apache.spark.sql.SparkSession,
                       indexPath: String, queries: DataFrame, vecCol: String,
                       queryIdCol: String, k: Int, nprobe: Int): DataFrame =
    ivfSearchIndexed(spark, indexPath,
      loadCentroids(spark, s"$indexPath/_centroids"),
      queries, vecCol, queryIdCol, k, nprobe)

  /** Search a materialized [[buildIvfIndex]] index: collect the query batch's
    * probed cell ids (≤ queries×nprobe ints, bounded by nlist — driver-side
    * by design: a search batch's probe set must be known to prune the scan),
    * then scan ONLY those cell partitions and re-rank. Deterministically
    * identical to [[ivfSearch]] with the same centroids. */
  def ivfSearchIndexed(spark: org.apache.spark.sql.SparkSession,
                       indexPath: String, centroids: Seq[Array[Double]],
                       queries: DataFrame, vecCol: String, queryIdCol: String,
                       k: Int, nprobe: Int = 2): DataFrame = {
    graft.plans.HashExpressions.register(spark)
    val cents: Column = array(centroids.map(c => array(c.map(lit): _*)): _*)
    val queryCells = queries.select(col(queryIdCol).as("query_id"),
      col(vecCol).as("__qv"),
      explode(call_function("graft_nearest_cells", col(vecCol), cents, lit(nprobe)))
        .as("cell"))
    val probed = queryCells.select("cell").distinct()
      .collect().map(_.getInt(0)).sorted
    val corpusCell = spark.read.parquet(indexPath)
      .where(col("cell").isin(probed.map(Int.box): _*))
    cosineTopK(queryCells.join(corpusCell, "cell"), k)
  }

  /** Train-then-search composition — the one-shot convenience form (and the
    * deterministic x03c gate entry). Production callers should [[trainIvf]]
    * once and [[ivfSearch]] per query batch. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, queryIdCol: String,
              k: Int, nlist: Int = 16, nprobe: Int = 2,
              refineIters: Int = 2): DataFrame =
    ivfSearch(trainIvf(corpus, idCol, vecCol, nlist, refineIters),
      corpus, queries, idCol, vecCol, queryIdCol, k, nprobe)

  /** HARD-negative mining for contrastive training data — the post-pass
    * over ANY neighbor frame in this file's shared (query_id, corpus_id,
    * score, rank) schema ([[topKAll]] exact, [[ivfTopK]]/[[lshBucketedTopK]]
    * at scale): drop each query's top `skipTop` ranks (in self-supervised
    * mining the nearest hits are presumed positives/near-duplicates, not
    * negatives) and keep the next `k` as negatives re-ranked 1..k. Being a
    * pure rank filter it inherits the neighbor frame's plan — mining at
    * 100 TB is exactly as hard as the ANN search that feeds it, nothing
    * more. Request the source search with ≥ skipTop + k per query, or
    * tail queries return fewer than k (documented, not an error). */
  def hardNegatives(neighbors: DataFrame, skipTop: Int, k: Int): DataFrame = {
    require(skipTop >= 0, s"skipTop must be >= 0, got $skipTop")
    require(k >= 1, s"k must be >= 1, got $k")
    neighbors
      .where(col("rank") > skipTop && col("rank") <= skipTop + k)
      .select(col("query_id"), col("corpus_id").as("neg_id"), col("score"),
        (col("rank") - skipTop).as("neg_rank"))
  }

  /** EASY negatives — per query, `k` deterministic pseudo-random corpus
    * rows (the in-batch-random complement to [[hardNegatives]]): a global
    * content-keyed Bernoulli pool of ≈ `k × oversample` corpus ids
    * (Sampling.bernoulliByKey semantics — stable across runs/partitionings)
    * broadcasts against the queries, each (query, candidate) pair is ranked
    * by its own pair hash, and the k smallest win. Per-query work is
    * |pool|, never |corpus|; the pool count is corpus-size-independent by
    * construction (fraction = target/count). Self-pairs are excluded;
    * collisions with a supplied hard-negative frame can be removed by the
    * caller with an anti-join on (query_id, neg_id). */
  def easyNegatives(corpus: DataFrame, queries: DataFrame,
                    idCol: String, queryIdCol: String, k: Int,
                    salt: String = "easyneg", oversample: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val n = corpus.select(col(idCol)).count()
    require(n > 0, "easyNegatives: empty corpus")
    val frac = math.min(1.0, (k.toLong * oversample).toDouble / n)
    val pool = corpus.select(col(idCol).as("neg_id"))
      .where(Sampling.hashUnit(concat_ws(":", col(idCol), lit(salt))) < frac)
    val paired = queries.select(col(queryIdCol).as("query_id"))
      .crossJoin(broadcast(pool))
      .where(col("query_id") =!= col("neg_id"))
    val w = Window.partitionBy("query_id").orderBy(
      sha2(concat_ws(":", col("query_id"), col("neg_id"), lit(salt)), 256),
      col("neg_id"))
    paired.withColumn("neg_rank", row_number().over(w))
      .where(col("neg_rank") <= k)
      .select(col("query_id"), col("neg_id"), col("neg_rank"))
  }

  /** Per-query recall@k of an approximate neighbor frame against the exact
    * one — the self-evaluation every deployed ANN index owes its users
    * [Jégou et al. TPAMI'11 measure recall@R this way]: both inputs are
    * this file's shared (query_id, corpus_id, score, rank) schema
    * ([[topKAll]] as ground truth; [[ivfTopK]]/[[lshBucketedTopK]] as the
    * candidate). Output per query: `n_exact` (≤ k ground-truth neighbors),
    * `n_hit` (of those, how many the approximate index returned in ITS
    * top k), `recall` = n_hit / n_exact — exact integer arithmetic, one
    * division. Both inputs carry deterministic total orders (score desc,
    * corpus_id), so recall is reproducible even through score ties.
    *
    * Shape: two rank filters + one (query, corpus)-keyed left join + one
    * query-keyed aggregation — the evaluation costs strictly less than
    * either search that feeds it. */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val e = exact.where(col("rank") <= k).select(col("query_id"), col("corpus_id"))
    val a = approx.where(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), lit(1L).as("__hit"))
    e.join(a, Seq("query_id", "corpus_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
  }

  /** Matryoshka truncation evaluation [Kusupati et al., NeurIPS 2022 —
    * "Matryoshka Representation Learning"]: per-query recall@k of
    * searching on only the FIRST `dims` embedding dimensions against the
    * full-dimension search — the table that decides how far an MRL-style
    * embedding can be truncated before retrieval quality pays. Truncation
    * is `slice(vec, 1, dims)`; cosine re-normalizes inside the scorer, so
    * no re-normalization pass is needed. Both searches here are the exact
    * [[topKAll]] baseline semantics (quadratic BY DESIGN — the evaluation
    * wants ground truth on both sides); at corpus scale run the same
    * comparison over two [[ivfTopK]] frames and feed [[recallAtK]]
    * directly.
    *
    * Both rankings are functions of the SAME (query, corpus) pair, so the
    * pair set is materialized ONCE and scored with both cosines in one
    * pass, then ranked twice over one hash exchange (both windows
    * partition by query — the second only re-sorts). The composed
    * two-[[topKAll]] spelling pays the quadratic cross join, the pair
    * scoring pipeline and the window shuffle twice for identical
    * arithmetic; the fused top-k SETS are reproduced exactly (same
    * scores, same (score DESC, corpus_id) tie-break), pinned
    * fused == composed in RetrievalEvalSpec.
    *
    * A 4× dim truncation is a 4× cut in ANN index memory, scan bandwidth,
    * and distance FLOPs — at 100 TB the cheapest speedup available if this
    * table says recall holds. */
  def matryoshkaRecall(df: DataFrame, idCol: String, vecCol: String,
                       dims: Int, k: Int): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    require(k >= 1, s"k must be >= 1, got $k") // recallAtK's former check
    graft.plans.HashExpressions.register(df.sparkSession)
    val c = df.select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"),
      slice(col(vecCol), 1, dims).as("__cvt"))
    val q = df.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      slice(col(vecCol), 1, dims).as("__qvt"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        call_function("graft_cosine", col("__qv"), col("__cv")).as("__sf"),
        call_function("graft_cosine", col("__qvt"), col("__cvt")).as("__st"))
    val wf = Window.partitionBy("query_id")
      .orderBy(col("__sf").desc, col("corpus_id"))
    val wt = Window.partitionBy("query_id")
      .orderBy(col("__st").desc, col("corpus_id"))
    scored
      .select(col("query_id"),
        row_number().over(wf).as("__rf"), row_number().over(wt).as("__rt"))
      .where(col("__rf") <= k)
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        count(when(col("__rt") <= k, lit(1))).as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
  }

  /** All same-bucket pairs with exact cosine — the candidate generator for
    * embedding near-dup detection. */
  def lshSelfPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                   planes: Int = 16, seed: Long = 42L): DataFrame = {
    graft.plans.HashExpressions.register(df.sparkSession)
    val sig = df.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      lshBucketNative(col(vecCol), dim, planes, seed).as("__bucket"))
    val a = sig.select(col("__bucket"), col("__id").as("id_1"), col("__v").as("__v1"))
    val b = sig.select(col("__bucket"), col("__id").as("id_2"), col("__v").as("__v2"))
    a.join(b, Seq("__bucket")).where(col("id_1") < col("id_2"))
      .withColumn("cosine", call_function("graft_cosine", col("__v1"), col("__v2")))
      .select("id_1", "id_2", "cosine")
  }
}
