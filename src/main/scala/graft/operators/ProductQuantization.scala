package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.plans.HashExpressions.native

/** Product quantization [Jégou et al., TPAMI 2011] — the memory-compression
  * rung of the ANN ladder (SURVEY.md §2c X3), below brute force and beside
  * IVF: split each D-dim vector into `m` subvectors, vector-quantize each
  * subspace against its own `ksub`-entry codebook, and keep only the `m`
  * small code integers per vector. At D=64 floats → m=8 codes that is 32×
  * compression: a 100 TB embedding corpus' searchable representation fits in
  * cluster memory, and query scoring (asymmetric distance, ADC) is `m` table
  * lookups per candidate — no per-dimension float math, no raw-vector I/O.
  *
  * The reference has no vector search at all (its surface is CSV↔Postgres
  * transfer: `/root/reference/src/airflow_postgres_csv/operators.py`); this
  * module extends the engine's similarity-search family the same way
  * [[SimilaritySearch]]'s IVF does, and composes with it (PQ-encode the
  * vectors inside a cell-partitioned IVF index for the classic IVF-PQ
  * layout: prune cells first, lookup-score survivors second).
  *
  * All hot paths are native expressions (`graft_pq_encode` / `graft_pq_lut`
  * / `graft_pq_adc`, `plans/VectorExpressions.scala`) — zero UDFs. The model
  * (m × ksub × dsub doubles) is a driver-side artifact like the IVF centroid
  * table: thousands of doubles, broadcast into plans as a foldable literal so
  * expressions materialize it once per task.
  */
object ProductQuantization {

  /** m × ksub × dsub codebooks as a foldable nested-array literal. */
  def codebooksLit(cb: Seq[Seq[Array[Double]]]): Column =
    array(cb.map(book =>
      array(book.map(cent => array(cent.map(lit): _*)): _*)): _*)

  /** Train per-subspace codebooks: deterministic sample init (first `ksub`
    * corpus vectors by id hash, sliced per subspace — same discipline as
    * [[SimilaritySearch.trainIvf]]) + joint Lloyd refinement: each iteration
    * is ONE distributed pass covering ALL m subspaces (explode to
    * (subspace, subvector) rows, assign against that subspace's current book
    * via an m-branch CASE of native nearest-cell calls, partial-aggregated
    * (subspace, cell, dim) means; only m·ksub·dsub doubles return to the
    * driver). Empty cells keep their previous centroid. PQ codebooks need
    * thousands of vectors, not the corpus (standard practice), so every
    * Lloyd pass scans a deterministic
    * [[SimilaritySearch.refinementSample]] capped at `refineSampleCap`
    * rows — under-cap corpora train on every row, so small inputs are
    * unchanged. `dim` must be divisible by `m`. */
  def trainPq(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
              m: Int = 8, ksub: Int = 16, iters: Int = 2,
              refineSampleCap: Int = SimilaritySearch.RefineSampleCap)
      : Seq[Seq[Array[Double]]] = {
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m")
    require(ksub > 0 && iters >= 0, "ksub must be positive, iters non-negative")
    val dsub = dim / m
    // Null AND wrong-length vectors are ignored throughout (same guard as
    // Pca.fit): a ragged vector in the init sample would seed short/empty
    // sub-centroids, after which every native call sees m·dsub ≠ dim and
    // the whole corpus encodes to NULL — silently.
    val wellFormed = col(vecCol).isNotNull && size(col(vecCol)) === dim
    // the refinement sample is drawn by the SAME xxhash64(id) order as the
    // init, so the init vectors are its first ksub rows either way; skip
    // the materialization when no Lloyd pass will read it
    val filtered = corpus.select(col(idCol), col(vecCol)).where(wellFormed)
    val trainSet =
      if (iters == 0 || SimilaritySearch.smallEnoughToScan(filtered)) filtered
      else SimilaritySearch.refinementSample(filtered, idCol, refineSampleCap)
    val init: Seq[Seq[Array[Double]]] = {
      // Number covers FLOAT embeddings and DOUBLE residual frames alike
      val sample = trainSet
        .orderBy(xxhash64(col(idCol))).limit(ksub)
        .collect().map(_.getSeq[Number](1).map(_.doubleValue).toArray)
      (0 until m).map(mi => sample.map(v => v.slice(mi * dsub, (mi + 1) * dsub)).toSeq)
    }
    var books = init
    for (_ <- 1 to iters) {
      // one pass, all subspaces: (subspace, cell, dim index) → mean
      val subRows = trainSet
        .select(explode(array((0 until m).map { mi =>
          struct(lit(mi).as("m"),
            slice(col(vecCol), mi * dsub + 1, dsub).as("sv"))
        }: _*)).as("__s"))
        .select(col("__s.m").as("__m"), col("__s.sv").as("__sv"))
      val bookLits = books.map(b => array(b.map(c => array(c.map(lit): _*)): _*))
      val assigned = subRows.withColumn("__cell",
        (1 until m).foldLeft(
          when(col("__m") === 0,
            element_at(native("graft_nearest_cells", col("__sv"), bookLits(0), lit(1)), 1))) {
          (acc, mi) => acc.when(col("__m") === mi,
            element_at(native("graft_nearest_cells", col("__sv"), bookLits(mi), lit(1)), 1))
        })
      val means = assigned.where(col("__cell").isNotNull)
        .select(col("__m"), col("__cell"), posexplode(col("__sv")).as(Seq("__i", "__x")))
        .groupBy("__m", "__cell", "__i").agg(avg(col("__x").cast("double")).as("__mean"))
        .collect()
      val next = books.map(_.map(_.clone()).toArray).toArray
      means.foreach(r => next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
      books = next.map(_.toSeq).toSeq
    }
    books
  }

  /** Attach the `m` PQ codes (one native call per row, map-only — fuses with
    * the scan; this is the index-build pass). */
  def encode(df: DataFrame, vecCol: String,
             cb: Seq[Seq[Array[Double]]], codeCol: String = "pq_code"): DataFrame = {
    df.withColumn(codeCol,
      native("graft_pq_encode", col(vecCol), codebooksLit(cb)))
  }

  /** Mean squared reconstruction error — the PQ training objective:
    * adc(encode(v), lut(v)) is EXACTLY Σ per-subspace squared distance from
    * v to its chosen sub-centroids. Diagnostic; the Lloyd monotonicity spec
    * pins it non-increasing over [[trainPq]] iterations. */
  def reconstructionError(corpus: DataFrame, vecCol: String,
                          cb: Seq[Seq[Array[Double]]]): Double = {
    val cbl = codebooksLit(cb)
    corpus.where(col(vecCol).isNotNull)
      .select(avg(native("graft_pq_adc",
        native("graft_pq_encode", col(vecCol), cbl),
        native("graft_pq_lut", col(vecCol), cbl))).as("e"))
      .head().getDouble(0)
  }

  /** Shared ADC scoring tail: exclude-self filter, m-lookup distance over
    * the joined (codes, lut) pair, per-query top-k by ascending distance
    * with the id tiebreak. One definition so ranking/tie-breaking can never
    * drift between the flat, lazy-IVF, and indexed search paths. */
  private def adcTopK(paired: DataFrame, codeCol: String,
                      k: Int, excludeSelf: Boolean): DataFrame = {
    val scored = (if (excludeSelf) paired.where(col("query_id") =!= col("corpus_id"))
                  else paired)
      .withColumn("adc_dist", native("graft_pq_adc", col(codeCol), col("__lut")))
      .where(col("adc_dist").isNotNull)
    val w = Window.partitionBy("query_id").orderBy(col("adc_dist").asc, col("corpus_id"))
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("query_id"), col("corpus_id"), col("adc_dist"), col("__rn").as("rank"))
  }

  /** Many-query ANN over PQ codes: each query computes its m·ksub lookup
    * table ONCE (`graft_pq_lut`, map-side on the small query frame), the
    * corpus side is only (id, m codes) — the raw vectors are never read at
    * search time. Scoring is `graft_pq_adc`: m lookups per (query, candidate)
    * pair; per-query top-k by ASCENDING asymmetric L2 distance. The query
    * side broadcasts; corpus stays partition-parallel with zero shuffle
    * before the top-k window.
    * For sublinear search, run over the probed cells of an IVF index
    * (IVF-PQ) instead of the full code table. */
  def pqTopKAll(corpusCodes: DataFrame, queries: DataFrame,
                idCol: String, codeCol: String,
                queryIdCol: String, vecCol: String,
                cb: Seq[Seq[Array[Double]]], k: Int,
                excludeSelf: Boolean = false): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"),
      native("graft_pq_lut", col(vecCol), codebooksLit(cb)).as("__lut"))
    val c = corpusCodes.select(col(idCol).as("corpus_id"), col(codeCol).as("__code"))
    val paired = c.crossJoin(broadcast(q))
    adcTopK(paired, "__code", k, excludeSelf)
  }

  /** v − centroid(cell), as builtin expressions (cell is 0-based,
    * element_at 1-based). The residual is what true IVFADC quantizes:
    * within-cell offsets are smaller and more isotropic than raw vectors,
    * so the same code budget spends on finer structure. */
  private def residualCol(vec: Column, cell: Column, centLit: Column): Column =
    zip_with(vec, element_at(centLit, cell + 1),
      (a, b) => a.cast("double") - b)

  /** Residual frame for codebook training: (id, cell, residual) — train the
    * PQ codebooks on THIS frame's `residual` column when building a
    * residual-encoded index ([[ivfPqAssign]] with `residual = true`), so
    * codebooks and codes quantize the same distribution. */
  def residualsOf(corpus: DataFrame, idCol: String, vecCol: String,
                  cents: Seq[Array[Double]]): DataFrame = {
    val centLit = array(cents.map(c => array(c.map(lit): _*)): _*)
    val cell = element_at(
      native("graft_nearest_cells", col(vecCol), centLit, lit(1)), 1)
    corpus.select(col(idCol), cell.as("cell"),
      residualCol(col(vecCol), cell, centLit).as("residual"))
  }

  /** Index-build pass for IVF-PQ: coarse cell assignment + PQ codes in one
    * map-only projection over the raw vectors — after this, search never
    * touches the vectors again. `cents` is the IVF coarse quantizer
    * ([[SimilaritySearch.trainIvf]]), `cb` the PQ codebooks ([[trainPq]]).
    * With `residual = true` (true IVFADC [Jégou '11 §IV]) the codes quantize
    * v − centroid(cell) instead of v — train `cb` on [[residualsOf]] then. */
  def ivfPqAssign(corpus: DataFrame, idCol: String, vecCol: String,
                  cents: Seq[Array[Double]], cb: Seq[Seq[Array[Double]]],
                  cellCol: String = "cell", codeCol: String = "pq_code",
                  residual: Boolean = false): DataFrame = {
    val centLit = array(cents.map(c => array(c.map(lit): _*)): _*)
    val cell = element_at(
      native("graft_nearest_cells", col(vecCol), centLit, lit(1)), 1)
    val encoded = if (residual) residualCol(col(vecCol), cell, centLit) else col(vecCol)
    corpus.select(col(idCol), cell.as(cellCol),
      native("graft_pq_encode", encoded, codebooksLit(cb)).as(codeCol))
  }

  /** IVF-PQ search [Jégou et al. 2011, the IVFADC system]: each query probes
    * its `nprobe` nearest coarse cells, candidates are the probed cells'
    * rows only (a narrow equi-join on the cell id — the corpus never
    * cross-joins), and survivors are scored with the m-lookup ADC. This is
    * the 100 TB shape: candidate count scales with nprobe/nlist of the
    * corpus, candidate width is m bytes of codes, and the only shuffle keys
    * are (cell, id, codes). With `nprobe = nlist` (probe everything) the
    * result is EXACTLY [[pqTopKAll]] — pinned in PqSpec. Over a materialized
    * cell-partitioned index ([[SimilaritySearch.buildIvfIndex]] on the
    * [[ivfPqAssign]] output) the probed-cell filter becomes static partition
    * pruning, same as `ivfSearchIndexed`. */
  def ivfPqTopKAll(corpusIndexed: DataFrame, queries: DataFrame,
                   idCol: String, cellCol: String, codeCol: String,
                   queryIdCol: String, vecCol: String,
                   cents: Seq[Array[Double]], cb: Seq[Seq[Array[Double]]],
                   nprobe: Int, k: Int, excludeSelf: Boolean = false,
                   residual: Boolean = false): DataFrame = {
    val centLit = array(cents.map(c => array(c.map(lit): _*)): _*)
    // residual form: one LUT per (query, probed cell) — the table is built
    // from (qv − that cell's centroid), matching the residual the cell's
    // codes quantize. nprobe small tables per query, still query-side only.
    val q0 = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("__qv"),
      explode(native("graft_nearest_cells", col(vecCol), centLit, lit(nprobe)))
        .as("__qcell"))
    val lutOf = if (residual) residualCol(col("__qv"), col("__qcell"), centLit)
                else col("__qv")
    val q = q0.select(col("query_id"), col("__qcell"),
      native("graft_pq_lut", lutOf, codebooksLit(cb)).as("__lut"))
    val c = corpusIndexed.select(col(idCol).as("corpus_id"),
      col(cellCol).as("__qcell"), col(codeCol).as("__code"))
    val paired = c.join(broadcast(q), Seq("__qcell"))
    adcTopK(paired, "__code", k, excludeSelf)
  }

  /** OPQ-style rotated PQ model: a full-rank orthonormal rotation (stored as
    * a [[Pca.PcaModel]] with k = D) plus codebooks trained in the rotated
    * space. Both halves are driver-side artifacts like every quantizer
    * here. */
  final case class OpqModel(rotation: Pca.PcaModel,
                            codebooks: Seq[Seq[Array[Double]]])

  /** OPQ-style rotation before quantization [Ge et al., CVPR 2013 — the
    * parametric/PCA-initialized form, not the alternating refinement]: fit
    * a FULL-RANK PCA (k = D, rows orthonormal ⇒ L2 distances exactly
    * preserved), reorder the components by EIGENVALUE ALLOCATION, rotate
    * y = W·(x − μ), then train the PQ codebooks on the rotated corpus.
    *
    * Decorrelation alone is not enough: PCA sorts variance into the leading
    * axes, which would dump all signal into the first subspaces and leave
    * the rest quantizing noise. The allocation step balances the
    * per-subspace eigenvalue PRODUCT (greedy: axes in descending-λ order,
    * each to the unfilled subspace with the smallest log-product — Ge's
    * parametric solution for Gaussian data), so every subspace's code
    * budget works on comparable, now-independent structure. On anisotropic
    * corpora — correlated coordinates straddling subspace boundaries — the
    * same m·log₂(ksub) bits buy measurably higher recall (pinned ≥ plain
    * PQ in PqSpec). Costs ONE extra corpus scan at train time (the PCA
    * fit's single Gramian pass); encode/search stay the same map-only
    * passes, rotating rows inline with the foldable W literal. */
  def trainOpq(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
               m: Int = 8, ksub: Int = 16, iters: Int = 2): OpqModel = {
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m")
    val pca = Pca.fit(corpus, vecCol, dim, k = dim)
    val perm = eigenAllocation(pca.eigenvalues, m)
    val rot = Pca.PcaModel(pca.mean,
      perm.map(pca.components).toArray,
      perm.map(pca.eigenvalues).toArray)
    val rotated = Pca.project(corpus, vecCol, rot, "__graft_rot")
    OpqModel(rot, trainPq(rotated, idCol, "__graft_rot", dim, m, ksub, iters))
  }

  /** Greedy eigenvalue allocation: axes in descending-λ order, each to the
    * unfilled bucket with the smallest running log-product. Logs are
    * CENTERED on their mean first — allocation must be scale-invariant
    * (balance is about ratios, not absolute magnitudes): with raw logs, a
    * unit-normalized corpus (every λ < 1, logs all negative) makes the
    * first bucket's product drop below the empty buckets' 0 and absorb ALL
    * the leading axes — exactly the signal-dumping the allocation exists to
    * prevent. Centering makes the mean axis log 0, so big axes (positive
    * centered log) naturally round-robin across empty buckets at any data
    * scale (pinned in PqSpec). */
  private[graft] def eigenAllocation(eigenvalues: Array[Double], m: Int): Seq[Int] = {
    val dim = eigenvalues.length
    val dsub = dim / m
    val logs = eigenvalues.map(v => math.log(math.max(v, 1e-300)))
    val mean = logs.sum / dim
    val centered = logs.map(_ - mean)
    val fill = Array.fill(m)(0)
    val logProd = Array.fill(m)(0.0)
    val buckets = Array.fill(m)(List.newBuilder[Int])
    (0 until dim).foreach { ax => // eigenvalues are already descending
      val b = (0 until m).filter(fill(_) < dsub).minBy(b => (logProd(b), b))
      buckets(b) += ax
      fill(b) += 1
      logProd(b) += centered(ax)
    }
    buckets.flatMap(_.result()).toSeq
  }

  /** Attach PQ codes in the rotated space — map-only, rotation and encoding
    * fuse into one projection over the scan. */
  def encodeOpq(df: DataFrame, vecCol: String, model: OpqModel,
                codeCol: String = "pq_code"): DataFrame =
    encode(Pca.project(df, vecCol, model.rotation, "__graft_rot"),
      "__graft_rot", model.codebooks, codeCol)
      .drop("__graft_rot")

  /** [[pqTopKAll]] over OPQ codes: queries rotate through the same W before
    * building their lookup tables, so query and corpus meet in the one
    * rotated space. Identical scale shape to plain PQ search. */
  def opqTopKAll(corpusCodes: DataFrame, queries: DataFrame,
                 idCol: String, codeCol: String,
                 queryIdCol: String, vecCol: String,
                 model: OpqModel, k: Int,
                 excludeSelf: Boolean = false): DataFrame =
    pqTopKAll(corpusCodes,
      Pca.project(queries, vecCol, model.rotation, "__graft_rot"),
      idCol, codeCol, queryIdCol, "__graft_rot", model.codebooks, k,
      excludeSelf)

  /** Materialize the IVF-PQ index: [[ivfPqAssign]] output written
    * cell-partitioned (one directory per coarse cell — rows are just
    * (corpus_id, m codes): the raw vectors are NOT in the index, that is the
    * point), with BOTH quantizer artifacts embedded under the index root
    * (`_centroids`, `_pqmodel` — underscore prefix keeps them invisible to
    * the parquet scan). Search can therefore never pair retrained
    * centroids/codebooks with stale assignments — the same
    * mismatch-impossible-by-construction contract as
    * [[SimilaritySearch.buildIvfIndex]]. */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      cents: Seq[Array[Double]], cb: Seq[Seq[Array[Double]]],
                      path: String, residual: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    ivfPqAssign(corpus, idCol, vecCol, cents, cb, residual = residual)
      .withColumnRenamed(idCol, "corpus_id")
      .write.partitionBy("cell").mode("overwrite").parquet(path)
    SimilaritySearch.saveCentroids(spark, cents, s"$path/_centroids")
    savePqModel(spark, cb, s"$path/_pqmodel")
    // the encoding form is part of the index's identity — persist it so
    // search can never score residual codes with raw-vector LUTs
    import spark.implicits._
    Seq(residual).toDF("residual").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_encoding")
  }

  /** Search a materialized [[buildIvfPqIndex]] index with its own embedded
    * quantizers: collect the batch's probed cell ids (≤ queries×nprobe ints,
    * bounded by nlist — driver-side by design, the probe set must be known
    * to prune the scan), scan ONLY those cell partitions (static partition
    * pruning over m-byte code rows), ADC-score, top-k per query.
    * Deterministically identical to [[ivfPqTopKAll]] over the same
    * assignment (pinned in PqSpec). This is the full 100 TB ANN stack:
    * sublinear candidate count (IVF pruning) × constant-size candidate
    * representation (PQ codes) × m-lookup scoring (ADC). */
  def ivfPqSearchIndexed(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String, queries: DataFrame,
                         vecCol: String, queryIdCol: String,
                         k: Int, nprobe: Int = 2,
                         excludeSelf: Boolean = false): DataFrame = {
    val cents = SimilaritySearch.loadCentroids(spark, s"$indexPath/_centroids")
    val cb = loadPqModel(spark, s"$indexPath/_pqmodel")
    // encoding form travels WITH the index. ONLY absence of the marker may
    // fall back to raw (older indexes are raw by construction) — a marker
    // that exists but cannot be read must FAIL, not silently score residual
    // codes with raw-vector LUTs (every distance would be wrong, no error).
    val markerPath = new org.apache.hadoop.fs.Path(s"$indexPath/_encoding")
    val markerFs = markerPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val residual =
      if (!markerFs.exists(markerPath)) false
      else spark.read.parquet(s"$indexPath/_encoding").head().getBoolean(0)
    val centLit = array(cents.map(c => array(c.map(lit): _*)): _*)
    val q0 = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("__qv"),
      explode(native("graft_nearest_cells", col(vecCol), centLit, lit(nprobe)))
        .as("cell"))
    val lutOf = if (residual) residualCol(col("__qv"), col("cell"), centLit)
                else col("__qv")
    val q = q0.select(col("query_id"), col("cell"),
      native("graft_pq_lut", lutOf, codebooksLit(cb)).as("__lut"))
    val probed = q.select("cell").distinct().collect().map(_.getInt(0)).sorted
    val corpusCell = spark.read.parquet(indexPath)
      .where(col("cell").isin(probed.map(Int.box): _*))
    val paired = corpusCell.join(broadcast(q), Seq("cell"))
    adcTopK(paired, "pq_code", k, excludeSelf)
  }

  /** Persist the codebook artifact (one row per (subspace, cell)) — the PQ
    * analog of [[SimilaritySearch.saveCentroids]]. */
  def savePqModel(spark: org.apache.spark.sql.SparkSession,
                  cb: Seq[Seq[Array[Double]]], path: String): Unit = {
    import spark.implicits._
    cb.zipWithIndex.flatMap { case (book, mi) =>
      book.zipWithIndex.map { case (cent, c) => (mi, c, cent.toSeq) }
    }.toDF("subspace", "cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[savePqModel]] artifact; searching with it is identical to
    * searching with the in-memory codebooks. */
  def loadPqModel(spark: org.apache.spark.sql.SparkSession,
                  path: String): Seq[Seq[Array[Double]]] = {
    val rows = spark.read.parquet(path).orderBy("subspace", "cell").collect()
    rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
      rs.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray).toSeq
    }
  }
}
