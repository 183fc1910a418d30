package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.HashExpressions.native
import graft.functions.TextAnalysis

/** Near-duplicate detection (SURVEY.md §2c X2): MinHash+LSH, SimHash,
  * n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design (the whole point of these over pairwise comparison):
  *  - signatures are per-row Column expressions — a map-only pass, codegen'd,
  *    no UDFs, no shuffle;
  *  - candidate generation is an equi-join on (band, bandHash) — ONE shuffle
  *    keyed by 12 bytes, never on document text; at 100 TB with 1000
  *    executors this is the standard banded-LSH shuffle and AQE handles the
  *    (hot-band) skew;
  *  - only candidate pairs (a tiny fraction) are exactly re-verified.
  */
object NearDup {

  /** k-shingles over whitespace tokens, as a per-row expression. */
  def shingles(text: Column, k: Int = 3): Column = {
    val toks = TextAnalysis.tokens(text)
    when(size(toks) < k, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
  }

  /** 64-bit hashes of the k-shingles — computed ONCE per row. Downstream
    * min-hash families rehash these LONGS, never the strings: an outer-lambda
    * body is re-evaluated per element, so tokenizing inside the signature
    * loop would cost numHashes× the string work. */
  def shingleHashes(text: Column, k: Int = 3): Column =
    transform(shingles(text, k), s => xxhash64(s))

  /** MinHash signature over precomputed shingle hashes:
    * sig[i] = min over shingles of xxhash64(shingleHash, i). Array[Long]. */
  def minhashFromHashes(hs: Column, numHashes: Int = 128): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      seed => array_min(transform(hs, h => xxhash64(h, seed))))

  /** MinHash signature of a text column (convenience; see the two-stage
    * [[minhashCandidates]] for the scale path). */
  def minhashSignature(text: Column, numHashes: Int = 128, k: Int = 3): Column =
    minhashFromHashes(shingleHashes(text, k), numHashes)

  /** Banded-LSH candidate pairs with MinHash-estimated Jaccard.
    *
    * `bands` × `rowsPerBand` must equal the signature length. Two documents
    * collide if any band of their signatures matches exactly; collision
    * probability ≈ 1-(1-j^r)^b (the standard S-curve). Output:
    * (id_1, id_2, est_jaccard) with id_1 < id_2, deduplicated across bands.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 128, bands: Int = 32, k: Int = 3,
                        minEstJaccard: Double = 0.5): DataFrame = {
    val hs = shingleHashFrame(df, idCol, textCol, k)
    try minhashCandidatesFromHashes(hs, numHashes, bands, minEstJaccard)
    finally hs.unpersist(false)
  }

  /** (__id, __hs) with the text tokenized/shingled/hashed ONCE and persisted —
    * the text column is the fat one; every downstream pass (signatures, exact
    * verification) reuses the 8-byte hashes instead of re-reading text. */
  private def shingleHashFrame(df: DataFrame, idCol: String, textCol: String,
                               k: Int): DataFrame =
    df.select(col(idCol).as("__id"),
      native("graft_shingle_hashes", col(textCol), lit(k)).as("__hs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Persisted (id, signature) frame — see the cache rationale inline below. */
  private def sigFrame(hs: DataFrame, numHashes: Int): DataFrame =
    hs.select(col("__id"),
      native("graft_minhash_sig", col("__hs"), lit(numHashes)).as("__sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** (band, bandHash, id) keys: unrolled codegen'd xxhash64 per band. */
  private def bandKeys(sig: DataFrame, bands: Int, r: Int): DataFrame =
    sig.select(col("__id"),
      posexplode(array((0 until bands).map { b =>
        xxhash64(((b * r) until ((b + 1) * r))
          .map(i => element_at(col("__sig"), i + 1)) :+ lit(b): _*)
      }: _*)).as(Seq("__band", "__bh")))

  private def minhashCandidatesFromHashes(hs: DataFrame, numHashes: Int,
                                          bands: Int,
                                          minEstJaccard: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // Signatures: the native minhash expression runs one primitive loop per
    // row over the precomputed shingle hashes. The signature frame IS
    // persisted: Catalyst collapses projections without cross-expression CSE,
    // so an unmaterialized signature would be recomputed per band expression
    // and per join side. At cluster scale this is |corpus| × numHashes × 8B,
    // spillable — the standard production-LSH shape.
    val sig = hs.select(col("__id"),
      native("graft_minhash_sig", col("__hs"), lit(numHashes)).as("__sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The candidate join shuffles only (band, bandHash, id) — 20 bytes/row,
    // never the 1KB signature (and never the text). Signatures re-attach to
    // the few surviving candidate pairs afterwards. Band keys are unrolled
    // codegen'd xxhash64 over the band's longs — a HOF/slice/concat_ws
    // formulation would be interpreted per band and build 32 strings per row.
    val banded = sig.select(col("__id"),
      posexplode(array((0 until bands).map { b =>
        xxhash64(((b * r) until ((b + 1) * r))
          .map(i => element_at(col("__sig"), i + 1)) :+ lit(b): _*)
      }: _*)).as(Seq("__band", "__bh")))
    val a = banded.select(col("__band"), col("__bh"), col("__id").as("id_1"))
    val b = banded.select(col("__band"), col("__bh"), col("__id").as("id_2"))
    val cand = a.join(b, Seq("__band", "__bh")).where(col("id_1") < col("id_2"))
      .select("id_1", "id_2").dropDuplicates("id_1", "id_2")
    val out = cand
      .join(sig.select(col("__id").as("id_1"), col("__sig").as("__sig1")), "id_1")
      .join(sig.select(col("__id").as("id_2"), col("__sig").as("__sig2")), "id_2")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("__sig1"), col("__sig2"),
          (x, y) => x === y), eq => eq)).cast("double") / numHashes)
      .where(col("est_jaccard") >= minEstJaccard)
      .select("id_1", "id_2", "est_jaccard")
    materializeAndRelease(out, sig)
  }

  /** Candidate-pair outputs are a tiny fraction of the corpus: materialize
    * them eagerly and release the big signature cache (see
    * [[CacheOps.materializeAndRelease]] for the lifecycle rationale). */
  private def materializeAndRelease(out: DataFrame, sig: DataFrame): DataFrame =
    CacheOps.materializeAndRelease(out, sig)

  /** Exact n-gram Jaccard for a pair of text columns (used to re-verify LSH
    * candidates, or directly at small scale). */
  def jaccard(a: Column, b: Column, k: Int = 3): Column = {
    val sa = array_distinct(shingles(a, k)); val sb = array_distinct(shingles(b, k))
    size(array_intersect(sa, sb)).cast("double") /
      nullif(size(array_union(sa, sb)), lit(0)).cast("double")
  }

  /** Full near-dup pipeline: LSH candidates re-verified with exact Jaccard.
    *
    * Verification works on DISTINCT 64-bit shingle hashes, not shingle
    * strings: xxhash64 is injective-in-practice here (a corpus-level
    * collision needs ~2^32 distinct shingles), so set intersection/union
    * sizes — and hence Jaccard — are identical to the string computation,
    * while `array_intersect`/`array_union` run codegen'd primitive-array
    * paths instead of interpreted per-shingle string lambdas. Joining the
    * shingle sets back costs one broadcast-or-shuffle of (id → hashes) for
    * the candidate ids only — not all pairs. */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
                     minJaccard: Double = 0.8, numHashes: Int = 128,
                     bands: Int = 32, k: Int = 3): DataFrame = {
    val hs = shingleHashFrame(df, idCol, textCol, k)
    try {
      val cands = minhashCandidatesFromHashes(hs, numHashes, bands,
        minEstJaccard = minJaccard * 0.7) // loose pre-filter; exact check below
      val sh = hs.select(col("__id"), array_distinct(col("__hs")).as("__sh"))
      val out = cands
        .join(sh.select(col("__id").as("id_1"), col("__sh").as("__s1")), "id_1")
        .join(sh.select(col("__id").as("id_2"), col("__sh").as("__s2")), "id_2")
        .withColumn("jaccard",
          size(array_intersect(col("__s1"), col("__s2"))).cast("double") /
            nullif(size(array_union(col("__s1"), col("__s2"))), lit(0)).cast("double"))
        .where(col("jaccard") >= minJaccard)
        .select("id_1", "id_2", "jaccard")
      out.localCheckpoint(true) // materialize before releasing the hash cache
    } finally hs.unpersist(false)
  }

  /** Incremental near-dup: (new_id, seen_id, jaccard) pairs between a NEW
    * batch and the already-kept corpus — the fuzzy counterpart of
    * [[Dedup.dedupeAgainst]] for snapshot-over-snapshot ingestion. Same
    * machinery as [[nearDuplicates]] (minhash signatures, banded LSH keys,
    * exact-Jaccard verification on distinct shingle-hash sets) except the
    * band-key join is new×seen instead of a self-join, so candidate cost is
    * governed by cross-corpus collisions only: the kept corpus is never
    * self-paired, and neither side's text ever enters a shuffle — band keys
    * are 20 bytes/row, verification joins attach shingle sets to surviving
    * candidates only. Recall follows the same banded S-curve as the
    * self-join path (≈1−1e-7 at j=0.8 with 128/32). */
  def nearDuplicatesAgainst(newDf: DataFrame, seen: DataFrame,
                            idCol: String, textCol: String,
                            minJaccard: Double = 0.8, numHashes: Int = 128,
                            bands: Int = 32, k: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val hsNew = shingleHashFrame(newDf, idCol, textCol, k)
    val hsSeen = shingleHashFrame(seen, idCol, textCol, k)
    val sigNew = sigFrame(hsNew, numHashes)
    val sigSeen = sigFrame(hsSeen, numHashes)
    try {
      crossPairs(
        sigNew,
        hsNew.select(col("__id").as("new_id"), array_distinct(col("__hs")).as("__s1")),
        sigSeen.select(col("__id"), col("__sig")),
        hsSeen.select(col("__id").as("seen_id"), array_distinct(col("__hs")).as("__s2")),
        numHashes, bands, minJaccard)
    } finally {
      sigNew.unpersist(false); sigSeen.unpersist(false)
      hsNew.unpersist(false); hsSeen.unpersist(false)
    }
  }

  /** Shared new×seen LSH body: band-key join → loose signature-estimate
    * pre-filter → exact Jaccard verification on the distinct shingle sets.
    * `sigNew`/`sigSeen` are (__id, __sig) frames; `shNew`/`shSeen` carry
    * (new_id, __s1) / (seen_id, __s2) distinct-shingle arrays. Precision is
    * exact — the estimate only prunes. */
  private def crossPairs(sigNew: DataFrame, shNew: DataFrame,
                         sigSeen: DataFrame, shSeen: DataFrame,
                         numHashes: Int, bands: Int,
                         minJaccard: Double): DataFrame = {
    val r = numHashes / bands
    val a = bandKeys(sigNew, bands, r)
      .select(col("__band"), col("__bh"), col("__id").as("new_id"))
    val b = bandKeys(sigSeen, bands, r)
      .select(col("__band"), col("__bh"), col("__id").as("seen_id"))
    val cand = a.join(b, Seq("__band", "__bh"))
      .select("new_id", "seen_id").dropDuplicates("new_id", "seen_id")
    val est = cand
      .join(sigNew.select(col("__id").as("new_id"), col("__sig").as("__g1")), "new_id")
      .join(sigSeen.select(col("__id").as("seen_id"), col("__sig").as("__g2")), "seen_id")
      .where(size(filter(zip_with(col("__g1"), col("__g2"),
        (x, y) => x === y), eq => eq)).cast("double") / numHashes >= minJaccard * 0.7)
      .select("new_id", "seen_id")
    val out = est.join(shNew, "new_id").join(shSeen, "seen_id")
      .withColumn("jaccard",
        size(array_intersect(col("__s1"), col("__s2"))).cast("double") /
          nullif(size(array_union(col("__s1"), col("__s2"))), lit(0)).cast("double"))
      .where(col("jaccard") >= minJaccard)
      .select("new_id", "seen_id", "jaccard")
    out.localCheckpoint(true)
  }

  /** Near-dup INDEX artifact for a kept corpus: one row per document with
    * its MinHash signature and distinct shingle-hash set, plus the
    * featurization parameters — `(id, minhash_sig, shingle_hashes,
    * num_hashes, shingle_k)`. Build ONCE per corpus snapshot and parquet
    * it; every later crawl dedups against the artifact
    * ([[nearDuplicatesAgainstIndex]]) without re-reading or re-shingling
    * the kept corpus' text — the incremental shape at 100 TB, where the
    * kept corpus dwarfs each new dump and its TEXT is the expensive thing
    * to touch. Rows are signature-sized (numHashes + |distinct shingles|
    * longs), not text-sized; the same split every index artifact here
    * makes (IVF centroids, PQ codes). */
  def buildNearDupIndex(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 128, k: Int = 3): DataFrame = {
    // staged projection: shingle once, derive both columns from the alias
    // (CollapseProject leaves the expensive multiply-referenced alias alone)
    df.select(col(idCol).as("id"),
        native("graft_shingle_hashes", col(textCol), lit(k)).as("__hs"))
      .select(col("id"),
        native("graft_minhash_sig", col("__hs"), lit(numHashes)).as("minhash_sig"),
        array_distinct(col("__hs")).as("shingle_hashes"),
        lit(numHashes).as("num_hashes"), lit(k).as("shingle_k"))
  }

  /** [[nearDuplicatesAgainst]] against a prebuilt [[buildNearDupIndex]]
    * artifact: identical output pairs (spec-pinned), but the seen side
    * reads signatures and shingle sets straight from the artifact —
    * featurization parameters come FROM the index (one partial-aggregate
    * pass, uniformity-checked), so query/index skew is impossible, the
    * same contract as the IVF index's embedded quantizer. */
  def nearDuplicatesAgainstIndex(newDf: DataFrame, index: DataFrame,
                                 idCol: String, textCol: String,
                                 minJaccard: Double = 0.8,
                                 bands: Int = 32): DataFrame = {
    // Uniformity check in ONE partial-agg pass (count_distinct over the
    // param struct + first values): a union of artifacts built with
    // different parameters must fail loud, not silently sign the query
    // side with ONE row's parameters — but the check must not cost a
    // full distinct-shuffle of the index on every query call. Only the
    // already-failing path pays the distinct, to name the combinations.
    val stats = index.agg(
      count_distinct(struct(col("num_hashes"), col("shingle_k"))).as("__n"),
      first(col("num_hashes")).as("__nh"),
      first(col("shingle_k")).as("__k")).head()
    if (stats.getLong(0) == 0L) // empty index: no pairs, schema-faithful empty frame
      return newDf.select(col(idCol).as("new_id")).limit(0)
        .crossJoin(index.select(col("id").as("seen_id")).limit(0))
        .withColumn("jaccard", lit(0.0))
    if (stats.getLong(0) > 1L) {
      val params = index.select("num_hashes", "shingle_k").distinct().collect()
      throw new IllegalArgumentException(
        s"requirement failed: mixed-parameter near-dup index: found " +
          s"${params.length} distinct (num_hashes, shingle_k) combinations " +
          params.map(r => s"(${r.getInt(0)}, ${r.getInt(1)})").mkString("[", ", ", "]") +
          " — rebuild the artifacts with one parameter set before unioning")
    }
    val numHashes = stats.getInt(1)
    val k = stats.getInt(2)
    require(numHashes % bands == 0,
      s"bands ($bands) must divide the index's num_hashes ($numHashes)")
    val hsNew = shingleHashFrame(newDf, idCol, textCol, k)
    val sigNew = sigFrame(hsNew, numHashes)
    try {
      crossPairs(
        sigNew,
        hsNew.select(col("__id").as("new_id"), array_distinct(col("__hs")).as("__s1")),
        index.select(col("id").as("__id"), col("minhash_sig").as("__sig")),
        index.select(col("id").as("seen_id"), col("shingle_hashes").as("__s2")),
        numHashes, bands, minJaccard)
    } finally {
      sigNew.unpersist(false); hsNew.unpersist(false)
    }
  }

  /** EXACT n-gram Jaccard pairs via a shingle INVERTED INDEX — the
    * distributed exactness baseline (no estimate, no recall loss):
    * explode each document's distinct shingle hashes to (hash, id) postings,
    * self-join on the hash (only pairs sharing ≥1 shingle ever meet — the
    * join is OUTPUT-bound, not |docs|²-bound), count shared shingles per
    * pair, and compute Jaccard from the set sizes (|A∩B| / (|A|+|B|−|A∩B|)).
    *
    * Scale: cost is Σ over shingle buckets of (posting-list length)², i.e.
    * governed by shingle document-frequency, not corpus size — k-token
    * shingles are near-unique in natural text, so posting lists stay short.
    * A stop-shingle cap (drop hashes with document frequency > dfCap) bounds
    * the worst case; dropping a shingle shared by >dfCap docs can only
    * LOWER a pair's computed Jaccard (conservative for a ≥ threshold
    * filter) and is off by default.
    *
    * Versus [[nearDuplicates]] (MinHash+LSH): this is exact at any
    * threshold but shuffles one posting per (doc, distinct shingle);
    * MinHash shuffles a fixed numHashes per doc — prefer LSH when
    * documents are long and thresholds are high. */
  def jaccardPairsExact(df: DataFrame, idCol: String, textCol: String,
                        minJaccard: Double, k: Int = 3,
                        dfCap: Option[Long] = None): DataFrame = {
    val hs = df.select(col(idCol).as("__id"),
      array_distinct(native("graft_shingle_hashes", col(textCol), lit(k)))
        .as("__sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = hs.select(col("__id"), size(col("__sh")).as("__n"))
    val postings0 = hs.select(col("__id"), explode(col("__sh")).as("__h"))
    val postings = dfCap match {
      case Some(cap) =>
        val hot = postings0.groupBy("__h").agg(count(lit(1)).as("__df"))
          .where(col("__df") > cap).select("__h")
        postings0.join(broadcast(hot), Seq("__h"), "left_anti")
      case None => postings0
    }
    val isect = postings.select(col("__h"), col("__id").as("id_1"))
      .join(postings.select(col("__h"), col("__id").as("id_2")), Seq("__h"))
      .where(col("id_1") < col("id_2"))
      .groupBy("id_1", "id_2").agg(count(lit(1)).as("__c"))
    val out = isect
      .join(sizes.select(col("__id").as("id_1"), col("__n").as("__n1")), "id_1")
      .join(sizes.select(col("__id").as("id_2"), col("__n").as("__n2")), "id_2")
      .withColumn("jaccard", col("__c").cast("double") /
        (col("__n1") + col("__n2") - col("__c")).cast("double"))
      .where(col("jaccard") >= minJaccard)
      .select("id_1", "id_2", "jaccard")
    materializeAndRelease(out, hs)
  }

  /** Asymmetric CONTAINMENT pairs over exact shingle sets:
    * `cont(A→B) = |S_A ∩ S_B| / |S_A|` — the fraction of A's shingles
    * living inside B. The subset/quotation detector Jaccard structurally
    * misses: a short document quoted whole inside a long one has
    * containment 1.0 but Jaccard ≈ |short|/|long|, far below any sane
    * pair threshold (Broder's original resemblance/containment split).
    * The dedup action differs too — containment says KEEP THE SUPERSET,
    * where symmetric near-dup says keep either.
    *
    * Same inverted-index shape as [[jaccardPairsExact]]: one posting
    * self-join bounded by shared shingles, `dfCap` stop-shingle pruning
    * (capped shingles leave the intersection but not the set sizes, so
    * both ratios only UNDERESTIMATE — conservative for a ≥ threshold).
    * Each unordered pair emits ONCE with both directions' ratios,
    * filtered on the larger. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       minContainment: Double, k: Int = 3,
                       dfCap: Option[Long] = None): DataFrame = {
    val (out, hs) = containmentPairsFrame(df, idCol, textCol, minContainment,
      k, dfCap)
    materializeAndRelease(out, hs)
  }

  /** [[containmentPairs]] before its eager materialization: the live
    * (result, persisted-signatures) pair, exposed so PlanQualitySpec can
    * pin the join shape (equi-joins only, never CartesianProduct) — the
    * checkpointed public frame plans as an opaque LogicalRDD. Callers own
    * unpersisting the signature frame. */
  private[graft] def containmentPairsFrame(
      df: DataFrame, idCol: String, textCol: String, minContainment: Double,
      k: Int = 3, dfCap: Option[Long] = None): (DataFrame, DataFrame) = {
    require(minContainment > 0.0 && minContainment <= 1.0,
      s"minContainment must be in (0, 1], got $minContainment")
    val hs = df.select(col(idCol).as("__id"),
      array_distinct(native("graft_shingle_hashes", col(textCol), lit(k)))
        .as("__sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = hs.select(col("__id"), size(col("__sh")).as("__n"))
    val postings0 = hs.select(col("__id"), explode(col("__sh")).as("__h"))
    val postings = dfCap match {
      case Some(cap) =>
        val hot = postings0.groupBy("__h").agg(count(lit(1)).as("__df"))
          .where(col("__df") > cap).select("__h")
        postings0.join(broadcast(hot), Seq("__h"), "left_anti")
      case None => postings0
    }
    val isect = postings.select(col("__h"), col("__id").as("id_1"))
      .join(postings.select(col("__h"), col("__id").as("id_2")), Seq("__h"))
      .where(col("id_1") < col("id_2"))
      .groupBy("id_1", "id_2").agg(count(lit(1)).as("__c"))
    val out = isect
      .join(sizes.select(col("__id").as("id_1"), col("__n").as("__n1")), "id_1")
      .join(sizes.select(col("__id").as("id_2"), col("__n").as("__n2")), "id_2")
      .withColumn("containment_1_in_2",
        col("__c").cast("double") / col("__n1").cast("double"))
      .withColumn("containment_2_in_1",
        col("__c").cast("double") / col("__n2").cast("double"))
      .where(greatest(col("containment_1_in_2"), col("containment_2_in_1"))
        >= minContainment)
      .select("id_1", "id_2", "containment_1_in_2", "containment_2_in_1")
    (out, hs)
  }

  /** Partial-overlap candidate pairs via winnowing fingerprints (MOSS):
    * documents sharing ≥ `minShared` selected rolling-hash k-grams — the
    * detector for SHARED PASSAGES between documents whose full-document
    * hashes differ.
    *
    * `dfCap` prunes fingerprints whose document frequency exceeds the cap
    * before the self-join — boilerplate passages repeated across a large
    * fraction of a corpus would otherwise make the join quadratic in the
    * cluster size, and they carry no discriminative signal (the same index
    * pruning MOSS applies). Discriminative (rare) shared passages survive. */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 16, w: Int = 32, minShared: Int = 3,
                         dfCap: Long = 10): DataFrame = {
    val fp = df.select(col(idCol).as("__id"),
        explode(TextAnalysis.winnowFingerprints(col(textCol), k, w)).as("__fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = fp.groupBy("__fp").agg(count(lit(1)).as("__df"))
      .where(col("__df") > dfCap).select("__fp")
    val pruned = fp.join(broadcast(hot), Seq("__fp"), "left_anti")
    val a = pruned.select(col("__fp"), col("__id").as("id_1"))
    val b = pruned.select(col("__fp"), col("__id").as("id_2"))
    val out = a.join(b, Seq("__fp")).where(col("id_1") < col("id_2"))
      .groupBy("id_1", "id_2").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    materializeAndRelease(out, fp)
  }

  /** 64-bit SimHash over whitespace tokens — per-row expression, no shuffle.
    * Bit i of the result = sign of Σ_tokens (bit i of xxhash64(token) ? +1 : -1). */
  def simhash(text: Column): Column = {
    // One pass over the tokens: the accumulator is 64 bit-counters; token
    // bits come from the 64-char padded binary string of its hash (char 1 is
    // bit 63, char 65-p is bit p-1), since shift amounts can't be lambda vars.
    // The bit strings are built in their own transform so each token is
    // hashed+formatted once, not once per bit position.
    val hbs = transform(TextAnalysis.tokens(text),
      t => lpad(bin(xxhash64(t)), 64, "0"))
    val counters = aggregate(
      hbs,
      array_repeat(lit(0), 64),
      (acc, hb) =>
        zip_with(acc, sequence(lit(1), lit(64)),
          (c, pos) => c + when(hb.substr(lit(65) - pos, lit(1)) === "1", 1).otherwise(-1)))
    (0 until 64).map(i =>
      when(element_at(counters, i + 1) > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
  }

  /** Hamming distance between two 64-bit simhashes (bit_count of XOR). */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: documents whose simhashes differ in ≤ maxBits.
    *
    * Candidate generation is the multi-block scheme of Manku et al. (WWW'07,
    * "Detecting Near-Duplicates for Web Crawling"): split the 64 bits into
    * `b = maxBits + c` blocks and build one candidate table per c-subset of
    * blocks, keyed on those blocks' concatenated bits. A pair within Hamming
    * distance maxBits has its differing bits inside ≤ maxBits blocks, so some
    * c-subset avoids them all and matches exactly — full recall by pigeonhole
    * at ANY threshold. Choosing c > 1 keeps each table's key WIDE (selective):
    * naive (maxBits+1)-way banding at maxBits=8 gives 7-bit keys → ~40 docs
    * per bucket → quadratic candidate blowup; c=2 gives ~13-bit keys from
    * C(10,2)=45 tables — a few hundred thousand narrow exploded rows instead
    * of a million junk pairs. maxBits≤3 keeps the classic single-block bands
    * (c=1: 16-bit keys, ≤4 tables). Map-only signatures + one narrow
    * equi-join shuffle either way.
    *
    * Cost profile (sf0.1, 5k docs, maxBits=8 — measured): signature 0.2s,
    * 45-table explode 0.4s, join+hamming+dedup ~1.2s. The join side is
    * data-bound, not algorithm-bound: natural-language simhash BITS are
    * correlated across documents (each bit is the sign of a sum dominated by
    * the shared vocabulary), so block values carry less entropy than their
    * width and buckets collide more than uniform hashing predicts (10.9M raw
    * candidates → 92k true pairs here, with 0.73% of ALL pairs within
    * distance 8 — a loose threshold for short docs). The hamming re-check
    * runs BEFORE the dedup shuffle precisely so the 10.9M only pay one
    * codegen'd bit_count each, and dedup shuffles the ~800k survivors. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxBits: Int = 3): DataFrame = {
    // native expression (one call/row) instead of the interpreted HOF fold
    hammingPairs64(df.select(col(idCol),
        native("graft_simhash", TextAnalysis.tokens(col(textCol)))
          .as("__simhash64")),
      idCol, "__simhash64", maxBits)
  }

  /** Banded hamming-ball pairing over ANY 64-bit fingerprint column — the
    * Manku multi-block machinery behind [[simhashPairs]], factored out so
    * other 64-bit signatures (image average-hash in
    * [[Multimodal.imageNearDupPairs]], audio fingerprints, ...) reuse the
    * same one-shuffle candidate join. Returns (id_1, id_2, hamming) with
    * id_1 < id_2; FULL recall within `maxBits` by the pigeonhole argument
    * above (any pair within maxBits has some c-subset of blocks untouched,
    * so they collide in that table). */
  def hammingPairs64(hashed: DataFrame, idCol: String, hashCol: String,
                     maxBits: Int = 3): DataFrame = {
    require(maxBits >= 0 && maxBits <= 14, s"maxBits must be in [0,14], got $maxBits")
    val c = if (maxBits <= 3) 1 else 2
    val nBlocks = maxBits + c
    val widths = Array.tabulate(nBlocks)(b => 64 / nBlocks + (if (b < 64 % nBlocks) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _)
    def blockOf(sh: Column, b: Int): Column =
      if (widths(b) >= 64) sh
      else shiftright(sh, starts(b)).bitwiseAND((1L << widths(b)) - 1L)
    // one table per c-subset of blocks; key = hash of the subset's block values
    val tables = (0 until nBlocks).combinations(c).toSeq
    def tableKey(sh: Column, blocks: Seq[Int], tid: Int): Column =
      xxhash64((lit(tid) +: blocks.map(blockOf(sh, _))): _*)
    // materialized for the same projection-collapse reason as minhash above
    val sig = hashed.select(col(idCol).as("__id"), col(hashCol).as("__sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sig.select(col("__id"), col("__sh"),
      explode(array(tables.zipWithIndex.map { case (blocks, tid) =>
        tableKey(col("__sh"), blocks, tid) }: _*)).as("__bh"))
    val a = banded.select(col("__bh"), col("__id").as("id_1"), col("__sh").as("__sh1"))
    val b = banded.select(col("__bh"), col("__id").as("id_2"), col("__sh").as("__sh2"))
    val out = a.join(b, Seq("__bh")).where(col("id_1") < col("id_2"))
      .withColumn("hamming", hammingDistance(col("__sh1"), col("__sh2")))
      .where(col("hamming") <= maxBits)   // cheap bit_count BEFORE the dedup shuffle
      .dropDuplicates("id_1", "id_2")
      .select("id_1", "id_2", "hamming")
    materializeAndRelease(out, sig)
  }

  /** Embedding-cosine near-dup pairs via the similarity-search LSH machinery.
    * Approximate: recall per pair is (1 − θ/π)^planes, so this is the scale
    * path for near-IDENTICAL duplicates (θ≈0 → recall≈1); for exhaustive
    * pair detection at lower thresholds use [[cosinePairsExact]]. */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                        minCosine: Double = 0.95, planes: Int = 16,
                        seed: Long = 42L): DataFrame =
    SimilaritySearch.lshSelfPairs(df, idCol, vecCol, dim, planes, seed)
      .where(col("cosine") >= minCosine)

  /** EXACT embedding-cosine pairs — the brute-force O(n²) baseline that LSH
    * variants are measured against. Cosine is the native one-call-per-row
    * expression (an interpreted HOF fold would cost 3 lambda calls × dim per
    * PAIR). Scale: n² pairs is inherent to exactness — Spark plans the self
    * cross-join as a broadcast nested loop when one side fits (vectors only,
    * ids + floats — no payload columns), and the LSH/IVF paths in
    * [[SimilaritySearch]] are the subquadratic alternatives. */
  def cosinePairsExact(df: DataFrame, idCol: String, vecCol: String,
                       minCosine: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_1"), col(vecCol).as("__v1"))
    val b = df.select(col(idCol).as("id_2"), col(vecCol).as("__v2"))
    a.crossJoin(b).where(col("id_1") < col("id_2"))
      .withColumn("cosine", native("graft_cosine", col("__v1"), col("__v2")))
      .where(col("cosine") >= minCosine)
      .select("id_1", "id_2", "cosine")
  }

  /** Cell-scoped candidate pairs — the SemDeDup cluster-then-compare recipe:
    * vectors are assigned to their `probes` nearest of the given k-means
    * `centroids` ([[SimilaritySearch.trainIvf]]); candidate pairs form ONLY
    * inside a shared cell, exact native cosine filters them.
    *
    * Scale: the pair stage is one equi-join on the int cell id — Σ m_i²
    * comparisons over cell sizes m_i (≈ n²/nlist on balanced cells) instead
    * of [[cosinePairsExact]]'s n² cross join; pick nlist ≈ n / (target mean
    * cell size) so cells stay executor-sized at any corpus size. Cross-cell
    * near-dups are missed BY DESIGN (the trade that makes the stage
    * subquadratic); `probes > 1` assigns each vector to several nearest
    * cells — the same multi-probe recall fix the IVF search path uses, at
    * `probes`× candidate cost. Rows with NULL vectors pair with nothing. */
  def cellPairs(df: DataFrame, idCol: String, vecCol: String,
                centroids: Seq[Array[Double]], minCosine: Double,
                probes: Int = 1): DataFrame = {
    require(probes >= 1, "probes must be >= 1")
    val cents = array(centroids.map(c => array(c.map(lit): _*)): _*)
    val cell = df.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      explode(native("graft_nearest_cells", col(vecCol), cents,
        lit(probes))).as("__cell"))
    val a = cell.select(col("__cell"), col("__id").as("id_1"), col("__v").as("__v1"))
    val b = cell.select(col("__cell"), col("__id").as("id_2"), col("__v").as("__v2"))
    val scored = a.join(b, Seq("__cell")).where(col("id_1") < col("id_2"))
      // score + threshold BEFORE the probes-dedup shuffle: a pair shared by
      // p cells pays ≤ p² redundant cosines (cheap map-side arithmetic),
      // but the dedup then shuffles only the SURVIVING (id, id, cosine)
      // triples — the earlier spelling deduped first and dragged both
      // raw vectors through a candidate-sized exchange (measured ~3× the
      // whole stage's cost at sf0.1). Same trick as hammingPairs' cheap
      // bit_count before ITS dedup shuffle.
      .withColumn("cosine", native("graft_cosine", col("__v1"), col("__v2")))
      .where(col("cosine") >= minCosine)
      .select("id_1", "id_2", "cosine")
    // probes > 1 pairs the same ids once per shared cell (probes = 1 cannot
    // duplicate a pair; keep its plan free of the extra aggregate)
    if (probes > 1) scored.dropDuplicates("id_1", "id_2") else scored
  }

  /** SemDeDup-style semantic dedup, end to end: train the coarse quantizer
    * ([[SimilaritySearch.trainIvf]] — deterministic sample init + sampled
    * Lloyd), generate within-cell pairs at `minCosine` ([[cellPairs]]),
    * collapse the pair graph by distributed connected components and keep
    * the minimum-id representative per duplicate group
    * ([[Dedup.keepClusterRepresentatives]]). Returns `df` minus the dropped
    * near-duplicates — deterministic and partitioning-invariant throughout.
    *
    * nlist = 1 degenerates to the exact brute-force pipeline (every pair
    * compared — identical kept set to [[cosinePairsExact]] +
    * representatives, pinned in ExtensionsSpec); production corpora size
    * nlist so that n/nlist vectors fit one executor's pair loop. */
  def semanticDedupe(df: DataFrame, idCol: String, vecCol: String,
                     minCosine: Double = 0.95, nlist: Int = 64,
                     refineIters: Int = 2, probes: Int = 1): DataFrame = {
    val cents = SimilaritySearch.trainIvf(df, idCol, vecCol, nlist, refineIters)
    Dedup.keepClusterRepresentatives(df, idCol,
      cellPairs(df, idCol, vecCol, cents, minCosine, probes))
  }

  /** [[semanticDedupe]] with nlist derived from a TARGET MEAN CELL SIZE —
    * the production spelling of "cells stay executor-sized at any corpus
    * size": the within-cell pair stage does ~n·targetCellSize/2 comparisons
    * regardless of n (linear in the corpus, not quadratic), at the price of
    * one count() to size the quantizer. A fixed nlist under growing data
    * silently degrades toward the n² cross join; this variant is what the
    * 10× scale smoke runs. */
  def semanticDedupeAuto(df: DataFrame, idCol: String, vecCol: String,
                         minCosine: Double = 0.95, targetCellSize: Int = 1000,
                         refineIters: Int = 2, probes: Int = 1): DataFrame = {
    require(targetCellSize >= 1, "targetCellSize must be >= 1")
    val n = df.count()
    val nlist = math.max(1L, (n + targetCellSize - 1) / targetCellSize).toInt
    semanticDedupe(df, idCol, vecCol, minCosine, nlist, refineIters, probes)
  }

  /** Banding-plan table for a MinHash signature of `numHashes` hashes —
    * the S-curve arithmetic behind every (bands, rowsPerBand) choice in
    * this file, surfaced as data [Broder 1997; Leskovec/Rajaraman/Ullman,
    * "Mining of Massive Datasets" ch. 3, the standard treatment; the
    * datasketch library's `optimal_param` solves the same problem
    * numerically]. One row per (bands b, rows r) divisor pair of
    * `numHashes` and probe Jaccard j:
    * `threshold` = (1/b)^(1/r) (the S-curve midpoint — pairs above it are
    * mostly candidates), `p_candidate` = 1 − (1 − j^r)^b (the probability
    * a pair at similarity j shares ≥1 band bucket), and `recommended` on
    * the plan whose ROUNDED threshold sits closest to `targetJaccard`
    * (ties → fewest bands, i.e. the cheapest shuffle). Planning the band
    * count is a 100 TB decision: bands × corpus = the LSH shuffle's row
    * count, so an over-banded plan multiplies the one big shuffle the
    * pipeline has.
    *
    * The frame is O(divisors × probes) — a model artifact; the closed-form
    * probabilities mean no data is scanned at all. The `recommended` flag
    * derives from the ROUNDED threshold (the straddle-proof convention)
    * via one lexicographic min over the tiny frame. */
  def lshPlan(spark: org.apache.spark.sql.SparkSession, numHashes: Int,
              targetJaccard: Double,
              probeJaccards: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9))
      : DataFrame = {
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    require(targetJaccard > 0.0 && targetJaccard < 1.0,
      s"targetJaccard must be in (0, 1), got $targetJaccard")
    require(probeJaccards.nonEmpty, "probeJaccards must be non-empty")
    import spark.implicits._
    val divisors = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b.toLong, (numHashes / b).toLong))
    val round4 = (c: Column) => floor(c * 10000 + 0.5) / 10000
    val base = divisors.toDF("bands", "rows_per_band")
      .withColumn("threshold",
        pow(lit(1.0) / col("bands"), lit(1.0) / col("rows_per_band")))
      .withColumn("__dist",
        abs(round4(col("threshold")) - lit(targetJaccard)))
    val best = base.agg(
      min(struct(col("__dist"), col("bands"))).as("__best"))
    base.crossJoin(broadcast(best))
      .withColumn("recommended",
        col("__dist") === col("__best.__dist") &&
          col("bands") === col("__best.bands"))
      .withColumn("j", explode(array(probeJaccards.map(lit): _*)))
      .select(col("bands"), col("rows_per_band"), col("threshold"),
        col("recommended"), col("j"),
        (lit(1.0) - pow(lit(1.0) - pow(col("j"), col("rows_per_band")),
          col("bands"))).as("p_candidate"))
  }
}
