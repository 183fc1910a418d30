package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.plans.HashExpressions.native

import graft.functions.TextAnalysis

/** Heavy-hitter token statistics for corpus curation — "what are the top-k
  * tokens / domains / values in this 100 TB column" without shuffling the
  * full frequency table.
  *
  * The naive `groupBy(token).count().orderBy.limit(k)` is exact but its
  * shuffle carries the whole vocabulary; at web scale that vocabulary is
  * billions of keys, of which k survive. The two-pass recipe here bounds
  * the shuffle by the sketch capacity instead:
  *
  *   pass 1 — a Misra–Gries summary ([[graft.plans.MisraGriesAggregate]],
  *     one aggregate whose partial state is ≤ capacity counters; the
  *     shuffle is `partitions × capacity` rows, vocabulary-independent);
  *   pass 2 — EXACT recount of the ≤ capacity surviving candidates (the
  *     corpus-side filter drops every non-candidate token before the
  *     aggregate, so this shuffle is also capacity-bounded).
  *
  * The result is certified globally exact when the k-th recounted candidate
  * exceeds the sketch's miss bound n/(capacity+1) (no non-candidate can
  * beat it), or when sum(est) = n (nothing was ever discarded — the sketch
  * held the entire vocabulary). Uncertifiable parameterizations throw by
  * default rather than silently returning a plausible-but-unproven top-k.
  */
object HeavyHitters {

  /** One-pass Misra–Gries summary rows `(term, est, n_tokens)` — est is an
    * under-estimate within n/(capacity+1) of the true count (see the
    * aggregate's scaladoc for both guarantees). */
  def sketch(df: DataFrame, tokenCol: String, capacity: Int): DataFrame = {
    require(capacity >= 1, "capacity must be >= 1")
    df.agg(native("graft_mg_sketch", col(tokenCol), lit(capacity)).as("s"))
      .select(col("s.n").as("n_tokens"), explode(col("s.items")).as("it"))
      .select(col("it.term").as("term"), col("it.est").as("est"),
        col("n_tokens"))
  }

  /** Certified exact top-k over a string column. Returns `(term, cnt)` in
    * (cnt desc, term asc) order — a k-row frame. The two corpus scans are
    * the whole cost; every shuffle and the driver-side candidate artifact
    * are bounded by `capacity`, never by vocabulary size.
    *
    * Certification: with n total tokens, any token absent from the sketch
    * has true count ≤ floor(n/(capacity+1)); if the k-th candidate's EXACT
    * count beats that bound (or nothing was ever discarded), no absent
    * token can displace the returned k. Otherwise the top-k is not provable
    * at this capacity — `requireCertified = false` returns the best-effort
    * result anyway (still exact counts, possibly missing a tail term);
    * the default throws with the bound so callers raise `capacity`. */
  def topKExact(df: DataFrame, tokenCol: String, k: Int, capacity: Int,
                requireCertified: Boolean = true): DataFrame = {
    require(k >= 1 && capacity >= k,
      s"need capacity >= k >= 1, got k=$k capacity=$capacity")
    val spark = df.sparkSession
    // pass 1: candidate terms — a ≤ capacity model artifact, same class of
    // driver-bounded collect as an IVF centroid table
    val sk = sketch(df, tokenCol, capacity).collect()
    if (sk.isEmpty) return emptyResult(spark)
    val n = sk.head.getLong(2)
    val sumEst = sk.map(_.getLong(1)).sum
    val missBound = n / (capacity + 1L)
    val cands = sk.map(_.getString(0))
    // pass 2: exact recount restricted to the candidates (broadcast the
    // tiny candidate set into the scan filter), collected — ≤ capacity rows
    val exact = df
      .where(col(tokenCol).isInCollection(cands))
      .groupBy(col(tokenCol).as("term"))
      .agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (t, c) => (-c, t) }
    val top = exact.take(k)
    val certified = sumEst == n || (top.length == k && top.last._2 > missBound)
    if (!certified && requireCertified) throw new IllegalStateException(
      s"top-$k not certifiable at capacity=$capacity: k-th exact count " +
        s"${if (top.length == k) top.last._2 else "<absent>"} does not beat " +
        s"the sketch miss bound $missBound (n=$n tokens). Raise capacity " +
        "or pass requireCertified = false for a best-effort result.")
    spark.createDataFrame(
      spark.sparkContext.parallelize(top.map { case (t, c) => Row(t, c) }.toSeq, 1),
      resultSchema)
  }

  /** [[topKExact]] over whitespace-tokenized, lowercased document text —
    * the "top-k corpus tokens" spelling used by the gate entry. */
  def topTokens(docs: DataFrame, textCol: String, k: Int, capacity: Int,
                requireCertified: Boolean = true): DataFrame =
    topKExact(
      docs.select(explode(transform(TextAnalysis.tokens(col(textCol)),
        t => lower(t))).as("token")),
      "token", k, capacity, requireCertified)

  private val resultSchema = StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false)))

  private def emptyResult(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], resultSchema)

  /** Count-min-sketch point-frequency estimates (Cormode & Muthukrishnan,
    * J.Alg'05) for an explicit key set — the sketch that answers "how often
    * does each of THESE values occur in the corpus" for keys chosen AFTER
    * the scan (benchmark n-grams, blocklist domains), which Misra–Gries
    * cannot (it only retains its own survivors). Complements the sketch
    * roster: HLL (distinct counts, x31b), MG (top-k, x31c), CMS (point
    * queries).
    *
    * Shape: ONE pass through Spark's built-in mergeable `count_min_sketch`
    * aggregate — partial state is the fixed `w×d` counter grid
    * (w = ⌈e/eps⌉, d = ⌈ln(1/(1−confidence))⌉), so the shuffle is
    * partitions × grid, vocabulary-independent; the driver artifact is the
    * grid (~`2.7/eps · d` longs), a model, not data. Estimates for the
    * (bounded, driver-side) key list come from the deserialized sketch.
    *
    * Guarantees (spec-pinned): `est ≥ exact` always (counters only
    * overcount), and `est ≤ exact + eps·n` with probability ≥ confidence
    * per key. Deterministic for a fixed seed — reruns reproduce the exact
    * estimates. NULLs are not counted and a NULL key is rejected. */
  def cmsEstimates(df: DataFrame, keyCol: String, keys: Seq[String],
                   eps: Double = 1e-4, confidence: Double = 0.99,
                   seed: Int = 42): DataFrame = {
    require(keys.nonEmpty, "need at least one key to estimate")
    require(keys.forall(_ != null), "keys must be non-null")
    require(eps > 0 && eps < 1, s"eps must be in (0,1), got $eps")
    require(confidence > 0 && confidence < 1,
      s"confidence must be in (0,1), got $confidence")
    val spark = df.sparkSession
    val bin = df
      .agg(count_min_sketch(col(keyCol).cast("string"), lit(eps),
        lit(confidence), lit(seed)).as("s"))
      .head().getAs[Array[Byte]](0)
    // an all-NULL/empty input can yield a NULL sketch → every estimate is 0
    val estimate: String => Long =
      if (bin == null) _ => 0L
      else {
        val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(bin))
        cms.estimateCount(_)
      }
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        keys.map(k => Row(k, estimate(k))), 1),
      StructType(Seq(
        StructField(keyCol, StringType, nullable = false),
        StructField("est", LongType, nullable = false))))
  }

  /** [[cmsEstimates]] over whitespace-tokenized, lowercased document text —
    * "how prevalent is each of these probe terms in my corpus". */
  def cmsTokenEstimates(docs: DataFrame, textCol: String, keys: Seq[String],
                        eps: Double = 1e-4, confidence: Double = 0.99,
                        seed: Int = 42): DataFrame =
    cmsEstimates(
      docs.select(explode(transform(TextAnalysis.tokens(col(textCol)),
        t => lower(t))).as("token")),
      "token", keys.map(_.toLowerCase(java.util.Locale.ROOT)), eps,
      confidence, seed)
}
