package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.StreamReplay

/** 10×-scale smoke: the empirical check behind the "designed for 100 TB"
  * claims. Builds a corpus `copies`× the size of a base scale-factor dir by
  * self-unioning documents/embeddings with re-keyed ids, then runs the
  * flagship pipelines end-to-end at both scales and asserts the wall-time
  * ratio stays within `1.5 × copies` (sub-linear-to-moderately-superlinear;
  * a shuffle- or collect-bound stage that degrades quadratically blows this
  * bound immediately, which is the point).
  *
  * The copies are DECORRELATED, because 10 verbatim copies would give every
  * document 9 exact near-duplicates and inflate the LSH/Jaccard pair count
  * ~45× — a different workload, not a bigger one:
  *  - text: every 3rd whitespace token in copy i>0 gets an `_c{i}` suffix.
  *    Every bigram shingle then contains a mutated token with probability
  *    ≥ 2/3, pushing cross-copy Jaccard ≈ 0.2 — far below the 0.6 pair
  *    threshold — while within-copy near-dup structure is preserved
  *    (aligned texts mutate at the same positions).
  *  - embeddings: copy i cyclically rotates the dimensions by i % dim and
  *    then sign-flips a per-copy pseudo-random subset of dimensions. Both
  *    are orthogonal transforms, so within-copy geometry (all dot products,
  *    norms, k-means structure) is EXACTLY preserved while cross-copy
  *    cosines are pseudo-random. The sign-flip matters beyond copies ≥ dim,
  *    where rotation alone would repeat and create exact cross-copy
  *    duplicates (a different workload again).
  * Copy 0 is byte-identical to the base data.
  *
  * Run via `sbt "runMain graft.tools.ScaleSmoke"` — the forked JVM carries
  * the same -Xmx8g as every other run, so finishing at 10× is also the
  * no-driver-OOM check. ScaleSmokeSpec pins the decorrelation invariants of
  * `buildScaledDir` (the timing harness itself is only exercised by the
  * main, where ambient noise is acceptable); committed runs are recorded in
  * SCALE_SMOKE.md.
  */
object ScaleSmoke {
  /** Far above any base id (doc_id max ~5e4, vec_id max ~2e4 at sf1). */
  val IdOffset = 100000000L

  val DefaultEntries: Seq[String] = Seq(
    "x12_pack_sequences", "x16_neardup_components",
    "x23b_ivfpq_topk", "x10c_curation_pipeline",
    "x07_asof_join", "x07e_asof_nearest",
    // round-12 selection surface: the budget fill and the decile assignment
    // both ride a RangeScan — the smoke checks the fit stays scan-bound
    "x36_select_budget", "x36e_quantile_buckets", "x36b_select_skip_greedy",
    "x36f_select_budget_per_source", "x37_line_scrub",
    // round-13: dup-ngram coverage is the data-bound one (position explode +
    // (doc,gram) window + position-union distinct); drift and the
    // temperature mixture reduce to k-row / |groups|-row artifacts and
    // should track the scan
    "x38b_dup_ngram_coverage", "x39_distribution_drift",
    "x40_temperature_mixture",
    // DSIR + ensemble selection: x42 is the data-bound one (vocab-sized
    // ratio model joined back over every token); x42b adds only a TakeOrdered
    // on top; x44 is three range shuffles + an id join — all should track
    // the corpus scan, none may go superlinear
    "x42_importance_weights", "x42b_gumbel_topk", "x44_rank_fusion",
    // round-12 compaction/audit surface: keep-latest and top-k-per-group
    // ride key-bounded aggregates over the key-scaled events (per-key
    // history fixed, key cardinality ×copies — partial state must keep the
    // shuffle key-bounded); snapshot diff is one full-outer hash join;
    // novelty is the postings explode + one narrow hash join; x42c is the
    // materialized hashed-DSIR fit (bounded model, eager — must stay
    // scan-bound after the round-12 re-execution fix)
    "x48_keep_latest", "x49_snapshot_diff", "x50_ngram_novelty",
    "x51_topk_per_group", "x42c_hashed_weights", "x52_unigram_tokens",
    // incremental-crawl audit flagship + the persisted-index dedup leg:
    // the kept corpus contributes only its signature artifact, so the
    // data-bound stage is the new side's featurization — must track the
    // batch scan, never the kept-corpus size
    "x10f_incremental_pipeline", "x20e_neardup_against_index",
    "x51b_topk_rows",
    // round-14: part now scales with decorrelated names (distance-3 copy
    // codes), so the edit-distance join finally has a measured scale row —
    // distinct strings ×copies, candidates still equi-join-bounded
    "x53_edit_distance_join",
    // round-14 operators: the streaming replay folds ×copies keys through
    // the state store; DoReMi's cost is agg passes (driver state K + f×P —
    // should be near-flat); diversity/historize/pairs are one-shuffle
    // scans; the KLL build ships kilobyte partials whatever the corpus
    "x68_streaming_latest_replay", "x69_doremi_mixture",
    "x70_ngram_diversity", "x71_scd2_historize", "x72_preference_pairs",
    "x72b_adjacent_pairs", "x73_kll_quantile_sketch",
    "x74_reward_model", "x75_vocab_coverage", "x76_embedding_drift",
    "x77_padding_audit", "x78_streaming_vocab_replay",
    // round-19 SQL-surface tail: q57 rides the row-scaled lineitem — the
    // WindowGroupLimit rewrite must keep the single-partition rank window
    // fed by ≤ 100·partitions rows whatever the corpus (without it the
    // global sort IS the corpus); q58 rides the key-scaled orders with its
    // 5-value partition key held hot — both window passes must stay on the
    // one shared exchange while per-priority sorts grow with the corpus
    "q57_fetch_with_ties", "q58_window_exclude_frames",
    // round-20 SQL-surface tail: q59 is a map-only null-safe comparison
    // over the key-scaled events (must track the scan — any shuffle growth
    // means the <=> predicate stopped being row-local); q60 rides the q37
    // ranged distributed-sort core over row-scaled lineitem with 3 hot
    // groups — the composite (group, value) range partition must keep
    // splitting hot groups across partitions as the corpus grows
    "q59_null_safe_comparison", "q60_percentile_disc",
    // streaming PSI replay: the stream carries raw (ts, value) rows but the
    // STATE is ≤ 5 bucket rows per open 10-day phase (map-side partials
    // before the state shuffle) — growth must be the scan + sink, never
    // state
    "x146_streaming_drift_replay",
    // sequential test collapses to a looks-bounded frame (days, not rows)
    // before any window; the bootstrap's explode×200 must stay partial-agg
    // bounded at (groups × B) shuffle rows whatever the corpus
    "x147_sequential_mixture_test", "x148_poisson_bootstrap_ci",
    // cluster bootstrap: the (group, cluster) pre-aggregate must keep the
    // ×B explode clusters-bounded — hashing every USER 200 times, never
    // every event
    "x148b_cluster_bootstrap_ci",
    // DiD is one conditional-moments pass (12 sums, map-side partials);
    // Hill is top-(k+1) heaps + a (k+1)-row aggregate — both must track
    // the scan exactly
    "x149_diff_in_diff", "x150_hill_tail_index")

  /** Smoke-only runners for operators whose GATE parameterization is
    * deliberately scale-fixed. x30 pins nlist=8 for oracle determinism, but
    * a fixed nlist under 10× data grows cells 10× and the within-cell pair
    * stage 100× — the failure mode the auto variant exists to prevent. The
    * smoke therefore runs the PRODUCTION spelling (nlist from a target cell
    * size), which is the discipline the operator's scaladoc prescribes. */
  val CustomEntries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // negative mining over the ANN path with PRODUCTION nlist discipline
    // (cells sized to a target, so per-query probe work stays constant as
    // corpus AND query set scale together — fixed nlist would be the x30
    // quadratic trap)
    "hard_negatives_ivf" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val e = graft.sources.Tables.table(s, dir, "embeddings")
      val nlist = math.max(4, (e.count() / 700).toInt)
      graft.operators.SimilaritySearch.hardNegatives(
        graft.operators.SimilaritySearch.ivfTopK(
          e, e.where(col("label") === 0), "vec_id", "embedding", "vec_id",
          k = 6, nlist = nlist, nprobe = 2),
        skipTop = 1, k = 5)
    }),
    "semantic_dedup_auto" -> ((s, dir) =>
      graft.operators.NearDup.semanticDedupeAuto(
        graft.sources.Tables.table(s, dir, "embeddings"), "vec_id", "embedding",
        minCosine = 0.45, targetCellSize = 700, refineIters = 2, probes = 2)),
    // head-to-head hot-group percentile forms on the row-scaled lineitem
    // (3 groups at any corpus size): the per-group ranking window puts each
    // group in ONE task's sort — its wall time grows with the corpus no
    // matter the core count — while the composite-range form splits every
    // group across ~p/3 partitions. Same results bit-for-bit (spec pin);
    // the smoke records the wall-time separation.
    "pctl_window_hotgroup" -> ((s, dir) =>
      graft.operators.Percentiles.exactByGroup(
        graft.sources.Tables.table(s, dir, "lineitem"),
        "l_returnflag", "l_extendedprice", Seq(0.5, 0.9), Seq("p50", "p90"))),
    "pctl_ranged_hotgroup" -> ((s, dir) =>
      graft.operators.Percentiles.exactByGroupRanged(
        graft.sources.Tables.table(s, dir, "lineitem"),
        "l_returnflag", "l_extendedprice", Seq(0.5, 0.9), Seq("p50", "p90"))),
    // bitext margin mining over the PRODUCTION kNN path: the x93 gate
    // spelling uses brute-force topKAll (quadratic by design — the oracle
    // needs it); at scale the margin composes over IVF searches with
    // production nlist discipline, and the scoring stage is identical
    "bitext_margin_ivf" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val e = graft.sources.Tables.table(s, dir, "embeddings")
      val a = e.where(col("vec_id") % 2 === 0).localCheckpoint(true)
      val b = e.where(col("vec_id") % 2 === 1).localCheckpoint(true)
      val nlist = math.max(4, (e.count() / 700 / 2).toInt)
      def knn(corpus: org.apache.spark.sql.DataFrame,
              queries: org.apache.spark.sql.DataFrame) =
        graft.operators.SimilaritySearch.ivfTopK(
          corpus, queries, "vec_id", "embedding", "vec_id",
          k = 4, nlist = nlist, nprobe = 2)
      graft.operators.Bitext.minePairs(knn(b, a), knn(a, b), minMargin = 1.05)
    }),
    // Matryoshka truncation eval over the PRODUCTION ANN path: the x100
    // gate spelling is exact topKAll on both sides (quadratic by design —
    // the oracle wants ground truth); at scale both the full-dim and the
    // truncated-dim searches are IVF with production nlist discipline, and
    // recallAtK composes unchanged — the evaluation stays cheaper than
    // either search
    // stream-static enrichment with a PRODUCTION sink: the x101 gate
    // entry writes every enriched row to a parquet file sink so the oracle
    // can hash it (a driver-side memory sink OOM'd the first 100× run,
    // recorded in SCALE_SMOKE.md). Production streams keep no copy of the
    // output; this spelling runs the identical stream-static join into the
    // noop sink and returns a 1-row marker, measuring the join itself
    "streaming_enrich_noop" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, count, lit}
      val ev = graft.sources.Tables.table(s, dir, "events")
        .select("event_id", "ts", "user_id", "event_type")
      val dim = ev.where(col("event_type") === "purchase")
        .groupBy("user_id").agg(count(lit(1)).as("n_purchases"))
      val replay = StreamReplay(s, "graft-senrich-smoke")
      replay.parts(ev, 3)
      replay.run(graft.streaming.EventStreams.enrichWithDim(
        replay.source(), dim, Seq("user_id"), "left_outer"), StreamReplay.Noop)
    }),
    // the anti face with a production sink (same rationale as
    // streaming_enrich_noop: the x112 gate entry writes every surviving
    // row to a parquet file sink for the oracle — at 100× that is sink
    // cost, not join cost)
    "streaming_blocklist_noop" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, count, lit}
      val ev = graft.sources.Tables.table(s, dir, "events")
        .select("event_id", "ts", "user_id", "event_type")
      val block = ev.where(col("event_type") === "purchase")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .where(col("n") >= 20).select("user_id")
      val replay = StreamReplay(s, "graft-sblock-smoke")
      replay.parts(ev, 3)
      replay.run(graft.streaming.EventStreams.excludeByDim(
        replay.source(), block, Seq("user_id")), StreamReplay.Noop)
    }),
    // the q48/q49 shapes UNFILTERED (gate spellings pin o_custkey/c_custkey
    // to a fixed range so the oracle stays cheap; production runs the whole
    // table): the recursive fixpoint's round count is the max per-customer
    // chain depth (invariant under key-axis scaling — buildScaledDir
    // preserves chain lengths), so its cost model is rounds × per-round
    // join rows, which must scale like the corpus
    "recursive_cte_full" -> ((s, dir) => {
      graft.sources.Tables.registerAll(s, dir)
      // Spark 4 guards runaway recursion at 1M total emitted rows
      // (spark.sql.cteRecursionRowLimit); a fixpoint that legitimately
      // walks EVERY row needs the limit sized to the data — this is a real
      // 100 TB deployment knob, not a smoke artifact (the level limit,
      // max chain depth, stays at its default ~100)
      s.conf.set("spark.sql.cteRecursionRowLimit", 200000000)
      s.sql("""WITH RECURSIVE ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
),
walk AS (
  SELECT o_custkey, o_orderkey, rn, o_totalprice AS cum
  FROM ranked WHERE rn = 1
  UNION ALL
  SELECT r.o_custkey, r.o_orderkey, r.rn, w.cum + r.o_totalprice
  FROM walk w JOIN ranked r
    ON r.o_custkey = w.o_custkey AND r.rn = w.rn + 1
)
SELECT o_custkey, o_orderkey, CAST(rn AS BIGINT) AS rn,
       FLOOR(cum * 100 + 0.5) / 100 AS cum
FROM walk""")
    }),
    "lateral_topk_full" -> ((s, dir) => {
      graft.sources.Tables.registerAll(s, dir)
      s.sql("""SELECT c.c_custkey, t.o_orderkey,
       FLOOR(t.o_totalprice * 100 + 0.5) / 100 AS o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""")
    }),
    // PageRank on a corpus-scaled graph: the x114 gate runs on the
    // |sources|-node provenance graph (fixed size at any corpus scale),
    // so the smoke drives the operator over an events-derived random
    // graph instead — |V| = users ×copies, |E| = events ×copies, hashed
    // destinations. Measures the real scale axis: 10 × (|V|-row join +
    // dst-keyed partial agg) over a corpus-sized edge list.
    "pagerank_events" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
      val ev = graft.sources.Tables.table(s, dir, "events")
        .select("event_id", "user_id")
      val maxUser = ev.agg(org.apache.spark.sql.functions.max("user_id"))
        .head().getLong(0) + 1
      val edges = ev.select(col("user_id").as("src"),
        pmod(xxhash64(col("event_id")), lit(maxUser)).as("dst"),
        lit(1L).as("w"))
      graft.operators.Graph.pagerank(edges, "src", "dst", col("w"),
        iters = 10, damping = 0.85)
    }),
    "matryoshka_ivf" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, slice}
      val e = graft.sources.Tables.table(s, dir, "embeddings")
      val nlist = math.max(4, (e.count() / 700).toInt)
      val full = graft.operators.SimilaritySearch.ivfTopK(
        e, e, "vec_id", "embedding", "vec_id", k = 10,
        nlist = nlist, nprobe = 2)
      val tr = e.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding")).localCheckpoint(true)
      val trTop = graft.operators.SimilaritySearch.ivfTopK(
        tr, tr, "vec_id", "embedding", "vec_id", k = 10,
        nlist = nlist, nprobe = 2)
      graft.operators.SimilaritySearch.recallAtK(full, trTop, 10)
    }))

  final case class EntryTiming(name: String, baseSec: Double, scaledSec: Double,
      bound: Double) {
    def ratio: Double = scaledSec / baseSec
    def ok: Boolean = ratio <= bound
  }

  /** Materialize the decorrelated `copies`× documents/embeddings under
    * `outDir` (idempotent: keyed by a marker file) and symlink the remaining
    * base tables so every `SparkEntry.queries` entry runs against `outDir`
    * unchanged. */
  def buildScaledDir(spark: SparkSession, baseDir: String, outDir: String,
      copies: Int): Unit = {
    import java.nio.file.{Files, Path}
    val marker = Path.of(outDir, s".complete_v6_${copies}x")
    if (Files.exists(marker)) return
    val out = Path.of(outDir)
    if (Files.exists(out)) { // stale params — rebuild from scratch
      import scala.jdk.CollectionConverters._
      Files.walk(out).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }
    Files.createDirectories(out)

    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    val scaledDocs = (0 until copies).map { i =>
      if (i == 0) docs
      else docs.select(
        (col("doc_id") + lit(i * IdOffset)).as("doc_id"),
        expr(s"""array_join(transform(split(text, '\\\\s+'),
            (w, p) -> CASE WHEN p % 3 = 0 AND length(w) > 0
                      THEN concat(w, '_c$i') ELSE w END), ' ')""").as("text"),
        col("lang"), col("source"), length(col("text")).cast("long").as("n_chars"))
    }.reduce(_ unionByName _)
    scaledDocs.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")

    val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val scaledEmb = (0 until copies).map { i =>
      if (i == 0) emb
      else emb.select(
        (col("vec_id") + lit(i * IdOffset)).as("vec_id"),
        // rotate by i, then flip signs by a fixed per-(copy, dim) hash —
        // a signed permutation matrix: orthogonal, so within-copy geometry
        // is bit-preserved up to sign while cross-copy cosines decorrelate
        expr(s"""transform(embedding, (x, j) ->
            element_at(embedding, ((j + $i) % $dim) + 1)
            * CASE WHEN pmod(hash(j, $i), 2) = 0 THEN 1.0F ELSE -1.0F END)""")
          .as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
    scaledEmb.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")

    // events scale along the KEY axis: copy i shifts event_id AND user_id
    // into a fresh id universe, so per-user timeline density (the window
    // sweep's per-key work) is preserved while key cardinality grows
    // `copies`× — the realistic scale dimension for point-in-time joins.
    // ts stays raw int64 nanos (nanosAsLong read, no timestamp conversion):
    // Tables.table applies the same nanos→micros truncation to the scaled
    // dir as to the base one.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$baseDir/events.parquet")
    val scaledEv = (0 until copies).map { i =>
      if (i == 0) ev
      else ev.select(
        (col("event_id") + lit(i * IdOffset)).as("event_id"), col("ts"),
        (col("user_id") + lit(i * IdOffset)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
    scaledEv.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/events.parquet")

    // lineitem scales along the ROW axis with the GROUP CARDINALITY held
    // fixed: copy i shifts l_orderkey into a fresh key universe while
    // l_returnflag/l_linestatus keep their 3-value distribution — rows grow
    // `copies`× but hot groups stay hot, the regime that separates the
    // per-group ranking window (one task per group, grows linearly in
    // corpus size) from the composite-range percentile form.
    val li = spark.read.parquet(s"$baseDir/lineitem.parquet")
    val scaledLi = (0 until copies).map { i =>
      if (i == 0) li
      else li.withColumn("l_orderkey", col("l_orderkey") + lit(i * IdOffset))
    }.reduce(_ unionByName _)
    scaledLi.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/lineitem.parquet")

    // part scales along the DISTINCT-NAME axis (the edit-distance join's
    // real scale dimension): copy i > 0 shifts p_partkey and appends a
    // 4-letter copy code drawn from a minimum-distance-3 linear code over
    // Z25 (codewords (a, b, a+b, a+2b) with a=i%25, b=i/25 — any two
    // distinct codes differ in ≥3 of the 4 letters, 2 being invertible
    // mod 25), so cross-copy name distances are ≥3, strictly OUTSIDE the
    // d≤2 join — never a cross-copy pair blowup — while a shared suffix
    // leaves within-copy Levenshtein distances (and the per-name duplicate
    // multiplicities that drive n_id_pairs) unchanged. Distinct strings
    // grow `copies`×, which is exactly the axis PassJoin's candidate
    // scheme must absorb.
    val pt = spark.read.parquet(s"$baseDir/part.parquet")
    val scaledPt = (0 until copies).map { i =>
      if (i == 0) pt
      else {
        val a = i % 25; val b = i / 25
        val code = Seq(a, b, (a + b) % 25, (a + 2 * b) % 25)
          .map(dgt => ('a' + dgt).toChar).mkString
        pt.withColumn("p_partkey", col("p_partkey") + lit(i * IdOffset))
          .withColumn("p_name", concat(col("p_name"), lit(" " + code)))
      }
    }.reduce(_ unionByName _)
    scaledPt.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/part.parquet")

    // orders + customer scale along the KEY axis together: copy i shifts
    // o_orderkey/o_custkey/c_custkey into a fresh id universe, so each
    // customer's order-chain LENGTH (the recursive fixpoint's round count
    // and the lateral top-k's per-key heap) is preserved while customer
    // cardinality grows `copies`× — the realistic scale dimension for the
    // q48/q49 shapes (whose gate spellings filter to a fixed custkey range
    // precisely so the GATE cost stays bounded; the smoke-only unfiltered
    // runners below measure the production shape).
    val od = spark.read.parquet(s"$baseDir/orders.parquet")
    val scaledOd = (0 until copies).map { i =>
      if (i == 0) od
      else od
        .withColumn("o_orderkey", col("o_orderkey") + lit(i * IdOffset))
        .withColumn("o_custkey", col("o_custkey") + lit(i * IdOffset))
    }.reduce(_ unionByName _)
    scaledOd.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/orders.parquet")

    val cu = spark.read.parquet(s"$baseDir/customer.parquet")
    val scaledCu = (0 until copies).map { i =>
      if (i == 0) cu
      else cu.withColumn("c_custkey", col("c_custkey") + lit(i * IdOffset))
    }.reduce(_ unionByName _)
    scaledCu.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/customer.parquet")

    graft.sources.Tables.names
      .filterNot(n =>
        n == "documents" || n == "embeddings" || n == "events" ||
          n == "lineitem" || n == "part" || n == "orders" || n == "customer")
      .foreach { n =>
        val link = Path.of(outDir, s"$n.parquet")
        if (!Files.exists(link))
          Files.createSymbolicLink(link, Path.of(baseDir, s"$n.parquet"))
      }
    Files.writeString(marker, s"base=$baseDir copies=$copies\n")
  }

  /** Time one full materialization of a declared entry (noop sink, same as
    * Bench, so the whole plan executes). */
  private def timeEntry(spark: SparkSession, name: String, dir: String): Double = {
    val t0 = System.nanoTime()
    CustomEntries.getOrElse(name, graft.SparkEntry.queries(name))(spark, dir)
      .write.format("noop").mode("overwrite").save()
    val t = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    t
  }

  /** One warmup at base (JIT + codegen), then `timedRuns` at each scale with
    * the per-entry min — min, not median, because the question is "does the
    * WORK scale", and the min is the run least polluted by ambient noise. */
  def run(spark: SparkSession, baseDir: String, outDir: String, copies: Int,
      entries: Seq[String], timedRuns: Int = 2): Seq[EntryTiming] = {
    buildScaledDir(spark, baseDir, outDir, copies)
    val bound = 1.5 * copies
    entries.map { name =>
      timeEntry(spark, name, baseDir) // warmup
      val base = Seq.fill(timedRuns)(timeEntry(spark, name, baseDir)).min
      val scaled = Seq.fill(timedRuns)(timeEntry(spark, name, outDir)).min
      val r = EntryTiming(name, base, scaled, bound)
      System.err.println(f"SCALE ${r.name} base=${r.baseSec}%.2fs scaled=${r.scaledSec}%.2fs " +
        f"ratio=${r.ratio}%.1fx bound=${r.bound}%.1fx ${if (r.ok) "PASS" else "FAIL"}")
      r
    }
  }

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val copies = if (args.length > 1) args(1).toInt else 10
    val outDir = if (args.length > 2) args(2) else s"/tmp/graft_scale_${copies}x"
    val entries = if (args.length > 3) args(3).split(",").toSeq else DefaultEntries
    val spark = graft.GraftSession.local(32, "scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    val results = run(spark, baseDir, outDir, copies, entries)
    spark.stop()
    val js = results.map(r =>
      f""""${r.name}":{"base_sec":${r.baseSec}%.3f,"scaled_sec":${r.scaledSec}%.3f,"ratio":${r.ratio}%.2f,"ok":${r.ok}}""")
      .mkString("{", ",", "}")
    val line = s"""{"scale_smoke":$js,"copies":$copies,"bound":${1.5 * copies},"base":"$baseDir"}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"/tmp/scale_smoke_${copies}x.json"), line + "\n")
    catch { case _: Exception => () }
    println(line)
    if (results.exists(!_.ok)) sys.exit(1)
  }
}
