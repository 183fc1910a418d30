package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan assertions — the plans that matter at 100 TB, pinned so a
  * refactor can't silently regress them: filters/columns must reach the
  * parquet scan, small dims must broadcast, top-k must not global-sort,
  * aggregates must partial-aggregate before the exchange. */
class PlanQualitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions.col
  import spark.implicits._

  private def plan(name: String): String = {
    val df = Queries.queries(name)(spark, TestSpark.sf0001)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("Q2 filter is pushed down to the parquet scan") {
    val p = plan("q02_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_quantity"), p) // range predicate reaches the scan
  }

  test("Q1 projection prunes the read schema to 3 columns") {
    val p = plan("q01_scan_project")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && read.contains("l_quantity"))
    assert(!read.contains("l_extendedprice") && !read.contains("l_shipdate"),
      s"scan must not read unused columns: $read")
  }

  test("Q10 small-dimension join broadcasts (no shuffle of the fact side)") {
    val p = plan("q10_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("Q22 top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("q22_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("Q4 aggregate is partial (map-side) before the exchange") {
    val p = plan("q04_agg")
    val firstAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0)
    // formatted plans list operators leaf-first: the partial aggregate
    // appears before the exchange that feeds the final aggregate
    assert(p.contains("partial_"), "expected partial aggregation functions")
  }

  test("Q13 EXISTS plans as a semi join (no row multiplication)") {
    assert(plan("q13_semi_join").contains("LeftSemi"))
  }

  test("Q19 rank filter stays inside the window stage (rn<=2 not post-collected)") {
    val p = plan("q19_window_rank")
    assert(p.contains("Window"), p)
    // the rn <= 2 filter must appear as a Filter operator in the plan, i.e.
    // executed distributed, not on the driver
    assert(p.contains("Filter"), p)
  }

  test("whole-stage codegen covers the scan+filter+project pipeline (Q2)") {
    // under AQE the codegen'd stages exist only in the EXECUTED plan
    val df = Queries.queries("q02_filter")(spark, TestSpark.sf0001)
    df.collect()
    // codegen'd stages print with the `*(n)` prefix
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1) Filter") || p.contains("WholeStageCodegen"), p.take(500))
  }

  test("bucketed tables join with NO exchange (pre-shuffled co-location)") {
    val orders = graft.sources.Tables.table(spark, TestSpark.sf0001, "orders")
    val customer = graft.sources.Tables.table(spark, TestSpark.sf0001, "customer")
    graft.sources.Bucketing.writeBucketed(orders, "orders_b", Seq("o_custkey"), 8)
    graft.sources.Bucketing.writeBucketed(customer, "cust_b", Seq("c_custkey"), 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("orders_b").join(spark.table("cust_b"),
        org.apache.spark.sql.functions.col("o_custkey") ===
          org.apache.spark.sql.functions.col("c_custkey"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle:\n${p.take(800)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("x53 edit-distance join: equi-join candidates, no unguarded cartesian") {
    // the segment scheme must plan as hash/sort-merge equi-joins; the ONLY
    // nested-loop allowed is the short bucket's explicitly-broadcast
    // (constant-bounded) join — a CartesianProduct anywhere means the
    // candidate keys fell out of the join condition and the operator
    // degraded to all-pairs
    val p = plan("x53_edit_distance_join")
    assert(!p.contains("CartesianProduct"), p)
    val hashJoins = p.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") ||
        l.contains("ShuffledHashJoin"))
    assert(hashJoins >= 3, s"expected candidate + expansion equi-joins:\n$p")
  }

  test("x56 weighted sample plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("x56_weighted_sample_exact_k")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("x54 quantizer fit partial-aggregates before its exchange; encode is scan-fused") {
    val p = plan("x54_scalar_quant")
    // the per-dim min/max must partial-aggregate (dim × partitions shuffle
    // rows, not corpus rows) — formatted plans show two HashAggregate
    // nodes around each Exchange
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
    assert(!p.contains("WindowExec") && !p.contains("Window ("), p)
  }

  test("x59 k-anonymity: aggregation + semi join, no window, no cartesian") {
    val p = plan("x59_k_anonymity")
    assert(!p.contains("CartesianProduct") && !p.contains("WindowExec") &&
      !p.contains("Window ("), p)
    assert(p.contains("LeftSemi"), s"cohort survive-check must be a semi join:\n$p")
  }

  test("GraftExtensions registers native functions at session build time") {
    // the shared test session predates the extensions; exercising apply()
    // against a fresh SparkSessionExtensions validates the injection wiring
    // (runtime SQL use is covered via the registry path in NearDup specs)
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(e) // must not throw
    // end-to-end SQL use of the injected functions is driven by
    // graft.tools.Probe (fresh session built withExtensions) and by the
    // registry path in the NearDup specs
  }

  test("date-partitioned layout prunes partitions at planning time") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("evpart").toString
    val ev = graft.sources.Tables.table(spark, TestSpark.sf0001, "events")
      .withColumn("event_date", to_date(col("ts")))
    graft.sources.Bucketing.writePartitioned(ev, dir, Seq("event_date"))
    val back = spark.read.parquet(dir)
      .where(col("event_date") === lit("2024-01-02").cast("date"))
    val p = back.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("event_date"), s"expected partition filter, plan:\n${p.take(600)}")
    // pruning is real: only the matching partition's rows are read
    val expected = ev.where(col("event_date") === lit("2024-01-02").cast("date")).count()
    assert(back.count() == expected && expected > 0)
  }

  test("ANN bucket joins are equi-joins — never a nested loop or cartesian") {
    // the LSH and IVF scale paths must join on the bucket/cell key; a
    // regression to BNLJ/cartesian is the exact O(n·m) blowup they exist
    // to avoid (x03d topKAll is the DECLARED-exact cross-join baseline and
    // is deliberately not pinned here)
    Seq("x03b_ann_lsh_topk", "x03c_ann_ivf_topk").foreach { name =>
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$name must equi-join on the bucket key:\n$p")
    }
  }

  test("x08 pre-aggregates points by value before the range join") {
    val p = plan("x08_range_join_binned")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // the day-level pre-aggregate must sit BELOW the join (leaf-first
    // listing: a HashAggregate appears before the first join operator)
    val firstAgg = p.indexOf("HashAggregate")
    val join = math.max(p.indexOf("BroadcastHashJoin"),
      math.max(p.indexOf("SortMergeJoin"), p.indexOf("ShuffledHashJoin")))
    assert(firstAgg >= 0 && join >= 0 && firstAgg < join,
      s"expected point pre-aggregation below the join:\n$p")
  }

  test("materialized IVF index search scans ONLY the probed cell partitions") {
    import org.apache.spark.sql.functions._
    val embs = graft.sources.Tables.table(spark, TestSpark.sf0001, "embeddings")
    val nlist = 8
    val cents = graft.operators.SimilaritySearch.trainIvf(
      embs, "vec_id", "embedding", nlist = nlist, refineIters = 1)
    val idx = java.nio.file.Files.createTempDirectory("ivf-prune").toString
    graft.operators.SimilaritySearch.buildIvfIndex(
      embs, "vec_id", "embedding", cents, idx)
    // all nlist cells are populated, so pruning (not an empty index) is what
    // keeps the scan narrow
    val cellDirs = new java.io.File(idx).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs == nlist, s"expected $nlist cell partitions, got $cellDirs")
    val one = embs.where(col("vec_id") === 0)
    val search = graft.operators.SimilaritySearch.ivfSearchIndexed(
      spark, idx, cents, one, "embedding", "vec_id", k = 5, nprobe = 2)
    val p = search.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("cell"), s"expected a cell partition filter, plan:\n${p.take(800)}")
    // the scan reads < nlist partitions: every file feeding the join comes
    // from one of the 2 probed cells (nprobe=2, single query)
    val files = search.join(spark.read.parquet(idx)
        .select(col("corpus_id"), input_file_name().as("__f")), "corpus_id")
      .select("__f").distinct().collect().map(_.getString(0))
    val cellsRead = files.map(f =>
      f.split("/").find(_.startsWith("cell=")).getOrElse("?")).distinct
    assert(cellsRead.length <= 2, s"results must come from ≤ nprobe cells: ${cellsRead.toSeq}")
  }

  test("x11 chunking is map-only: no exchange anywhere in the plan") {
    val p = plan("x11_chunk_documents")
    // the orderBy for the gate adds a final sort exchange; everything below
    // the sort must be shuffle-free — assert by planning the operator itself
    val raw = graft.operators.Packing.chunkDocuments(
        graft.sources.Tables.table(spark, TestSpark.sf0001, "documents"),
        "doc_id", "text", maxTokens = 40, overlap = 10)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!raw.contains("Exchange"), s"chunking must not shuffle:\n$raw")
    assert(p.contains("Generate"), p) // posexplode runs distributed
  }

  test("x13 tfidf: term filter reaches the scan side and df/N joins broadcast") {
    val p = plan("x13_tfidf_terms")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"df/N must broadcast, not shuffle the tf side:\n$p")
    assert(!p.contains("CartesianProduct"),
      "the 1-row N frame must broadcast (BNLJ-free plan except trivial 1-row cross)")
    // partial aggregation before the (doc, term) exchange
    assert(p.contains("partial_"), p)
  }

  test("x04g top-bigram: partial-aggregates before the shuffle, no self-join") {
    val p = plan("x04g_top_bigram")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("multimodal frame plan never reads the content column") {
    val media = graft.operators.Multimodal.synthesize(
      graft.sources.Tables.table(spark, TestSpark.sf0001, "documents"), "doc_id")
    val p = graft.operators.Multimodal.sampleFramePlan(media)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("sha2"), s"payload synthesis must be pruned away:\n$p")
  }

  test("x17 scrub and x18 zorder are map-only: no exchange, single codegen pipeline") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.table(spark, TestSpark.sf0001, "documents")
    val scrub = docs.select(col("doc_id"),
        graft.functions.Scrub.redactPii(col("text")),
        graft.functions.Scrub.c4Keep(col("text")))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!scrub.contains("Exchange"), s"scrubbing must not shuffle:\n$scrub")
    val orders = graft.sources.Tables.table(spark, TestSpark.sf0001, "orders")
    val z = orders.select(graft.operators.Layout.zOrder2(col("o_custkey"), col("o_orderkey")))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!z.contains("Exchange"), s"zOrder2 must not shuffle:\n$z")
    // the pure-bitwise zOrder2 projection stays inside whole-stage codegen
    // (the c4 HOF lambdas are eval'd but still map-only — asserted above)
    assert(z.contains("codegen id"), z)
  }

  test("x16 component iteration shuffles only narrow long pairs, never doc bodies") {
    import org.apache.spark.sql.functions._
    // The CC loop materializes per-round frames; assert the pair-graph entry
    // plan (pair gen + node universe) reads only doc_id/text and the closure
    // works over (long, long) — i.e. the text column never crosses an
    // exchange inside the iteration frames.
    val docs = graft.sources.Tables.table(spark, TestSpark.sf0001, "documents")
    val pairs = graft.operators.NearDup
      .jaccardPairsExact(docs, "doc_id", "text", minJaccard = 0.6)
    val comp = graft.operators.ConnectedComponents
      .components(pairs, "id_1", "id_2")
    // result frame is (node, component) longs only
    assert(comp.schema.fields.map(f => f.dataType.typeName).toSet == Set("long"))
    // and the representative filter is an anti-join, not a row-multiplying join
    val kept = graft.operators.Dedup
      .keepClusterRepresentatives(docs, "doc_id", pairs)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(kept.contains("LeftAnti"), s"representative filter must anti-join:\n$kept")
  }

  test("x20 incremental dedup: anti-join on 8-byte hashes, seen side distinct before the join") {
    val p = plan("x20_dedup_against")
    assert(p.contains("LeftAnti"), s"must plan as an anti-join:\n$p")
    assert(p.contains("xxhash64"), s"join keys must be hashes, not bodies:\n$p")
    // the seen side must collapse to its distinct key set BEFORE meeting the
    // new side — a HashAggregate on the build/right side of the anti-join
    assert(p.contains("HashAggregate"), s"seen keys must dedup pre-join:\n$p")
  }

  test("x21 classifier inference is one scan-fused stage: no exchange before the sort") {
    val p = plan("x21_quality_classifier")
    // the only exchange allowed is the final presentation ORDER BY
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 1, s"scoring must fuse with the scan (only the order-by may shuffle):\n$p")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("lang") && !read.contains("source"),
      s"scan must read only doc_id/text: $read")
  }

  test("x22 bigram association: corpus counts partial-aggregate before their shuffles") {
    val p = plan("x22_bigram_assoc")
    // two count shuffles (bigram, prefix) + doc aggregate + join-backs: every
    // HashAggregate pair must be partial→final (map-side combine applies)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"nothing quadratic in the fluency scorer:\n$p")
  }

  test("x25 deterministic shuffle is exactly one range exchange (global sort)") {
    val p = Queries.queries("x25_deterministic_shuffle")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    val ranges = p.linesIterator.count(l =>
      l.contains("Exchange rangepartitioning"))
    assert(ranges == 1, s"reproducible order must cost ONE range exchange:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"no other shuffle belongs in a pure reorder:\n$p")
  }

  test("x10d composed ingest pipeline is one lazy plan with no quadratic joins") {
    val p = plan("x10d_ingest_pipeline")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the composed pipeline must stay relational end to end:\n$p")
    assert(p.contains("LeftAnti"), s"the dedup stage must plan as an anti-join:\n$p")
  }

  test("every graft_* function is registered through BOTH wiring paths") {
    // names must exist in the session registry (HashExpressions.register)
    graft.plans.HashExpressions.register(spark)
    val expected = graft.plans.HashExpressions.nativeFunctions.map(_.name)
    assert(expected.distinct.size == expected.size, s"duplicate names: $expected")
    val reg = spark.sessionState.functionRegistry
    val missing = expected.filterNot(n =>
      reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not in the session registry: $missing")
    // and the extensions injector must accept all of them without throwing
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(e)
  }

  test("x36 budget fill never plans a single-partition global window") {
    // the naive SUM(...) OVER (ORDER BY ...) spelling forces the whole
    // corpus through ONE partition; the distributed-scan recipe must show a
    // multi-partition range exchange and a window partitioned by __pid
    val docs = graft.sources.Tables.table(spark, TestSpark.sf0001, "documents")
    val out = graft.operators.Selection.selectByBudget(
      docs, "doc_id", org.apache.spark.sql.functions.col("n_chars").cast("double"),
      org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ")).cast("long"),
      budget = 10000L)
    val p = out.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("SinglePartition"),
      s"budget fill must not use a single-partition exchange:\n$p")
  }

  test("x36e decile assignment applies thresholds map-only (no exchange)") {
    // the fit (exactGlobalValues) runs its own bounded jobs at call time;
    // the APPLIED plan — what actually runs over the corpus — must be a
    // pure map: scan + threshold fold, no exchange, no window
    val docs = graft.sources.Tables.table(spark, TestSpark.sf0001, "documents")
    val out = graft.operators.Selection.assignQuantileBuckets(docs, "n_chars", 10)
    val p = out.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"),
      s"threshold application must be map-only:\n$p")
    assert(!p.contains("Window"), s"no window in the applied plan:\n$p")
  }

  test("x70 diversity counts partial-aggregate before their shuffles") {
    // both the count and the count_distinct must keep a partial_count on
    // the map side — the shuffle carries (group, gram) partials, never
    // raw exploded token rows
    val p = plan("x70_ngram_diversity")
    assert(p.contains("partial_count"),
      s"diversity must partial-aggregate map-side:\n$p")
  }

  test("x75 vocab coverage: the top-maxK extraction plans as TakeOrdered, " +
    "never a global vocabulary sort") {
    // the entry's final plan is checkpoint-backed (materializeAndRelease),
    // so pin the extraction SHAPE the operator uses: orderBy(...).limit(K)
    // over an aggregated frame must plan as TakeOrderedAndProject
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.table(spark, TestSpark.sf0001, "documents")
    val counts = docs
      .select(explode(split(col("text"), "\\s+")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("term")).limit(1000)
    val p = counts.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-maxK must be a distributed head:\n$p")
  }

  test("x71 historization: the change lag and closing lead share ONE key " +
    "exchange") {
    val p = plan("x71_scd2_historize")
    val keyExchanges = "hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(keyExchanges == 1,
      s"lead must reuse the lag's exchange, found $keyExchanges:\n$p")
  }

  test("x81 FIM construction is map-only: no exchange, no window") {
    val docs = graft.sources.Tables.table(spark, TestSpark.sf0001, "documents")
    val out = graft.operators.Fim.fimExamples(docs, "doc_id", "text")
    val p = out.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), s"FIM must be scan-fused:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("x82 calibration bins partial-aggregate before the single exchange") {
    // the shuffle must carry <= nBins partial rows per task, never raw
    // (p, y) rows
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.table(spark, TestSpark.sf0001, "documents")
    val probed = docs.select(col("doc_id"),
        graft.operators.Sampling.hashUnit(col("doc_id").cast("string")).as("p"))
      .withColumn("y", (col("p") < 0.5).cast("double"))
    val out = graft.operators.Calibration.reliabilityBins(probed, "p", "y")
    val p = out.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"calibration must partial-aggregate map-side:\n$p")
  }

  test("x83 curriculum: applied plan is checkpoint-scan + id join, no global window") {
    // the rank runs at call time through Selection.globalRank (the
    // distributed-scan recipe — its no-SinglePartition shape is pinned by
    // the x36 test on the same helper) and is checkpoint-pinned; the plan
    // that runs over the corpus afterwards must be just the id-keyed join
    // plus per-row release arithmetic — no window, no single partition
    val docs = graft.sources.Tables.table(spark, TestSpark.sf0001, "documents")
    val out = graft.operators.Curriculum.competenceSchedule(
      docs, "doc_id", "n_chars", steps = 10)
    val p = out.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("SinglePartition"),
      s"curriculum apply must not use a single-partition exchange:\n$p")
    assert(!p.contains("Window"), s"rank must be pre-materialized:\n$p")
  }

  test("x84 ablation: K-row totals broadcast; no cartesian over corpus rows") {
    val docs = graft.sources.Tables.table(spark, TestSpark.sf0001, "documents")
    val out = graft.operators.Ablation.leaveOneOut(docs, "lang", "n_chars")
    val p = out.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row totals side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x88 crop pairs are map-only: no exchange, no window") {
    val docs = graft.sources.Tables.table(spark, TestSpark.sf0001, "documents")
    val out = graft.operators.Contrastive.cropPairs(docs, "doc_id", "text")
    val p = out.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), s"crop pairs must be scan-fused:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("x87 corpus report: the distinct-dup aggregate keys on the 64-bit fingerprint, not text") {
    val docs = graft.sources.Tables.table(spark, TestSpark.sf0001, "documents")
    val agg = graft.operators.Profiling.corpusGlobalAgg(docs, "text", "n_chars")
    val p = agg.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the distinct keys must be the xxhash64 fingerprint — 8 bytes through
    // the distinct shuffle; a text-keyed distinct shuffles the corpus
    assert(p.contains("xxhash64"), s"distinct must key on the fingerprint:\n$p")
    val distinctLine = p.linesIterator
      .filter(l => l.contains("count(") && l.contains("distinct")).mkString("\n")
    assert(!distinctLine.contains("text#") || distinctLine.contains("xxhash64"),
      s"distinct aggregate must not carry raw text:\n$distinctLine")
  }

  test("x85 repetition: gram counting partial-aggregates, no cartesian, no global window") {
    val docs = graft.sources.Tables.table(spark, TestSpark.sf0001, "documents")
    val out = graft.operators.Repetition.signals(docs, "doc_id", "text")
    val p = out.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"), p)
    // the gram explodes are map-only (no window, no checkpoint — counting
    // keys are xxhash64); the visible plan must never sort globally
    assert(!p.contains("SinglePartition"),
      s"repetition must not use a single-partition exchange:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"gram counting must partial-aggregate map-side:\n$p")
  }

  test("x97 RHO-loss selection plans the bounded heap: no sort, no window") {
    val docs = graft.sources.Tables.table(spark, TestSpark.sf0001, "documents")
      .select(col("doc_id"), col("lang"),
        (col("n_chars") % 97).cast("double").as("tl"),
        (col("n_chars") % 89).cast("double").as("il"))
    val out = graft.operators.TrainingDynamics.rhoLossSelect(
      docs, "doc_id", "tl", "il", Seq("lang"), k = 5)
    val p = out.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Window"), s"heap top-k must not plan a window:\n$p")
    assert(!p.contains("Sort "), s"heap top-k must not sort:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"graft_topk plans as ObjectHashAggregate:\n$p")
  }

  test("x96 cartography is ONE id-keyed aggregation with map-side partials") {
    val pe = graft.sources.Tables.table(spark, TestSpark.sf0001, "documents")
      .select(col("doc_id"), ((col("n_chars") % 101).cast("double") / 100.0).as("p"))
    val out = graft.operators.TrainingDynamics.cartography(pe, "doc_id", "p")
    val p = out.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"cartography must partial-aggregate before its one exchange:\n$p")
    assert(!p.contains("Window"), p)
    assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 2,
      s"one shuffle (plus AQE read) expected:\n$p")
  }

  test("x102 precision thresholds: the window input is the distinct-score pre-aggregate") {
    val docs = graft.sources.Tables.table(spark, TestSpark.sf0001, "documents")
      .select(col("doc_id"), col("source"),
        ((col("n_chars") % 101).cast("double") / 100.0).as("s"),
        (col("n_chars") % 2).cast("long").as("y"))
    val out = graft.operators.Selection.precisionThresholdPerGroup(
      docs, "source", "s", "y", 0.5)
    val p = out.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the HashAggregate on (source, score) must sit below the window sort —
    // corpus rows never reach the window
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window"))
    assert(winIdx >= 0, p)
    assert(p.contains("partial_count"),
      s"distinct-(group, score) pre-agg must partial-aggregate:\n$p")
  }

  test("x111 ORC reads push filters and prune columns like parquet") {
    val docs = graft.sources.Tables.table(spark, TestSpark.sf0001, "documents")
    val tmp = java.nio.file.Files.createTempDirectory("orc-plan").toString
    docs.write.mode("overwrite").orc(tmp)
    val q = spark.read.orc(tmp).where(col("n_chars") >= 200)
      .select("doc_id", "n_chars")
    val p = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PushedFilters: ["), s"ORC scan must push the filter:\n$p")
    assert(p.contains("n_chars"), p)
    val schemaLine = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!schemaLine.contains("text"),
      s"projection must prune the text column from the ORC read:\n$schemaLine")
  }

  test("x106 epoch materialization: broadcast join + map-only explode, no extra shuffle") {
    val docs = graft.sources.Tables.table(spark, TestSpark.sf0001, "documents")
      .select("doc_id", "lang")
    val epochs = Seq(("en", 1.5), ("de", 2.0)).toDF("lang", "epochs")
    val out = graft.operators.Sampling.materializeEpochs(
      docs, "doc_id", "lang", epochs)
    val p = out.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"),
      s"epochs artifact must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("q48 recursive CTE executes as a UnionLoop of per-round equi-joins, " +
    "no driver row loop, no cartesian") {
    val p = plan("q48_recursive_cte")
    // Spark 4 plans WITH RECURSIVE as UnionLoop/UnionLoopRef: the fixpoint
    // is an EXECUTOR-side iterate (each round joins the previous frontier
    // against the ranked base), never a driver-side collect-and-resubmit
    assert(p.contains("UnionLoop"), s"expected UnionLoop fixpoint:\n$p")
    // the step is the (custkey, rn+1) chain walk — an equi-join, so each
    // round is a hash join of frontier × ranked, bounded by chain fan-out
    assert(p.contains("(rn"), s"chain-step join condition missing:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the o_custkey bound reaches the base scans inside the loop body, so
    // recursion never walks unfiltered orders
    assert(p.contains("o_custkey") && p.contains("< 100"), p)
  }

  test("q57 WITH-TIES rank filter plans as WindowGroupLimit (partial top-k " +
    "before the single-partition window)") {
    val p = plan("q57_fetch_with_ties")
    // InferWindowGroupLimit must rewrite rank()<=n into a per-partition
    // top-k prune BELOW the exchange plus a final one above — without it
    // the global rank window sorts the whole corpus in one partition
    val limits = p.linesIterator.count(_.contains("WindowGroupLimit"))
    assert(limits >= 2,
      s"expected partial+final WindowGroupLimit, found $limits:\n$p")
  }

  test("q58 EXCLUDE-frame algebra: both window passes share ONE hash exchange") {
    val p = plan("q58_window_exclude_frames")
    // the cumulative (priority ORDER BY od) window and the peer-group
    // (priority, od) window must stack on the same hashpartitioning
    // (priority) exchange + sort — hash partitioning on a PREFIX of the
    // peer keys satisfies its clustering, so a second exchange between the
    // two Window nodes means the shared-shuffle shape regressed
    // count formatted-plan detail headers "(n) Exchange" — one per node
    def nodes(op: String) = p.linesIterator
      .count(_.matches(s"""\\(\\d+\\) $op\\s*"""))
    assert(nodes("Exchange") == 2, // window shuffle + output-order sort
      s"expected exactly 2 exchanges (window + output order):\n$p")
    assert(nodes("Window") == 2, s"expected 2 stacked Window nodes:\n$p")
  }

  test("q59 null-safe comparison: one map-only codegen'd pass — the only " +
    "exchange is the output-order sort") {
    val p = plan("q59_null_safe_comparison")
    def nodes(op: String) = p.linesIterator
      .count(_.matches(s"""\\(\\d+\\) $op\\s*"""))
    assert(nodes("Exchange") <= 1,
      s"<=> is a row-local predicate — nothing here may shuffle beyond " +
        s"the output order:\n$p")
    assert(nodes("Window") == 0 && !p.contains("Join"), p)
    // the pass is Scan → Project → (output sort): row-local all the way
    assert(p.linesIterator.count(_.matches("""\(\d+\) Project\s*""")) == 1, p)
  }

  test("q60 percentile_disc rides the ranged distributed sort — the " +
    "re-attach join is a broadcast of the driver artifact, no window, " +
    "no corpus-sized join") {
    val p = plan("q60_percentile_disc")
    def nodes(op: String) = p.linesIterator
      .count(_.matches(s"""\\(\\d+\\) $op\\s*"""))
    // the heavy lifting (range partition + partition-local sorts) ran in
    // the eager ranged fit; the RESULT plan is distinct groups + a tiny
    // artifact join — a grouped Window or a shuffled join here means the
    // operator regressed to the buffering / window form
    assert(nodes("Window") == 0, s"disc must not plan a grouped window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"artifact re-attach must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q61 GROUPS-frame rewrite: the dense_rank pass and the integer-RANGE " +
    "frame pass share ONE hash exchange") {
    val p = plan("q61_window_groups_frame")
    // g = dense_rank() is monotone in the ORDER BY, so the frame windows'
    // (priority, g) sort is satisfied by the rank window's (priority, od)
    // exchange + sort — a second exchange between Window nodes means the
    // shared-shuffle shape regressed (the q58 pin, same algebra)
    def nodes(op: String) = p.linesIterator
      .count(_.matches(s"""\\(\\d+\\) $op\\s*"""))
    assert(nodes("Exchange") == 2, // window shuffle + output-order sort
      s"expected exactly 2 exchanges (window + output order):\n$p")
    assert(nodes("Window") >= 2, s"expected stacked Window nodes:\n$p")
  }

  test("x147 sequential test: corpus collapses via a partial per-look " +
    "aggregate before any window touches a single partition") {
    val p = plan("x147_sequential_mixture_test")
    // the day-keyed conditional aggregate must partial-aggregate map-side
    // (the corpus → looks collapse happens BEFORE the shuffle); the
    // single-partition cumulative window then runs over days, never rows
    assert(p.contains("partial_"), s"per-look aggregate must be partial:\n$p")
    def nodes(op: String) = p.linesIterator
      .count(_.matches(s"""\\(\\d+\\) $op\\s*"""))
    assert(nodes("Window") <= 2, s"look-axis windows only:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x148 bootstrap: the x200 explode partial-aggregates to (group x B) " +
    "rows before its shuffle") {
    val p = plan("x148_poisson_bootstrap_ci")
    // Generate (the replicate explode) must feed a partial HashAggregate —
    // without map-side combine the shuffle carries corpus x B rows and the
    // single-pass bootstrap claim is void
    assert(p.contains("Generate"), s"replicate explode missing:\n$p")
    assert(p.contains("partial_sum"),
      s"replicate sums must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x149 DiD: one conditional-moments aggregate — partial map-side, " +
    "no join, no window") {
    val p = plan("x149_diff_in_diff")
    assert(p.contains("partial_"), s"cell moments must combine map-side:\n$p")
    def nodes(op: String) = p.linesIterator
      .count(_.matches(s"""\\(\\d+\\) $op\\s*"""))
    assert(nodes("Window") == 0, s"DiD needs no window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"nothing corpus-sized may join:\n$p")
  }

  test("x150 Hill: order statistics plan as TakeOrderedAndProject, " +
    "never a global sort") {
    val p = plan("x150_hill_tail_index")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-(k+1) must be per-partition heaps + a k-row merge:\n$p")
  }

  test("x115 containment: inverted-index equi-joins only, never all-pairs") {
    // the posting self-join is bounded by shared shingles and the size
    // joins are key lookups — a CartesianProduct or BNLJ anywhere means
    // the operator degraded to all-pairs (the x53 contract). Pinned on the
    // live pre-checkpoint frame (the public result is an opaque
    // LogicalRDD), with the dfCap path engaged as in the x115b gate.
    val docs = graft.sources.Tables.table(spark, TestSpark.sf0001, "documents")
      .select("doc_id", "text")
    val (out, hs) = graft.operators.NearDup.containmentPairsFrame(
      docs, "doc_id", "text", minContainment = 0.9, dfCap = Some(8L))
    try {
      val p = out.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p)
      val hashJoins = p.linesIterator.count(l =>
        l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") ||
          l.contains("ShuffledHashJoin"))
      assert(hashJoins >= 3,
        s"posting self-join + size joins must all be equi-joins:\n$p")
    } finally hs.unpersist(false)
  }

  test("x114 pagerank: constant per-iteration work, ONE action per iteration " +
    "on a dangling-free graph") {
    // the r18 fold: no per-iteration dangling-mass head() — on a graph
    // where every node has out-edges, each iteration is exactly one eager
    // checkpoint materialization. AQE splits one materialization into one
    // DAG job per query stage (~5 here), so it is disabled for the
    // measurement. Even without AQE one materialization reads as TWO DAG
    // jobs — the main action plus the broadcast-exchange build for the
    // verts left-join (executor-side, launched inside the same action,
    // never a driver round-trip) — so the DELTA per added iteration
    // (which cancels setup) must be exactly 2; the old loop's separate
    // dangling-mass head() added a third-plus per iteration. Job counts
    // are listener-fed, so poll until stable.
    val sc = spark.sparkContext
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 1L, 1.0),
      (2L, 1L, 2.0)).toDF("src", "dst", "w")
    def jobsFor(iters: Int, group: String): Int = {
      sc.setJobGroup(group, "x114 pin", false)
      try graft.operators.Graph.pagerank(edges, "src", "dst", col("w"),
        iters = iters).count()
      finally sc.clearJobGroup()
      var last = -1; var same = 0; var waited = 0
      while (same < 3 && waited < 10000) {
        val n = sc.statusTracker.getJobIdsForGroup(group).length
        if (n == last) same += 1 else { same = 0; last = n }
        Thread.sleep(100); waited += 100
      }
      last
    }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val (j2, j5) = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      (jobsFor(2, "x114pin2"), jobsFor(5, "x114pin5"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assert(j5 - j2 == 6,
      s"an iteration must be exactly ONE materialization (main job + its " +
        s"broadcast build; the old loop paid a separate dangling-mass " +
        s"action per iteration on top): j2=$j2 j5=$j5")
  }

  test("x118 funnel: k filtered aggregations + key joins — no window, nothing quadratic") {
    val p = plan("x118_event_funnel")
    // no per-key timeline state: the operator is min-ts aggregates chained
    // by equi-joins, so a WindowExec means the shape regressed to a sorted
    // per-key walk and a CartesianProduct to all-pairs
    assert(!p.contains("WindowExec") && !p.contains("Window ("), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // step timestamps combine map-side before their shuffles
    assert(p.contains("partial_min"),
      s"step min-ts aggregates must be partial:\n$p")
  }

  test("iteration boundaries keep Catalyst size stats bounded (BT + pagerank)") {
    // localCheckpoint inherits plan statistics and the size-only join
    // estimate MULTIPLIES children — a state ⋈ edges ⋈ state iteration
    // doubles the stat's bit-length every pass, and past ~20 iterations
    // the planner stalls for minutes multiplying multi-megabit
    // BigIntegers. Iteration.cut re-roots each pass as a fresh stats
    // leaf; this pin fails if anyone reverts to a bare localCheckpoint.
    import org.apache.spark.sql.functions.col
    val m = Seq(("A", "B"), ("A", "B"), ("A", "C"), ("B", "C"))
      .toDF("w", "l")
    val bt = graft.operators.BradleyTerry.fit(m, "w", "l", iters = 12)
    val btBits = bt.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    assert(btBits < 1000,
      s"BT 12-iteration plan stat is $btBits bits — stats are compounding")
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 1L, 1.0))
      .toDF("src", "dst", "w")
    val pr = graft.operators.Graph.pagerank(edges, "src", "dst", col("w"),
      iters = 12)
    val prBits = pr.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    assert(prBits < 1000,
      s"pagerank 12-iteration plan stat is $prBits bits — stats are compounding")
  }

  test("x122 bradley-terry: equi-joins only on the iterate, no cartesian blowup") {
    val p = plan("x122_bradley_terry")
    // the pair collapse and every iteration join are key-equi; the ONLY
    // nested-loop join allowed is the final broadcast of the 1-row
    // normalization aggregate
    assert(!p.contains("CartesianProduct"), p)
    // formatted explain lists an operator in the tree AND its detail
    // section — count the "(n) Op" detail headers, one per instance
    val nested = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).length
    assert(nested <= 1,
      s"only the 1-row Σw normalization may be nested-loop ($nested):\n$p")
    // (the corpus-sized pair-count pass sits behind the iteration
    // checkpoints, so its partial-agg shape is pinned by the iterate's
    // stats/job pins above rather than this final-segment plan)
  }

  test("x126 cusum: the four window columns share ONE key shuffle") {
    val p = plan("x126_cusum_drift")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // prefix sums and running mins are Window nodes over the SAME
    // (partitionBy key, orderBy day) spec — Catalyst may split them into
    // 2 or 3 nodes (the mins reference the sums' output), but an Exchange
    // or a fresh Sort between any of them means a window re-shuffled or
    // re-sorted what the first already partitioned
    val windows = """\(\d+\) Window""".r.findAllIn(p).toList
    assert(windows.size >= 2 && windows.size <= 3,
      s"expected the window stack (2-3 nodes):\n$p")
    val seg = p.substring(p.indexOf(") Window"),
      p.lastIndexOf(") Window"))
    assert(!seg.contains("Exchange") && !seg.contains("Sort"),
      s"the Window stack must share one exchange + sort:\n$p")
    // daily counts combine map-side before their shuffle
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"daily-count aggregate must be partial:\n$p")
  }

  test("x127 mann-whitney: distinct-value collapse is partial, no joins at all") {
    val p = plan("x127_mann_whitney")
    // ranks, rank sums, and the tie term all live on the (value, ca, cb)
    // frame — any join or cartesian means a row-level rank join crept back
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"),
      s"value-keyed counts must combine map-side:\n$p")
  }

  test("x129 benjamini-hochberg: threshold broadcasts, flags stay map-only") {
    val p = plan("x129_bh_fdr")
    assert(!p.contains("CartesianProduct"), p)
    // the 1-row m and threshold artifacts ride broadcast nested-loop
    // crosses; the corpus side must NOT hash-shuffle for the flag pass
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count"),
      s"distinct-p counts must combine map-side:\n$p")
  }

  test("x131 permutation test: the explode feeds perms-bounded partials") {
    val p = plan("x131_permutation_test")
    assert(!p.contains("CartesianProduct"), p)
    // the ×perms row inflation must collapse BEFORE the shuffle: a
    // Generate (explode) with a partial aggregate above it — if the
    // partials disappear, the shuffle carries corpus × perms rows
    assert(p.contains("Generate"), s"explode missing:\n$p")
    assert(p.contains("partial_sum"),
      s"per-permutation sums must combine map-side:\n$p")
  }

  test("x135 quantile normalization: merge-pattern probe, never a theta join") {
    val p = plan("x135_quantile_normalize")
    // the k → pooled-value probe is the union + following-frame window —
    // a cum ≥ k join would be |group-values| × |pooled-values| pairs
    assert(!p.contains("CartesianProduct"), p)
    val nested = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).length
    assert(nested <= 1,
      s"only the 1-row N broadcast may be nested-loop ($nested):\n$p")
    // the join back to rows is a key equi-join
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), s"row join must be equi:\n$p")
  }

  test("x137 mann-kendall: the pair expansion is a key equi-join, never cartesian") {
    val p = plan("x137_mann_kendall")
    // O(len²) per key is the contract — a CartesianProduct would make it
    // O((keys·len)²) over the whole frame. The pair join itself must be
    // a shuffled equi-join; BroadcastNestedLoopJoin instances are the
    // 1-row min-date broadcast whose subtree the consumers replicate in
    // the STATIC plan (AQE exchange reuse collapses them at runtime —
    // the x132 pinned contract)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      s"the pair expansion must be an equi-join:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"daily counts must combine map-side:\n$p")
  }

  test("x145 autocorrelation: all lag columns share one window shuffle") {
    val p = plan("x145_autocorrelation")
    assert(!p.contains("CartesianProduct"), p)
    // three LAG columns over the same (key, ord) spec → ONE Window node
    val windows = """\(\d+\) Window""".r.findAllIn(p).toList
    assert(windows.size == 1,
      s"expected one shared Window node for all lags:\n$p")
  }

  test("x144 uniformity chi2: cells collapse with map-side partials") {
    val p = plan("x144_chi2_uniformity")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"),
      s"category counts must combine map-side:\n$p")
  }

  test("x132 chi-squared: AQE reuses the cell exchange — one corpus scan at runtime") {
    // the cell frame feeds four consumers; the STATIC plan prints four
    // corpus scans, and the operator's contract (Contingency scaladoc) is
    // that AQE exchange reuse collapses them at runtime. If this pin ever
    // fires, reinstate the Iteration.cut spelling noted in the scaladoc.
    val df = Queries.queries("x132_chi2_independence")(spark, TestSpark.sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"cell exchange must be reused at runtime:\n$p")
  }
}
