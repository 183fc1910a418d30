package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Training-sequence preparation: document chunking and sequence packing —
  * the two shaping steps between a cleaned corpus and a pretraining data
  * loader. Both are deterministic (oracled in the gate); chunking is
  * map-only and packing's running total is a [[RangeScan]].
  */
object Packing {

  /** Split each document into fixed-size token windows with overlap — the
    * standard long-document treatment for a bounded-context trainer. Chunk i
    * covers tokens [i·(maxTokens−overlap), i·(maxTokens−overlap)+maxTokens);
    * the last chunk may be shorter; a document with ≤ maxTokens tokens yields
    * exactly one chunk (itself). Output: (id, chunk_id, chunk_text, n_tokens).
    *
    * Scale: per-row transform + posexplode — map-only, no shuffle; output
    * row count is Σ ceil((n_i − overlap)/step), linear in corpus tokens. */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     maxTokens: Int, overlap: Int = 0): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens), got $overlap")
    val step = maxTokens - overlap
    val toks = TextAnalysis.tokens(col(textCol))
    val nChunks = when(size(toks) <= maxTokens, lit(1))
      .otherwise(lit(1) +
        ceil((size(toks) - maxTokens).cast("double") / step).cast("int"))
    df.select(col(idCol), toks.as("__toks"), size(toks).as("__n"),
        nChunks.as("__nc"))
      .select(col(idCol), col("__n"),
        posexplode(transform(sequence(lit(0), col("__nc") - 1),
          i => concat_ws(" ", slice(col("__toks"), i * step + 1, lit(maxTokens)))))
          .as(Seq("chunk_id", "chunk_text")))
      .select(col(idCol), col("chunk_id"), col("chunk_text"),
        least(lit(maxTokens), col("__n") - col("chunk_id") * step).as("n_tokens"))
  }

  /** Concatenate-and-chunk sequence packing (the standard pretraining
    * packing): documents are laid end-to-end in `idCol` order and the token
    * stream is cut at exact `capacity` boundaries; a document may straddle a
    * boundary (the trainer's attention mask resets at document starts).
    * Output per document: its global `start_offset` in the token stream and
    * the first/last training bins it touches.
    *
    * Scale: one [[RangeScan]] on the id, so the result does not depend on
    * the partition count. */
  def packSequences(df: DataFrame, idCol: String, nTokens: Column,
                    capacity: Long): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    // null-count documents (e.g. null text → null tokenCount) pack as zero
    // tokens: a null here would shift every later offset to null
    val narrow = df.select(col(idCol),
      coalesce(nTokens.cast("long"), lit(0L)).as("n_tokens"))
    // secondary n_tokens tie-break: with duplicate ids the ROWS frame would
    // otherwise include an arbitrary subset of the tied rows in each prefix —
    // (id, n_tokens) makes the scan deterministic for every input (exact
    // duplicate rows are interchangeable, so their order is immaterial)
    RangeScan(narrow, Nil, Seq(col(idCol)), tieBreak = Seq(col("n_tokens"))) { scan =>
      val w = scan.window.rowsBetween(Window.unboundedPreceding, -1)
      scan.frame
        .withColumn("start_offset", scan.offsets(sum("n_tokens")).column +
          coalesce(sum("n_tokens").over(w), lit(0L)))
        .withColumn("bin_first", expr(s"start_offset div ${capacity}L"))
        .withColumn("bin_last",
          expr(s"(start_offset + greatest(n_tokens, 1L) - 1L) div ${capacity}L"))
        .select(col(idCol), col("n_tokens"), col("start_offset"),
          col("bin_first"), col("bin_last"))
        .localCheckpoint(true)
    }
  }

  /** SENTENCE-aware chunking — the RAG/eval-construction sibling of the
    * fixed-window [[chunkDocuments]]: split on terminal punctuation
    * (`.!?` + whitespace) and GREEDILY pack consecutive sentences into
    * chunks of at most `maxTokens` whitespace tokens, never cutting
    * mid-sentence. A single sentence longer than the budget becomes its
    * own (oversized) chunk — splitting it would break the invariant the
    * caller chose this operator for. Documents with no sentences (empty /
    * whitespace text) yield no chunks.
    *
    * Entirely per-row: one `aggregate` higher-order fold over the
    * sentence array — map-only, fused with the scan, no UDF, no shuffle.
    * Output: (idCol, chunk_id, chunk_text, n_tokens), chunk_id 0-based in
    * document order; chunk_text joins its sentences with single spaces. */
  def chunkSentences(df: DataFrame, idCol: String, textCol: String,
                     maxTokens: Int): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    val sentences = filter(
      split(col(textCol), "(?<=[.!?])\\s+"),
      s => length(trim(s)) > 0)
    val counted = transform(sentences, s => struct(
      s.as("s"),
      size(filter(split(s, "\\s+"), w => w =!= "")).as("n")))
    val init = struct(
      typedLit(Seq.empty[String]).as("chunks"),
      lit("").as("cur"), lit(0).as("n"))
    val folded = aggregate(
      counted, init,
      (acc, x) => {
        val closes = acc("n") > 0 && (acc("n") + x("n") > maxTokens)
        when(closes, struct(
          concat(acc("chunks"), array(acc("cur"))).as("chunks"),
          x("s").as("cur"), x("n").as("n")))
          .otherwise(struct(
            acc("chunks").as("chunks"),
            when(acc("n") === 0, x("s"))
              .otherwise(concat_ws(" ", acc("cur"), x("s"))).as("cur"),
            (acc("n") + x("n")).as("n")))
      },
      acc => when(acc("n") > 0, concat(acc("chunks"), array(acc("cur"))))
        .otherwise(acc("chunks")))
    df.select(col(idCol), posexplode(folded).as(Seq("chunk_id", "chunk_text")))
      .withColumn("n_tokens",
        size(filter(split(col("chunk_text"), "\\s+"), w => w =!= "")))
  }

  /** Token-budget SHARD assignment — "cut the corpus into training shards
    * of ≈ `tokensPerShard` tokens, in reproducible shuffled order": rows
    * are placed in the deterministic sha256(id:salt) epoch order
    * ([[Sampling.deterministicShuffle]]'s order spec), and each row's
    * shard is `floor(exclusive-prefix-tokens / tokensPerShard)` — a
    * document belongs to the shard where it STARTS, so shards are
    * contiguous spans of the shuffled order within ~one document of the
    * budget. Output: (idCol, n_tokens, shard_id); write per-shard files
    * with `.write.partitionBy("shard_id")`.
    *
    * The running total is a [[RangeScan]] on the shuffle key; NULL token
    * counts fill as zero, matching every budget op here. */
  def assignTokenShards(df: DataFrame, idCol: String, nTokens: Column,
                        tokensPerShard: Long, salt: String): DataFrame = {
    require(tokensPerShard > 0,
      s"tokensPerShard must be positive, got $tokensPerShard")
    val narrow = df.select(col(idCol),
      coalesce(nTokens.cast("long"), lit(0L)).as("n_tokens"),
      shuffleKey(idCol, salt).as("__key"))
    RangeScan(narrow, Nil, Seq(col("__key"), col(idCol))) { scan =>
      val w = scan.window.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      scan.frame
        .withColumn("__cum",
          scan.offsets(sum("n_tokens")).column + sum("n_tokens").over(w))
        .withColumn("shard_id",
          floor((col("__cum") - col("n_tokens")).cast("double")
            / tokensPerShard).cast("long"))
        .select(col(idCol), col("n_tokens"), col("shard_id"))
        .localCheckpoint(true)
    }
  }

  /** Per-bin packing summary over [[packSequences]]: how many documents START
    * in each bin and their total tokens — the shape a loader's manifest
    * needs. Straddling documents count toward the bin they start in. */
  def packSummary(assignment: DataFrame): DataFrame =
    assignment.groupBy(col("bin_first").as("bin"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))

  /** Padding-efficiency audit — the batch-shape planning question for a
    * pad-to-longest trainer: fill batches of `batchSize` rows under (a)
    * the reproducible shuffled order (sha256(id:salt), the
    * [[Sampling.deterministicShuffle]] spec) and (b) length-sorted order,
    * and report each ordering's padded-slot waste. Sorted batching puts
    * like-sized sequences together, so its waste is the floor the shuffle
    * pays a premium over — the number that decides whether a length-
    * bucketing sampler is worth its shuffle-order bias.
    *
    * Output one row per ordering: (ordering, n_batches, total_tokens,
    * padded_tokens = Σ_batch max·rows, waste_ratio = 1 − total/padded) —
    * exact integers and one division, so fully oracle-able against the
    * ROW_NUMBER window spelling.
    *
    * Shape: the global row index is a [[RangeScan]] row count on the order
    * key, once per ordering; everything after is a batch-keyed partial
    * aggregate. */
  def paddingAudit(df: DataFrame, idCol: String, nTokens: Column,
                   batchSize: Int, salt: String): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val narrow = df.select(col(idCol),
      coalesce(nTokens.cast("long"), lit(0L)).as("n_tokens"))
    def audit(name: String, orderKey: Column): DataFrame =
      RangeScan(narrow.select(col(idCol), col("n_tokens"), orderKey.as("__key")),
          Nil, Seq(col("__key"), col(idCol))) { scan =>
        scan.frame
          .withColumn("__b",
            floor((scan.offsets(count(lit(1))).column +
              row_number().over(scan.window) - 1).cast("double")
              / batchSize).cast("long"))
          .groupBy("__b")
          .agg(max("n_tokens").as("__mx"), count(lit(1)).as("__c"),
            sum("n_tokens").as("__s"))
          .agg(count(lit(1)).as("n_batches"),
            sum("__s").as("total_tokens"),
            sum(col("__mx") * col("__c")).as("padded_tokens"))
          .select(lit(name).as("ordering"), col("n_batches"),
            col("total_tokens"), col("padded_tokens"),
            (lit(1.0) - col("total_tokens").cast("double")
              / col("padded_tokens").cast("double")).as("waste_ratio"))
          .localCheckpoint(true)
      }
    audit("shuffled", shuffleKey(idCol, salt))
      .unionByName(audit("sorted", col("n_tokens")))
  }

  /** The sha256(id:salt) epoch order of [[Sampling.deterministicShuffle]]. */
  private def shuffleKey(idCol: String, salt: String): Column =
    sha2(concat_ws(":", col(idCol).cast("string"), lit(salt)), 256)
}
