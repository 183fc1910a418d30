package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.plans.HashExpressions.native

/** Deduplication operators for training-data pipelines (SURVEY.md §2c X1/X2).
  *
  * Scale notes: exact dedup is a hash shuffle on the key columns — at 100 TB
  * prefer `keyCols` that are already a stable content hash (see `withContentHash`)
  * so the shuffle moves 8-byte keys + row ids, not document bodies.
  */
object Dedup {

  /** Exact dedup, deterministic: keep the row with the smallest `tieBreaker`
    * per key group. Unlike `dropDuplicates` (which keeps an arbitrary row and
    * is therefore unstable across runs/partitionings), this is reproducible —
    * a requirement for training-data lineage.
    *
    * One shuffle on `keyCols` via the sort-free `graft_earliest` aggregate
    * ([[graft.plans.LatestAggregate]] in earliest mode) — partial
    * aggregation keeps one candidate row per key per partition map-side
    * and the plan is ObjectHashAggregate, vs the ROW_NUMBER window
    * spelling's per-partition sorts. Same keep-smallest-tieBreaker rows
    * (pinned by the x01 gates' DuckDB window oracle). */
  def exactKeepFirst(df: DataFrame, keyCols: Seq[String], tieBreaker: String): DataFrame = {
    val row = struct(df.columns.map(col): _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(native("graft_earliest", struct(col(tieBreaker)), row)
        .as("__graft_first"))
      .select(col("__graft_first.*"))
  }

  /** Stable 64-bit content hash column (xxhash64). At scale, dedup on this
    * instead of the raw text: the shuffle key shrinks from ~KBs to 8 bytes. */
  def withContentHash(df: DataFrame, textCol: String, hashCol: String = "content_hash"): DataFrame =
    df.withColumn(hashCol, xxhash64(col(textCol)))

  /** Incremental (snapshot-over-snapshot) exact dedup: drop rows of `newDf`
    * whose dedup key already appears in `seen` — the every-crawl operation of
    * a continuously-ingesting corpus (dedupe the new dump against everything
    * already kept, without re-shuffling the kept corpus' bodies).
    *
    * `key` is any deterministic expression over the new/seen rows (raw text,
    * a normalized form, a leading-prefix `substring` for CCNet-style prefix
    * dedup). Both sides reduce to DISTINCT xxhash64(key) — the anti-join
    * shuffles 8-byte hashes, never document bodies, and the seen side
    * collapses to its distinct key set before moving. A 64-bit collision
    * (≈2⁻³² at a billion distinct keys) drops one extra row — the standard
    * trade accepted by hash-keyed dedup at corpus scale ([[withContentHash]]).
    *
    * At 100 TB the distinct seen-hash set is usually small enough for AQE to
    * pick a broadcast; otherwise it is one narrow hash-keyed shuffle. */
  def dedupeAgainst(newDf: DataFrame, seen: DataFrame,
                    key: DataFrame => org.apache.spark.sql.Column): DataFrame = {
    val seenKeys = seen.select(xxhash64(key(seen)).as("__graft_seen_h")).distinct()
    newDf.join(seenKeys, xxhash64(key(newDf)) === col("__graft_seen_h"), "left_anti")
  }

  /** Bloom-prefiltered incremental dedup — the large-seen-corpus form of
    * [[dedupeAgainst]]. A Bloom filter of the seen key hashes is built in
    * one distributed aggregate (Spark's own `BloomFilterAggregate`, the
    * machinery behind runtime join filters) and ships to the new side as a
    * literal; rows whose key the bloom rejects are DEFINITELY unseen (bloom
    * negatives are exact) and skip the anti-join shuffle entirely — only the
    * "maybe" fraction (true dups + false positives) shuffles, and the exact
    * anti-join re-verifies it, so a false positive costs shuffle bytes,
    * never a wrongly dropped row. Output is row-identical to
    * [[dedupeAgainst]] (pinned in IncrementalDedupSpec).
    *
    * `expectedDistinct` sizes the filter (~1.2 MB per million keys at the
    * default FPP): right when the new batch is mostly novel and the seen
    * corpus is large. Beyond ~10⁸ seen keys the filter itself outgrows a
    * sensible broadcast — fall back to the plain [[dedupeAgainst]] there.
    *
    * `newDf` is SCANNED TWICE (once per union branch). For a parquet source
    * that is two cheap columnar scans — the shuffle saved dwarfs them — but
    * if `newDf` is the tail of an expensive or NONDETERMINISTIC pipeline,
    * persist it first: two inconsistent scans of a nondeterministic frame
    * could drop or duplicate rows across the branches. */
  def dedupeAgainstBloom(newDf: DataFrame, seen: DataFrame,
                         key: DataFrame => org.apache.spark.sql.Column,
                         expectedDistinct: Long): DataFrame = {
    require(expectedDistinct > 0, "expectedDistinct must be positive")
    val bloom: Array[Byte] = seen
      .select(native("graft_bloom_agg",
        xxhash64(key(seen)), lit(expectedDistinct)).as("bf"))
      .head().getAs[Array[Byte]](0)
    if (bloom == null) return newDf // empty seen corpus: nothing to drop
    val maybe = native("graft_bloom_contains", lit(bloom), xxhash64(key(newDf)))
    newDf.where(!maybe).unionAll(dedupeAgainst(newDf.where(maybe), seen, key))
  }

  /** Incremental FUZZY dedup: drop `newDf` rows with any near-duplicate
    * (n-gram Jaccard ≥ `minJaccard`) in the kept corpus — composes
    * [[NearDup.nearDuplicatesAgainst]] with one anti-join on the new ids.
    * Within-batch duplicates are NOT collapsed here (compose with
    * [[keepClusterRepresentatives]] over the batch for that). Usable per
    * micro-batch inside `foreachBatch`. */
  def dedupeAgainstFuzzy(newDf: DataFrame, seen: DataFrame,
                         idCol: String, textCol: String,
                         minJaccard: Double = 0.8): DataFrame = {
    val hit = NearDup.nearDuplicatesAgainst(newDf, seen, idCol, textCol, minJaccard)
      .select(col("new_id")).distinct()
    // Join on the UNTOUCHED id — `new_id` carries idCol's own type through
    // nearDuplicatesAgainst. (A cast("long") here used to null out string
    // doc ids, turning the anti-join into a silent keep-everything no-op.)
    newDf.join(hit, newDf(idCol) === col("new_id"), "left_anti")
  }

  /** Keep-latest compaction: per `keyCols` group, keep exactly the row that
    * is maximal under the lexicographic order of `versionCols` — the
    * CDC/upsert-compaction primitive (newest crawl of a URL, latest event
    * per user, current row per entity id).
    *
    * Shape: ONE hash aggregate via the native `graft_latest`
    * TypedImperativeAggregate ([[graft.plans.LatestAggregate]]) — partial
    * aggregation keeps at most one candidate row per key per partition
    * map-side, so the shuffle moves ≤ |distinct keys| narrow rows per
    * partition, and the plan is ObjectHashAggregate: NO sort on either
    * side. (The `max_by(struct, struct)` spelling computes the same thing
    * but plans as SortAggregate — every map partition sorts its full input
    * by the grouping key first; the ROW_NUMBER window spelling additionally
    * sorts each key's whole history. At 100 TB with long per-key histories
    * those sorts are the bottleneck; this form is one comparison per row.)
    *
    * Determinism contract: `versionCols` must totally order rows within a
    * key (append a unique id as the last version column when the timestamp
    * alone can tie); a NULL version FIELD sorts first under Spark's struct
    * ordering, so it loses to any non-null value at that field — and ties
    * keep the first-seen row, which is only deterministic when versions
    * are unique per key. */
  def keepLatest(df: DataFrame, keyCols: Seq[String], versionCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(versionCols.nonEmpty, "versionCols must be non-empty")
    val row = struct(df.columns.map(col): _*)
    val version = struct(versionCols.map(col): _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(native("graft_latest", version, row).as("__graft_latest"))
      .select(col("__graft_latest.*"))
  }

  /** Snapshot diff: classify every id across two corpus snapshots as
    * `added` (only in `newDf`), `removed` (only in `oldDf`), `changed`
    * (in both, any `compareCols` value differs — NULL-safe comparison, so
    * NULL→value and value→NULL both count as changes) or `unchanged` —
    * the audit step between incremental crawls (what did this dump actually
    * change?) and the input to incremental re-processing (re-embed only
    * `added`+`changed`).
    *
    * Shape: one full-outer hash join on `idCol`; the comparison is a
    * null-safe equality conjunction evaluated in the join's projection —
    * map-only after the join. At 100 TB pass a precomputed content hash
    * ([[withContentHash]]) as the single compare column so the join carries
    * 8 bytes per side instead of document bodies.
    *
    * Contract: `idCol` is assumed unique per snapshot (duplicate ids
    * multiply join rows, as in any keyed diff); run [[exactKeepFirst]] or
    * [[keepLatest]] first if a snapshot can carry versions. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   idCol: String, compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "compareCols must be non-empty")
    val o = oldDf.select(col(idCol).as("__graft_old_id"),
      struct(compareCols.map(col): _*).as("__graft_old_v"))
    val n = newDf.select(col(idCol).as("__graft_new_id"),
      struct(compareCols.map(col): _*).as("__graft_new_v"))
    o.join(n, col("__graft_old_id") === col("__graft_new_id"), "full_outer")
      .select(
        coalesce(col("__graft_new_id"), col("__graft_old_id")).as(idCol),
        when(col("__graft_old_id").isNull, "added")
          .when(col("__graft_new_id").isNull, "removed")
          .when(col("__graft_old_v") <=> col("__graft_new_v"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** [[dedupeAgainstFuzzy]] against a PERSISTED near-dup index
    * ([[NearDup.buildNearDupIndex]]) instead of the kept corpus' text —
    * the incremental-crawl spelling where the kept corpus is only ever
    * touched as its signature artifact. Same drop semantics (any
    * near-duplicate at `minJaccard` in the index drops the new row). */
  def dedupeAgainstFuzzyIndex(newDf: DataFrame, index: DataFrame,
                              idCol: String, textCol: String,
                              minJaccard: Double = 0.8): DataFrame = {
    val hit = NearDup.nearDuplicatesAgainstIndex(newDf, index, idCol, textCol, minJaccard)
      .select(col("new_id")).distinct()
    newDf.join(hit, newDf(idCol) === col("new_id"), "left_anti")
  }

  /** Fuzzy dedup, final stage: collapse a near-duplicate PAIR list (any of
    * [[NearDup]]'s generators) into clusters via distributed connected
    * components, and keep exactly one representative per cluster — the
    * minimum id, so the choice is deterministic and partitioning-invariant.
    *
    * Returns `df` rows whose id is its cluster's minimum (uniques survive as
    * their own singleton cluster). The pair graph's transitive closure is the
    * right cluster semantics: A~B and B~C must collapse to ONE kept doc even
    * when A~C was never emitted as a pair.
    *
    * Cost beyond the pair pass: O(log) rounds of narrow (long, long)
    * shuffles ([[ConnectedComponents]]) plus one semi-join of `df` against
    * the kept-id set — document bodies never enter the iteration. */
  def keepClusterRepresentatives(df: DataFrame, idCol: String,
                                 pairs: DataFrame,
                                 pairCol1: String = "id_1",
                                 pairCol2: String = "id_2"): DataFrame = {
    // The iteration needs primitive long graph keys. Integral ids use the
    // direct path: nodes are the ids themselves, the fixed point's component
    // root IS the minimum id, and the drop set falls out of one filter. Any
    // other id type (the former unconditional cast("long") nulled string
    // ids, emptying the graph into a silent keep-everything no-op) runs the
    // graph on xxhash64(id) — 64-bit injectivity, the same trade every
    // hash-keyed dedup op here makes ([[withContentHash]]) — and recovers
    // the minimum ORIGINAL id per cluster with one extra narrow
    // (id, component) aggregation. Both paths: deterministic,
    // partitioning-invariant, min-id-kept semantics.
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    // resolve through the analyzer (case-insensitive, like every join
    // below), not schema() (case-sensitive field lookup)
    val integral =
      (df.select(col(idCol)).schema.map(_.dataType) ++
        pairs.select(col(pairCol1), col(pairCol2)).schema.map(_.dataType))
      .forall(t => Seq(ByteType, ShortType, IntegerType, LongType).contains(t))
    if (integral) {
      keepClusterRepresentativesFrom(df, idCol,
        ConnectedComponents.components(pairs, pairCol1, pairCol2))
    } else {
      // Hash the STRING form on both sides: a mixed corpus (string doc ids
      // in `df`, the same ids materialized as longs in `pairs`, or vice
      // versa) must land on the same graph node — xxhash64("5") and
      // xxhash64(5L) do not, which would silently empty the join again.
      val comp = ConnectedComponents.components(
        pairs.select(xxhash64(col(pairCol1).cast("string")).as("__u"),
          xxhash64(col(pairCol2).cast("string")).as("__v")),
        "__u", "__v")
      val members = df.select(col(idCol).as("__graft_id"),
          xxhash64(col(idCol).cast("string")).as("node"))
        .join(comp, "node") // ids untouched by any pair are absent → kept
      val reps = members.groupBy("component")
        .agg(min("__graft_id").as("__graft_keep"))
      val drop = members.join(reps, "component")
        .where(col("__graft_id") =!= col("__graft_keep"))
        .select(col("__graft_id").as("__graft_drop_id"))
      df.join(drop, col(idCol) === col("__graft_drop_id"), "left_anti")
    }
  }

  /** [[keepClusterRepresentatives]] over a PRECOMPUTED `(node, component)`
    * frame (integral-id path only — `comp` as
    * [[ConnectedComponents.components]] returns it). The component fixed
    * point is the expensive part of cluster dedup; a caller applying
    * several survivor policies to the same pair graph computes it ONCE
    * (ideally `localCheckpoint`ed — it is O(nodes) narrow rows) and feeds
    * both policies, instead of paying one fixed point per policy. */
  def keepClusterRepresentativesFrom(df: DataFrame, idCol: String,
                                     comp: DataFrame): DataFrame = {
    val drop = comp.where(col("node") =!= col("component"))
      .select(col("node").as("__graft_drop_id"))
    df.join(drop, col(idCol).cast("long") === col("__graft_drop_id"), "left_anti")
  }

  /** [[keepClusterRepresentatives]] with a QUALITY policy: keep, from each
    * near-dup cluster, the row maximal under the lexicographic order of
    * `orderCols` (ties broken toward the larger value — include the unique
    * id last for determinism) instead of the minimum id. The "which
    * duplicate survives" question is a curation decision — min-id is
    * arbitrary; this keeps the best-scored copy (longest, highest quality
    * signal, newest), the policy fuzzy dedup actually wants.
    *
    * Mechanism: component fixed point on the pair graph (narrow long
    * shuffles), then ONE pass of the full-row bounded-heap aggregate
    * ([[Selection.topKPerGroupRows]], k = 1) over the clustered rows plus
    * a pass-through of untouched rows — no window, no sort. Ids must be
    * integral (the graph contract). Output columns = `df`'s, order
    * unspecified. */
  def keepClusterBest(df: DataFrame, idCol: String, pairs: DataFrame,
                      orderCols: Seq[String],
                      pairCol1: String = "id_1",
                      pairCol2: String = "id_2"): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = df.select(col(idCol)).schema.head.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"keepClusterBest id column '$idCol' must be integral, got " +
        idType.simpleString)
    keepClusterBestFrom(df, idCol,
      ConnectedComponents.components(pairs, pairCol1, pairCol2), orderCols)
  }

  /** [[keepClusterBest]] over a precomputed `(node, component)` frame —
    * the same sharing contract as [[keepClusterRepresentativesFrom]]. */
  def keepClusterBestFrom(df: DataFrame, idCol: String, comp: DataFrame,
                          orderCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    val withComp = df.join(comp, col(idCol).cast("long") === col("node"), "left")
    val untouched = withComp.where(col("component").isNull)
      .drop("node", "component")
    val clustered = withComp.where(col("component").isNotNull)
      .drop("node")
    val best = graft.operators.Selection.topKPerGroupRows(
        clustered, Seq("component"), orderCols, k = 1)
      .drop("component", "rank")
      .select(df.columns.map(col): _*)
    untouched.select(df.columns.map(col): _*).union(best)
  }

  /** Cross-group duplication matrix — WHO shares content with WHOM: for
    * every unordered pair of groups (sources, crawls, drops), the number
    * of duplicate keys present in both. The provenance question behind
    * every dedup rate ("is source A copying source B, or are both
    * scraping the same upstream?") stated as a ranked table; feed the
    * CCNet prefix key, the exact-text fingerprint, or any other dup key.
    *
    * Shape: the key reduces to xxhash64 BEFORE the shuffle (8-byte keys —
    * the SubstringDedup discipline; an oracle replaying the RAW key makes
    * a collision over-count a pair and hash-fail, the x04f trap), one
    * key-keyed aggregation collecting the ≤|groups| distinct group set,
    * then a within-row pair expansion (bounded by |groups|², never by
    * corpus rows) and one pair-keyed count. NULL groups are dropped (no
    * provenance, no vote).
    *
    * Collision bound: with the default hashed key, two DISTINCT keys
    * colliding in 64 bits merge and can add spurious shared-key pairs —
    * expected collisions ≈ n²/2⁶⁵ (≈0.05 at a billion distinct keys, ≈54
    * at 10³¹ distinct keys would still be ~10⁻⁸ of the counts). When the
    * matrix feeds retention/licensing decisions rather than triage, pass
    * `exact = true` to shuffle the RAW key instead — exact counts at the
    * cost of moving full key bytes (for CCNet prefix keys, ~80 bytes vs
    * 8) through the shuffle.
    *
    * Output: `(group_a, group_b, n_shared_keys)` with group_a < group_b
    * (sorted within each key's distinct set). */
  def crossGroupDupMatrix(df: DataFrame, key: Column, groupCol: String,
                          exact: Boolean = false): DataFrame = {
    val k = if (exact) key else xxhash64(key)
    val groups = df.where(col(groupCol).isNotNull)
      .select(k.as("__k"), col(groupCol).as("__g"))
      .groupBy("__k").agg(sort_array(collect_set("__g")).as("__gs"))
      .where(size(col("__gs")) >= 2)
    groups.select(explode(expr(
        "flatten(transform(__gs, (a, i) -> " +
          "transform(slice(__gs, i + 2, size(__gs) - i - 1), " +
          "b -> named_struct('ga', a, 'gb', b))))")).as("__p"))
      .groupBy(col("__p.ga").as("group_a"), col("__p.gb").as("group_b"))
      .agg(count(lit(1)).as("n_shared_keys"))
  }
}
