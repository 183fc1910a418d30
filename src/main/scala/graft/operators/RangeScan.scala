package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The distributed prefix scan: running totals and global ranks over a
  * total order WITHOUT a single-partition window. The windowed-SQL spelling
  * (`SUM(n) OVER (ORDER BY score DESC, id)`, `ROW_NUMBER() OVER (...)`,
  * `percentile_cont`) sends the whole input through one task's sort; here
  * the same numbers come from four steps:
  *
  *   1. `repartitionByRange(keys ++ order)` over the session's
  *      `spark.sql.shuffle.partitions`, each row tagged with its `__pid`
  *      and the frame persisted, so every pass sees the SAME sampled range
  *      boundaries;
  *   1. one total of a caller-given measure per (`__pid`, key), collected
  *      to the driver — |partitions|·|keys| longs;
  *   1. a driver-side prefix sum of those totals per key in `__pid` order
  *      (`Math.addExact`: an overflow fails loudly, as the windowed
  *      spelling's ANSI `sum` does, instead of wrapping to a negative
  *      offset);
  *   1. the caller's partition-local window ([[RangeScan.window]]) plus the
  *      offset of the rows before its partition ([[RangeScan.Offsets]]).
  *
  * Invariants the callers rely on: range partition i holds keys ++ order
  * values ≤ those of partition i+1 within a key, so `__pid` order IS the
  * global order and the offsets compose exactly — the result does not
  * depend on the partition count. `order ++ tieBreak` must order the rows
  * totally (exact duplicates are interchangeable), and the keys and the
  * measure must be NULL-free (callers drop NULL keys and fill NULL token
  * counts as zero), or a prefix would hold an arbitrary subset of tied
  * rows or go NULL. A key spanning
  * several partitions gets one offset per partition; every sort is
  * partition-local and spillable. The persisted frame is released on
  * every exit path, so a caller returning a frame must materialize it
  * (`localCheckpoint`) inside `body`. */
private[operators] object RangeScan {

  /** Run `body` on the range-partitioned, persisted scan of `df`. The
    * window orders by `order ++ tieBreak`; the exchange by `keys ++ order`
    * only. */
  def apply[T](df: DataFrame, keys: Seq[String], order: Seq[Column],
               tieBreak: Seq[Column] = Nil)(body: RangeScan => T): T = {
    val p = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val frame = df.repartitionByRange(p, keys.map(col) ++ order: _*)
      .withColumn("__pid", spark_partition_id())
      .persist(StorageLevel.MEMORY_AND_DISK)
    try body(new RangeScan(frame, keys, order ++ tieBreak))
    finally frame.unpersist(false)
  }

  /** `column`: the sum of the measure over the rows before this row's
    * partition within its key (add a partition-local window to it).
    * `totals`: the measure's total per key (the empty Seq when keyless);
    * empty input gives no totals. */
  final case class Offsets(column: Column, totals: Map[Seq[Any], Long])
}

private[operators] final class RangeScan private (
    val frame: DataFrame, keys: Seq[String], order: Seq[Column]) {

  private val part = col("__pid") +: keys.map(col)

  /** The partition-local window; callers add their own frame
    * (inclusive, exclusive or none for `row_number`). */
  val window: WindowSpec = Window.partitionBy(part: _*).orderBy(order: _*)

  /** Prefix offsets of `total` — an aggregate yielding a non-NULL long,
    * e.g. `sum("n_tokens")` or `count(lit(1))` — computed over `of`, a
    * frame derived from [[frame]] that keeps its `__pid` and key columns
    * (an iterating caller passes its current pass). */
  def offsets(total: Column, of: DataFrame = frame): RangeScan.Offsets = {
    val n = keys.size
    val perKey = of.groupBy(part: _*).agg(total).collect()
      .map(r => (r.getInt(0), (1 to n).map(r.get), r.getLong(n + 1)))
      .sortBy(_._1).groupBy(_._2)
    val starts = perKey.toSeq.map { case (k, parts) =>
      val run = parts.map(_._3).scanLeft(0L)((a, b) => Math.addExact(a, b))
      (k, parts.map(_._1).zip(run), run.last)
    }
    // keyless scans look up by the bare partition id; keyed ones by the
    // (partition, key...) struct
    def lookup(pid: Column, key: Seq[Column]): Column =
      if (n == 0) pid
      else struct(pid.as("__pid") +: key.zip(keys).map { case (c, k) => c.as(k) }: _*)
    val entries = for ((k, ps, _) <- starts; (pid, o) <- ps)
      yield Seq(lookup(lit(pid), k.map(lit)), lit(o))
    val column =
      if (entries.isEmpty) lit(0L)
      else element_at(map(entries.flatten: _*), lookup(col("__pid"), keys.map(col)))
    RangeScan.Offsets(column, starts.map { case (k, _, t) => k -> t }.toMap)
  }
}
