package graft.queries

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{StringType, StructType}
import graft.sources.Scratch

/** The replay scaffold of the streaming gate entries ([[StreamingQueries]])
  * and the streaming scale smokes: stage a batch input as parquet files,
  * replay it through a file-stream source into ONE streaming operator,
  * drain it, and read the sink back as a batch frame that the gate hashes
  * like any other entry.
  *
  *  - Staging. [[parts]] writes a frame as `n` files, one micro-batch each
  *    under the per-file source. [[ordered]] writes each frame of a
  *    sequence as one file and pins increasing modification times: the
  *    file source orders micro-batches by mtime, and sequential writes can
  *    land in the same millisecond. Pinned mtimes sit in 2020, so a pinned
  *    replay's source turns off the 7-day `maxFileAge` purge, which would
  *    otherwise drop a pinned file once the source has seen a current one.
  *  - Sentinel flushes. After the data drains, [[run]] appends one sentinel
  *    row per flush time to every input (`user_id` = [[StreamReplay.FlushUser]],
  *    `ts` at the flush time) and drains again. The first flush pushes the
  *    watermark past every seal point; the second, with Spark's no-data
  *    batches, drains the sealed state. A sentinel is written outside the
  *    watched dir, pinned if the replay is, then renamed in, so the source
  *    never lists an unpinned or half-written file.
  *  - Sinks. Parquet files in Append mode, a `foreachBatch` overwrite of one
  *    parquet dir for Complete mode (the final state table), or `noop`.
  *    Never the memory sink: it buffers the whole output on the driver, and
  *    a 100× run of the x101 gate entry OOM'd on it (SCALE_SMOKE.md). The
  *    file sink keeps every batch executor-side with the same rows.
  *  - State partitions. A stateful replay runs with
  *    `spark.sql.shuffle.partitions` = 8, sized to the stream instead of
  *    the session. A stream-stream join keeps 4 state stores per partition
  *    and every micro-batch commits a delta file per store, so at 32
  *    session partitions the entries' wall time was checkpoint I/O, not
  *    operator work (x116: 38.8 → 7.9 s). The conf is read when the first
  *    micro-batch is planned, asynchronously after `start()`, so it stays
  *    set until the query stops. Entries run alone in Verify and Bench, so
  *    nothing else observes it.
  *  - Every staged input, checkpoint and sink dir lives in one
  *    [[Scratch]] dir, deleted at JVM exit. */
final class StreamReplay private (s: SparkSession, prefix: String) {
  import StreamReplay._

  private val dir = Scratch.dir(prefix)
  private val fs = new HPath(dir.toUri).getFileSystem(s.sparkContext.hadoopConfiguration)
  private val inputs = mutable.LinkedHashMap.empty[String, StructType]
  private var pinned = false
  private var batch = 0

  /** A path inside this replay's scratch dir. */
  def path(name: String): String = dir.resolve(name).toString

  /** Stage `df` as `n` parquet files under `input`. */
  def parts(df: DataFrame, n: Int, input: String = "ingest"): Unit = {
    df.repartition(n).write.mode("overwrite").parquet(path(input))
    inputs(input) = df.schema
  }

  /** Stage each frame as one parquet file under `input`, with pinned,
    * increasing mtimes: the replay runs them in this order. */
  def ordered(batches: Seq[DataFrame], input: String = "ingest"): Unit = {
    pinned = true
    batches.foreach { b =>
      b.coalesce(1).write.mode("append").parquet(path(input))
      pin(parquetFiles(path(input)))
      batch += 1
    }
    inputs(input) = batches.head.schema
  }

  /** The file-stream source over a staged input: one file per micro-batch,
    * or every file present in one batch when `perFile` is false. */
  def source(input: String = "ingest", perFile: Boolean = true): DataFrame = {
    val r = s.readStream.schema(inputs(input))
    val r1 = if (perFile) r.option("maxFilesPerTrigger", 1) else r
    (if (pinned) r1.option("maxFileAge", "36500d") else r1).parquet(path(input))
  }

  /** [[source]] with `ts` cast to TIMESTAMP, the type watermarks need (the
    * tables hold TIMESTAMP_NTZ). */
  def eventSource(input: String = "ingest", perFile: Boolean = true): DataFrame =
    source(input, perFile).withColumn("ts", col("ts").cast("timestamp"))

  /** Start `result` into `sink`, drain it (and one more round per flush
    * time), stop it, and read the sink back. */
  def run(result: DataFrame, sink: Sink = Parquet, stateful: Boolean = false,
          flushAt: Seq[Long] = Nil): DataFrame = {
    val out = path("out")
    drive(stateful, flushAt) { ckpt =>
      val w = result.writeStream.option("checkpointLocation", ckpt)
      sink match {
        case Parquet => w.outputMode(OutputMode.Append())
          .format("parquet").option("path", out).start()
        case Complete => w.outputMode(OutputMode.Complete())
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("overwrite").parquet(out)
          }.start()
        case Noop => w.outputMode(OutputMode.Append()).format("noop").start()
      }
    }
    if (sink == Noop) s.range(1).toDF("ok") else s.read.parquet(out)
  }

  /** The lifecycle of [[run]] for an operator that starts its own query
    * from a checkpoint dir. */
  def drive(stateful: Boolean = false, flushAt: Seq[Long] = Nil)(
      start: String => StreamingQuery): Unit =
    withStatePartitions(stateful) {
      val q = start(path("ckpt"))
      try {
        q.processAllAvailable()
        flushAt.foreach { ts => flush(ts); q.processAllAvailable() }
      } finally q.stop()
    }

  private def withStatePartitions[A](on: Boolean)(body: => A): A =
    if (!on) body
    else {
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      try { s.conf.set("spark.sql.shuffle.partitions", StatePartitions); body }
      finally s.conf.set("spark.sql.shuffle.partitions", prev)
    }

  private def flush(tsMs: Long): Unit = {
    inputs.foreach { case (input, schema) =>
      val stage = path(s"flush-$input")
      s.range(1).select(schema.fields.toIndexedSeq.map { f =>
          (f.name match {
            case "ts" => timestamp_millis(lit(tsMs))
            case "user_id" => lit(FlushUser)
            case _ if f.dataType == StringType => lit("flush")
            case _ => lit(0)
          }).cast(f.dataType).as(f.name)
        }: _*)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val files = parquetFiles(stage)
      if (pinned) pin(files)
      files.foreach { f =>
        require(fs.rename(f.getPath, new HPath(path(input), f.getPath.getName)),
          s"could not move the sentinel ${f.getPath} into $input")
      }
    }
    batch += 1
  }

  private def parquetFiles(d: String): Seq[FileStatus] =
    fs.listStatus(new HPath(d)).toSeq.filter(_.getPath.getName.endsWith(".parquet"))

  /** Give the files not pinned yet the current batch's mtime. */
  private def pin(files: Seq[FileStatus]): Unit = {
    val t = MtimeBase + batch * 60000L
    files.foreach(f => if (f.getModificationTime > t) fs.setTimes(f.getPath, t, -1L))
  }
}

object StreamReplay {

  /** A new replay in a fresh scratch dir named `<prefix><random>`. */
  def apply(s: SparkSession, prefix: String): StreamReplay = new StreamReplay(s, prefix)

  sealed trait Sink
  /** Parquet files, Append mode. */
  case object Parquet extends Sink
  /** Complete mode: every batch overwrites one parquet dir with the full
    * state table. */
  case object Complete extends Sink
  /** Nothing is kept; [[StreamReplay.run]] returns a one-row marker. */
  case object Noop extends Sink

  /** The sentinel rows' `user_id`; result projections drop it. */
  val FlushUser = 999999999L

  private val StatePartitions = "8"

  /** A fixed 2020 epoch for pinned mtimes, far below any real clock. */
  private val MtimeBase = 1600000000000L

  /** The time span of `ev.ts`, with a watermark delay spanning the whole
    * range plus an hour: no event is ever late, however the files split
    * the data. */
  final case class Span(loMs: Long, hiMs: Long) {
    val delayMin: Long = (hiMs - loMs) / 60000 + 60
    def watermark: String = s"$delayMin minutes"
    /** The event time at which the watermark passes the last event. */
    def sealMs: Long = hiMs + delayMin * 60000
  }

  def span(ev: DataFrame): Span = {
    val r = ev.agg(min(unix_millis(col("ts").cast("timestamp"))),
      max(unix_millis(col("ts").cast("timestamp")))).head()
    Span(r.getLong(0), r.getLong(1))
  }
}
