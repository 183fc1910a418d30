package graft.sources

import java.util.WeakHashMap

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * The reference engine's tables live in Postgres and are reached over
  * COPY/libpq (`/root/reference/src/airflow_postgres_csv/operators.py:80,163-170`);
  * here the equivalent catalog is a directory of parquet files read through the
  * Spark parquet scan, which gives column pruning + predicate pushdown for free
  * — at 100 TB these scans are the dominant cost, so every query keeps its
  * filters/projections directly on top of the scan so Catalyst pushes them down.
  *
  * Like Postgres, which does not re-read its catalog per statement, a session
  * resolves each table's schema once: inferring it reads the parquet footer
  * in a Spark job, so the inferred `StructType` is remembered per session,
  * stamped with the path's data files and the parquet reader confs, and
  * handed back to `spark.read.schema(...)` (no job) while the stamp holds.
  * Only the schema is kept — every call still builds a fresh relation with
  * fresh attribute ids and a fresh file listing.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = {
      if (name == "events")
        // Older fixture generations wrote events.ts as parquet TIMESTAMP(NANOS),
        // which Spark's reader rejects (PARQUET_TYPE_ILLEGAL) unless nanos are
        // read as raw Long (legacy conf, set in GraftSession and re-ensured
        // here for driver-built sessions).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      parquet(spark, s"$dir/$name.parquet")
    }
    if (name == "events") {
      // Normalize ts to TIMESTAMP_NTZ regardless of fixture vintage:
      //  - int64 nanos (legacy TIMESTAMP(NANOS) fixtures): truncate to micros
      //    exactly like DuckDB's parquet reader does (integer division).
      //  - native timestamp[us] (current fixtures): plain NTZ cast.
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts",
            timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
        case _ =>
          df.withColumn("ts", col("ts").cast("timestamp_ntz"))
      }
    } else df
  }

  /** Register each named table as a temp view so `spark.sql` text matches
    * the DuckDB oracle's table names. Idempotent. */
  def register(spark: SparkSession, dir: String, tables: Seq[String]): Unit =
    tables.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))

  def registerAll(spark: SparkSession, dir: String): Unit =
    register(spark, dir, names)

  /** The fixture tables `sql` names as whole words, in any case. */
  def referencedIn(sql: String): Seq[String] =
    names.filter(n => s"(?i)\\b$n\\b".r.findFirstIn(sql).isDefined)

  /** What an inferred schema depends on: each data file's (path, length,
    * modification time), and the parquet reader confs set in the session. */
  private type Stamp = (Seq[(String, Long, Long)], Map[String, String])

  /** Per session (held weakly, so a stopped session's entries go with it):
    * path → the stamp at inference and the schema inferred. */
  private val schemas =
    new WeakHashMap[SparkSession, mutable.Map[String, (Stamp, StructType)]]()

  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val stamp = stampOf(spark, path)
    def memo = schemas.computeIfAbsent(spark, _ => mutable.Map.empty)
    schemas.synchronized(memo.get(path)) match {
      case Some((`stamp`, schema)) => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        if (stamp._1.nonEmpty) schemas.synchronized(memo(path) = (stamp, df.schema))
        df
    }
  }

  private def stampOf(spark: SparkSession, path: String): Stamp = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val files = mutable.ArrayBuffer.empty[(String, Long, Long)]
    // A path that lists no files (missing, or a glob) is never memoized:
    // it infers on every call and raises Spark's own errors, as it did.
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    }
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }
    (files.sorted.toSeq, confs)
  }
}
