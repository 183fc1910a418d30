package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.io.{ByteArrayOutputStream, File}
import java.nio.file.Files
import java.util.zip.GZIPOutputStream
import scala.collection.immutable.ListMap

/** Postgres-COPY-compatible CSV dialect — E7/E8/E10 plus the §1.2 type
  * semantics.
  *
  * The reference's CSV surface is Postgres `COPY ... WITH CSV DELIMITER d
  * QUOTE q NULL n [HEADER]` (`/root/reference/src/airflow_postgres_csv/
  * operators.py:163-170`, export side `operators.py:79-80`). The dialect
  * rules replicated here:
  *  - quotes are escaped by doubling (`escape` = quote char);
  *  - NULL renders as the unquoted `nullString` (default empty,
  *    `operators.py:112`), while the EMPTY STRING renders quoted `""` —
  *    the NULL-vs-empty distinction survives a round-trip (SURVEY.md §7.4#1);
  *  - optional whole-file gzip (`operators.py:96-98,210-212`).
  */
final case class CsvDialect(
    delimiter: String = ",",       // operators.py:110
    quote: String = "\"",          // operators.py:111
    nullString: String = "",       // operators.py:112
    hasHeader: Boolean = true,     // operators.py:29,161
    compression: Option[String] = None) // operators.py:30-31 ("gzip")

object PgCsv {

  /** Sentinel for the quoted-empty-field case: with the PG default
    * `NULL ''`, Spark's parser would map BOTH the unquoted empty field (NULL)
    * and the quoted `""` (empty string) to null, because the nullValue
    * comparison happens after unquoting. The parser's `emptyValue` fires only
    * for QUOTED empties, so routing those through a sentinel and rewriting it
    * back to `""` post-parse preserves the Postgres COPY distinction. */
  private val EmptySentinel = "\u0000\u0001__graft_empty__\u0001\u0000"

  /** The COPY-dialect reader options [[read]] and [[readStream]] share. */
  private def readerOptions(d: CsvDialect): ListMap[String, String] = ListMap(
    "sep" -> d.delimiter,
    "quote" -> d.quote,
    "escape" -> d.quote,                 // PG doubles quote chars
    "nullValue" -> d.nullString,         // unquoted match → NULL
    "emptyValue" -> (if (d.nullString.isEmpty) EmptySentinel else ""),
    "header" -> d.hasHeader.toString,
    "multiLine" -> "true",               // quoted embedded newlines
    "lineSep" -> "\n")                   // preserve \r inside fields

  /** Rewrite [[EmptySentinel]] back to `""` in every string column (the
    * sentinel is only in play when the dialect's NULL string is empty). */
  private def restoreEmpty(df: DataFrame, d: CsvDialect): DataFrame =
    if (d.nullString.nonEmpty) df
    else {
      val cols = df.schema.fields.map { f =>
        if (f.dataType == org.apache.spark.sql.types.StringType)
          when(col(f.name) === EmptySentinel, lit("")).otherwise(col(f.name)).as(f.name)
        else col(f.name)
      }
      df.select(cols.toIndexedSeq: _*)
    }

  /** Distributed CSV read with the COPY dialect. Schema: caller-supplied, or
    * all-strings (the reference layer is typeless — Postgres does the type
    * conversion on COPY FROM; our sinks cast on alignment instead). */
  def read(spark: SparkSession, path: String, dialect: CsvDialect,
           schema: Option[StructType] = None,
           inferSchema: Boolean = false): DataFrame = {
    val effectivePaths =
      dialect.compression.map(withCodecExtension(path, _)).getOrElse(Seq(path))
    var r = spark.read.options(readerOptions(dialect))
    schema.foreach(s => r = r.schema(s))
    if (schema.isEmpty && inferSchema) r = r.option("inferSchema", "true")
    restoreEmpty(r.csv(effectivePaths: _*), dialect)
  }

  /** Streaming form of [[read]]: a file-source stream over a directory of
    * CSV files in the same COPY dialect — the "continuous COPY" upgrade of
    * the reference's one-shot batch import (each new file is a micro-batch).
    * Streams require an explicit schema. The explicit-`compression` flag is
    * NOT supported here: the symlink mapping is a driver-side enumeration,
    * incompatible with files that arrive over time — part files must carry
    * their codec extension (`.gz`), which Hadoop auto-detects per file. */
  def readStream(spark: SparkSession, dir: String, dialect: CsvDialect,
                 schema: StructType, maxFilesPerTrigger: Int = 1): DataFrame = {
    if (dialect.compression.isDefined)
      throw new graft.operators.GraftException(
        "streaming CSV ingest relies on per-file codec extensions (.gz); " +
          "the explicit compression flag applies to batch reads only")
    restoreEmpty(spark.readStream
      .options(readerOptions(dialect))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .schema(schema)
      .csv(dir), dialect)
  }

  /** Hadoop picks the DEcompression codec from the file extension, but the
    * reference keys import decompression off the explicit `compression` flag
    * regardless of filename (`operators.py:210-212`) — a gzipped file named
    * `data.csv` must still decompress. When the flag is set, every data file
    * the path resolves to must reach the parser under the codec's extension:
    * files already carrying it pass through; extension-less files are read
    * through a symlink that adds it (metadata only — no data copy; the
    * lazily-read DataFrame keeps needing it, so cleanup is deferred to JVM
    * exit). Directories and globs are enumerated file-by-file so an
    * extension-less gzipped part can NEVER be silently parsed as plain text.
    * An empty or nonexistent input fails loudly with the flag's contract.
    *
    * Local-filesystem semantics by design: this mirrors the reference's
    * local-file COPY surface. Cluster-scale reads land as parquet/bucketed
    * tables (sources.Tables), not flag-compressed loose CSV. */
  private def withCodecExtension(path: String, codec: String): Seq[String] = {
    val ext = codec match {
      case "gzip" => ".gz"
      case "bzip2" => ".bz2"
      case other => "." + other
    }
    def fail(why: String): Nothing =
      throw new graft.operators.GraftException(
        s"compression='$codec': $why; got: $path " +
          "(rename the input or drop the flag)")
    // one link dir per read; deleteOnExit runs in REVERSE registration order:
    // register the dir first so links are removed before their parent
    lazy val linkDir = {
      val d = Files.createTempDirectory("graft-codec-")
      d.toFile.deleteOnExit()
      d
    }
    val seq = new java.util.concurrent.atomic.AtomicInteger(0)
    def linked(f: File): String =
      if (f.getName.endsWith(ext)) f.getPath
      else {
        // prefix with a counter: globs can match same-named parts from
        // different directories, which would collide in the shared link dir
        val link = linkDir.resolve(s"${seq.getAndIncrement()}-${f.getName}$ext")
        Files.createSymbolicLink(link, f.toPath.toAbsolutePath)
        link.toFile.deleteOnExit()
        link.toString
      }
    // Hadoop/Spark data-file convention: names starting with '.' or '_' are
    // hidden (checksums, _SUCCESS markers) and never parsed
    def hidden(name: String): Boolean =
      name.startsWith(".") || name.startsWith("_")
    // recursive: partitioned layouts (dir/lang=en/part-*.csv.gz) keep working
    // under the flag — every nested data file is enumerated; hidden files AND
    // hidden subtrees are skipped. Partition-column inference is not part of
    // the flag path (the reference's COPY surface is flat files); the read is
    // the union of the decompressed files.
    // listFiles returns null (not empty) on an unreadable directory or I/O
    // error — fold that into the flag's loud-failure contract
    def dataFiles(dir: File): Seq[File] =
      Option(dir.listFiles())
        .getOrElse(fail(s"cannot list directory $dir"))
        .toIndexedSeq.filterNot(f => hidden(f.getName)).flatMap {
        case d if d.isDirectory => dataFiles(d)
        case f if f.isFile => Seq(f)
        case _ => Nil
      }
    val f = new File(path)
    if (f.getName.endsWith(ext)) Seq(path)
    else if (f.isFile) Seq(linked(f))
    else if (f.isDirectory) {
      val parts = dataFiles(f)
      if (parts.isEmpty) fail("directory contains no data files")
      parts.map(linked)
    } else if (path.exists("*?[{".contains(_))) {
      val hadoopPath = new org.apache.hadoop.fs.Path(path)
      val fs = hadoopPath.getFileSystem(new org.apache.hadoop.conf.Configuration())
      val matches = Option(fs.globStatus(hadoopPath)).getOrElse(Array.empty)
      val files = matches.toIndexedSeq.flatMap { st =>
        val mf = new File(st.getPath.toUri.getPath)
        // glob expansion follows the hidden-file convention too (_SUCCESS,
        // .crc); an exact non-glob path remains the way to target one
        if (mf.isDirectory) dataFiles(mf)
        else if (hidden(mf.getName)) Nil
        else Seq(mf)
      }
      if (files.isEmpty) fail("glob matched no data files")
      files.map(linked)
    } else fail(s"requires an existing file, directory, glob, or a '$ext' extension")
  }

  /** Distributed CSV write to a directory of part files (the cluster-scale
    * form: N tasks write N parts in parallel, no single-node bottleneck). */
  def writeDir(df: DataFrame, path: String, dialect: CsvDialect): Unit =
    df.write
      .option("sep", dialect.delimiter)
      .option("quote", dialect.quote)
      .option("escape", dialect.quote)
      .option("nullValue", dialect.nullString)   // NULL → unquoted null string
      .option("emptyValue", "\"\"")              // "" → quoted (PG distinction)
      // Spark's CSV WRITER trims field-edge whitespace by default (these two
      // default true on write, unlike read) — Postgres COPY never trims.
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      // Spark writes timestamps to the millisecond by default; Postgres COPY
      // keeps microseconds. Same separator and zone rendering, six digits.
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
      .option("header", dialect.hasHeader.toString)
      .option("compression", dialect.compression.getOrElse("none"))
      .mode("overwrite")
      .csv(path)

  /** Single-file CSV export at an EXACT caller-chosen path — the reference's
    * contract (one local file, `operators.py:84-85`). Returns the row count
    * (E13, `operators.py:88-93`).
    *
    * Scale design: the COMPUTE stays fully distributed — tasks write part
    * files in parallel — and only the final byte-level concatenation is
    * serial (pure sequential I/O, no decompression: gzip members concatenate
    * into a valid gzip stream, so the header and each part are appended
    * as-is). Row count comes from an `Observation` on the same pass — no
    * second job. This is strictly stronger than `coalesce(1)`, which would
    * serialize the computation itself.
    */
  def writeSingleFile(df: DataFrame, targetPath: String,
                      dialect: CsvDialect): Long = {
    val gz = dialect.compression.contains("gzip")
    val header = if (dialect.hasHeader)
      Some(headerBytes(df.columns, dialect, gz)) else None
    SingleFile.write(df, targetPath, header,
      (counted, tmp) => writeDir(counted, tmp, dialect.copy(hasHeader = false)))
  }

  /** Header line with PG-style field quoting; its own gzip member when the
    * body parts are gzipped (gzip members concatenate legally). */
  private def headerBytes(cols: Seq[String], dialect: CsvDialect,
                          gzipped: Boolean): Array[Byte] = {
    val line = cols.map(quoteField(_, dialect)).mkString(dialect.delimiter) + "\n"
    val raw = line.getBytes("UTF-8")
    if (!gzipped) raw
    else {
      val bos = new ByteArrayOutputStream()
      val g = new GZIPOutputStream(bos)
      g.write(raw); g.close()
      bos.toByteArray
    }
  }

  private def quoteField(v: String, d: CsvDialect): String = {
    val needs = v.contains(d.delimiter) || v.contains(d.quote) ||
      v.contains("\n") || v.contains("\r")
    if (needs) d.quote + v.replace(d.quote, d.quote + d.quote) + d.quote else v
  }
}
