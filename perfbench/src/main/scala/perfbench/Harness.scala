package perfbench

import java.io.File
import java.nio.file.Files
import java.util.Properties

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry}
import graft.operators.{CsvToTable, QueryToCsv, SimilaritySearch}
import graft.sources.{CsvDialect, Tables}

/** Runs one workload of the benchmark through the engine's public entry
  * points and writes raw timings, outputs and trace records as JSON.
  *
  * {{{ Harness <plan.json> <result.json> }}}
  *
  * The plan (written by `run.py`) carries every seeded input. A run sets up
  * `setup_reps` times (a fresh session each), makes one untimed warm-up
  * iteration that also writes what the output checks need, then times
  * whole iterations for `seconds`. A traced run gives half of that to
  * untraced iterations and then times as many again with spans and
  * listeners on, so the same work gives the tracing overhead. */
object Harness {

  final case class Op(id: Int, kind: String, name: String, iter: Int, phase: String,
                      startMs: Double, endMs: Double, rows: Long, bytes: Long,
                      error: String)

  /** Times one op: tags its jobs, opens its root span, records the result. */
  final class Ops(spark: SparkSession) {
    val all = ArrayBuffer.empty[Op]
    var iter = 0
    var phase = "warmup"
    val outputs = ArrayBuffer.empty[(Int, Seq[Row])]

    /** `body` returns (rows, bytes, output rows to check or empty). */
    def apply(kind: String, name: String)(body: => (Long, Long, Seq[Row])): Unit = {
      val id = all.size
      Spans.currentOp = id
      spark.sparkContext.setLocalProperty(Recorder.OpProperty, id.toString)
      val t0 = Clock.nowMs
      val result = try Right(Spans(s"op.$kind")(body)) catch {
        case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val t1 = Clock.nowMs
      spark.sparkContext.setLocalProperty(Recorder.OpProperty, null)
      Spans.currentOp = -1
      result match {
        case Right((rows, bytes, out)) =>
          all += Op(id, kind, name, iter, phase, t0, t1, rows, bytes, null)
          if (out.nonEmpty) outputs += id -> out
        case Left(err) =>
          all += Op(id, kind, name, iter, phase, t0, t1, 0, 0, err)
      }
    }
  }

  trait Workload {
    def setup(spark: SparkSession, rep: Int): Unit
    def iteration(spark: SparkSession, i: Int, ops: Ops): Unit
    /** Outside the timed ops: leave what the output checks need for `i`. */
    def afterIteration(spark: SparkSession, i: Int): Unit = ()
    /** Extra workload facts for the result file. */
    def describe(out: ObjectNode): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val mapper = new ObjectMapper()
    val plan = mapper.readTree(new File(args(0)))
    val work = new File(plan.get("work_dir").asText)
    val cores = plan.get("cores").asInt
    val traced = plan.get("trace").asBoolean
    val workload: Workload = plan.get("workload").asText match {
      case "transfer" => new Transfer(plan, work)
      case "query_mix" => new QueryMix(plan, work)
      case other => sys.error(s"unknown workload $other")
    }

    val t00 = Clock.nowMs
    var spark: SparkSession = null
    val setupS = (0 until plan.get("setup_reps").asInt).map { rep =>
      if (spark != null) stop(spark)
      val t0 = Clock.nowMs
      spark = GraftSession.configure(
          SparkSession.builder().master(s"local[$cores]"), cores, "perfbench")
        .config("spark.sql.warehouse.dir", new File(work, s"warehouse-$rep").getPath)
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .getOrCreate()
      workload.setup(spark, rep)
      (Clock.nowMs - t0) / 1000.0
    }
    spark.sparkContext.setLogLevel("WARN")

    // The warm-up iteration is checked, and a recorder of its own (detached
    // before any timed op) counts the rows entering each op's plans.
    val ops = new Ops(spark)
    val warm = new Recorder
    spark.sparkContext.addSparkListener(warm)
    spark.listenerManager.register(warm)
    workload.iteration(spark, 0, ops)
    warm.drain(spark)
    spark.sparkContext.removeSparkListener(warm)
    spark.listenerManager.unregister(warm)
    workload.afterIteration(spark, 0)
    System.err.println(f"perfbench: set-up and warm-up done at ${(Clock.nowMs - t00) / 1000}%.1f s")

    // Whole passes for `seconds` (half of it untraced, half traced in a
    // traced run): at least `min_passes`, then another while it is expected
    // to end in time. The traced half repeats the untraced half's count.
    val budgetMs = plan.get("seconds").asDouble * 1000 / (if (traced) 2 else 1)
    val minPasses = plan.get("min_passes").asInt
    var recorder: Recorder = null
    var i = 1
    var untracedPasses = 0
    for (phase <- if (traced) Seq("untraced", "traced") else Seq("untraced")) {
      if (phase == "traced") recorder = Recorder.attach(spark)
      ops.phase = phase
      val t0 = Clock.nowMs
      var n = 0
      def another: Boolean =
        if (phase == "traced") n < untracedPasses
        else n < minPasses || (Clock.nowMs - t0) * (n + 1) / n <= budgetMs
      while (another) {
        ops.iter = i
        Spans.enabled = phase == "traced"
        workload.iteration(spark, i, ops)
        Spans.enabled = false
        workload.afterIteration(spark, i)
        i += 1
        n += 1
      }
      if (phase == "untraced") untracedPasses = n
    }
    if (recorder != null) recorder.drain(spark)

    val out = mapper.createObjectNode()
    out.put("cores", cores)
    val setupArr = out.putArray("setup_s")
    setupS.foreach(s => setupArr.add(s))
    out.put("peak_rss_kb", peakRssKb)
    val opsArr = out.putArray("ops")
    ops.all.foreach { o =>
      val n = opsArr.addObject()
      n.put("id", o.id).put("kind", o.kind).put("name", o.name).put("iter", o.iter)
        .put("phase", o.phase).put("start_ms", o.startMs).put("end_ms", o.endMs)
        .put("rows", o.rows).put("bytes", o.bytes)
      if (o.error != null) n.put("error", o.error)
    }
    val outArr = out.putArray("outputs")
    ops.outputs.foreach { case (id, rows) =>
      val n = outArr.addObject()
      n.put("op", id)
      val rs = n.putArray("rows")
      rows.foreach { r =>
        val a = rs.addArray()
        r.toSeq.foreach {
          case null => a.addNull()
          case v: Long => a.add(v)
          case v: Int => a.add(v)
          case v: Double => a.add(v)
          case v: Float => a.add(v.toDouble)
          case v => a.add(v.toString)
        }
      }
    }
    workload.describe(out)
    val warmQes = out.putArray("warmup_query_executions")
    warm.qes.foreach(q =>
      warmQes.addObject().put("start_ms", q.startMs).put("leaf_rows", q.leafRows))
    if (recorder != null) writeTrace(out, recorder)
    stop(spark)
    mapper.writeValue(new File(args(1)), out)
  }

  private def writeTrace(out: ObjectNode, r: Recorder): Unit = r.synchronized {
    val spans = out.putArray("spans")
    Spans.all.foreach { s =>
      spans.addObject().put("name", s.name).put("start_ms", s.startMs)
        .put("end_ms", s.endMs).put("parent", s.parent).put("op", s.op)
    }
    val jobs = out.putArray("jobs")
    r.jobs.values.foreach { j =>
      jobs.addObject().put("id", j.id).put("op", j.op).put("start_ms", j.startMs)
        .put("end_ms", j.endMs)
    }
    val stages = out.putArray("stages")
    r.stages.values.foreach { s =>
      stages.addObject().put("id", s.id).put("attempt", s.attempt).put("job", s.job)
        .put("op", s.op).put("tasks", s.tasks).put("input_tasks", s.inputTasks)
        .put("run_ms", s.runMs).put("cpu_ns", s.cpuNs).put("gc_ms", s.gcMs)
        .put("deser_ms", s.deserMs).put("shuffle_write_b", s.shuffleWrite)
        .put("shuffle_read_b", s.shuffleRead).put("spill_b", s.spill)
        .put("input_b", s.inputBytes)
    }
    val qes = out.putArray("query_executions")
    r.qes.foreach { q =>
      qes.addObject().put("start_ms", q.startMs).put("analysis_ms", q.analysisMs)
        .put("optimization_ms", q.optimizationMs).put("planning_ms", q.planningMs)
        .put("rows_materialized", q.rowsMaterialized)
        .put("widest_rows", q.widestRows)
    }
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** High-water resident set of this JVM (`VmHWM`), or -1 off Linux. */
  private def peakRssKb: Long = {
    val status = new File("/proc/self/status")
    if (!status.exists()) -1L
    else Files.readAllLines(status.toPath).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }

  private def ints(n: JsonNode): Seq[Int] = n.elements().asScala.map(_.asInt).toSeq

  private def fileBytes(path: String): Long = new File(path).length()

  // ------------------------------------------------------------ workloads

  /** E1 → E2 round trip: three exports, then their three re-imports. */
  final class Transfer(plan: JsonNode, work: File) extends Workload {
    private val dataDir = plan.get("data_dir").asText
    private val t = plan.get("transfer")
    private val lineitemSql = t.get("lineitem_sql").asText
    private val eventsSql = t.get("events_sql").asText
    private val slices = t.get("slices").elements().asScala.toIndexedSeq
    private val csvDir = new File(work, "csv")
    private val checkDir = new File(work, "check")
    private var jdbcUrl = ""
    private val jdbcProps = new Properties()
    jdbcProps.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    private val JdbcTable = "LINEITEM_SLICE"

    private def sliceParams(i: Int, lo: String, hi: String): Map[String, Any] = {
      val s = slices(i % slices.size)
      Map("lo" -> s.get(lo).asLong, "hi" -> s.get(hi).asLong)
    }

    def setup(spark: SparkSession, rep: Int): Unit = {
      csvDir.mkdirs()
      Seq("lineitem", "events").foreach(n =>
        Tables.table(spark, dataDir, n).createOrReplaceTempView(n))
      val liSchema = spark.sql(lineitemSql, sliceParams(0, "lo", "hi")).schema
      val evSchema = spark.sql(eventsSql, sliceParams(0, "events_lo", "events_hi")).schema
      spark.catalog.createTable("pb_lineitem", "parquet", liSchema, Map.empty[String, String])
      spark.catalog.createTable("pb_events", "parquet", evSchema, Map.empty[String, String])
      jdbcUrl = s"jdbc:derby:memory:perfbench$rep;create=true"
      val conn = java.sql.DriverManager.getConnection(jdbcUrl, jdbcProps)
      try {
        val cols = liSchema.fields.map(f => s"${f.name.toUpperCase} ${derbyType(f.dataType)}")
        conn.createStatement().execute(s"CREATE TABLE $JdbcTable (${cols.mkString(", ")})")
      } finally conn.close()
    }

    private def derbyType(t: DataType): String = t match {
      case LongType => "BIGINT"
      case IntegerType => "INT"
      case DoubleType => "DOUBLE"
      // Spark's Derby dialect writes strings as CLOB, and Derby will not
      // convert CLOB to VARCHAR on insert
      case StringType => "CLOB"
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case other => sys.error(s"no Derby type for $other")
    }

    private def paths(i: Int) = (new File(csvDir, s"lineitem-$i.csv").getPath,
      new File(csvDir, s"lineitem-$i.csv.gz").getPath, new File(csvDir, s"events-$i.csv").getPath)

    def iteration(spark: SparkSession, i: Int, ops: Ops): Unit = {
      val (plain, gz, events) = paths(i)
      val li = sliceParams(i, "lo", "hi")
      val ev = sliceParams(i, "events_lo", "events_hi")
      val slice = s"slice=${i % slices.size}"
      def export(kind: String, sql: String, path: String, params: Map[String, Any],
                 compression: Option[String]) =
        ops(kind, slice) {
          val r = Spans("operators.QueryToCsv.run") {
            QueryToCsv.run(spark, sql, path, params, compression = compression)
          }
          (r.rowCount, fileBytes(path), Nil)
        }
      export("export_plain", lineitemSql, plain, li, None)
      export("export_gzip", lineitemSql, gz, li, Some("gzip"))
      export("export_events", eventsSql, events, ev, None)
      ops("import_jdbc", slice) {
        val n = Spans("operators.CsvToTable.toJdbc") {
          CsvToTable.toJdbc(spark, jdbcUrl, JdbcTable, plain, truncate = true,
            connectionProperties = jdbcProps)
        }
        (n, fileBytes(plain), Nil)
      }
      ops("import_catalog", slice) {
        val n = Spans("operators.CsvToTable.run") {
          CsvToTable.run(spark, "pb_lineitem", gz,
            CsvDialect(compression = Some("gzip")), truncate = true)
        }
        (n, fileBytes(gz), Nil)
      }
      ops("import_events", slice) {
        val n = Spans("operators.CsvToTable.run") {
          CsvToTable.run(spark, "pb_events", events, truncate = true)
        }
        (n, fileBytes(events), Nil)
      }
    }

    override def afterIteration(spark: SparkSession, i: Int): Unit = {
      val dir = new File(checkDir, i.toString)
      spark.read.jdbc(jdbcUrl, "\"" + JdbcTable + "\"", jdbcProps)
        .write.parquet(new File(dir, "import_jdbc").getPath)
      for ((table, kind) <- Seq("pb_lineitem" -> "import_catalog", "pb_events" -> "import_events")) {
        val target = new File(dir, kind)
        target.mkdirs()
        spark.table(table).inputFiles.foreach { uri =>
          val f = new File(new java.net.URI(uri))
          Files.copy(f.toPath, new File(target, f.getName).toPath)
        }
      }
      val (plain, gz, events) = paths(i)
      Seq(plain, gz, events).foreach(p => new File(p).delete())
    }

    override def describe(out: ObjectNode): Unit = out.put("check_dir", checkDir.getPath)
  }

  /** Short queries: a fixed sample of the registry's delegated-SQL entries
    * (`q…`; every `stride`-th in name order), each built and run to the
    * `noop` sink, and the three exact top-k calls over the embeddings
    * corpus. Every pass runs each of them once, in an order the seed
    * shuffles afresh, so every run times the same multiset of ops. */
  final class QueryMix(plan: JsonNode, work: File) extends Workload {
    private val dataDir = plan.get("data_dir").asText
    private val rnd = new scala.util.Random(plan.get("seed").asLong)
    private val checkDir = new File(work, "check")
    private val stride = plan.get("sql").get("stride").asInt
    private var registry: Map[String, (SparkSession, String) => DataFrame] = Map.empty
    private lazy val entries = registry.keys.filter(_.matches("q[0-9].*")).toIndexedSeq
      .sorted.zipWithIndex.collect { case (name, i) if i % stride == 0 => name }

    private val v = plan.get("topk")
    private val k = v.get("k").asInt
    private val dims = v.get("matryoshka_dims").asInt
    private val batches = v.get("batches").asInt
    private val singles = v.get("singles").asInt
    private val subsets = v.get("subsets").elements().asScala.map(ints).toIndexedSeq
    private var corpus: DataFrame = _
    private var queries: DataFrame = _
    private var singleVecs: Map[Int, Array[Float]] = Map.empty
    private val TopK = Seq("topk_batch", "topk_single", "matryoshka")

    def setup(spark: SparkSession, rep: Int): Unit = {
      registry = SparkEntry.queries
      corpus = Tables.table(spark, dataDir, "embeddings")
      queries = spark.read.parquet(v.get("queries_path").asText)
      singleVecs = queries.where(col("batch") < 0).collect().map { r =>
        r.getAs[Int]("batch") -> r.getAs[Seq[Float]]("embedding").toArray
      }.toMap
    }

    def iteration(spark: SparkSession, i: Int, ops: Ops): Unit =
      rnd.shuffle(entries ++ TopK).foreach {
        case "topk_batch" => topKBatch(i, ops)
        case "topk_single" => topKSingle(i, ops)
        case "matryoshka" => matryoshka(i, ops)
        case name => query(spark, i, ops, name)
      }

    private def query(spark: SparkSession, i: Int, ops: Ops, name: String): Unit =
      ops("query", name) {
        val df = Spans("Queries.build")(registry(name)(spark, dataDir))
        Spans("driver.exec") {
          if (i == 0) df.write.parquet(new File(checkDir, name).getPath)
          else df.write.format("noop").mode("overwrite").save()
        }
        (0L, 0L, Nil)
      }

    private def collected(df: DataFrame) = {
      val rows = Spans("driver.collect")(df.collect().toSeq)
      (rows.size.toLong, 0L, rows)
    }

    private def topKBatch(i: Int, ops: Ops): Unit = {
      val batch = i % batches
      ops("topk_batch", s"batch=$batch")(collected(
        Spans("operators.SimilaritySearch.topKAll") {
          SimilaritySearch.topKAll(corpus, queries.where(col("batch") === batch),
            "vec_id", "embedding", "query_id", k, excludeSelf = false)
        }))
    }

    private def topKSingle(i: Int, ops: Ops): Unit = {
      val single = -1 - i % singles
      ops("topk_single", s"batch=$single")(collected(
        Spans("operators.SimilaritySearch.topK") {
          SimilaritySearch.topK(corpus, "vec_id", "embedding", singleVecs(single), k)
        }))
    }

    private def matryoshka(i: Int, ops: Ops): Unit = {
      val subset = i % subsets.size
      ops("matryoshka", s"subset=$subset")(collected(
        Spans("operators.SimilaritySearch.matryoshkaRecall") {
          SimilaritySearch.matryoshkaRecall(
            corpus.where(col("vec_id").isin(subsets(subset): _*)),
            "vec_id", "embedding", dims, k)
        }))
    }

    override def describe(out: ObjectNode): Unit = {
      out.put("check_dir", checkDir.getPath)
      val oracles = out.putObject("oracle_sql")
      entries.foreach(e => SparkEntry.oracleSql.get(e).foreach(oracles.put(e, _)))
    }
  }
}
