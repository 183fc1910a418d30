package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Benchmark main — the one harness that times registry entries on
  * SPARK_GRAFT_SF_DIR. Results go to the `noop` sink so the WHOLE plan
  * (projections included) executes — `count()` would let Spark skip
  * expression evaluation entirely.
  *
  * With no arguments it times every entry and prints one JSON line.
  * Measurement protocol (drift-proofing): one warmup pass absorbs JIT +
  * codegen + plan-cache + file-listing cost, then THREE steady passes; the
  * reported per-entry number is the MEDIAN of the three — single-shot
  * steady numbers were observed drifting ±3× round-to-round on unchanged
  * code, medians are stable. Per-entry medians are re-emitted at the end of
  * stdout as multiple SHORT JSON lines (compact gate ids `q01`, `x02b`,
  * ...): extension chunks first, a q-surface line, then the FINAL line — a
  * dense all-entry median array in sorted-entry-name order, ~1.6k chars, so
  * the 2000-char log tail always captures EVERY per-entry median (see the
  * emission-contract comment at the bottom).
  *
  * With entry names as arguments it times each named entry in isolation
  * (same protocol, one entry at a time: a warmup run, then the median of
  * the steady runs), appends `TIMING <name> <median>` to /tmp/timings.txt
  * — the isolated log TIMING_DELTA compares against — and prints the
  * entry's exact execution shape as
  * `JOBCOUNT <name> jobs= stages= tasks= wall=` for its first steady run.
  * Wall medians drift with JVM/JIT/load; job and stage counts do not, so
  * a "this change removes N redundant passes" claim is checkable
  * before/after. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val steadyPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt, "graft-bench")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks.toLong)
      }
    })

    // Release per-entry state so one entry's caches can't pollute the next
    // entry's number: the X-operators localCheckpoint their (small) results,
    // and those blocks are owned by frames this loop immediately drops —
    // without an explicit sweep the block manager accumulates ~40 checkpoint
    // RDDs by pass 2 and the small entries pay GC/eviction noise (the r3
    // events-cluster mirage). getPersistentRDDs covers BOTH persist() frames
    // and localCheckpoint block RDDs; clearCache covers catalog-registered
    // cached plans.
    def releaseState(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }

    // The listener bus delivers events asynchronously: the isolated mode
    // waits for the previous run's stragglers before resetting the counters
    // and for this run's before reading them.
    def drain(): Unit = if (args.nonEmpty) Thread.sleep(200)

    /** One run of an entry: build + execute to the noop sink (timed, -1 on
      * failure), the jobs/stages/tasks it launched, then the state release. */
    final case class Run(sec: Double, jobs: Int, stages: Int, tasks: Long)
    def runEntry(name: String): Run = {
      drain()
      jobs.set(0); stages.set(0); tasks.set(0)
      val t0 = System.nanoTime()
      val sec =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0 }
      drain()
      val run = Run(sec, jobs.get, stages.get, tasks.get)
      releaseState()
      run
    }

    def median(vs: Seq[Double]): Double = {
      val s = vs.sorted; s(s.length / 2)
    }
    def fmt(v: Double): String = f"$v%.3f"

    // ALL structured output goes straight to the process file descriptors,
    // never through System.out: under an in-process sbt `runMain`,
    // System.out is replaced by sbt's logger, which (a) prefixes every line
    // with "[info] " and (b) flushes asynchronously AFTER the main returns —
    // both defeat a downstream parser that reads the LAST stdout line as
    // JSON. The original fds are untouched by that capture, so writing to
    // FileDescriptor.out lands bare lines in the real stdout in program
    // order. Standalone (plain java / spark-submit) these fds ARE
    // System.out/err, and because we never ALSO println the same payload,
    // each line is emitted exactly once in either environment. The streams
    // are held in vals and never closed — closing a
    // FileOutputStream(FileDescriptor.out) closes fd 1 JVM-wide.
    val rawOut = new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")
    val rawErr = new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.err), true, "UTF-8")

    if (args.nonEmpty) {
      val log = new java.io.PrintWriter(
        new java.io.FileWriter("/tmp/timings.txt", true), true)
      try args.foreach { n =>
        val warm = runEntry(n) // warmup: JIT + codegen + file listing
        val steady = Seq.fill(steadyPasses)(runEntry(n))
        if ((warm +: steady).exists(_.sec < 0)) log.println(s"TIMING $n FAILED")
        else {
          log.println(f"TIMING $n ${median(steady.map(_.sec))}%.2f")
          val c = steady.head
          rawOut.println(f"JOBCOUNT $n jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks} wall=${c.sec}%.2f")
        }
      } finally log.close()
      spark.stop()
      return
    }

    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    def onePass(): Seq[(String, Double)] =
      ordered.map { case (name, _) => name -> runEntry(name).sec }

    val warmup = onePass()
    val passes = Seq.fill(steadyPasses)(onePass())
    val results = ordered.map { case (name, _) =>
      name -> median(passes.map(_.toMap.apply(name)))
    }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val warmTotal = warmup.map(_._2).filter(_ >= 0).sum

    // Compact gate ids for the tail-safe medians map: the token before the
    // first underscore (q01, x02b, ...) — unique for every entry except the
    // x03c family, which keeps its full names.
    val prefixCount = ordered.map(_._1.split("_").head)
      .groupBy(identity).map { case (k, vs) => k -> vs.size }
    def shortName(n: String): String = {
      val p = n.split("_").head
      if (prefixCount(p) == 1) p else n
    }
    val meds = results.map { case (k, v) => "\"" + shortName(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")

    // Steady-state guard: diff the medians against the isolated (named-entry)
    // timing log when one exists — a mechanical tripwire for measurement
    // artifacts (entry >1.3× its isolated number AND >0.3s absolute drift).
    val isoLog = new java.io.File("/tmp/timings.txt")
    val delta =
      if (!isoLog.isFile) "absent"
      else {
        val src = scala.io.Source.fromFile(isoLog)
        val iso =
          try src.getLines().flatMap { l =>
            l.trim.split("\\s+") match {
              case Array("TIMING", n, v) => scala.util.Try(n -> v.toDouble).toOption
              case _ => None
            }
          }.toSeq.groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
          finally src.close()
        val sus = results.collect {
          case (n, v) if iso.contains(n) && v > 1.3 * iso(n) && v - iso(n) > 0.3 =>
            f""""$n":[$v%.2f,${iso(n)}%.2f]"""
        }
        if (sus.isEmpty) "none" else sus.mkString("{", ",", "}")
      }
    System.err.println(s"TIMING_DELTA $delta")

    spark.stop()

    rawOut.println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","first_pass_total":${fmt(warmTotal)},"passes":${steadyPasses + 1},"stat":"median_of_$steadyPasses","medians":$meds}""")
    // The medians again at the very END of stdout, AND as a file. The log
    // harness keeps only the LAST 2000 chars of stdout and parses the final
    // line as JSON — at 176+ entries a single compact line is ~2.9k chars,
    // so its head (and JSON validity) fell outside the window every round
    // since r8. Emission contract, back-to-front: the FINAL line is a dense
    // all-entry median ARRAY (sorted-entry-name order, ~1.6k chars — fits
    // the window whole, so every per-entry median survives); before it a
    // named q-surface line and extension-median chunk lines, each an
    // independently valid JSON object ≤ ~1.3k chars, ordered so the lines
    // most likely to be cut are FIRST. The full single-line
    // compact form still goes to stderr and to /tmp/bench_medians.json for
    // the committed BENCH_MEDIANS.json snapshot. build.sbt sets
    // `Global / showSuccess := false` so sbt appends no "[success] Total
    // time" epilogue after the final line.
    val compact = s"""{"medians":$meds,"total":${fmt(total)},"sf":"$sfDir"}"""
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Path.of("/tmp/bench_medians.json"), compact + "\n")
    } catch { case e: Exception =>
      System.err.println(s"[bench] medians file write failed: ${e.getMessage}")
    }
    rawErr.println(compact)
    val (qMeds, xMeds) = results.partition(_._1.startsWith("q"))
    def entryJson(kv: (String, Double)): String =
      "\"" + shortName(kv._1) + "\":" + fmt(kv._2)
    // Greedy ≤1300-char chunks of the extension medians, each line a valid
    // standalone JSON object tagged with its chunk index, its own SUM and
    // row count, and its first entry id. At 205+ entries early chunks
    // scroll out of the 2000-char tail, so the FINAL line repeats every
    // chunk's (first-entry, n, sum) — the driver file then pins
    // chunk-level drift for the whole x-surface even when the per-entry
    // medians of early chunks are lost to the window.
    // fold state carries each open chunk's running char length so entries
    // are stringified once, not re-serialized per step
    val xChunks = xMeds.foldLeft(
      Vector.empty[Vector[(String, Double)]] -> 0) { case ((acc, len), kv) =>
        val e = entryJson(kv)
        if (acc.isEmpty || len + 1 + e.length > 1300)
          (acc :+ Vector(kv)) -> e.length
        else (acc.init :+ (acc.last :+ kv)) -> (len + 1 + e.length)
    }._1
    def chunkSum(c: Vector[(String, Double)]): String =
      fmt(c.map(_._2).filter(_ >= 0).sum)
    xChunks.zipWithIndex.foreach { case (chunk, i) =>
      rawOut.println(
        s"""{"medians_x${i + 1}":${chunk.map(entryJson).mkString("{", ",", "}")},"xchunks":${xChunks.size},"n":${chunk.size},"sum":${chunkSum(chunk)}}""")
    }
    val xChunkMeta = xChunks.map(c =>
      s"""{"from":"${shortName(c.head._1)}","n":${c.size},"sum":${chunkSum(c)}}""")
      .mkString("[", ",", "]")
    val qJson = qMeds.map(entryJson).mkString("{", ",", "}")
    rawOut.println(
      s"""{"medians":$qJson,"total":${fmt(total)},"sf":"$sfDir","xchunks":${xChunks.size},"xchunk_sums":$xChunkMeta,"entries":${results.size}}""")
    // FINAL line: ALL per-entry medians as a dense array in sorted-entry-name
    // order (`ordered` is already sorted; q-entries precede x-entries in
    // ASCII). Named-map spellings can never fit every entry into the log
    // harness's 2000-char tail (247 entries × ~13 chars named ≈ 3.2k — the
    // r16 artifact lost its first x-chunk this way), but the dense array is
    // ~6 chars/entry (trailing zeros stripped) ≈ 1.6k, so the artifact is
    // per-entry self-sufficient: names come from "entries" + the sorted
    // registry (BENCH_MEDIANS.json carries the same names, committed). -1
    // marks a failed entry, matching the named lines' convention.
    def dense(v: Double): String = {
      val s = fmt(v)
      if (!s.contains('.')) s
      else s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse
    }
    // names_sha pins the POSITIONAL name mapping: the dense array is only
    // decodable against the sorted entry-name list, and a bare "n" count
    // can't catch a same-size rename/replace — consumers must check this
    // 8-hex sha256 prefix of the comma-joined sorted names against the one
    // they derive from their name snapshot (BENCH_MEDIANS.json / the
    // registry) and fail loudly on mismatch instead of misattributing
    // every median after the first drifted index.
    val namesSha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(results.map(_._1).mkString(",").getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
    rawOut.println(
      s"""{"m":[${results.map(r => dense(r._2)).mkString(",")}],"n":${results.size},"names_sha":"$namesSha","order":"sorted_entry_names","total":${fmt(total)},"sf":"$sfDir"}""")
  }
}
