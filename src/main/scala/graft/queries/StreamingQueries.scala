package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Queries.{DeclaredQuery, round4}
import graft.sources.Tables
import graft.streaming.{DocumentStreams, EventStreams}

/** The streaming family of the registry: the engine's "continuous COPY"
  * face, gated like every other entry. Each entry replays a batch table
  * through one streaming operator on the [[StreamReplay]] scaffold (staged
  * parquet input, file-stream source, sentinel flushes, drain, sink read
  * back) and keeps only its operator call, flush times and result
  * projection, plus the batch oracle the replayed result must equal.
  * [[graft.Queries.all]] concatenates [[all]]. */
object StreamingQueries {

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Tables.table(s, d, n)

  /** The interval-join family (x80 inner, x92 left_outer, x116
    * full_outer): views and purchases replay as two watermarked streams,
    * three files each, joined per user within [0, 6h]. The outer faces
    * flush both streams twice past hi + maxDelay, so every unmatched row
    * seals and drains. */
  private def intervalJoinReplay(s: SparkSession, d: String, prefix: String,
                                 joinType: String,
                                 perFile: Boolean = true): DataFrame = {
    val ev = t(s, d, "events")
      .select("event_id", "ts", "user_id", "event_type")
    val span = StreamReplay.span(ev)
    val maxDelayMs = 6L * 3600 * 1000
    val replay = StreamReplay(s, prefix)
    replay.parts(ev.where(col("event_type") === "view"), 3, "views")
    replay.parts(ev.where(col("event_type") === "purchase"), 3, "purchases")
    replay.run(EventStreams.intervalJoin(replay.eventSource("views", perFile),
          replay.eventSource("purchases", perFile), "user_id",
          maxDelay = "6 hours", watermark = span.watermark,
          joinType = joinType),
        stateful = true,
        flushAt = if (joinType == "inner") Nil
          else Seq(1L, 2L).map(h => span.sealMs + maxDelayMs + h * 3600000L))
      .where(col("user_id") =!= StreamReplay.FlushUser)
      .select(col("user_id"), col("l_id"), col("r_id"),
        col("l_ts").cast("timestamp_ntz").as("l_ts"),
        col("r_ts").cast("timestamp_ntz").as("r_ts"))
      .orderBy("user_id", "l_id", "r_id")
  }

  private val x68 = DeclaredQuery("x68_streaming_latest_replay",
    // The streaming ingest face driven END-TO-END inside the gate: events
    // are split into four parquet replay files, streamed one file per
    // micro-batch through EventStreams.latestPerKey (Complete mode, so the
    // state store carries each user's current row ACROSS micro-batches via
    // the graft_latest aggregate's serialize/merge contract), and the
    // query's FINAL state table is returned. keepLatest's max_by semantics
    // are arrival-order independent — whatever order the source lists the
    // files in, the final state must equal the batch x48 spelling
    // bit-for-bit, so the oracle is the SAME window SQL over events. This
    // is the one entry where a streaming regression (state-store
    // serialization, complete-mode re-emission, file-source replay) breaks
    // the driver gate rather than only the specs.
    (s, d) => {
      val ev = t(s, d, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      val replay = StreamReplay(s, "graft-x68")
      // any split works: the state must fold ACROSS batch boundaries, and
      // keepLatest makes the result file-order independent
      replay.parts(ev, 4)
      replay.run(EventStreams.latestPerKey(replay.source(), Seq("user_id"),
            Seq("ts", "event_id")),
          StreamReplay.Complete, stateful = true)
        .select("user_id", "event_id", "ts", "event_type", "value")
        .orderBy("user_id")
    },
    Some("""SELECT user_id, event_id, ts, event_type, value FROM (
  SELECT user_id, event_id, ts, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1 ORDER BY user_id"""))

  private val x78 = DeclaredQuery("x78_streaming_vocab_replay",
    // the OTHER streaming face in the driver gate: documents split into
    // three replay files, streamed one per micro-batch through
    // DocumentStreams.vocabTracker — each batch loads the persisted
    // per-language HLL artifact, folds the batch's words in, and swaps
    // the state via the Hadoop-FS parked-rename protocol (three swaps per
    // run, so a regression in the crash-safe swap or the merge contract
    // breaks this entry). Rows-only SELF-VALIDATING: the final estimates
    // must sit within 5% of the exact per-language distinct-word counts
    // computed in-entry (the corpus vocabulary is small enough that HLL
    // is usually in its exact sparse regime; the flag allows the bound,
    // not just equality — the honest HLL contract).
    (s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "lang", "text")
      val replay = StreamReplay(s, "graft-x78")
      replay.ordered((0 until 3).map(i =>
        docs.where(pmod(col("doc_id"), lit(3)) === i).select("lang", "text")))
      val state = replay.path("state")
      replay.drive() { ckpt =>
        DocumentStreams.vocabTracker(replay.source(), "lang", "text", state,
          ckpt)
      }
      val est = graft.operators.SketchStats.load(s, state)
        .select(col("__lang").as("lang"),
          hll_sketch_estimate(col("sketch")).cast("long").as("est_distinct"))
      val exact = docs
        .select(col("lang"), explode(split(col("text"), "\\s+")).as("w"))
        .where(length(col("w")) > 0)
        .groupBy("lang").agg(count_distinct(col("w")).as("exact_distinct"))
      est.join(exact, Seq("lang"))
        .select(col("lang"), col("est_distinct"), col("exact_distinct"),
          (abs(col("est_distinct").cast("double")
            / col("exact_distinct").cast("double") - 1.0) <= 0.05)
            .as("within_bound"))
        .orderBy("lang")
    },
    None)

  private val x79 = DeclaredQuery("x79_streaming_session_replay",
    // sessionization driven END-TO-END through the stateful
    // flatMapGroupsWithState path (EventStreams.closedUserSessions): each
    // user's OPEN sessions live in the state store across the three replay
    // batches, and the sentinel flushes seal them (event-time timeouts
    // drain the rest). No event is ever late (StreamReplay.Span), so the
    // sealed sessions must equal batch session_window EXACTLY, and the
    // oracle is x32c's gaps-and-islands spelling (strict 30-min break) at
    // the operator's native microsecond precision. A regression in the
    // interval-merge fold, the µs seal arithmetic, state encoding, or
    // timeout draining breaks this entry, not just StreamingSpec.
    (s, d) => {
      val ev = t(s, d, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      val span = StreamReplay.span(ev)
      val gapMs = 30L * 60 * 1000
      val replay = StreamReplay(s, "graft-x79")
      replay.parts(ev, 3)
      replay.run(EventStreams.closedUserSessions(s, replay.eventSource(),
            gapMs = gapMs, watermark = span.watermark).toDF(),
          stateful = true,
          flushAt = Seq(1L, 2L).map(h => span.sealMs + gapMs + h * 3600000L))
        .where(col("user_id") =!= StreamReplay.FlushUser)
        .select(col("user_id"),
          timestamp_micros(col("start_us")).cast("timestamp_ntz")
            .as("session_start"),
          timestamp_micros(col("end_us")).cast("timestamp_ntz")
            .as("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    },
    Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t FROM events),
m AS (SELECT user_id, t,
  CASE WHEN t >= LAG(t) OVER (PARTITION BY user_id ORDER BY t) + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
  FROM e),
s AS (SELECT user_id, t,
  SUM(brk) OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM m)
SELECT user_id, MIN(t) AS session_start, MAX(t) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"""))

  private val x80 = DeclaredQuery("x80_streaming_interval_join",
    // stream-stream interval join END-TO-END in the gate: view events
    // (impressions) and purchase events (conversions) replay as TWO
    // watermarked file streams, three micro-batches each, through
    // EventStreams.intervalJoin — every inner pair within [0, 6h] on the
    // same user must emit exactly once, across whatever batch alignment
    // the two sources happen to take. The watermark delay spans the whole
    // event range so no buffered row is ever evicted before its matches
    // arrive (state eviction under a TIGHT bound is pinned separately in
    // StreamingSpec via state-store metrics); inner-join emission itself
    // is watermark-independent, so the final pair set must equal the
    // batch interval-overlap spelling bit-for-bit.
    (s, d) => intervalJoinReplay(s, d, "graft-x80", "inner"),
    Some("""SELECT l.user_id, l.event_id AS l_id, r.event_id AS r_id,
       CAST(l.ts AS TIMESTAMP) AS l_ts, CAST(r.ts AS TIMESTAMP) AS r_ts
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND l.event_type = 'view' AND r.event_type = 'purchase'
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 6 HOUR
ORDER BY l.user_id, l_id, r_id"""))

  private val x86 = DeclaredQuery("x86_streaming_dedup_replay",
    // the FOURTH stateful streaming kernel inside the driver gate
    // (completing x68 aggregate-state / x79 flatMapGroupsWithState / x80
    // join-state): cross-batch DEDUP state. Events replay in three
    // micro-batches through EventStreams.dedupEvents
    // (dropDuplicatesWithinWatermark on (user_id, event_type)); the
    // watermark delay spans the whole event range so no key is ever
    // evicted mid-replay, and a duplicate arriving in a LATER micro-batch
    // than its first copy must still be suppressed by the state store.
    // Which physical row survives depends on arrival order, so the entry
    // projects the KEY SET — exactly the order-independent face — which
    // must equal batch DISTINCT bit-for-bit. A regression in dedup state
    // retention (keys forgotten between batches → extra rows would
    // survive and the row count changes) or in eviction arithmetic breaks
    // the gate hash.
    (s, d) => {
      val ev = t(s, d, "events").select("event_id", "ts", "user_id", "event_type")
      val span = StreamReplay.span(ev)
      val replay = StreamReplay(s, "graft-x86")
      replay.parts(ev, 3)
      replay.run(EventStreams.dedupEvents(replay.eventSource(),
            Seq("user_id", "event_type"), watermark = span.watermark),
          stateful = true)
        .select("user_id", "event_type")
        .orderBy("user_id", "event_type")
    },
    Some("""SELECT DISTINCT user_id, event_type FROM events
ORDER BY user_id, event_type"""))

  private val x92 = DeclaredQuery("x92_streaming_outer_interval_join",
    // the LEFT_OUTER face of the streaming interval join, driver-gated
    // (x80 gates the inner face): every view must emit EXACTLY ONCE —
    // with its purchase pairs if any arrived within [0, 6h], or ONE
    // null-padded row after the watermark proves no match can still
    // arrive. That sealing path (null emission only after the global
    // watermark passes l_ts + maxDelay, driven by Spark's no-data
    // batches) is the regression surface StreamingSpec alone guarded
    // until r16. Oracle: the batch LEFT JOIN with the identical interval
    // condition
    // (NULLS FIRST spelled to match Spark's ASC default).
    (s, d) => intervalJoinReplay(s, d, "graft-x92", "left_outer"),
    Some("""SELECT l.user_id, l.event_id AS l_id, r.event_id AS r_id,
       CAST(l.ts AS TIMESTAMP) AS l_ts, CAST(r.ts AS TIMESTAMP) AS r_ts
FROM (SELECT * FROM events WHERE event_type = 'view') l
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 6 HOUR
ORDER BY l.user_id, l_id, r_id NULLS FIRST"""))

  private val x101 = DeclaredQuery("x101_streaming_enrich",
    // the STATELESS streaming face the stateful gates (x68/x79/x80/x86/
    // x92) don't cover: stream-static dimension enrichment
    // (EventStreams.enrichWithDim). Events replay in three micro-batches
    // against a static per-user purchase-count dim; the static side is
    // broadcast and re-planned per batch, no watermark, no join state —
    // every event must emit EXACTLY ONCE, in its arrival batch, carrying
    // its user's dim row (or NULL under left_outer for never-purchasing
    // users). A regression in per-batch static re-planning, broadcast
    // semantics, or left-preservation drops/duplicates/null-pads rows and
    // breaks the batch LEFT JOIN hash.
    (s, d) => {
      val ev = t(s, d, "events")
        .select("event_id", "ts", "user_id", "event_type")
      val dim = ev.where(col("event_type") === "purchase")
        .groupBy("user_id").agg(count(lit(1)).as("n_purchases"))
      val replay = StreamReplay(s, "graft-x101")
      replay.parts(ev, 3)
      replay.run(EventStreams
          .enrichWithDim(replay.source(), dim, Seq("user_id"), "left_outer")
          .select("event_id", "user_id", "event_type", "n_purchases"))
        .orderBy("event_id", "user_id", "event_type")
    },
    Some("""WITH dim AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purchases
  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
SELECT e.event_id, e.user_id, e.event_type, dim.n_purchases
FROM events e LEFT JOIN dim USING (user_id)
ORDER BY e.event_id, e.user_id, e.event_type"""))

  private val x112 = DeclaredQuery("x112_streaming_blocklist",
    // the filtering face of the stream-static family (x101 gates the
    // enrichment face): EventStreams.excludeByDim drops every event whose
    // user sits on a static blocklist (here: users with ≥ 20 purchases),
    // via a stateless broadcast LEFT ANTI join re-planned per
    // micro-batch. Events replay in three micro-batches; every surviving
    // event must emit EXACTLY ONCE and every blocklisted user's events
    // must ALL be absent — the batch NOT-EXISTS oracle breaks on a
    // dropped, duplicated, or leaked row.
    (s, d) => {
      val ev = t(s, d, "events")
        .select("event_id", "ts", "user_id", "event_type")
      val block = ev.where(col("event_type") === "purchase")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .where(col("n") >= 20).select("user_id")
      val replay = StreamReplay(s, "graft-x112")
      replay.parts(ev, 3)
      replay.run(EventStreams.excludeByDim(replay.source(), block, Seq("user_id"))
          .select("event_id", "user_id", "event_type"))
        .orderBy("event_id", "user_id", "event_type")
    },
    Some("""WITH b AS (
  SELECT user_id FROM events WHERE event_type = 'purchase'
  GROUP BY user_id HAVING COUNT(*) >= 20)
SELECT e.event_id, e.user_id, e.event_type
FROM events e
WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.user_id = e.user_id)
ORDER BY e.event_id, e.user_id, e.event_type"""))

  private val x116 = DeclaredQuery("x116_streaming_full_outer_interval_join",
    // the FULL_OUTER face completing the streaming interval-join family
    // (x80 inner, x92 left_outer): every view emits once — paired or
    // null-padded after its seal — AND every purchase no view can claim
    // (the attribution hole) emits once with null left columns, after the
    // watermark proves no impression can still pair with it (its
    // candidate window is [r_ts − 6h, r_ts], so the right row seals at
    // its OWN timestamp + the delay). The initial files land in ONE
    // micro-batch: the outer faces are driven by the sentinel flushes, and
    // per-file batching only multiplied the fixed micro-batch cost (x92
    // keeps the per-file face). Oracle: the batch FULL JOIN with the
    // identical interval condition (user_id coalesced across sides, NULLS
    // FIRST spelled to match Spark's ASC default).
    (s, d) => intervalJoinReplay(s, d, "graft-x116", "full_outer",
      perFile = false),
    Some("""SELECT COALESCE(l.user_id, r.user_id) AS user_id,
       l.event_id AS l_id, r.event_id AS r_id,
       CAST(l.ts AS TIMESTAMP) AS l_ts, CAST(r.ts AS TIMESTAMP) AS r_ts
FROM (SELECT * FROM events WHERE event_type = 'view') l
FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 6 HOUR
ORDER BY user_id, l_id NULLS FIRST, r_id NULLS FIRST"""))

  private val x138 = DeclaredQuery("x138_streaming_cusum",
    // The x126 CUSUM monitor run ONLINE (EventStreams.cusumMonitor): the
    // closed form is exactly incrementalizable, so per-key state is four
    // doubles + the last order key however long the series runs. The
    // per-type daily series replays in three ORDERED micro-batches;
    // every point's statistics are final on emission (Append mode), and
    // the oracle is the BATCH closed form — the streaming recursion must
    // be bit-identical to the window spelling on the same
    // integer-exact series. Day axis derives from the data's min date.
    (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val levels = daily.groupBy("event_type")
        .agg(sum("cnt").as("__sc"), count(lit(1)).as("__nd"))
        .select(col("event_type"), expr("__sc div __nd").as("target"))
        .withColumn("k", greatest(lit(1L), expr("target div 20")))
        .withColumn("h", col("k") * 5)
      val mn = daily.agg(min("day").as("__mn"))
      val series = daily.join(levels, Seq("event_type"))
        .crossJoin(broadcast(mn))
        .select(col("event_type").as("key"),
          datediff(col("day"), col("__mn")).cast("long").as("ord"),
          col("cnt").cast("double").as("value"),
          col("target").cast("double").as("target"),
          col("k").cast("double").as("allow"),
          col("h").cast("double").as("thresh"))
      val replay = StreamReplay(s, "graft-x138")
      replay.ordered(Seq((0L, 10L), (10L, 20L), (20L, 100000L)).map {
        case (lo, hi) => series.where(col("ord") >= lo && col("ord") < hi)
      })
      replay.run(EventStreams.cusumMonitor(s, replay.source()).toDF(),
          stateful = true)
        .orderBy("key", "ord")
    },
    Some("""WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2),
mn AS (SELECT MIN(day) AS mnd FROM d),
lv AS (
  SELECT event_type,
    CAST(SUM(cnt) // COUNT(*) AS BIGINT) AS target,
    CAST(GREATEST(1, (SUM(cnt) // COUNT(*)) // 20) AS BIGINT) AS k
  FROM d GROUP BY 1),
j AS (
  SELECT d.event_type AS key, CAST(d.day - mn.mnd AS BIGINT) AS ord,
    CAST(d.cnt AS DOUBLE) AS value, CAST(lv.target AS DOUBLE) AS t,
    CAST(lv.k AS DOUBLE) AS kk, CAST(lv.k * 5 AS DOUBLE) AS h
  FROM d JOIN lv USING (event_type), mn),
p AS (
  SELECT *,
    SUM(value - t - kk) OVER w AS p_up,
    SUM(t - value - kk) OVER w AS p_dn
  FROM j
  WINDOW w AS (PARTITION BY key ORDER BY ord
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
c AS (
  SELECT *,
    p_up - LEAST(MIN(p_up) OVER w, 0) AS cusum_up,
    p_dn - LEAST(MIN(p_dn) OVER w, 0) AS cusum_dn
  FROM p
  WINDOW w AS (PARTITION BY key ORDER BY ord
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT key, ord, value, cusum_up, cusum_dn,
  cusum_up > h AS alarm_up, cusum_dn > h AS alarm_dn
FROM c ORDER BY key, ord"""))

  private val x146 = DeclaredQuery("x146_streaming_drift_replay",
    // The x39 PSI drift monitor run AT INGEST TIME (EventStreams
    // .binnedHistogram): bin edges are the reference slice's exact
    // quantiles fitted BATCH-side (a model artifact — the x39 recipe),
    // the current corpus replays as 10-day ingest phases in ordered
    // micro-batches, each row bins map-only against the literal edge
    // fold, and a tumbling-window
    // streaming count emits each phase's histogram EXACTLY ONCE when the
    // watermark seals it — state is ≤ 5 bucket rows per open phase,
    // partial-aggregated map-side. PSI assembly (reference join +
    // eps-clamped terms, per phase) is batch arithmetic over the k-row
    // sink. Event time is synthesized as epoch + ord days so the 10-day
    // tumbling windows ARE the ingest phases; two far-future sentinel
    // flushes (non-NULL value — the filter pushes below the watermark
    // node, so a NULL row would not advance event time; their own window
    // never seals) drive the two-step watermark ratchet. Oracle: the
    // full batch derivation — QUANTILE_CONT fit, phase histograms, the
    // x39 eps-clamp/ln spelling — per phase.
    (s, d) => {
      val ev = t(s, d, "events").select(col("ts"), col("value"))
        .where(col("value").isNotNull)
      val mn = ev.agg(min(to_date(col("ts"))).as("__mn"))
      val base = ev.crossJoin(broadcast(mn))
        .select(
          datediff(to_date(col("ts")), col("__mn")).cast("long").as("ord"),
          col("value").cast("double").as("value"))
      val ref = base.where(col("ord") < 10)
      val edges = graft.operators.Percentiles.exactGlobalValues(
        ref, "value", Seq(0.2, 0.4, 0.6, 0.8)).flatten
      def bucketOf(v: org.apache.spark.sql.Column) =
        edges.foldLeft(lit(1)) { (acc, t) =>
          acc + when(v >= t, 1).otherwise(0)
        }
      val refH = ref.select(bucketOf(col("value")).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_ref"))
      val cur = base.where(col("ord") >= 10)
        .select(timestamp_seconds(col("ord") * 86400L).as("ts"),
          col("value"))
      val replay = StreamReplay(s, "graft-x146")
      replay.ordered(Seq((10L, 20L), (20L, 100000L)).map { case (lo, hi) =>
        cur.where(col("ts") >= timestamp_seconds(lit(lo * 86400L))
          && col("ts") < timestamp_seconds(lit(hi * 86400L)))
      })
      val got = replay.run(EventStreams.binnedHistogram(replay.source(),
            "value", edges, window_ = "10 days", watermark = "0 seconds"),
          stateful = true,
          flushAt = Seq(200000L, 200010L).map(_ * 86400000L))
        .where(col("ws") < timestamp_seconds(lit(100000L * 86400L)))
        .select((col("ws").cast("long") / 86400L).cast("long").as("phase"),
          col("bucket"), col("n_cur"))
      val spine = got.select("phase").distinct()
        .crossJoin(s.range(1, 6).select(col("id").cast("int").as("bucket")))
      val wPhase = org.apache.spark.sql.expressions.Window
        .partitionBy("phase")
      def clamp(c: org.apache.spark.sql.Column) = greatest(c, lit(1e-6))
      spine
        .join(got, Seq("phase", "bucket"), "left")
        .join(refH, Seq("bucket"), "left")
        .na.fill(0L, Seq("n_cur", "n_ref"))
        .withColumn("p_ref",
          col("n_ref").cast("double") / sum("n_ref").over(wPhase))
        .withColumn("p_cur",
          col("n_cur").cast("double") / sum("n_cur").over(wPhase))
        .select(col("phase"), col("bucket"), col("n_ref"), col("n_cur"),
          round4(col("p_ref")).as("p_ref"),
          round4(col("p_cur")).as("p_cur"),
          round4((clamp(col("p_cur")) - clamp(col("p_ref")))
            * log(clamp(col("p_cur")) / clamp(col("p_ref"))))
            .as("psi_term"))
        .orderBy("phase", "bucket")
    },
    Some("""WITH d AS (
  SELECT CAST(ts AS DATE) AS day, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL),
mn AS (SELECT MIN(day) AS mnd FROM d),
o AS (SELECT CAST(day - mn.mnd AS BIGINT) AS ord, v FROM d, mn),
r0 AS (SELECT v FROM o WHERE ord < 10),
e AS (SELECT QUANTILE_CONT(v, 0.2) AS e1, QUANTILE_CONT(v, 0.4) AS e2,
             QUANTILE_CONT(v, 0.6) AS e3, QUANTILE_CONT(v, 0.8) AS e4
      FROM r0),
rb AS (SELECT 1 + CAST(v >= e1 AS INT) + CAST(v >= e2 AS INT)
         + CAST(v >= e3 AS INT) + CAST(v >= e4 AS INT) AS bucket
       FROM r0 CROSS JOIN e),
rc AS (SELECT bucket, COUNT(*) AS n_ref FROM rb GROUP BY 1),
cb AS (SELECT ord // 10 * 10 AS phase,
         1 + CAST(v >= e1 AS INT) + CAST(v >= e2 AS INT)
         + CAST(v >= e3 AS INT) + CAST(v >= e4 AS INT) AS bucket
       FROM o CROSS JOIN e WHERE ord >= 10),
cc AS (SELECT phase, bucket, COUNT(*) AS n_cur FROM cb GROUP BY 1, 2),
ph AS (SELECT DISTINCT phase FROM cc),
b AS (SELECT CAST(i AS INT) AS bucket FROM range(1, 6) t(i)),
sp AS (SELECT phase, bucket FROM ph CROSS JOIN b),
j AS (SELECT sp.phase, sp.bucket, COALESCE(rc.n_ref, 0) AS n_ref,
             COALESCE(cc.n_cur, 0) AS n_cur
      FROM sp LEFT JOIN rc USING (bucket)
              LEFT JOIN cc USING (phase, bucket)),
p AS (SELECT *,
        n_ref * 1.0 / SUM(n_ref) OVER (PARTITION BY phase) AS p_ref,
        n_cur * 1.0 / SUM(n_cur) OVER (PARTITION BY phase) AS p_cur
      FROM j)
SELECT phase, bucket, n_ref, n_cur,
  FLOOR(p_ref * 10000 + 0.5) / 10000 AS p_ref,
  FLOOR(p_cur * 10000 + 0.5) / 10000 AS p_cur,
  FLOOR((GREATEST(p_cur, 1e-6) - GREATEST(p_ref, 1e-6))
    * LN(GREATEST(p_cur, 1e-6) / GREATEST(p_ref, 1e-6)) * 10000 + 0.5)
    / 10000 AS psi_term
FROM p ORDER BY phase, bucket"""))

  val all: Seq[DeclaredQuery] =
    Seq(x68, x78, x79, x80, x86, x92, x101, x112, x116, x138, x146)
}
