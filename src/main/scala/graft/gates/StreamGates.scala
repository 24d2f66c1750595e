package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fns._
import graft.plans.IdaMart
import graft.sources.Tables
import graft.gates.MartGates.recordsSql
import graft.gates.Artifacts._

/** Structured Streaming gates: windowed aggregates, stream joins,
  * exactly-once ingest and the streaming near-dup index. */
object StreamGates {

  /** Recursive local-FS directory copy (the lifecycle gates clone the
    * staged prefix store before mutating it — retraction/compaction are
    * destructive, and a spool must stay pristine). */
  private def copyDir(src: String, dst: String): Unit = {
    val sp = java.nio.file.Paths.get(src)
    val dp = java.nio.file.Paths.get(dst)
    java.nio.file.Files.walk(sp).forEach { p =>
      val t = dp.resolve(sp.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** The store-LIFECYCLE tail of the retract/compact gates: clone the
    * staged prefix store, retract the `% 7` kept docs, optionally compact
    * physically, then run batch 3 against the live remainder. The
    * readStream/checkpoint machinery is proven by `stream_dedup_minhash`;
    * these gates prove the STORE semantics (tombstone anti-join,
    * compaction value-neutrality). */
  private def streamDedupLifecycle(s: SparkSession, dir: String,
                                   root: String,
                                   compactBeforeLast: Boolean): String = {
    val store = s"$root/store"
    copyDir(streamDedupLifecycleSpool(s, dir), store)
    withStatePartitions(s, 8) {
      graft.streaming.NearDupStream.retract(
        graft.streaming.NearDupStream.kept(s, store)
          .filter(pmod(col("doc_id"), lit(7)) === 0).select("doc_id"), store)
      if (compactBeforeLast) graft.streaming.NearDupStream.compact(s, store)
      graft.streaming.NearDupStream.applyBatch(
        s.read.schema(graft.streaming.NearDupStream.docSchema).parquet(
          s"${streamDedupSliceSpoolMod3(s, dir)}/slice=3"),
        3L, store)
    }
    store
  }

  val gates: Seq[Gate] = Seq(
    // ----- interval join (batch form of the stream-stream join): clicks
    // paired with the same user's purchases within the following hour
    Gate("j_stream_interval", (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.streaming.EventsStream.intervalJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"))
        .orderBy(col("user_id"), col("l_id"), col("r_id"))
    },
      """SELECT l.user_id, l.event_id AS l_id, r.event_id AS r_id,
        |  l.ts AS l_ts, r.ts AS r_ts
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        |  AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
        |WHERE l.event_type = 'click' AND r.event_type = 'purchase'
        |ORDER BY l.user_id, l_id, r_id""".stripMargin),

    // ----- batch tumbling-window aggregation (streaming analog has tests)
    Gate("window_tumbling", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumExact(col("value")).as("total"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), col("total"))
        .orderBy(col("window_start"), col("event_type")),
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events
        |GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin),

    // ----- batch sessionization: gap-break sessions INCLUDING the ones
    // still open at end-of-input (the flush a bounded streaming run never
    // delivers — see EventsStream.sessionizeBatch)
    Gate("sessionize_batch", (s, dir) =>
      graft.streaming.EventsStream.sessionizeBatch(Tables.events(s, dir))
        .orderBy(col("user_id"), col("session_seq")),
      // 30-min gap = 1_800_000_000 µs; ties broken by event_id on both sides
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value FROM events WHERE ts IS NOT NULL
        |), marked AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), seqd AS (
        |  SELECT user_id, ts, value,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_seq
        |  FROM marked
        |)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  COUNT(*) AS n_events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM seqd
        |GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin),

    // ----- TRUE streaming path, driver-gated: the events fixture staged to
    // a one-file spool dir, consumed via readStream -> watermarked tumbling
    // agg -> memory sink under Trigger.AvailableNow. The oracle is the
    // batch analog's SQL — stream == batch on bounded input is exactly the
    // guarantee Structured Streaming makes, so the DuckDB gate now covers
    // the readStream plan itself, not only its batch twin.
    // ----- true-streaming SLIDING windows (the streaming form of
    // window_sliding): same spool/AvailableNow/memory-sink harness as
    // stream_tumbling, each event fanning into size/slide windows
    Gate("stream_sliding", (s, dir) => {
      val spool = eventsTumbleSpool(s, dir)
      val qn = "graft_stream_sliding"
      withStatePartitions(s, 4) {
        val q = graft.streaming.EventsStream.slidingAgg(
            graft.streaming.EventsStream.readEvents(s, spool))
          .writeStream.outputMode("complete").format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      s.table(qn).orderBy(col("window_start"), col("event_type"))
    },
      // identical to window_tumbling: bounded stream == batch is the gate
      // identical aggregate spec as window_sliding — the streaming run must
      // reproduce the batch sliding windows exactly
      """WITH expanded AS (
        |  SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800
        |           - o.off * 1800) AS TIMESTAMP) AS window_start,
        |         event_type, value
        |  FROM events CROSS JOIN (VALUES (0), (1)) AS o(off)
        |)
        |SELECT window_start, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM expanded
        |GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin,
      Seq(eventsTumbleSpool)),

    // ----- streaming trending top-k: the stream maintains per-(window,
    // user) counts and the top-3 cut ranks the MATERIALIZED aggregate at
    // serving time (no sorts mid-stream; EventsStream.trendingAgg
    // scaladoc). This gate replays in COMPLETE mode, which retains all
    // window state (watermark eviction applies only in update/append —
    // the production mode is update into an upserting sink); fine for the
    // bounded replay == batch equivalence the oracle states directly
    Gate("stream_topk", (s, dir) => {
      val spool = eventsTumbleSpool(s, dir)
      val qn = "graft_stream_topk"
      withStatePartitions(s, 4) {
        val q = graft.streaming.EventsStream.trendingAgg(
            graft.streaming.EventsStream.readEvents(s, spool))
          .writeStream.outputMode("complete").format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      val w = Window.partitionBy(col("window_start"))
        .orderBy(col("n").desc, col("user_id"))
      s.table(qn).withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .orderBy(col("window_start"), col("rank"))
    },
      """WITH counts AS (
        |  SELECT date_trunc('hour', ts) AS window_start, user_id,
        |    COUNT(*) AS n
        |  FROM events GROUP BY window_start, user_id
        |)
        |SELECT window_start, user_id, n, rank FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY window_start
        |    ORDER BY n DESC, user_id) AS INTEGER) AS rank
        |  FROM counts) WHERE rank <= 3
        |ORDER BY window_start, rank""".stripMargin,
      Seq(eventsTumbleSpool)),

    Gate("stream_tumbling", (s, dir) => {
      val spool = eventsTumbleSpool(s, dir)
      val qn = "graft_stream_tumbling"
      withStatePartitions(s, 4) {
        val q = graft.streaming.EventsStream.tumblingAgg(
            graft.streaming.EventsStream.readEvents(s, spool))
          .writeStream.outputMode("complete").format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      s.table(qn).orderBy(col("window_start"), col("event_type"))
    },
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events
        |GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin,
      Seq(eventsTumbleSpool)),

    // ----- APPEND-mode window finalization: with a watermark, append
    // mode emits a window exactly once, when the watermark passes its
    // end — the production emission contract (complete mode, which the
    // other window gates use for bounded replay, re-emits everything).
    // On a bounded run the final watermark is max(ts) - delay, so the
    // emitted set is precisely the windows with end <= that bound — a
    // DETERMINISTIC subset the oracle restates; the trailing windows
    // stay in state awaiting a watermark that never comes
    Gate("stream_append_finalize", (s, dir) => {
      val spool = eventsTumbleSpool(s, dir)
      val qn = "graft_stream_append"
      withStatePartitions(s, 4) {
        val q = graft.streaming.EventsStream.tumblingAgg(
            graft.streaming.EventsStream.readEvents(s, spool))
          .writeStream.outputMode("append").format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      s.table(qn).orderBy(col("window_start"), col("event_type"))
    },
      // the finalized subset: windows whose end the bounded run's final
      // watermark (max event time minus the 2h delay) has passed; the
      // boundary is window_end <= watermark, Spark's eviction predicate
      """WITH wm AS (
        |  SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM events
        |)
        |SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events CROSS JOIN wm
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= w
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      Seq(eventsTumbleSpool)),

    // ----- checkpoint RESUME across a real stop/restart: run the
    // tumbling aggregation over HALF the events, stop the query, land
    // the second half in the source dir, and restart from the SAME
    // checkpoint. The file source's commit log skips the already-read
    // half, so the final table equals the batch aggregate over ALL
    // events only if the first run's window state was genuinely
    // recovered from the state store — the crash-recovery contract the
    // fresh-checkpoint replay gates (stream_ingest_exactly_once) do not
    // cover. Memory sink permits checkpoint recovery in complete mode
    // precisely because the table is recomputed from recovered state
    Gate("stream_checkpoint_resume", (s, dir) => {
      val root = scratchDir("ckresume")
      val src = s"$root/src"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      val ev = Tables.events(s, dir)
      val qn = "graft_stream_ckresume"
      def drainOnce(): Unit = withStatePartitions(s, 4) {
        val q = graft.streaming.EventsStream.tumblingAgg(
            graft.streaming.EventsStream.readEvents(s, src))
          .writeStream.outputMode("complete").format("memory").queryName(qn)
          .option("checkpointLocation", s"$root/ck")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .coalesce(1).write.mode("append").parquet(src)
      drainOnce() // first incarnation: half the data, state checkpointed
      ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .coalesce(1).write.mode("append").parquet(src)
      drainOnce() // restart: only the new file reads; state must resume
      s.table(qn).orderBy(col("window_start"), col("event_type"))
    },
      // identical to the batch tumbling aggregate over ALL events — which
      // the restarted query only matches if its state survived the restart
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events
        |GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin),

    // ----- custom-state streaming (flatMapGroupsWithState sessionization),
    // driver-gated. A bounded AvailableNow run emits only sessions CLOSED
    // by a later event — each user's last session stays open in the state
    // store (EventsStream.sessionize scaladoc) — so the oracle states
    // "all sessions except each user's last". Input ts is pre-truncated to
    // ms in the spool (SessionState keeps ms), and the oracle truncates
    // identically, so gap-boundary arithmetic is bit-equal on both engines.
    // ----- streaming as-of enrichment, driver-gated: clicks + purchases
    // union-tagged into ONE spooled stream; per-user O(1) state carries
    // the latest click across micro-batches
    // (EventsStream.streamAsofEnrich). A bounded replay equals the batch
    // as-of join, which is exactly what the oracle states — the same
    // stream==batch-on-bounded-input guarantee the other stream gates use.
    Gate("stream_asof_join", (s, dir) => {
      import s.implicits._
      val spool = eventsTumbleSpool(s, dir)
      val tagged = graft.streaming.EventsStream.readEvents(s, spool)
        .filter(col("ts").isNotNull &&
          col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("ts"),
          when(col("event_type") === "click", lit(0)).otherwise(lit(1))
            .as("side"),
          col("event_id").as("tie"), col("event_id").as("a"),
          col("value").as("v"))
        .as[graft.streaming.EventsStream.AsofEvent]
      val qn = "graft_stream_asof"
      withStatePartitions(s, 4) {
        val q = graft.streaming.EventsStream.streamAsofEnrich(tagged).toDF()
          .writeStream.outputMode("append").format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      s.table(qn)
        .select(col("event_id"), col("user_id"), col("value"),
          col("click_id"), col("click_value"))
        .orderBy(col("event_id"))
    },
      graft.streaming.EventsStream.streamAsofOracleSql,
      Seq(eventsTumbleSpool)),

    // ----- streaming CDC apply, driver-gated: the event feed as a change
    // stream (error -> delete tombstone, else upsert) merged into a keyed
    // store per micro-batch, latest-(ts,event_id)-wins, tombstones
    // retained for batching-invariance (CdcUpsert scaladoc). The SAME
    // feed replays through TWO runs with fresh checkpoints — the
    // crash-and-reprocess case — and the store must equal a single apply,
    // which is exactly what the oracle computes (the batch cdc_merge
    // shape). Serving view filters tombstones.
    Gate("stream_cdc_upsert", (s, dir) => {
      val spool = eventsTumbleSpool(s, dir)
      val storeDir = scratchDir("cdc-upsert") + "/store"
      def replay(): Unit = {
        val cp = scratchDir("cdc-upsert-cp")
        val changes = graft.streaming.EventsStream.readEvents(s, spool)
          .filter(col("user_id").isNotNull)
          .select(col("user_id").as("key"), col("ts"), col("event_id"),
            when(col("event_type") === "error", lit("delete"))
              .otherwise(lit("upsert")).as("op"),
            col("value"))
        val q = graft.streaming.CdcUpsert.start(changes, storeDir, cp)
        q.processAllAvailable(); q.stop()
      }
      withStatePartitions(s, 8) { replay(); replay() }
      graft.streaming.CdcUpsert.latest(s, storeDir)
        .select(col("key"), col("value").as("last_value"),
          col("ts").as("last_ts"), col("event_id").as("last_event_id"))
        .orderBy(col("key"))
    },
      // sessionize_batch restated at ms precision (the stream state's own
      // granularity), keeping only sessions CLOSED within the bounded run —
      // i.e. every session except each user's last (that one stays open in
      // the state store until a timeout no bounded run delivers)
      // double replay must equal ONE apply of the change set: latest
      // (ts, event_id) per key, deletes (error events) absent from serving
      """WITH changes AS (
        |  SELECT user_id AS key, ts, event_id,
        |    CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END
        |      AS op,
        |    value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE user_id IS NOT NULL
        |)
        |SELECT key, value AS last_value, ts AS last_ts,
        |  event_id AS last_event_id
        |FROM changes WHERE rn = 1 AND op = 'upsert'
        |ORDER BY key""".stripMargin,
      Seq(eventsTumbleSpool)),

    Gate("stream_sessionize_closed", (s, dir) => {
      import s.implicits._
      val spool = eventsSessSpool(s, dir)
      val typed = graft.streaming.EventsStream.readEvents(s, spool)
        .filter(col("ts").isNotNull)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[graft.streaming.EventsStream.Event]
      val qn = "graft_stream_sessions"
      // timeoutOnIdle=false: a bounded AvailableNow replay must not leave a
      // ProcessingTimeTimeout armed (see EventsStream.sessionize scaladoc)
      withStatePartitions(s, 4) {
        val q = graft.streaming.EventsStream
          .sessionize(typed, timeoutOnIdle = false)
          .toDF()
          .writeStream.outputMode("append").format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      s.table(qn)
        .select(col("user_id"), col("n_events").cast("bigint").as("n_events"),
          col("start").as("session_start"), col("end").as("session_end"))
        .orderBy(col("user_id"), col("session_start"))
    },
      """WITH e AS (
        |  SELECT user_id, event_id, date_trunc('milliseconds', ts) AS ts
        |  FROM events WHERE ts IS NOT NULL
        |), marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), seqd AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_seq
        |  FROM marked
        |), sess AS (
        |  SELECT user_id, session_seq, COUNT(*) AS n_events,
        |    MIN(ts) AS session_start, MAX(ts) AS session_end
        |  FROM seqd GROUP BY user_id, session_seq
        |)
        |SELECT user_id, n_events, session_start, session_end
        |FROM (SELECT *, MAX(session_seq) OVER (PARTITION BY user_id) AS mx
        |      FROM sess)
        |WHERE session_seq < mx
        |ORDER BY user_id, session_start""".stripMargin,
      Seq(eventsSessSpool)),

    // ----- stream-stream interval join, driver-gated: both sides are the
    // SAME watermarked stream filtered to click/purchase; the time-range
    // condition bounds the join state (EventsStream.intervalJoin scaladoc).
    // Oracle = the batch interval join (j_stream_interval's SQL).
    Gate("stream_interval_join", (s, dir) => {
      val spool = eventsTumbleSpool(s, dir)
      def side(t: String) = graft.streaming.EventsStream.readEvents(s, spool)
        .filter(col("event_type") === t)
      val qn = "graft_stream_interval"
      withStatePartitions(s, 4) {
        val q = graft.streaming.EventsStream
          .intervalJoin(side("click"), side("purchase"))
          .writeStream.outputMode("append").format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      s.table(qn).orderBy(col("user_id"), col("l_id"), col("r_id"))
    },
      """SELECT l.user_id, l.event_id AS l_id, r.event_id AS r_id,
        |  l.ts AS l_ts, r.ts AS r_ts
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        |  AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
        |WHERE l.event_type = 'click' AND r.event_type = 'purchase'
        |ORDER BY l.user_id, l_id, r_id""".stripMargin,
      Seq(eventsTumbleSpool)),

    // ----- streaming LEFT-OUTER interval join: matches emit immediately;
    // a click with NO purchase within the hour emits with null right
    // columns when its join window closes under the watermark (the null
    // row IS the state eviction). Bounded-run finalization contract as
    // stream_append_finalize: the final watermark is max(ts) - 2h, so
    // the emitted null set is exactly the unmatched clicks whose window
    // end falls below it — restated by the oracle
    Gate("stream_outer_join", (s, dir) => {
      val spool = eventsTumbleSpool(s, dir)
      def side(t: String) = graft.streaming.EventsStream.readEvents(s, spool)
        .filter(col("event_type") === t)
      val qn = "graft_stream_outer"
      withStatePartitions(s, 4) {
        val q = graft.streaming.EventsStream
          .intervalJoinOuter(side("click"), side("purchase"))
          .writeStream.outputMode("append").format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      s.table(qn).orderBy(col("user_id"), col("l_id"), col("r_id"))
    },
      // identical to j_stream_interval: bounded stream == batch is the gate
      // matched pairs = the plain interval join; the null-row set is the
      // state EVICTION under the run's final GLOBAL watermark, which is the
      // MIN across both watermarked inputs (clicks and purchases each carry
      // max(own ts) - 2h; Spark's multiple-watermark policy takes the min —
      // measured: using the global max over ALL event types overshoots the
      // boundary); a click is evicted (and emits its null row) when its
      // join window end l_ts + 1h falls below that watermark
      """WITH wm AS (
        |  SELECT LEAST(
        |    (SELECT max(ts) FROM events WHERE event_type = 'click'),
        |    (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
        |    - INTERVAL 2 HOUR AS w
        |), l AS (
        |  SELECT user_id, event_id AS l_id, ts AS l_ts FROM events
        |  WHERE event_type = 'click'
        |), r AS (
        |  SELECT user_id AS ru, event_id AS r_id, ts AS r_ts FROM events
        |  WHERE event_type = 'purchase'
        |), matched AS (
        |  SELECT l.user_id, l_id, r_id, l_ts, r_ts
        |  FROM l JOIN r ON l.user_id = ru AND r_ts > l_ts
        |    AND r_ts <= l_ts + INTERVAL 1 HOUR
        |), unmatched AS (
        |  SELECT l.user_id, l_id, CAST(NULL AS BIGINT) AS r_id, l_ts,
        |    CAST(NULL AS TIMESTAMP) AS r_ts
        |  FROM l CROSS JOIN wm
        |  WHERE NOT EXISTS (
        |      SELECT 1 FROM r WHERE ru = l.user_id AND r_ts > l_ts
        |        AND r_ts <= l_ts + INTERVAL 1 HOUR)
        |    AND l_ts + INTERVAL 1 HOUR < w
        |)
        |SELECT * FROM matched
        |UNION ALL
        |SELECT * FROM unmatched
        |ORDER BY user_id, l_id, r_id""".stripMargin,
      Seq(eventsTumbleSpool)),

    // ----- streaming exact dedup, driver-gated: the spool holds the fixture
    // DOUBLED (two byte-identical file copies — the replayed-input case);
    // dropDuplicatesWithinWatermark must collapse it back to one row per
    // event_id. Oracle = the original events table.
    Gate("stream_dedup", (s, dir) => {
      val spool = eventsDedupSpool(s, dir)
      val qn = "graft_stream_dedup"
      withStatePartitions(s, 4) {
        val q = graft.streaming.EventsStream
          .dedupStream(graft.streaming.EventsStream.readEvents(s, spool))
          .writeStream.outputMode("append").format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      s.table(qn).select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .orderBy(col("event_id"))
    },
      // doubled input collapses back to the original table, row for row
      """SELECT event_id, ts, user_id, event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin,
      Seq(eventsDedupSpool)),

    // ----- streaming NEAR-dup dedup, driver-gated: the continuous form
    // of the MinHash tier — three deterministic arrival batches, each
    // exact-tier'd vs the kept store, within-batch LSH-deduped, and
    // probed against the STORED band + shingle-hash index, survivors
    // APPENDED to the index (never rebuilt). This gate runs the full
    // replay (measured); the log gate reads the memoized store.
    Gate("stream_dedup_minhash", (s, dir) => {
      val store = streamDedupReplay(s, dir, scratchDir("streamdedup"))
      graft.streaming.NearDupStream.kept(s, store)
        .select(col("doc_id"), col("batch")).orderBy(col("doc_id"))
    },
      // the streaming near-dup kept-chain, unrolled over the fixed 3-batch
      // slicing (SketchOracleSql.streamKeptChain scaladoc)
      graft.functions.SketchOracleSql.streamDedupOracleSql(),
      Seq(streamDedupSliceSpool)),

    // the stream's audit artifact: one kept/dup_exact/dup_near verdict
    // row per processed doc (bisectable at birth: a red kept gate with a
    // green log isolates to the store writes; red verdicts point at the
    // tiers)
    Gate("stream_dedup_minhash_log", (s, dir) => {
      val store = streamDedupSpool(s, dir)
      graft.streaming.NearDupStream.log(s, store)
        .select(col("doc_id"), col("batch"), col("verdict"))
        .orderBy(col("doc_id"))
    },
      graft.functions.SketchOracleSql.streamDedupLogOracleSql(),
      Seq(streamDedupSpool)),

    // ----- index-lifecycle gates: RETRACTION (tombstones — the
    // right-to-be-forgotten path) and COMPACTION (physical purge +
    // small-file merge). Same chain, with/without the compact step before
    // the final batch; the oracle is shared VERBATIM — compaction must be
    // value-neutral, proven on every driver run, not argued.
    Gate("stream_dedup_retract", (s, dir) => {
      val store = streamDedupLifecycle(s, dir,
        scratchDir("streamdedup-retract"), compactBeforeLast = false)
      graft.streaming.NearDupStream.kept(s, store)
        .select(col("doc_id"), col("batch")).orderBy(col("doc_id"))
    },
      // retract and compact share ONE oracle verbatim: the tombstone view
      // and the physically-compacted store must serve the same live set
      graft.functions.SketchOracleSql.streamDedupRetractOracleSql(),
      Seq(streamDedupLifecycleSpool, streamDedupSliceSpoolMod3)),

    Gate("stream_dedup_compact", (s, dir) => {
      val store = streamDedupLifecycle(s, dir,
        scratchDir("streamdedup-compact"), compactBeforeLast = true)
      graft.streaming.NearDupStream.kept(s, store)
        .select(col("doc_id"), col("batch")).orderBy(col("doc_id"))
    },
      graft.functions.SketchOracleSql.streamDedupRetractOracleSql(),
      Seq(streamDedupLifecycleSpool, streamDedupSliceSpoolMod3)),

    // ----- stream-static enrichment join, driver-gated: the event stream
    // joins a BROADCAST batch dimension (per-user cohort) before a
    // complete-mode aggregate — the standard streaming enrichment shape
    // (dim re-broadcast per micro-batch, no state for the join itself).
    // Oracle = the batch analog; NULL user_ids drop via the inner join.
    Gate("stream_static_join", (s, dir) => {
      val spool = eventsTumbleSpool(s, dir)
      val dim = Tables.events(s, dir).select(col("user_id")).distinct()
        .withColumn("cohort", (col("user_id") % 3).cast("int"))
      val qn = "graft_stream_static"
      withStatePartitions(s, 4) {
        val q = graft.streaming.EventsStream.readEvents(s, spool)
          .join(broadcast(dim), Seq("user_id"))
          .groupBy(col("cohort"))
          .agg(count(lit(1)).as("n"), sumExact(col("value")).as("total"))
          .writeStream.outputMode("complete").format("memory").queryName(qn)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.processAllAvailable(); q.stop()
      }
      s.table(qn).orderBy(col("cohort"))
    },
      // bounded stream == batch: the enrichment join + aggregate restated
      """SELECT CAST(user_id % 3 AS INTEGER) AS cohort, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY cohort ORDER BY cohort""".stripMargin,
      Seq(eventsTumbleSpool)),

    // ----- foreachBatch exactly-once ingest, driver-gated: the normalized
    // records spooled once, then the SAME input replayed through TWO
    // foreachBatch runs (fresh checkpoint each — the crash-and-reprocess
    // case) into one partitioned store. The anti-join in Ingest must make
    // the second run append NOTHING, so the store equals a single load —
    // which is exactly what the oracle computes (hash + first-wins dedup,
    // the s7_fact_load shape without the star-key joins).
    Gate("stream_ingest_exactly_once", (s, dir) => {
      val recs = IdaMart.records(s, dir)
      // spool staging is harness setup (like eventsTumbleSpool): memoized per
      // sf dir, so bench iterations re-run the ingest, not the stage write
      val inDir = ingestRecordsSpool(s, dir)
      val factDir = scratchDir("ingest-store") + "/fact"
      def replay(): Unit = {
        val cp = scratchDir("ingest-cp")
        val q = graft.streaming.Ingest.start(
          s.readStream.schema(recs.schema).parquet(inDir), factDir, cp)
        q.processAllAvailable(); q.stop()
      }
      withStatePartitions(s, 8) { replay(); replay() }
      s.read.parquet(factDir)
        .select(col("ano_mes"), col("grupo_economico"), col("servico"),
          col("variavel"), col("valor").cast("double").as("valor"),
          col("arquivo_origem"), col("linha_origem"), col("hash_registro"))
        .orderBy(col("hash_registro"))
    },
      // a replayed ingest appends nothing: the store equals ONE load — hash +
      // first-wins dedup over the normalized records (s7's shape, undoubled,
      // without the star-key joins the streaming ingest doesn't do)
      s"""WITH records AS ($recordsSql),
         |hashed AS (
         |  SELECT *,
         |    md5(strftime(ano_mes, '%Y-%m-%d') || '|' || grupo_economico || '|' ||
         |        servico || '|' || variavel || '|' ||
         |        CAST(CAST(valor AS DECIMAL(18,2)) AS VARCHAR)) AS hash_registro
         |  FROM records
         |), deduped AS (
         |  SELECT * FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY hash_registro
         |                                 ORDER BY arquivo_origem, linha_origem) AS rn
         |    FROM hashed) WHERE rn = 1
         |)
         |SELECT ano_mes, grupo_economico, servico, variavel,
         |       CAST(valor AS DOUBLE) AS valor,
         |       arquivo_origem, linha_origem, hash_registro
         |FROM deduped
         |ORDER BY hash_registro""".stripMargin,
      Seq(ingestRecordsSpool)),

    // ----- out-of-orderness profile: how late each event arrives behind
    // the running event-time high-watermark of its type, in ARRIVAL
    // (event_id) order — the measurement that sizes a streaming
    // watermark. One window shuffle; everything else is arithmetic on
    // epoch-µs integers (identical frames in both engines)
    Gate("stream_lateness_profile", (s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("late_us",
          greatest(coalesce(max(col("ts_us")).over(w) - col("ts_us"), lit(0L)),
            lit(0L)))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          count(when(col("late_us") > 30L * 60 * 1000 * 1000, lit(1)))
            .as("n_late_30m"),
          max(col("late_us")).as("max_late_us"))
        .orderBy(col("event_type"))
    },
      """WITH marked AS (
        |  SELECT event_type,
        |    GREATEST(COALESCE(
        |      MAX(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      - epoch_us(ts), 0), 0) AS late_us
        |  FROM events
        |)
        |SELECT event_type, COUNT(*) AS n,
        |  COUNT(*) FILTER (WHERE late_us > 1800000000) AS n_late_30m,
        |  MAX(late_us) AS max_late_us
        |FROM marked GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // ----- incrementally-maintained aggregate view (MatView): the stream
    // replayed TWICE from fresh checkpoints over the same spool — the
    // batch-id anti-join must keep partials single-counted, and the
    // recombined view must equal the one-shot batch aggregate (oracle)
    Gate("stream_matview", (s, dir) => {
      val spool = eventsTumbleSpool(s, dir)
      val storeDir = scratchDir("matview") + "/view"
      def replay(): Unit = {
        val cp = scratchDir("matview-cp")
        val q = graft.streaming.MatView.start(
          graft.streaming.EventsStream.readEvents(s, spool), storeDir, cp)
        q.processAllAvailable(); q.stop()
      }
      withStatePartitions(s, 4) { replay(); replay() }
      graft.streaming.MatView.readView(s, storeDir)
        .orderBy(col("event_type"), col("day"))
    },
      // double-replay appends nothing: the view equals the one-shot batch
      // aggregate of the raw table
      """SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events
        |GROUP BY event_type, day
        |ORDER BY event_type, day""".stripMargin,
      Seq(eventsTumbleSpool))
  )
}
