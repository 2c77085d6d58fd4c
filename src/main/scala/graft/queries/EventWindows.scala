package graft.queries

import graft.{Q, Tables}
import graft.Q.{dsum2, sqlSum2}
import graft.streaming.StreamFixture.{RocksDbState, child, drain, shareClasses, toMemory,
  withStreamPartitions}
import org.apache.spark.sql.functions._

/** Event-time windowing over the `events` table: tumbling, sliding, and
  * session windows — batch first (DuckDB-verifiable), then the same
  * tumbling aggregation through Structured Streaming (q37), proving the
  * plan runs identically under the streaming engine.
  *
  * Scale design (100 TB / unbounded streams): all window aggregations
  * shuffle once on (window, key) with partial aggregation; session windows
  * use Spark's native session_window (state-store backed when streaming).
  *
  * Sink note: the streaming queries q37/q61/q64/q74 verify through a
  * MEMORY sink — results collect to the driver. That is the one
  * `collect()`-shaped thing in any registered query path, bounded here
  * (windowed aggregates / event rows at test scale) and required by the
  * oracle harness; the production sink is files or a log (Kafka), and
  * q78 proves that path: the same watermarked aggregation written to a
  * parquet FILE sink (executors write, nothing returns to the driver)
  * and read back only for the oracle compare.
  */
object EventWindows {

  /** q34 — tumbling 1-hour windows per event type. */
  val tumbling = Q(
    "q34_tumbling_window",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
        .select(col("window.start").as("wstart"), col("event_type"), col("n"), col("sum_value")),
    Some(s"""SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart, event_type,
             count(*) AS n, ${sqlSum2("value")} AS sum_value
             FROM events GROUP BY 1, 2""")
  )

  /** q35 — sliding windows: 1-hour length, 30-minute slide (each event in
    * exactly two windows).
    */
  val sliding = Q(
    "q35_sliding_window",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
        .select(col("window.start").as("wstart"), col("event_type"), col("n"), col("sum_value")),
    Some(s"""WITH x AS (
               SELECT time_bucket(INTERVAL '30 minutes', ts) AS wstart, event_type, value FROM events
               UNION ALL
               SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', event_type, value
               FROM events)
             SELECT wstart, event_type, count(*) AS n, ${sqlSum2("value")} AS sum_value
             FROM x GROUP BY 1, 2""")
  )

  /** q36 — session windows per user, 15-minute inactivity gap. A new
    * session starts when the gap to the previous event is >= 15 minutes
    * (Spark merges windows only on strict overlap); the oracle replays the
    * same rule as a gaps-and-islands window.
    */
  val session = Q(
    "q36_session_window",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "15 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
        .select(col("session_window.start").as("session_start"), col("user_id"),
          col("n"), col("sum_value")),
    Some(s"""WITH o AS (
               SELECT user_id, ts, event_id, value,
                      CASE WHEN lag(ts) OVER w IS NULL
                                OR ts - lag(ts) OVER w >= INTERVAL '15 minutes'
                           THEN 1 ELSE 0 END AS ns
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             sess AS (
               SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid
               FROM o)
             SELECT min(ts) AS session_start, user_id, count(*) AS n,
                    ${sqlSum2("value")} AS sum_value
             FROM sess GROUP BY user_id, sid""")
  )

  /** q37 — the tumbling aggregation of q34 executed by Structured
    * Streaming: file source over the same parquet, event-time watermark,
    * complete output to a memory sink, drained with Trigger.AvailableNow.
    * Same oracle as q34 — the streaming and batch plans must agree.
    *
    * (Complete mode so the final window — never closed by the watermark —
    * is emitted too, letting this query share q34's full oracle; the
    * production path with bounded state is the append-mode watermarked
    * variant, q61.)
    */
  val streamTumbling = Q(
    "q37_stream_tumbling",
    (s, d) => {
      toMemory(
        Tables.eventStream(s, d)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
          .select(col("window.start").as("wstart"), col("event_type"), col("n"), col("sum_value")),
        "complete")
    },
    Some(s"""SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart, event_type,
             count(*) AS n, ${sqlSum2("value")} AS sum_value
             FROM events GROUP BY 1, 2""")
  )

  /** q61 — the PRODUCTION streaming path: the q37 aggregation in APPEND
    * output mode with a real 1-hour watermark, so state for a window is
    * dropped as soon as the watermark passes its end — bounded state on
    * an unbounded stream, unlike q37's complete-mode variant (kept as the
    * all-windows oracle twin). Only watermark-closed windows are emitted;
    * the registered result applies the same closed-window predicate
    * (window end ≤ max event time − 1 h) explicitly on both the Spark
    * and oracle sides, so the row set is engine-deterministic rather
    * than dependent on the engine's exact eviction boundary. The cutoff
    * comes from a 1-row aggregate joined in — no driver collect.
    */
  val streamTumblingAppend = Q(
    "q61_stream_tumbling_append",
    (s, d) => {
      val streamed = toMemory(
        Tables.eventStream(s, d)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
          .select(col("window.start").as("wstart"), col("window.end").as("wend"),
            col("event_type"), col("n"), col("sum_value")),
        "append")
      val cutoff = Tables.events(s, d)
        .agg((max(col("ts")) - expr("INTERVAL 1 HOUR")).as("closed_before"))
      streamed
        .crossJoin(cutoff)
        .where(col("wend") <= col("closed_before"))
        .select(col("wstart"), col("event_type"), col("n"), col("sum_value"))
    },
    Some(s"""SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart, event_type,
             count(*) AS n, ${sqlSum2("value")} AS sum_value
             FROM events
             GROUP BY 1, 2
             HAVING wstart + INTERVAL '1 hour' <=
                    (SELECT max(ts) - INTERVAL '1 hour' FROM events)""")
  )

  /** q78 — the q61 aggregation through a parquet FILE sink, the
    * production sink shape: append-mode rows are written to files by the
    * executors (no driver collection anywhere in the streaming path —
    * unlike the memory-sink oracle twins), with a checkpoint directory
    * for exactly-once file commits. The result is then read BACK from the
    * files purely for the oracle compare, with the same deterministic
    * closed-window predicate as q61. Scratch keying/cleanup follows
    * `Sources` (shared-FS contract on a real cluster).
    */
  val streamFileSink = Q(
    "q78_stream_file_sink",
    (s, d) => {
      // fresh sink + checkpoint per EXECUTION: reusing a checkpoint
      // within one JVM would make every later run a no-op (the file
      // source's seen-files log already contains the input), silently
      // serving the first run's output — a benchmark would then measure
      // stream-restart overhead instead of the aggregation
      val runId = java.util.UUID.randomUUID().toString.take(8)
      val out = graft.sources.Sources.scratchLeaf(d, s"stream_file_sink_$runId")
      val chk = graft.sources.Sources.scratchLeaf(d, s"stream_file_sink_chk_$runId")
      val windows = Tables.eventStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
        .select(col("window.start").as("wstart"), col("window.end").as("wend"),
          col("event_type"), col("n"), col("sum_value"))
      withStreamPartitions(s)(drain(s)(
        windows.writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", chk)
          .outputMode("append")))
      val cutoff = Tables.events(s, d)
        .agg((max(col("ts")) - expr("INTERVAL 1 HOUR")).as("closed_before"))
      // the sink is the stream's own output, so it reads back with the
      // stream's schema
      graft.sources.Sources.Written(out, windows.schema).read(s)
        .crossJoin(cutoff)
        .where(col("wend") <= col("closed_before"))
        .select(col("wstart"), col("event_type"), col("n"), col("sum_value"))
    },
    streamTumblingAppend.oracle // identical semantics to q61: sink must not change rows
  )

  /** q66 — time-spine GAP-FILL: hourly totals per event type INCLUDING
    * empty hours — the time-series completeness operator (downstream
    * models need explicit zeros, not missing rows). The spine is
    * generated from the observed min/max hour (`sequence` + `explode` —
    * narrow, no shuffle), crossed with the distinct type set (a handful
    * of rows — the planner broadcasts it), then left-joined to the
    * aggregated hours with zero-filled gaps.
    */
  val gapFill = Q(
    "q66_gapfill",
    (s, d) => {
      val ev = Tables.events(s, d)
      val hourly = ev
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
        .select(col("window.start").as("wstart"), col("event_type"),
          col("n"), col("sum_value"))
      val spine = ev
        .agg(date_trunc("hour", min(col("ts"))).as("lo"),
          date_trunc("hour", max(col("ts"))).as("hi"))
        .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("wstart"))
      val types = ev.select("event_type").distinct()
      spine.crossJoin(types)
        .join(hourly, Seq("wstart", "event_type"), "left")
        .select(col("wstart"), col("event_type"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
    },
    Some(s"""WITH hourly AS (
               SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart, event_type,
                      count(*) AS n, ${sqlSum2("value")} AS sum_value
               FROM events GROUP BY 1, 2),
             spine AS (
               SELECT unnest(generate_series(
                        time_bucket(INTERVAL '1 hour', min(ts)),
                        time_bucket(INTERVAL '1 hour', max(ts)),
                        INTERVAL '1 hour')) AS wstart
               FROM events),
             types AS (SELECT DISTINCT event_type FROM events)
             SELECT s.wstart, t.event_type,
                    CAST(coalesce(h.n, 0) AS BIGINT) AS n,
                    coalesce(h.sum_value, 0.0) AS sum_value
             FROM spine s CROSS JOIN types t
             LEFT JOIN hourly h
               ON h.wstart = s.wstart AND h.event_type = t.event_type""")
  )

  /** q64 — streaming DEDUPLICATION with watermark-bounded state: the
    * events stream unioned with itself (every record genuinely arrives
    * twice) through `dropDuplicatesWithinWatermark` on event_id, which
    * keeps a key's state only until the watermark passes its event time —
    * the bounded-state streaming form of exact dedup (q22's batch
    * operator). Output is one row per event regardless of which copy is
    * kept (copies are identical), so the result is deterministic and the
    * oracle is simply the events table.
    */
  val streamDedup = Q(
    "q64_stream_dedup",
    (s, d) => {
      def src = Tables.eventStream(s, d)
      toMemory(
        src.union(src) // duplicate every record
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .select(col("event_id"), col("user_id"), col("event_type"), col("ts"), col("value")),
        "append")
    },
    Some("SELECT event_id, user_id, event_type, ts, value FROM events")
  )

  /** q74 — STREAM-STREAM interval self-join: pairs of events by the same
    * user within 5 minutes of each other, joined between two watermarked
    * streams of the events source. The watermark + time-range condition
    * is what bounds the join state on an unbounded stream (each side
    * holds only rows the other side could still match); the event_id
    * ordering keeps each pair emitted once. Oracle: the same interval
    * self-join in batch SQL — streaming and batch semantics must agree
    * exactly for an inner time-bounded join.
    */
  val streamIntervalJoin = Q(
    "q74_stream_interval_join",
    (s, d) => {
      def src = Tables.eventStream(s, d)
        .withWatermark("ts", "10 minutes")
      val a = src.select(col("user_id"), col("event_id").as("id_a"),
        col("ts").as("ts_a"), col("value").as("val_a"))
      val b = src.select(col("user_id").as("user_b"), col("event_id").as("id_b"),
        col("ts").as("ts_b"), col("value").as("val_b"))
      toMemory(
        a.join(b,
            col("user_id") === col("user_b") &&
              col("id_a") < col("id_b") &&
              col("ts_b") >= col("ts_a") - expr("INTERVAL 5 MINUTES") &&
              col("ts_b") <= col("ts_a") + expr("INTERVAL 5 MINUTES"))
          .select(col("user_id"), col("id_a"), col("id_b"), col("ts_a"), col("ts_b")),
        "append")
    },
    Some("""SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
                   a.ts AS ts_a, b.ts AS ts_b
            FROM events a JOIN events b
              ON a.user_id = b.user_id AND a.event_id < b.event_id
             AND b.ts >= a.ts - INTERVAL '5 minutes'
             AND b.ts <= a.ts + INTERVAL '5 minutes'""")
  )

  /** q182 — watermarked stream-stream LEFT OUTER interval join: q74's
    * outer twin, shaped as the production attribution question "which
    * views led to a purchase by the same user within 6 hours — and
    * which views led to NOTHING". The inner join can emit a match the
    * moment both rows have arrived; the OUTER row is the new machinery:
    * a view with no matching purchase is held in join state until the
    * WATERMARK proves no match can still arrive (watermark > ts_view +
    * 6 h), then emitted exactly once with NULL right columns — the
    * bounded-state streaming form of "LEFT JOIN then wait". State on
    * both sides stays bounded by the time condition, exactly as in q74.
    *
    * Determinism discipline (q61's closed-window move, applied to join
    * expiry): only left rows whose outcome is DECIDED by the final
    * watermark are kept — ts_view < min(max view ts, max purchase ts)
    * − (1 h watermark + 6 h window + 1 s guard for the watermark's ms
    * truncation); the min is the real multi-input watermark rule — and
    * the batch oracle applies the IDENTICAL closed
    * predicate, so streaming and batch agree row-for-row. NULL
    * timestamps don't canonicalize in the compare (NaT ≠ NaT), so the
    * unmatched purchase side degrades to (−1, epoch) on BOTH engines.
    *
    * Scale shape: one shuffle per side on user_id; join state holds
    * only rows inside the watermark-plus-window horizon per user —
    * O(arrival rate × 7 h), never the stream's history.
    */
  val streamOuterJoin = Q(
    "q182_stream_outer_join",
    (s, d) => {
      def src = Tables.eventStream(s, d)
        .withWatermark("ts", "1 hour")
      val views = src.where(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").as("ts_view"))
      val buys = src.where(col("event_type") === "purchase")
        .select(col("user_id").as("user_b"), col("event_id").as("purchase_id"),
          col("ts").as("ts_buy"))
      val streamed = toMemory(
        views.join(buys,
            col("user_id") === col("user_b") &&
              col("ts_buy") >= col("ts_view") &&
              col("ts_buy") <= col("ts_view") + expr("INTERVAL 6 HOURS"),
            "leftOuter")
          .select(col("user_id"), col("view_id"), col("ts_view"),
            coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
            coalesce(col("ts_buy"),
              to_timestamp(lit("1970-01-01 00:00:00"))).as("ts_buy")),
        "append")
      // The query's final watermark is the MIN over both inputs' event
      // clocks — Catalyst pushes each side's type filter below its
      // watermark node, so the views side advances to max(view ts) − 1 h
      // and the purchases side to max(purchase ts) − 1 h (surfaced as a
      // 1-row diff at sf0.01, where purchases end 32 min before views).
      // The closed predicate mirrors that min, with a 1 s guard for the
      // watermark's ms truncation.
      val cutoff = Tables.events(s, d)
        .where(col("event_type").isin("view", "purchase"))
        .groupBy("event_type").agg(max(col("ts")).as("mx"))
        .agg((min(col("mx")) - expr("INTERVAL 7 HOURS") -
          expr("INTERVAL 1 SECOND")).as("closed_before"))
      streamed
        .crossJoin(cutoff)
        .where(col("ts_view") < col("closed_before"))
        .select(col("user_id"), col("view_id"), col("ts_view"),
          col("purchase_id"), col("ts_buy"))
    },
    Some("""SELECT a.user_id, a.event_id AS view_id, a.ts AS ts_view,
                   CAST(coalesce(b.event_id, -1) AS BIGINT) AS purchase_id,
                   coalesce(b.ts, TIMESTAMP '1970-01-01 00:00:00') AS ts_buy
            FROM events a LEFT JOIN events b
              ON b.user_id = a.user_id AND b.event_type = 'purchase'
             AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '6 hours'
            WHERE a.event_type = 'view'
              AND a.ts < (SELECT min(mx) - INTERVAL '7 hours' - INTERVAL '1 second'
                          FROM (SELECT max(ts) AS mx FROM events
                                WHERE event_type = 'view'
                                UNION ALL
                                SELECT max(ts) FROM events
                                WHERE event_type = 'purchase') t)""")
  )

  /** q186 — CHAINED STATEFUL OPERATORS in one streaming query: a 1-hour
    * tumbling aggregation whose OUTPUT feeds a second, 6-hour tumbling
    * aggregation — two watermarked stateful operators in a single
    * micro-batch pipeline (`window(window_time(window), '6 hours')`
    * re-windows the first aggregate's event-time column), the
    * capability Spark added in 3.4 (before it, the hourly rollup had to
    * land in a sink and a SECOND query re-read it — double storage,
    * double latency). This is the canonical metrics-rollup topology:
    * fine-grain pre-aggregation shrinks the stream by orders of
    * magnitude, the coarse rollup aggregates O(windows) pre-aggregated
    * rows, never raw events — at 100 TB/day the 6-hour state holds 6
    * rows per type, not six hours of events.
    *
    * Both levels share the q61 closed-window determinism: the outer
    * window emits when the watermark passes ITS end, and the registered
    * result keeps only 6-hour windows closed by the final watermark —
    * the identical predicate the batch oracle applies. Sums re-enter
    * decimal for the second fold (dsum2 of dsum2 output), so
    * cross-level double order can't drift. The per-level counts agree
    * with a flat 6-hour aggregation BY CONSTRUCTION (count-sum and
    * decimal-sum are associative) — which is exactly what the oracle's
    * flat GROUP BY checks; `StreamChainSpec` additionally pins that the
    * running query really holds TWO state operators and that the outer
    * level only emits once the watermark passes the OUTER window end.
    */
  val streamChainedWindows = Q(
    "q186_stream_chained_windows",
    (s, d) => {
      val streamed = toMemory(
        Tables.eventStream(s, d)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n1"), dsum2(col("value")).as("sv1"))
          .groupBy(window(window_time(col("window")), "6 hours"),
            col("event_type"))
          .agg(sum(col("n1")).as("n"), dsum2(col("sv1")).as("sum_value"))
          .select(col("window.start").as("wstart"), col("window.end").as("wend"),
            col("event_type"), col("n"), col("sum_value")),
        "append")
      val cutoff = Tables.events(s, d)
        .agg((max(col("ts")) - expr("INTERVAL 1 HOUR")).as("closed_before"))
      streamed
        .crossJoin(cutoff)
        .where(col("wend") <= col("closed_before"))
        .select(col("wstart"), col("event_type"), col("n"), col("sum_value"))
    },
    Some(s"""SELECT time_bucket(INTERVAL '6 hours', ts) AS wstart, event_type,
                    count(*) AS n, ${sqlSum2("value")} AS sum_value
             FROM events
             GROUP BY 1, 2
             HAVING time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' <=
                    (SELECT max(ts) - INTERVAL '1 hour' FROM events)""")
  )

  /** q187 — the q61 aggregation under the ROCKSDB STATE STORE: the
    * provider swap every large-state production deployment makes, run
    * as a first-class query. The default HDFS-backed provider keeps
    * every key's state as JVM objects on-heap — at 100 TB/day of
    * events a high-cardinality window×key state OOMs the executor or
    * drowns it in GC; RocksDB keeps state off-heap in an embedded LSM
    * with incremental checkpointing, bounding heap by block-cache size
    * regardless of key count. The CONTRACT is that the swap is
    * invisible to results: identical rows, identical closed-window
    * set — which is exactly what the unchanged q61 oracle checks, and
    * the q37/q61 pair discipline (same aggregation, different
    * machinery) extends to a third execution path. Provider is a
    * per-query conf read at stream start; a `child` session (q92/
    * q184 discipline) keeps it from leaking into other queries.
    */
  val streamRocksDb = Q(
    "q187_stream_rocksdb_state",
    (s0, d) => {
      val s = child(s0, RocksDbState)
      val streamed = toMemory(
        Tables.eventStream(s, d)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
          .select(col("window.start").as("wstart"), col("window.end").as("wend"),
            col("event_type"), col("n"), col("sum_value")),
        "append")
      val cutoff = Tables.events(s, d)
        .agg((max(col("ts")) - expr("INTERVAL 1 HOUR")).as("closed_before"))
      streamed
        .crossJoin(cutoff)
        .where(col("wend") <= col("closed_before"))
        .select(col("wstart"), col("event_type"), col("n"), col("sum_value"))
    },
    streamTumblingAppend.oracle // provider swap must not change a row
  )

  /** q188 — typed COGROUP: the generalized two-input per-key operator
    * (the reference's "reduce sees its WHOLE group" contract, extended
    * to two grouped inputs — MapReduce's reduce-side join ancestor,
    * `KeyValueGroupedDataset.cogroup` in Spark). Per user, the click
    * group and the purchase group arrive as two iterators in one
    * function call, which expresses group-wise logic a join contorts:
    * here, anchor on the user's FIRST click and count purchases at or
    * after it — a fold over one side parameterized by an aggregate of
    * the other. Keys present in EITHER input emit (purchase-only users
    * report first_click = epoch and after = −1; click-only users report
    * 0 purchases) — the same totality discipline as q57/q165.
    *
    * Scale shape: ONE co-partitioned shuffle on user_id for both
    * inputs (cogroup requires identical partitioning, so Spark plans
    * the two exchanges to the same layout); per-key state is the two
    * iterators — streamed, never materialized corpus-wide. The
    * group-wise fold here is deliberately replayable in SQL (min +
    * conditional count) so the oracle can check it exactly; the
    * operator's value is the API contract — whole-group access to TWO
    * inputs — which `CogroupSpec` exercises beyond SQL with an
    * order-sensitive fixture.
    */
  val cogroupReconcile = Q(
    "q188_cogroup_reconcile",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts")).as[(Long, java.sql.Timestamp)]
        .groupByKey(_._1)
      val buys = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts")).as[(Long, java.sql.Timestamp)]
        .groupByKey(_._1)
      clicks.cogroup(buys) { (user, cs, ps) =>
        // Timestamp comparisons, never getTime: millis truncation would
        // drop the µs the parquet data carries
        var firstClick: java.sql.Timestamp = null
        var nClicks = 0L
        cs.foreach { c => nClicks += 1
          if (firstClick == null || c._2.compareTo(firstClick) < 0) firstClick = c._2 }
        var nBuys = 0L
        var after = 0L
        ps.foreach { p => nBuys += 1
          if (firstClick != null && p._2.compareTo(firstClick) >= 0) after += 1 }
        Iterator((user, nClicks, nBuys,
          if (nClicks == 0) -1L else after,
          if (firstClick == null) new java.sql.Timestamp(0L) else firstClick))
      }.toDF("user_id", "n_clicks", "n_purchases", "purchases_after_first_click",
        "first_click")
    },
    Some("""WITH c AS (SELECT user_id, count(*) AS n_clicks, min(ts) AS fc
                       FROM events WHERE event_type = 'click' GROUP BY user_id),
                 p AS (SELECT user_id, count(*) AS n_purchases,
                              list(ts) AS pts
                       FROM events WHERE event_type = 'purchase' GROUP BY user_id)
            SELECT coalesce(c.user_id, p.user_id) AS user_id,
                   CAST(coalesce(c.n_clicks, 0) AS BIGINT) AS n_clicks,
                   CAST(coalesce(p.n_purchases, 0) AS BIGINT) AS n_purchases,
                   CAST(CASE WHEN c.user_id IS NULL THEN -1
                        ELSE coalesce(len(list_filter(p.pts, t -> t >= c.fc)), 0)
                        END AS BIGINT) AS purchases_after_first_click,
                   coalesce(c.fc, TIMESTAMP '1970-01-01 00:00:00') AS first_click
            FROM c FULL OUTER JOIN p ON p.user_id = c.user_id""")
  )

  /** q189 — `transformWithState`, Spark 4's ARBITRARY-STATE operator
    * (the successor to q47's `flatMapGroupsWithState`): per-user
    * running totals kept in an explicit named `ValueState` created
    * against the `StatefulProcessorHandle`
    * ([[graft.streaming.RunningTotals]]) — the API that adds named
    * state variables (Value/List/Map), per-key timers, TTL, and
    * initial-state bootstrap, and REQUIRES the RocksDB provider (q187's
    * knob is this operator family's prerequisite). Each micro-batch
    * emits the totals-so-far per key touched (Update mode); n is
    * monotone, so the final `max(struct(n, sum))` per user is the
    * stream's answer regardless of how the source batched — the same
    * batching-independence discipline as q61's closed windows. Sums
    * accumulate as exact integer cents inside state (dsum2's exactness
    * in imperative form), so no cross-batch double order exists to
    * drift. Oracle: the plain per-user batch aggregate.
    * `TransformWithStateSpec` drives the state machinery across real
    * micro-batch boundaries with MemoryStream.
    */
  val transformWithStateTotals = Q(
    "q189_transform_with_state",
    (s0, d) => {
      val s = child(s0, RocksDbState)
      import s.implicits._
      val streamed = toMemory(
        Tables.eventStream(s, d)
          .select(col("user_id"), col("value")).as[(Long, Double)]
          .groupByKey(_._1)
          .transformWithState(new graft.streaming.RunningTotals(),
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update())
          .toDF("user_id", "n", "sum_value"),
        "update")
      streamed
        .groupBy("user_id")
        .agg(max(struct(col("n"), col("sum_value"))).as("b"))
        .select(col("user_id"), col("b.n").as("n"), col("b.sum_value").as("sum_value"))
    },
    Some(s"""SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                    ${sqlSum2("value")} AS sum_value
             FROM events GROUP BY user_id""")
  )

  /** q191 — STATE-STORE READER: the q61 aggregation's CHECKPOINT opened
    * as a DataFrame (Spark 4's `statestore` / `state-metadata` V2
    * sources) — the production debugging door for stateful streaming.
    * When a 100 TB/day pipeline's state grows without bound or a window
    * never seems to close, the operational question is "what is IN the
    * state store right now?", and before this reader the only answers
    * were heap dumps or printf; now state is a queryable table keyed
    * exactly as the operator keys it. The registered run starts q61's
    * append aggregation against a fresh checkpoint, drains it, then
    * reads the checkpoint back: what remains in state is precisely the
    * OPEN windows — every window the final watermark (max ts − 1 h)
    * has not yet closed — because append mode evicts a window's row the
    * moment the watermark passes its end. So q61 and q191 are exact
    * complements of the same GROUP BY, and the oracle says so: same
    * aggregation, HAVING flipped to `window end > max(ts) − 1 h`. The
    * aggregation buffer comes back typed (count long, sum as the exact
    * decimal dsum2 accumulates) — the reader exposes the operator's
    * internal schema, which is the point.
    *
    * Scale shape: the state source plans one task per state-store
    * partition (partition_id is a column — skew in state is VISIBLE),
    * reads only the requested operator's store, and never replays the
    * source stream; the sink is `noop` (the result is the state itself,
    * nothing collects). `StateReaderSpec` pins the complement contract
    * (state ∪ emitted = full batch GROUP BY, disjoint) and the
    * metadata listing. Fresh checkpoint per execution (q78 discipline).
    */
  val stateStoreRead = Q(
    "q191_state_store_read",
    (s, d) => {
      val runId = java.util.UUID.randomUUID().toString.take(8)
      val chk = graft.sources.Sources.scratchLeaf(d, s"state_read_chk_$runId")
      withStreamPartitions(s)(drain(s)(
        Tables.eventStream(s, d)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
          .writeStream.format("noop")
          .option("checkpointLocation", chk)
          .outputMode("append")))
      // state-metadata names the operator whose store we read — 1 row,
      // metadata-plane; carrying it in the output pins that the listing
      // side of the reader works too
      val op = s.read.format("state-metadata").load(chk)
        .select(col("operatorName").as("operator")).limit(1)
      s.read.format("statestore").load(chk)
        .select(col("key.window.start").as("wstart"),
          col("key.event_type").as("event_type"),
          col("value.count").as("n"),
          col("value.sum").cast("double").as("sum_value"))
        .crossJoin(op)
    },
    Some(s"""SELECT 'stateStoreSave' AS operator,
                    time_bucket(INTERVAL '1 hour', ts) AS wstart, event_type,
                    count(*) AS n, ${sqlSum2("value")} AS sum_value
             FROM events
             GROUP BY 2, 3
             HAVING wstart + INTERVAL '1 hour' >
                    (SELECT max(ts) - INTERVAL '1 hour' FROM events)""")
  )

  /** q199 — NAMED-STATE READBACK: q191's state-store reader pointed at
    * q189's `transformWithState` checkpoint — arbitrary USER-DEFINED
    * state is just as operable as the built-in operators'. The reader
    * needs `stateVarName` because a StatefulProcessor owns many named
    * variables (the metadata's operatorProperties lists them — pinned
    * in `StateReaderSpec`); here it opens the "totals" ValueState and
    * recovers every user's (n, cents) pair exactly as RunningTotals
    * left it. Because the drained run processed everything, state IS
    * the final answer, so q189's oracle applies verbatim — three
    * independent roads (imperative state machine, its checkpoint read
    * cold, plain batch GROUP BY) to one row set. The cents/100 division
    * happens HERE, proving the stored representation is the exact
    * integer form (dsum2's discipline surviving a round-trip through
    * RocksDB + the reader).
    *
    * Scale shape: same as q191 — one task per state partition, no
    * source replay; this is how a 100 TB deployment audits or migrates
    * live state (the offline-repartition path starts from exactly this
    * read).
    */
  val twsStateRead = Q(
    "q199_tws_state_read",
    (s0, d) => {
      val s = child(s0, RocksDbState)
      import s.implicits._
      val runId = java.util.UUID.randomUUID().toString.take(8)
      val chk = graft.sources.Sources.scratchLeaf(d, s"tws_read_chk_$runId")
      withStreamPartitions(s)(drain(s)(
        Tables.eventStream(s, d)
          .select(col("user_id"), col("value")).as[(Long, Double)]
          .groupByKey(_._1)
          .transformWithState(new graft.streaming.RunningTotals(),
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update())
          .toDF("user_id", "n", "sum_value")
          .writeStream.format("noop")
          .option("checkpointLocation", chk)
          .outputMode("update")))
      s.read.format("statestore").option("stateVarName", "totals").load(chk)
        .select(col("key.value").as("user_id"),
          col("value._1").as("n"),
          (col("value._2").cast("double") / lit(100.0)).as("sum_value"))
    },
    transformWithStateTotals.oracle // state read cold ≡ the drained stream's answer
  )

  /** q202 — JOIN-STATE READER: the state-reader trilogy's third leg
    * (q191 read aggregation state, q199 read named transformWithState
    * state; this reads STREAM-STREAM JOIN state via `joinSide=left`).
    * The q74 interval self-join is drained into a fresh checkpoint; the
    * symmetric hash join buffers EVERY input row — matched or not —
    * until the watermark proves no future partner can arrive, and that
    * buffer is the #1 state-size question in production ("why is my
    * join state 2 TB?" — answer: your interval horizon × your input
    * rate, row by row, and now you can SELECT it). The reader exposes
    * the per-side buffer exactly as stored: join key + the side's input
    * row, already column-PRUNED to what the join needs (val_a never
    * reaches state — visible proof pruning extends into state). The
    * metadata lists the four internal stores (two per side:
    * keyToNumValues + keyWithIndexToValue — `StateReaderSpec` pins
    * them).
    *
    * Determinism: a left row is evictable once the watermark passes
    * `ts_a + 5 min` (its furthest match window), so after the final
    * watermark (max ts − 10 min) the retained set is rows with
    * `ts_a ≳ max − 15 min`; both sides apply the guarded closed
    * predicate `ts_a > max(ts) − 15 min + 1 s` (q61 discipline + q182's
    * ms guard), which the engine-retained set provably contains.
    */
  val joinStateRead = Q(
    "q202_join_state_read",
    (s, d) => {
      val runId = java.util.UUID.randomUUID().toString.take(8)
      val chk = graft.sources.Sources.scratchLeaf(d, s"join_state_chk_$runId")
      def src = Tables.eventStream(s, d)
        .withWatermark("ts", "10 minutes")
      val a = src.select(col("user_id"), col("event_id").as("id_a"),
        col("ts").as("ts_a"), col("value").as("val_a"))
      val b = src.select(col("user_id").as("user_b"), col("event_id").as("id_b"),
        col("ts").as("ts_b"), col("value").as("val_b"))
      withStreamPartitions(s)(drain(s)(
        a.join(b,
            col("user_id") === col("user_b") &&
              col("id_a") < col("id_b") &&
              col("ts_b") >= col("ts_a") - expr("INTERVAL 5 MINUTES") &&
              col("ts_b") <= col("ts_a") + expr("INTERVAL 5 MINUTES"))
          .select(col("user_id"), col("id_a"), col("id_b"))
          .writeStream.format("noop")
          .option("checkpointLocation", chk)
          .outputMode("append")))
      val cutoff = Tables.events(s, d)
        .agg((max(col("ts")) - expr("INTERVAL 15 MINUTES") + expr("INTERVAL 1 SECOND"))
          .as("retained_after"))
      s.read.format("statestore").option("joinSide", "left").load(chk)
        .select(col("value.user_id").as("user_id"),
          col("value.id_a").as("id_a"), col("value.ts_a").as("ts_a"))
        .crossJoin(cutoff)
        .where(col("ts_a") > col("retained_after"))
        .select("user_id", "id_a", "ts_a")
    },
    Some("""SELECT user_id, event_id AS id_a, ts AS ts_a
            FROM events
            WHERE ts > (SELECT max(ts) - INTERVAL '15 minutes' + INTERVAL '1 second'
                        FROM events)""")
  )

  /** q203 — WATERMARK-BOUNDED DEDUP (`dropDuplicatesWithinWatermark`):
    * the retransmission problem. Real pipelines re-deliver the same
    * logical record with a DIFFERENT event time (client retry a minute
    * later); plain `dropDuplicates(key)` (q64's machinery) dedups it
    * only by keeping EVERY key's state forever — unbounded on an
    * unbounded stream — while including the timestamp in the key fails
    * to dedup at all (the copies differ). `dropDuplicatesWithinWatermark`
    * is the streaming-correct middle: same-key rows arriving within the
    * watermark delay dedup even though their event times differ, and a
    * key's state drops once the watermark passes — bounded state, the
    * only production-viable contract. The stream is the events source
    * UNIONED with its own +1 min retransmission (closed-form synth);
    * the output projects the columns identical across copies, so WHICH
    * copy wins (arrival order — engine-internal) is invisible and the
    * oracle is simply the original table.
    */
  val streamDedupWithinWatermark = Q(
    "q203_stream_dedup_within_wm",
    (s, d) => {
      def src = Tables.eventStream(s, d)
        .select(col("event_id"), col("event_type"), col("value"), col("ts"))
      val retransmit = src.withColumn("ts", col("ts") + expr("INTERVAL 1 MINUTE"))
      toMemory(
        src.unionAll(retransmit)
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .select("event_id", "event_type", "value"),
        "append")
    },
    Some("SELECT event_id, event_type, value FROM events")
  )

  /** q195 — EVENT-TIME TIMERS (`transformWithState` +
    * `TimeMode.EventTime`): gap-based sessions closed by the ENGINE's
    * callback when the watermark passes "last event + 15 min", not by
    * the next record's arrival — the semantics q36/q47 approximate in
    * batch, now with the production trigger: a session whose user
    * simply left must still close, and per-key timers are the mechanism
    * (the pre-timer alternatives were GroupStateTimeout's one coarse
    * timeout per key, or sweeping every key every batch). The processor
    * ([[graft.streaming.SessionTimers]]) buffers events in ListState
    * and emits ONLY from `handleExpiredTimer`; q189 covered named
    * ValueState, this adds ListState + registerTimer/deleteTimer — the
    * rest of the handle's surface.
    *
    * Determinism: emitted sessions are exactly those the final
    * watermark sealed; both sides apply the identical closed predicate
    * `session_last + 15 min ≤ max(ts) − 1 h − 1 s` (q61's discipline;
    * the 1 s guard covers ms-truncated timer/watermark arithmetic, the
    * q182 move). Oracle = q36's gaps-and-islands SQL with that HAVING.
    * RocksDB provider required (q187's knob, q189's precedent).
    */
  val sessionTimers = Q(
    "q195_session_timers",
    (s0, d) => {
      val s = child(s0, RocksDbState)
      import s.implicits._
      val streamed = toMemory(
        Tables.eventStream(s, d)
          .withWatermark("ts", "1 hour")
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
          .as[(Long, Long, Long)]
          .groupByKey(_._1)
          .transformWithState(
            new graft.streaming.SessionTimers(gapUs = 15L * 60 * 1000000),
            org.apache.spark.sql.streaming.TimeMode.EventTime(),
            org.apache.spark.sql.streaming.OutputMode.Append())
          .toDF("user_id", "start_us", "last_us", "n", "sum_value"),
        "append")
      val cutoff = Tables.events(s, d)
        .agg((max(col("ts")) - expr("INTERVAL 1 HOUR") - expr("INTERVAL 1 SECOND"))
          .as("sealed_before"))
      streamed
        .select(col("user_id"),
          timestamp_micros(col("start_us")).as("session_start"),
          timestamp_micros(col("last_us")).as("session_last"),
          col("n"), col("sum_value"))
        .crossJoin(cutoff)
        .where(col("session_last") + expr("INTERVAL 15 MINUTES") <= col("sealed_before"))
        .select("user_id", "session_start", "session_last", "n", "sum_value")
    },
    Some(s"""WITH o AS (
               SELECT user_id, ts, event_id, value,
                      CASE WHEN lag(ts) OVER w IS NULL
                                OR ts - lag(ts) OVER w >= INTERVAL '15 minutes'
                           THEN 1 ELSE 0 END AS ns
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             sess AS (
               SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid
               FROM o),
             agg AS (
               SELECT user_id, min(ts) AS session_start, max(ts) AS session_last,
                      CAST(count(*) AS BIGINT) AS n, ${sqlSum2("value")} AS sum_value
               FROM sess GROUP BY user_id, sid)
             SELECT user_id, session_start, session_last, n, sum_value
             FROM agg
             WHERE session_last + INTERVAL '15 minutes' <=
                   (SELECT max(ts) - INTERVAL '1 hour' - INTERVAL '1 second' FROM events)""")
  )

  /** q205 — NATIVE STREAMING SESSION WINDOWS: `session_window` under a
    * watermark in append mode — the ENGINE-OWNED leg of the
    * sessionization triangle (q36 batch native; q47 custom
    * flatMapGroupsWithState; q195 custom timers; this one lets the
    * streaming engine both MERGE the windows and EXPIRE the state).
    * The state story differs from q195's in kind: session_window state
    * is merging-window state the engine maintains (sessions merge when
    * their [ts, ts+gap) extents overlap), evicted and EMITTED when the
    * watermark passes a session's end — no user state machine at all.
    * Emitted set = sessions the final watermark sealed; both sides
    * apply q195's guarded closed predicate (`last + 15 min ≤ max(ts) −
    * 1 h − 1 s`, spelled on the window: `window.end ≤ cutoff + gap`
    * since end = last + gap), so the three session implementations and
    * the one gaps-and-islands oracle must all agree row-for-row.
    */
  val streamSessionWindow = Q(
    "q205_stream_session_window",
    (s, d) => {
      val streamed = toMemory(
        Tables.eventStream(s, d)
          .withWatermark("ts", "1 hour")
          .groupBy(session_window(col("ts"), "15 minutes"), col("user_id"))
          .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_last"),
            count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
          .select(col("user_id"), col("session_start"), col("session_last"),
            col("n"), col("sum_value")),
        "append")
      val cutoff = Tables.events(s, d)
        .agg((max(col("ts")) - expr("INTERVAL 1 HOUR") - expr("INTERVAL 1 SECOND"))
          .as("sealed_before"))
      streamed
        .crossJoin(cutoff)
        .where(col("session_last") + expr("INTERVAL 15 MINUTES") <= col("sealed_before"))
        .select("user_id", "session_start", "session_last", "n", "sum_value")
    },
    sessionTimers.oracle // the native engine path ≡ the timer state machine
  )

  /** q47 — the same sessionization as q36 through CUSTOM state:
    * `flatMapGroupsWithState` (graft.streaming.Sessionize) instead of the
    * built-in session_window — the escape hatch for session semantics the
    * built-in can't express (per-user gaps, value-dependent splits).
    * Batch execution here (trailing sessions flushed); the multi-batch
    * state-store path is exercised in StreamingSessionSpec. Same oracle
    * as q36: both formulations must agree.
    */
  val statefulSessions = Q(
    "q47_stateful_sessions",
    (s, d) => {
      import s.implicits._
      val events = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("value"))
        .as[graft.streaming.Sessionize.Event]
      graft.streaming.Sessionize
        .sessions(events, gapUs = 15L * 60 * 1000000, flushTrailing = true)
        .toDF()
        .select(col("session_start"), col("user_id"), col("n"), col("sum_value"))
    },
    session.oracle // identical semantics to q36
  )

  /** q138 — STREAM-STATIC ENRICHMENT JOIN: the streaming event flow
    * joined against a BATCH dimension (the per-type count table) — the
    * one streaming join shape the suite lacked (q74 covers
    * stream-stream interval; this is the "enrich the clickstream with
    * the account table" pattern every deployment runs). The static side
    * is planned fresh per micro-batch, so a slowly-changing dimension
    * is always current without restarting the query, and needs no
    * watermark or join state at all — the stream row either matches
    * now or never (inner join), which is why append mode emits
    * immediately where q74 must hold rows in state. Oracle ≡ q128's
    * batch join: the streaming execution path must agree with the
    * batch path row-for-row.
    */
  val streamStaticJoin = Q(
    "q138_stream_static_join",
    (s, d) => {
      val dim = Tables.events(s, d).groupBy("event_type")
        .agg(count(lit(1)).as("type_count"))
      toMemory(
        Tables.eventStream(s, d).join(dim, Seq("event_type"))
          .select(col("event_id"), col("event_type"), col("type_count")),
        "append")
    },
    Some("""WITH c AS (SELECT event_type, count(*) AS type_count
                       FROM events GROUP BY event_type)
            SELECT e.event_id, e.event_type,
                   CAST(c.type_count AS BIGINT) AS type_count
            FROM events e JOIN c USING (event_type)""")
  )

  /** q150 — STREAMING UPSERT LOOP (`foreachBatch` → versioned store):
    * the CDC-apply pattern every streaming deployment ends in — each
    * micro-batch MERGES into a keyed store (here: latest event per user,
    * by (ts, event_id) argmax) instead of appending to a sink. The store
    * is copy-on-write versioned (q143's discipline): batch k reads
    * store-v(k) and writes store-v(k+1), so a crashed batch never
    * corrupts the current version and the merge is idempotent per
    * version. The input is staged as 8 files and streamed with
    * `maxFilesPerTrigger=2`, forcing MULTIPLE micro-batches — the final
    * store must be INDEPENDENT of how the stream was batched, which
    * holds because per-key argmax is associative (the same property that
    * makes map-side combine sound); the oracle computes the argmax over
    * the whole table directly, so equality proves exactly that batching
    * independence. `foreachBatch` runs on the driver with a tiny
    * per-batch plan; the heavy work (the merge) is a distributed
    * aggregation each batch.
    */
  val streamUpsert = Q(
    "q150_stream_upsert",
    (s, d) => {
      val src = graft.sources.Sources.scratchLeaf(d, "upsert_src")
      // store + checkpoint are per-EXECUTION: a reused checkpoint would
      // make every later run (bench reps!) an empty no-op stream
      val runId = java.util.UUID.randomUUID().toString.take(8)
      val storeRoot = graft.sources.Sources.scratchLeaf(d, s"upsert_store_$runId")
      val staged = graft.sources.Sources.write(Tables.events(s, d)
        .select("event_id", "user_id", "ts", "event_type", "value").repartition(8), src)

      def latest(df: org.apache.spark.sql.DataFrame) = df
        .groupBy("user_id")
        .agg(max(struct(col("ts"), col("event_id"), col("event_type"), col("value")))
          .as("r"))
        .select(col("user_id"), col("r.ts").as("ts"), col("r.event_id").as("event_id"),
          col("r.event_type").as("event_type"), col("r.value").as("value"))

      // every merged version goes through the scratch write, so the next
      // batch reads it back with a known schema
      var version = 0
      var store: Option[graft.sources.Sources.Written] = None
      val mergeBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
        (batch, _) => {
          val ses = batch.sparkSession
          val delta = latest(batch.toDF())
          val merged = store.fold(delta)(v => latest(v.read(ses).unionAll(delta)))
          store = Some(graft.sources.Sources.write(merged, s"$storeRoot/v${version + 1}"))
          version += 1
        }
      withStreamPartitions(s)(drain(s)(
        s.readStream.schema(staged.schema)
          .option("maxFilesPerTrigger", "2").parquet(src)
          .writeStream.foreachBatch(mergeBatch)
          .option("checkpointLocation",
            graft.sources.Sources.scratchLeaf(d, s"upsert_chk_$runId"))))
      require(version >= 2, s"expected multiple micro-batches, got $version")
      store.get.read(s)
        .select(col("user_id"), col("ts").as("last_ts"),
          col("event_type").as("last_type"), col("value").as("last_value"))
    },
    Some("""SELECT user_id, ts AS last_ts, event_type AS last_type,
                   "value" AS last_value
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events) t
            WHERE rn = 1""")
  )

  /** q176 — EWMA SMOOTHING + ANOMALY FLAGS over the hourly event-count
    * series per type: the metrics-pipeline classic (smooth a noisy
    * counter, flag hours that jump away from their own recent history).
    * EWMA is a SEQUENTIAL RECURRENCE — e_t = α·x_t + (1−α)·e_{t−1} —
    * the class no window function expresses (each value depends on the
    * previous OUTPUT, not previous inputs), so it runs as the q95/q163
    * per-key typed fold: one shuffle on event_type, then an ordered
    * scalar loop over that type's hours (series length is bounded by
    * the time span, never the corpus — at 100 TB the per-key history is
    * hours-per-year, trivially executor-resident). An hour is flagged
    * when its count leaves [0.5, 2]× the PRIOR smoothed level (flag
    * from e_{t−1}, not e_t — the anomaly must not vote on its own
    * baseline); the first hour of a series has no baseline and is never
    * flagged.
    *
    * Bit-exactness: α = 0.25 and 1−α = 0.75 are exact binary fractions,
    * counts are integers, and both engines fold in the same hour order —
    * so every intermediate double is IDENTICAL and the oracle (a
    * recursive CTE stepping one hour per type per iteration, all types
    * advancing in parallel — the q95 pattern) hash-matches without any
    * rounding escape hatch.
    */
  val ewmaAnomaly = Q(
    "q176_ewma_anomaly",
    (s, d) => {
      import s.implicits._
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
        .as[(String, java.sql.Timestamp, Long)]
      hourly.groupByKey(_._1)
        .flatMapGroups { (tpe, it) =>
          val series = it.toArray.sortBy(_._2.getTime)
          var ewma = 0.0
          series.iterator.zipWithIndex.map { case ((_, hr, n), i) =>
            val prev = ewma
            ewma = if (i == 0) n.toDouble else 0.25 * n.toDouble + 0.75 * prev
            val anomaly =
              if (i == 0) 0L
              else if (n.toDouble > 2.0 * prev || n.toDouble < 0.5 * prev) 1L
              else 0L
            (tpe, hr, n, ewma, anomaly)
          }
        }
        .toDF("event_type", "hr", "n", "ewma", "anomaly")
    },
    Some("""WITH RECURSIVE hourly AS (
              SELECT event_type, date_trunc('hour', ts) AS hr,
                     CAST(count(*) AS BIGINT) AS n,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY date_trunc('hour', ts)) AS rn
              FROM events GROUP BY 1, 2),
            walk AS (
              SELECT event_type, hr, n, rn,
                     CAST(n AS DOUBLE) AS ewma, CAST(0 AS BIGINT) AS anomaly
              FROM hourly WHERE rn = 1
              UNION ALL
              SELECT h.event_type, h.hr, h.n, h.rn,
                     0.25 * CAST(h.n AS DOUBLE) + 0.75 * w.ewma,
                     CAST(CASE WHEN CAST(h.n AS DOUBLE) > 2.0 * w.ewma
                                 OR CAST(h.n AS DOUBLE) < 0.5 * w.ewma
                               THEN 1 ELSE 0 END AS BIGINT)
              FROM hourly h JOIN walk w
                ON w.event_type = h.event_type AND h.rn = w.rn + 1)
            SELECT event_type, hr, n, ewma, anomaly FROM walk""")
  )

  /** q180 — RECURSIVE CTE executed BY SPARK (the `WITH RECURSIVE`
    * surface Spark gained in 4.x, previously a DuckDB-oracle-only
    * device in this suite): q176's EWMA recurrence at DAILY grain.
    * Why it earns a slot next to q176: same recurrence, different
    * EXECUTION ENGINE PATH (UnionLoop iterative plan vs a typed
    * flatMapGroups fold) — two independent Spark implementations plus
    * the DuckDB oracle must all agree bit-for-bit on the folded
    * doubles, which triangulates the recurrence itself
    * (`RecursiveEwmaSpec` pins the q176-shaped fold equivalence AND
    * that the plan really runs UnionLoop).
    *
    * STATE-CARRYING recursion, not join-stepped: the frontier row for
    * each series carries its whole remaining input as a bounded
    * `array<struct<day,n>>` plus a cursor, so every iteration is a pure
    * PROJECTION over the |types|-row frontier — no join, no broadcast,
    * no scan. This is the production shape for sequential recurrences
    * in recursive SQL: the join-stepped form (frontier ⋈ daily ON
    * rn = rn + 1) re-plans and re-broadcasts the step join every
    * iteration, and UnionLoop's fixed per-iteration cost dominated
    * three rounds of slowest-10 (driver passes 4.4–14.6 s on a 150-row
    * local recursion; BASELINE.md round-14 A/B: join-stepped ~4.9–5.3 s
    * vs this form ~1.5–2.2 s at sf0.1, outputs bit-identical). The
    * array is bounded by the CALENDAR (days per span), never the
    * corpus — the same bound the join-stepped form relied on, now held
    * as executor-resident state instead of a per-step join. Termination
    * is structural (cursor strictly increases toward `size(days)`;
    * depth = 30 days, under Spark's default 100-level limit). The
    * DuckDB oracle keeps the textbook join-stepped spelling — a THIRD
    * independent expression of the recurrence.
    */
  val recursiveEwma = Q(
    "q180_recursive_sql",
    (s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .groupBy("event_type")
        .agg(array_sort(collect_list(struct(col("day"), col("n")))).as("days"))
        .createOrReplaceTempView("q180_series_v")
      // Spark [] indexing is 0-based: the anchor emits element 0 and
      // sets the cursor to 1 = the element the first step consumes.
      s.sql("""
        WITH RECURSIVE walk AS (
          SELECT event_type, days, 1 AS i,
                 days[0].day AS day, days[0].n AS n,
                 CAST(days[0].n AS DOUBLE) AS ewma, CAST(0 AS BIGINT) AS anomaly
          FROM q180_series_v
          UNION ALL
          SELECT event_type, days, i + 1,
                 days[i].day, days[i].n,
                 0.25 * CAST(days[i].n AS DOUBLE) + 0.75 * ewma,
                 CAST(CASE WHEN CAST(days[i].n AS DOUBLE) > 2.0 * ewma
                             OR CAST(days[i].n AS DOUBLE) < 0.5 * ewma
                           THEN 1 ELSE 0 END AS BIGINT)
          FROM walk WHERE i < size(days))
        SELECT event_type, day, n, ewma, anomaly FROM walk""")
    },
    Some("""WITH RECURSIVE daily AS (
              SELECT event_type, date_trunc('day', ts) AS day,
                     CAST(count(*) AS BIGINT) AS n,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY date_trunc('day', ts)) AS rn
              FROM events GROUP BY event_type, date_trunc('day', ts)),
            walk AS (
              SELECT event_type, day, n, rn,
                     CAST(n AS DOUBLE) AS ewma, CAST(0 AS BIGINT) AS anomaly
              FROM daily WHERE rn = 1
              UNION ALL
              SELECT h.event_type, h.day, h.n, h.rn,
                     0.25 * CAST(h.n AS DOUBLE) + 0.75 * w.ewma,
                     CAST(CASE WHEN CAST(h.n AS DOUBLE) > 2.0 * w.ewma
                                 OR CAST(h.n AS DOUBLE) < 0.5 * w.ewma
                               THEN 1 ELSE 0 END AS BIGINT)
              FROM daily h JOIN walk w
                ON w.event_type = h.event_type AND h.rn = w.rn + 1)
            SELECT event_type, day, n, ewma, anomaly FROM walk""")
  )

  /** q223 — `transformWithState` MAP STATE: the third named-state
    * primitive (q189 ValueState, q195 ListState) — per-user totals
    * keyed by EVENT TYPE inside one `MapState[String, (n, cents)]`
    * ([[graft.streaming.TypeTotals]]). The map shape is the per-entity
    * feature dictionary: keying the operator by (user, type) instead
    * would compute the same totals but lose the per-user view —
    * `keys()` iteration yields the user's distinct-type count in the
    * same pass, which this query carries as `n_types` to prove the map
    * is really iterated, not just point-updated. RocksDB stores each
    * map entry as its own composite-keyed row (an update touches one
    * entry, never a reserialized whole-map blob — why MapState beats
    * ValueState[Map] as dictionaries grow). Per-batch emission carries
    * totals-so-far per touched (user, type); n and n_types are both
    * monotone, so `max(struct(...))` per key is the batching-
    * independent final answer (q189's discipline). Oracle: the batch
    * (user, type) aggregate joined to the per-user distinct-type count.
    */
  val transformWithMapState = Q(
    "q223_tws_mapstate",
    (s0, d) => {
      val s = child(s0, RocksDbState)
      import s.implicits._
      val streamed = toMemory(
        Tables.eventStream(s, d)
          .select(col("user_id"), col("event_type"), col("value"))
          .as[(Long, String, Double)]
          .groupByKey(_._1)
          .transformWithState(new graft.streaming.TypeTotals(),
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update())
          .toDF("user_id", "event_type", "n", "cents", "n_types"),
        "update")
      streamed
        .groupBy("user_id", "event_type")
        .agg(max(struct(col("n"), col("cents"))).as("b"),
          max(col("n_types")).as("n_types"))
        .select(col("user_id"), col("event_type"), col("b.n").as("n"),
          (col("b.cents") / 100.0).as("sum_value"), col("n_types"))
    },
    Some(s"""WITH pt AS (SELECT user_id, event_type,
                           CAST(count(*) AS BIGINT) AS n,
                           ${sqlSum2("value")} AS sum_value
                         FROM events GROUP BY 1, 2),
             ut AS (SELECT user_id,
                           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
                    FROM events GROUP BY 1)
             SELECT pt.user_id, pt.event_type, pt.n, pt.sum_value, ut.n_types
             FROM pt JOIN ut ON pt.user_id = ut.user_id""")
  )

  /** q224 — watermarked stream-stream FULL OUTER interval join: the
    * completion of the join-type family (q74 inner, q182 left outer) —
    * "every view↔purchase attribution pair, every orphaned view, AND
    * every orphaned purchase" in one bounded-state streaming query.
    * Full outer exercises BOTH sides' expiry machinery at once: a
    * matched pair emits the moment both rows arrive; an unmatched view
    * waits until the watermark proves no purchase in [ts_view,
    * ts_view+6h] can arrive; an unmatched purchase waits until the
    * watermark proves no view in [ts_buy−6h, ts_buy] can arrive — the
    * right-side expiry path q182's left outer never executes.
    *
    * Determinism (q182's closed predicate, applied PER SIDE): a result
    * row with a left part is decided once ts_view < cutoff; a
    * right-only row once ts_buy < cutoff (cutoff = min of both sides'
    * max ts − watermark − window − 1 s guard). The filter runs on the
    * raw nullable columns BEFORE the sentinel coalesce, and the batch
    * oracle applies the identical per-side predicate to a batch FULL
    * JOIN — streaming and batch agree row-for-row. Both sentinel
    * substitutions (−1 / epoch) exist because NULL keys and NULL
    * timestamps are compare-hazards (NaT ≠ NaT).
    *
    * Scale shape identical to q74/q182: one shuffle per side on
    * user_id, state bounded by the 7 h horizon per side, never history.
    */
  val streamFullOuterJoin = Q(
    "q224_stream_full_outer",
    (s, d) => {
      def src = Tables.eventStream(s, d)
        .withWatermark("ts", "1 hour")
      val views = src.where(col("event_type") === "view")
        .select(col("user_id").as("user_v"), col("event_id").as("view_id"),
          col("ts").as("ts_view"))
      val buys = src.where(col("event_type") === "purchase")
        .select(col("user_id").as("user_b"), col("event_id").as("purchase_id"),
          col("ts").as("ts_buy"))
      val streamed = toMemory(
        views.join(buys,
            col("user_v") === col("user_b") &&
              col("ts_buy") >= col("ts_view") &&
              col("ts_buy") <= col("ts_view") + expr("INTERVAL 6 HOURS"),
            "fullOuter"),
        "append")
      val cutoff = Tables.events(s, d)
        .where(col("event_type").isin("view", "purchase"))
        .groupBy("event_type").agg(max(col("ts")).as("mx"))
        .agg((min(col("mx")) - expr("INTERVAL 7 HOURS") -
          expr("INTERVAL 1 SECOND")).as("closed_before"))
      streamed
        .crossJoin(cutoff)
        .where(when(col("view_id").isNotNull,
            col("ts_view") < col("closed_before"))
          .otherwise(col("ts_buy") < col("closed_before")))
        .select(coalesce(col("user_v"), col("user_b")).as("user_id"),
          coalesce(col("view_id"), lit(-1L)).as("view_id"),
          coalesce(col("ts_view"),
            to_timestamp(lit("1970-01-01 00:00:00"))).as("ts_view"),
          coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
          coalesce(col("ts_buy"),
            to_timestamp(lit("1970-01-01 00:00:00"))).as("ts_buy"))
    },
    Some("""WITH v AS (SELECT user_id, event_id, ts FROM events
                       WHERE event_type = 'view'),
            b AS (SELECT user_id, event_id, ts FROM events
                  WHERE event_type = 'purchase'),
            cut AS (SELECT min(mx) - INTERVAL '7 hours' - INTERVAL '1 second'
                           AS closed_before
                    FROM (SELECT max(ts) AS mx FROM v
                          UNION ALL SELECT max(ts) FROM b) t)
            SELECT coalesce(v.user_id, b.user_id) AS user_id,
                   CAST(coalesce(v.event_id, -1) AS BIGINT) AS view_id,
                   coalesce(v.ts, TIMESTAMP '1970-01-01 00:00:00') AS ts_view,
                   CAST(coalesce(b.event_id, -1) AS BIGINT) AS purchase_id,
                   coalesce(b.ts, TIMESTAMP '1970-01-01 00:00:00') AS ts_buy
            FROM v FULL JOIN b
              ON b.user_id = v.user_id
             AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL '6 hours'
            CROSS JOIN cut
            WHERE CASE WHEN v.event_id IS NOT NULL
                       THEN v.ts < closed_before
                       ELSE b.ts < closed_before END""")
  )

  /** q225 — `transformWithState` INITIAL-STATE BOOTSTRAP: the
    * warm-start hook (`StatefulProcessorWithInitialState`,
    * [[graft.streaming.BootstrapTotals]]) that seeds each key's named
    * state from a BATCH dataset before the first micro-batch — the
    * migration path every production stateful pipeline eventually
    * needs: cut over from batch-computed history (or rebuild a
    * checkpoint an old job format can't carry) WITHOUT replaying
    * history through the stream. At 100 TB/day that's the difference
    * between a cutover that re-streams months of events and one that
    * joins a history table once: the engine co-partitions the
    * initial-state dataset with the stream by key, a distributed
    * join-shaped seeding pass, never a driver loop.
    *
    * Fixture: history = events before Jan 16 aggregated in batch to
    * (n, cents); stream = only the remainder (ts ≥ cutoff, filtered at
    * the source). The processor accumulates cent-exactly on top of the
    * seed, so the warm-started stream must be BIT-EQUAL to having
    * streamed everything — the oracle is the full-history per-user
    * aggregate, restricted to users with a post-cutoff event (Update
    * mode emits only keys that receive input; seeded-but-silent keys
    * stay in state, which is the point of a warm start). Monotone n →
    * `max(struct(...))` batching-independence (q189 discipline).
    */
  val transformWithInitialState = Q(
    "q225_tws_initial_state",
    (s0, d) => {
      val s = child(s0, RocksDbState)
      import s.implicits._
      val cutoff = "2024-01-16 00:00:00"
      val history = Tables.events(s, d)
        .where(col("ts") < lit(cutoff).cast("timestamp"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(value * 100.0) AS BIGINT)")).as("cents"))
        .as[(Long, Long, Long)]
        .map(t => (t._1, (t._2, t._3)))
        .groupByKey(_._1)
        .mapValues(_._2)
      val streamed = toMemory(
        Tables.eventStream(s, d)
          .where(col("ts") >= lit(cutoff).cast("timestamp"))
          .select(col("user_id"), col("value")).as[(Long, Double)]
          .groupByKey(_._1)
          .transformWithState(new graft.streaming.BootstrapTotals(),
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update(),
            history)
          .toDF("user_id", "n", "sum_value"),
        "update")
      streamed
        .groupBy("user_id")
        .agg(max(struct(col("n"), col("sum_value"))).as("b"))
        .select(col("user_id"), col("b.n").as("n"), col("b.sum_value").as("sum_value"))
    },
    Some(s"""SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                    ${sqlSum2("value")} AS sum_value
             FROM events
             WHERE user_id IN (SELECT user_id FROM events
                               WHERE ts >= TIMESTAMP '2024-01-16 00:00:00')
             GROUP BY user_id""")
  )

  /** q231 — DYNAMIC-GAP SESSION WINDOWS: `session_window` with a
    * PER-ROW gap expression — the capability fixed-gap sessionization
    * (q36/q205) can't express and real products need: different event
    * kinds imply different "still here" horizons (a view goes stale in
    * 10 minutes, anything else holds the session 30). The engine
    * semantics under test: each row spans [ts, ts+gap(row)), and
    * chain-overlapping spans MERGE — session end is the max member
    * end, so one long-gap event can bridge two bursts a fixed gap
    * would split. The oracle replays exactly that closure as
    * gaps-and-islands with a running max-end window (new session iff
    * ts ≥ max end of ALL predecessors — prefix max, not lag: an
    * earlier long-gap row must bridge across an intervening short one;
    * ties on (ts, end) are outcome-invariant since a tied predecessor's
    * end > ts always extends). Plan shape: one shuffle on user_id,
    * per-user merge inside the native operator — the same q36 contract
    * with the gap function moved from a constant to the data.
    */
  val dynamicSessionGap = Q(
    "q231_dynamic_session_gap",
    (s, d) => {
      Tables.events(s, d)
        .groupBy(
          session_window(col("ts"),
            when(col("event_type") === "view", "10 minutes")
              .otherwise("30 minutes")),
          col("user_id"))
        .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
        .select(col("user_id"), col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"), col("n"), col("sum_value"))
    },
    Some(s"""WITH g AS (SELECT user_id, ts, value,
                          CASE WHEN event_type = 'view'
                               THEN INTERVAL '10 minutes'
                               ELSE INTERVAL '30 minutes' END AS gap
                        FROM events),
             x AS (SELECT user_id, ts, value, ts + gap AS end_t,
                     max(ts + gap) OVER (PARTITION BY user_id
                                         ORDER BY ts, ts + gap
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS prev_max
                   FROM g),
             f AS (SELECT user_id, ts, value, end_t,
                     CASE WHEN prev_max IS NULL OR ts >= prev_max
                          THEN 1 ELSE 0 END AS new_s
                   FROM x),
             sid AS (SELECT user_id, ts, value, end_t,
                       sum(new_s) OVER (PARTITION BY user_id
                                        ORDER BY ts, end_t
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS sess
                     FROM f),
             agg AS (SELECT user_id, sess, min(ts) AS s_start,
                       max(end_t) AS s_end, count(*) AS n,
                       ${sqlSum2("value")} AS sum_value
                     FROM sid GROUP BY 1, 2)
             SELECT user_id, s_start, s_end, n, sum_value FROM agg""")
  )

  /** q251 — `transformWithState` LIST STATE: the per-user "3 most
    * recent purchases" tracker ([[graft.streaming.RecentPurchases]]) —
    * the third state shape of the family (ValueState q189, MapState
    * q223), kept O(k) per key by REWRITING the list as top-k each batch
    * instead of appending history. Two named state variables share the
    * key (the bounded list + a ValueState counter). The merge sorts on
    * the total order (ts, event_id) before truncating, so intra-batch
    * arrival order — which the engine does not specify — cannot change
    * the answer; the final row per key is `max(struct(n, …))` over the
    * Update-mode emissions (q189's batching-independence discipline).
    * Oracle: the batch top-3-recency replay (row_number over ts DESC).
    */
  val transformWithListState = Q(
    "q251_tws_liststate",
    (s0, d) => {
      val s = child(s0, RocksDbState)
      import s.implicits._
      val streamed = toMemory(
        Tables.eventStream(s, d)
          .where(col("event_type") === "purchase")
          .select(col("user_id"), unix_micros(col("ts")).as("tsu"), col("event_id"))
          .as[(Long, Long, Long)]
          .groupByKey(_._1)
          .transformWithState(new graft.streaming.RecentPurchases(),
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update())
          .toDF("user_id", "n_purch", "last3"),
        "update")
      streamed
        .groupBy("user_id")
        .agg(max(struct(col("n_purch"), col("last3"))).as("b"))
        .select(col("user_id"), col("b.n_purch").as("n_purch"), col("b.last3").as("last3"))
    },
    Some("""WITH p AS (SELECT user_id, ts, event_id FROM events
                       WHERE event_type = 'purchase'),
                 r AS (SELECT user_id, event_id,
                              row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
                       FROM p),
                 l AS (SELECT user_id,
                              string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY rn) AS last3
                       FROM r WHERE rn <= 3 GROUP BY user_id),
                 n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_purch
                       FROM p GROUP BY user_id)
            SELECT n.user_id, n.n_purch, l.last3 FROM n JOIN l USING (user_id)""")
  )

  /** q259 — the q37/q61 aggregation in UPDATE output mode, completing
    * the output-mode matrix (complete q37, append q61, update here) —
    * and update is the mode production dashboards actually run: unlike
    * COMPLETE it does not replay every window every batch (the full
    * result re-emission that makes complete mode unusable beyond toy
    * state), and unlike APPEND it serves windows WHILE they are open
    * (append shows an hour's traffic only after the watermark closes
    * it — an hour-plus-late dashboard). Update emits exactly the
    * groups a batch CHANGED: upsert rows for a key-value sink. The
    * watermark still bounds state like q61's. Registered run drains in
    * one AvailableNow batch, so the changed-set is every window; the
    * per-key LAST emission (counts grow monotonically, so
    * max(struct(n, …)) picks it — the q189 dedup discipline) equals
    * the batch aggregate = the oracle. The mode's distinguishing
    * behavior — an untouched group does NOT re-emit, a touched one
    * re-emits its new total — is pinned across real micro-batches in
    * `StreamUpdateModeSpec`, where complete mode's replay-everything
    * contrast is asserted in the same harness.
    */
  val streamTumblingUpdate = Q(
    "q259_stream_update_agg",
    (s, d) => {
      val streamed = toMemory(
        Tables.eventStream(s, d)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
          .select(col("window.start").as("wstart"), col("event_type"),
            col("n"), col("sum_value")),
        "update")
      streamed
        .groupBy("wstart", "event_type")
        .agg(max(struct(col("n"), col("sum_value"))).as("b"))
        .select(col("wstart"), col("event_type"),
          col("b.n").as("n"), col("b.sum_value").as("sum_value"))
    },
    Some(s"""SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart, event_type,
             count(*) AS n, ${sqlSum2("value")} AS sum_value
             FROM events GROUP BY 1, 2""")
  )

  /** q253 — `transformWithState` STATE TTL ([[graft.streaming.TtlTotals]]):
    * the state-hygiene primitive for UNBOUNDED key spaces. Every keyed
    * stateful operator in this suite so far keeps a key's state until a
    * timer fires (q195) or forever (q189/q223/q251) — but production key
    * spaces (user ids, device ids, session tokens) grow without bound
    * and mostly never return, so "forever" is a slow OOM at 10^9 keys.
    * `TTLConfig(ttl)` under `TimeMode.ProcessingTime` expires an idle
    * key's state with NO per-key timer, no tombstone traffic, no
    * processor involvement: the engine filters expired values at read
    * and reclaims them in maintenance — O(0) per live key, which is the
    * difference between timers and TTL at fleet scale. The registered
    * run uses a 1-hour TTL that nothing in a single drain can outlive
    * (oracle = plain per-user click totals, cent-exact longs);
    * `TtlStateSpec` proves the two behaviors the oracle can't see:
    * an idle key's state really expires (restart-from-zero after
    * sleeping past a short TTL) and an active key's state really
    * persists (continuation across batches under a long TTL).
    *
    * Engine quirk this run designs around: TTL forces
    * `TimeMode.ProcessingTime`, whose `shouldRunAnotherBatch` is
    * unconditionally true (TransformWithStateExecBase — the engine
    * keeps scheduling batches to re-evaluate wall-clock expiry), so an
    * `AvailableNow` drain NEVER terminates and `processAllAvailable`
    * never sees quiescence. The run therefore polls the sink until
    * every click user has emitted — the one batch with data does all
    * the work — then stops the query explicitly.
    */
  val transformWithTtlState = Q(
    "q253_tws_ttl",
    (s0, d) => {
      // transformWithState REQUIRES the RocksDB provider (multiple
      // column families); checkpoint file checksums are disabled here
      // because their async-close future has deadlocked RocksDB
      // snapshot uploads under rapid tiny batches in this environment
      // (ChecksumCancellableFSDataOutputStream.close never completing)
      val s = child(s0, RocksDbState,
        "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")
      import s.implicits._
      val name = "stream_tws_ttl_" + java.util.UUID.randomUUID().toString.take(8)
      // completion target for the poll: one emission per click user
      val expectedUsers = Tables.events(s, d)
        .where(col("event_type") === "click")
        .select("user_id").distinct().count()
      // the stream clones the session when it starts, so the state and
      // class-sharing scopes need to cover only the start
      val q = withStreamPartitions(s)(shareClasses(s)(
        Tables.eventStream(s, d)
          .where(col("event_type") === "click")
          .select(col("user_id"), col("value")).as[(Long, Double)]
          .groupByKey(_._1)
          .transformWithState(new graft.streaming.TtlTotals(3600000L),
            org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
            org.apache.spark.sql.streaming.OutputMode.Update())
          .toDF("user_id", "n_click", "cents")
          .writeStream.format("memory").queryName(name)
          .outputMode("update")
          .start()))
      try {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (q.isActive && System.nanoTime() < deadline &&
          s.table(name).select("user_id").distinct().count() < expectedUsers)
          Thread.sleep(100)
      } finally {
        q.stop()
        q.awaitTermination()
      }
      s.table(name)
        .groupBy("user_id")
        .agg(max(struct(col("n_click"), col("cents"))).as("b"))
        .select(col("user_id"), col("b.n_click").as("n_click"),
          col("b.cents").as("cents"))
    },
    Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n_click,
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
            FROM events WHERE event_type = 'click' GROUP BY user_id""")
  )

  /** q254 — watermarked stream-stream LEFT SEMI interval join: the
    * conversion FLAG the join-type family still lacked (inner q74 emits
    * one row PER matching purchase — a view with 3 conversions
    * triplicates; left outer q182 and full outer q224 add null-padded
    * rows). Semi answers the question funnels actually ask — "did this
    * view convert within 6 h at all?" — emitting each matched view
    * EXACTLY ONCE however many purchases land in its window, with no
    * post-hoc distinct (which on an inner join's output would be a
    * second full shuffle of the multiplied stream). Engine semantics: a
    * left row emits the first time a match is seen and is marked in
    * state so later matches can't re-emit; unmatched views never emit
    * and their state is dropped once the watermark closes their
    * interval — state stays bounded on both sides by the same
    * watermark + time-range arithmetic as q74. Oracle: the EXISTS
    * correlated subquery over the batch table — the textbook semi-join
    * spelling. `StreamJoinSpec` pins the exactly-once emission against
    * a double-match fixture and the never-matched row's silence.
    */
  val streamSemiJoin = Q(
    "q254_stream_semi_join",
    (s, d) => {
      def src = Tables.eventStream(s, d)
        .withWatermark("ts", "1 hour")
      val views = src.where(col("event_type") === "view")
        .select(col("user_id").as("user_v"), col("event_id").as("view_id"),
          col("ts").as("ts_view"))
      val buys = src.where(col("event_type") === "purchase")
        .select(col("user_id").as("user_b"), col("ts").as("ts_buy"))
      val streamed = toMemory(
        views.join(buys,
            col("user_v") === col("user_b") &&
              col("ts_buy") >= col("ts_view") &&
              col("ts_buy") <= col("ts_view") + expr("INTERVAL 6 HOURS"),
            "left_semi"),
        "append")
      streamed
        .select(col("user_v").as("user_id"), col("view_id"), col("ts_view"))
    },
    Some("""SELECT v.user_id, v.event_id AS view_id, v.ts AS ts_view
            FROM events v
            WHERE v.event_type = 'view'
              AND EXISTS (SELECT 1 FROM events b
                          WHERE b.event_type = 'purchase'
                            AND b.user_id = v.user_id
                            AND b.ts >= v.ts
                            AND b.ts <= v.ts + INTERVAL '6 hours')""")
  )

  /** q239 — LOCF imputation (last observation carried forward): the
    * time-series repair q66's zero-fill cannot express — a missing
    * reading means "unchanged since the last one", not zero (sensor
    * state, account balances, feature snapshots feeding a model).
    * Here only `purchase` events carry an observed value; every other
    * event row is imputed with the user's most recent purchase value.
    * Engine surface: `last(col, ignoreNulls = true)` over a running
    * ROWS frame — the one window shape whose null-skipping the frame
    * family (q15/q54/q58) never exercises. Ordering is pinned to
    * (ts, event_id) so the carried value is deterministic under ties.
    *
    * Scale: one shuffle on user_id; the running frame streams each
    * partition in sort order with O(1) state per user (the engine keeps
    * only the last non-null seen), so a user's history never buffers.
    * Output is the per-user repair audit (observed / carried / still-
    * missing counts + filled mass), not the 100 TB row stream.
    */
  val locfImpute = Q(
    "q239_locf_impute",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("obs", when(col("event_type") === "purchase", col("value")))
        .withColumn("filled", last(col("obs"), ignoreNulls = true).over(w))
        .groupBy("user_id")
        .agg(
          count(col("obs")).as("n_obs"),
          count(when(col("obs").isNull && col("filled").isNotNull, 1)).as("n_carried"),
          count(when(col("filled").isNull, 1)).as("n_leading"),
          dsum2(col("filled")).as("sum_filled"))
    },
    Some(s"""WITH f AS (
               SELECT user_id,
                      CASE WHEN event_type = 'purchase' THEN value END AS obs,
                      last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
               FROM events)
             SELECT user_id,
                    count(obs) AS n_obs,
                    count(CASE WHEN obs IS NULL AND filled IS NOT NULL THEN 1 END) AS n_carried,
                    count(CASE WHEN filled IS NULL THEN 1 END) AS n_leading,
                    ${sqlSum2("filled")} AS sum_filled
             FROM f GROUP BY user_id""")
  )

  /** q241 — lag-k AUTOCORRELATION of a daily series: the seasonality /
    * momentum diagnostic (acf1 = day-over-day persistence, acf7 = weekly
    * cycle) every forecasting pipeline computes before model choice.
    * Two-level plan: exact daily totals per event_type (decimal-summed,
    * q03 discipline — both engines aggregate to the IDENTICAL doubles,
    * so the correlation inputs match bit-for-bit), then a GAP-GUARDED
    * lag — `lag(v, k)` is only a k-DAY lag when the calendar is dense,
    * so the lagged value is nulled unless `lag(day, k) = day - k days`;
    * `corr` skips null pairs in both engines, making the statistic
    * day-exact whatever the density. Rounded to 6 decimals: corr's
    * final division is the one non-associative step, and its last-bit
    * drift is ~1e-15 on identical inputs.
    *
    * Scale: the daily rollup is the only data-sized shuffle; the window
    * + corr run over one row per (type, day) — thousands of rows per
    * decade, driver-free, broadcast-free.
    */
  val autocorr = Q(
    "q241_autocorr",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(dsum2(col("value")).as("v"))
      val w = Window.partitionBy("event_type").orderBy("day")
      daily
        .withColumn("v1",
          when(lag(col("day"), 1).over(w) === col("day") - expr("INTERVAL 1 DAY"),
            lag(col("v"), 1).over(w)))
        .withColumn("v7",
          when(lag(col("day"), 7).over(w) === col("day") - expr("INTERVAL 7 DAY"),
            lag(col("v"), 7).over(w)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          round(corr(col("v"), col("v1")), 6).as("acf1"),
          round(corr(col("v"), col("v7")), 6).as("acf7"))
    },
    Some(s"""WITH daily AS (
               SELECT event_type, date_trunc('day', ts) AS day,
                      ${sqlSum2("value")} AS v
               FROM events GROUP BY 1, 2),
             lagged AS (
               SELECT event_type, v,
                      CASE WHEN lag(day, 1) OVER w = day - INTERVAL '1 day'
                           THEN lag(v, 1) OVER w END AS v1,
                      CASE WHEN lag(day, 7) OVER w = day - INTERVAL '7 days'
                           THEN lag(v, 7) OVER w END AS v7
               FROM daily
               WINDOW w AS (PARTITION BY event_type ORDER BY day))
             SELECT event_type, count(*) AS n_days,
                    round(corr(v, v1), 6) AS acf1,
                    round(corr(v, v7), 6) AS acf7
             FROM lagged GROUP BY event_type""")
  )

  /** q264 — THEIL–SEN ROBUST TREND: the median of all pairwise slopes
    * (v_j − v_i)/(day_j − day_i), i < j — the robust-regression
    * counterpart of q213's OLS `regr_slope`. OLS has breakdown point 0
    * (ONE corrupted day — a backfill bug, a partial outage, a
    * double-count — drags the fitted slope arbitrarily); Theil–Sen
    * tolerates ~29% corrupted points, which is why monitoring systems
    * fit trends with it. Two-level plan (q241's discipline): the
    * corpus-sized work is the decimal-exact daily rollup; the O(n²)
    * pair expansion runs on the DAILY table (n = days, thousands per
    * decade — bounded), per event_type via a range self-join, never on
    * raw events; `percentile(0.5)` interpolates the median slope.
    * Slope inputs are identical doubles in both engines (exact daily
    * sums, exact integer day gaps); the median interpolation is the
    * one associativity-sensitive step — rounded 6dp (q241's rule).
    * Output per type: n_days, n_pairs, the robust slope, and OLS
    * `regr_slope` beside it — the comparison a dashboard shows.
    */
  val theilSen = Q(
    "q264_theil_sen",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(dsum2(col("value")).as("v"))
        .withColumn("dn", datediff(col("day"),
          to_date(lit("2024-01-01"))).cast("double"))
      val a = daily.select(col("event_type"), col("dn").as("d1"), col("v").as("v1"))
      val b = daily.select(col("event_type"), col("dn").as("d2"), col("v").as("v2"))
      val pairs = a.join(b, Seq("event_type"))
        .where(col("d2") > col("d1"))
        .select(col("event_type"),
          ((col("v2") - col("v1")) / (col("d2") - col("d1"))).as("slope"))
      val sen = pairs.groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          round(expr("percentile(slope, 0.5)"), 6).as("sen_slope"))
      val ols = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          round(expr("regr_slope(v, dn)"), 6).as("ols_slope"))
      ols.join(sen, Seq("event_type"))
        .select("event_type", "n_days", "n_pairs", "sen_slope", "ols_slope")
    },
    Some(s"""WITH daily AS (
               SELECT event_type, date_trunc('day', ts) AS day,
                      ${sqlSum2("value")} AS v
               FROM events GROUP BY 1, 2),
             dd AS (SELECT event_type, v,
                           CAST(datediff('day', DATE '2024-01-01', day) AS DOUBLE)
                             AS dn
                    FROM daily),
             pairs AS (SELECT a.event_type,
                              (b.v - a.v) / (b.dn - a.dn) AS slope
                       FROM dd a JOIN dd b
                         ON a.event_type = b.event_type AND b.dn > a.dn),
             sen AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
                            round(quantile_cont(slope, 0.5), 6) AS sen_slope
                     FROM pairs GROUP BY event_type),
             ols AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
                            round(regr_slope(v, dn), 6) AS ols_slope
                     FROM dd GROUP BY event_type)
             SELECT event_type, n_days, n_pairs, sen_slope, ols_slope
             FROM ols JOIN sen USING (event_type)""")
  )

  /** q267 — STREAMING `observe`: per-micro-batch data-quality metrics
    * riding the streaming job itself (q194 proved the batch side; this
    * is the streaming completion — and the more important one, because
    * a stream has no "after the job" to audit in: the metrics must
    * surface WHILE it runs). `Dataset.observe` attaches accumulator-
    * backed aggregates to the plan — zero extra passes, zero extra
    * shuffles, evaluated row-by-row as the sink consumes — and each
    * `StreamingQueryProgress` carries that batch's values
    * (`observedMetrics`), which is what a production monitor alerts
    * on (row-rate collapse, null-burst, value drift) without ever
    * querying the sink. The registered run drains the events stream
    * with an observed (count, cent-sum, null-count) audit, then sums
    * the per-batch metrics — the oracle proves the ACCUMULATED
    * observations equal the table truth, i.e. observation is lossless
    * across batch boundaries. `StreamObserveSpec` pins batch-locality:
    * each batch's observed row reports THAT batch's rows only.
    */
  val streamObserve = Q(
    "q267_stream_observe",
    (s, d) => {
      import s.implicits._
      val name = "stream_obs_" + java.util.UUID.randomUUID().toString.take(8)
      val q = withStreamPartitions(s)(drain(s)(
        Tables.eventStream(s, d)
          .select(col("event_id"), col("value"))
          .observe("audit",
            count(lit(1)).as("n_rows"),
            sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"),
            count(when(col("value").isNull, 1)).as("n_null"))
          .writeStream.format("memory").queryName(name)
          .outputMode("append")))
      val rows = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("audit")))
        .map(r => (r.getAs[Long]("n_rows"), r.getAs[Long]("cents"),
          r.getAs[Long]("n_null")))
      // sum the per-batch observations — losslessness across batches is
      // exactly the claim the oracle checks
      val total = rows.foldLeft((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) =>
        (a + x, b + y, c + z)
      }
      Seq(total).toDF("n_rows", "cents", "n_null")
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
                   CAST(count(CASE WHEN value IS NULL THEN 1 END) AS BIGINT) AS n_null
            FROM events""")
  )

  /** q275 — CUMULATIVE REACH (running distinct count): "distinct users
    * to date per type" — the marketing/growth metric, and a hole in
    * Spark's window surface: `count(DISTINCT) OVER` is unsupported
    * (DuckDB supports it — the oracle uses exactly that, so the query
    * PROVES the workaround's semantic equivalence). The Spark spelling
    * is the documented set-algebra workaround: per-day user sets
    * (`collect_set`), then a running
    * `size(array_distinct(flatten(collect_list(sets))))` over the
    * day-ordered window — one shuffle to day grain, window state
    * bounded by distinct-users-per-type. At true 100 TB cardinalities
    * the same metric is served mergeably by q258's bitmap store
    * (cumulative OR instead of cumulative set union) or q173's HLL if
    * approximate is enough — this query is the exact mid-scale form
    * and the semantic reference for both.
    */
  val cumulativeReach = Q(
    "q275_cumulative_reach",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daySets = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(collect_set(col("user_id")).as("us"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daySets
        .withColumn("day_users", size(col("us")).cast("long"))
        .withColumn("reach",
          size(array_distinct(flatten(collect_list(col("us")).over(w))))
            .cast("long"))
        .select("event_type", "day", "day_users", "reach")
    },
    Some("""WITH dd AS (SELECT DISTINCT event_type, date_trunc('day', ts) AS day,
                               user_id
                        FROM events),
            g AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS day_users
                  FROM dd GROUP BY 1, 2),
            r AS (SELECT DISTINCT event_type, day,
                         count(DISTINCT user_id) OVER (PARTITION BY event_type
                                                       ORDER BY day) AS reach
                  FROM dd)
            SELECT g.event_type, g.day, g.day_users,
                   CAST(r.reach AS BIGINT) AS reach
            FROM g JOIN r USING (event_type, day)""")
  )

  /** q289 — SEASONAL-NAIVE FORECAST BACKTEST with MASE: the honest
    * baseline every forecasting deployment must beat before it ships a
    * model (Hyndman's M-competition lesson), and the scaled error
    * metric that makes accuracy comparable ACROSS series of different
    * magnitude — MASE = MAE(seasonal-naive, lag 7) / MAE(naive, lag 1);
    * < 1 means weekly seasonality genuinely predicts (q241's acf7
    * asked "is there weekly structure"; this asks "does exploiting it
    * beat persistence"). Both forecasts evaluate on the SAME day set
    * (both lags valid — gap-guarded like q241, so row-lag is day-lag
    * at any density) or the two MAEs would average different windows.
    *
    * Scale shape: the corpus-sized pass is the decimal daily rollup;
    * lags are per-series windows over day-grain rows (bounded
    * partitions); absolute errors stay DECIMAL (|a−b| of exact
    * decimals is exact) and sum exactly, so both engines divide the
    * IDENTICAL numbers — the two MAE divisions and the final ratio
    * are the only doubles, portable with no rounding.
    */
  val forecastBacktest = Q(
    "q289_forecast_backtest",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("v"))
      val w = Window.partitionBy("event_type").orderBy("day")
      daily
        .withColumn("v1",
          when(lag(col("day"), 1).over(w) === col("day") - expr("INTERVAL 1 DAY"),
            lag(col("v"), 1).over(w)))
        .withColumn("v7",
          when(lag(col("day"), 7).over(w) === col("day") - expr("INTERVAL 7 DAY"),
            lag(col("v"), 7).over(w)))
        .where(col("v1").isNotNull && col("v7").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_eval"),
          sum(abs(col("v") - col("v1"))).as("sae1"),
          sum(abs(col("v") - col("v7"))).as("sae7"))
        .select(col("event_type"), col("n_eval"),
          (col("sae1").cast("double") / col("n_eval").cast("double")).as("mae_naive"),
          (col("sae7").cast("double") / col("n_eval").cast("double")).as("mae_seasonal"),
          (col("sae7").cast("double") / col("sae1").cast("double")).as("mase"))
    },
    Some("""WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
                                  sum(CAST(value AS DECIMAL(18,2))) AS v
                           FROM events GROUP BY 1, 2),
            lagged AS (SELECT event_type, v,
                              CASE WHEN lag(day, 1) OVER w = day - INTERVAL '1 day'
                                   THEN lag(v, 1) OVER w END AS v1,
                              CASE WHEN lag(day, 7) OVER w = day - INTERVAL '7 days'
                                   THEN lag(v, 7) OVER w END AS v7
                       FROM daily
                       WINDOW w AS (PARTITION BY event_type ORDER BY day)),
            ev AS (SELECT event_type, v, v1, v7 FROM lagged
                   WHERE v1 IS NOT NULL AND v7 IS NOT NULL),
            agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
                           sum(abs(v - v1)) AS sae1, sum(abs(v - v7)) AS sae7
                    FROM ev GROUP BY 1)
            SELECT event_type, n_eval,
                   CAST(sae1 AS DOUBLE) / CAST(n_eval AS DOUBLE) AS mae_naive,
                   CAST(sae7 AS DOUBLE) / CAST(n_eval AS DOUBLE) AS mae_seasonal,
                   CAST(sae7 AS DOUBLE) / CAST(sae1 AS DOUBLE) AS mase
            FROM agg""")
  )

  /** q302 — CUSUM CHANGEPOINT localization on the daily revenue
    * series: WHERE did the level shift? The monitoring family so far
    * detects THAT something moved — q269/q264 score drift between two
    * windows, q156 watches embedding drift, q58's EWMA flags the
    * anomalous day, q241/q289 characterize seasonality — but an
    * incident review and a train/serve split audit both need the
    * single most likely break DAY, and that is the classic CUSUM
    * estimator: the day t maximizing |Σ_{i≤t}(x_i − x̄)| (Page 1954 /
    * Pettitt's statistic's core). Division-free exactness: multiply
    * through by n — C_t = n·prefix_t − total·t is pure BIGINT
    * arithmetic on cent-integers, so the argmax and the statistic are
    * bit-free-of-doubles and the oracle is hash-exact (the q271/q272
    * integer-statistics discipline; ties break to the earliest day
    * via a (−t) struct leg, a cross-engine total order).
    *
    * Scale shape: the one corpus-sized pass is the map-side-combined
    * daily rollup; prefix sums and row numbers run per event_type
    * over DAY-grain rows (bounded partitions — the q289 shape), the
    * per-type totals join is dimension-sized, and the argmax is a
    * skew-immune max(struct) keeper (q89), not a window rank. C_n = 0
    * identically, so the trailing row can never win over a genuine
    * interior break.
    */
  val cusumChangepoint = Q(
    "q302_cusum_changepoint",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val pre = daily
        .withColumn("t", row_number().over(w).cast("long"))
        .withColumn("pfx", sum(col("x")).over(w))
      val tot = daily.groupBy("event_type")
        .agg(sum(col("x")).as("total"), count(lit(1)).as("n_days"))
      pre.join(tot, Seq("event_type"))
        .withColumn("c", col("n_days") * col("pfx") - col("total") * col("t"))
        .groupBy("event_type")
        .agg(max(col("n_days")).as("n_days"),
          max(struct(abs(col("c")).as("a"), (-col("t")).as("nt"),
            col("day"), col("c"))).as("m"))
        .select(col("event_type"), col("n_days"),
          col("m.day").as("cp_day"), col("m.c").as("cusum_scaled"),
          col("m.a").as("abs_cusum"))
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                                  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                                       AS BIGINT) AS x
                           FROM events GROUP BY 1, 2),
            pre AS (SELECT event_type, day, x,
                           CAST(row_number() OVER w AS BIGINT) AS t,
                           CAST(sum(x) OVER w AS BIGINT) AS pfx
                    FROM daily
                    WINDOW w AS (PARTITION BY event_type ORDER BY day)),
            tot AS (SELECT event_type, CAST(sum(x) AS BIGINT) AS total,
                           CAST(count(*) AS BIGINT) AS n_days
                    FROM daily GROUP BY 1),
            c AS (SELECT p.event_type, p.day, t.n_days,
                         t.n_days * p.pfx - t.total * p.t AS c, -p.t AS nt
                  FROM pre p JOIN tot t USING (event_type)),
            m AS (SELECT event_type, max(n_days) AS n_days,
                         max(struct_pack(a := abs(c), nt := nt,
                                         day := day, c := c)) AS m
                  FROM c GROUP BY 1)
            SELECT event_type, n_days, (m).day AS cp_day,
                   CAST((m).c AS BIGINT) AS cusum_scaled,
                   CAST((m).a AS BIGINT) AS abs_cusum
            FROM m""")
  )

  /** q304 — DAILY TIME-WEIGHTED AVERAGE (TWAP) over irregular
    * observations: each event's value HOLDS until the next observation
    * (the LOCF step function q239 imputes with), so the honest daily
    * average integrates value·dt instead of averaging rows — the
    * finance/sensor-fleet statistic row-mean silently gets wrong
    * whenever sampling is bursty (ten readings in a hot minute must
    * not own the day). Self-contained per day: each value weights by
    * micros until the NEXT same-day observation, the last held to
    * midnight; the pre-first-observation gap carries no value.
    * Exactness: cent-integers × microsecond durations summed in
    * DECIMAL(38,0)/HUGEINT — both engines divide the IDENTICAL exact
    * integers, so the one IEEE division is portable bit-for-bit
    * (the q302 division-free discipline, division deferred to the
    * last step). The window order is (ts, event_id) — a total order,
    * because equal-ts rows swap zero-duration terms only if the
    * tiebreak is deterministic.
    *
    * Scale shape: one corpus pass; the lead() window partitions by
    * (event_type, day) — day-grain bounded partitions (the q289
    * shape), never a per-type corpus-length history; the rollup is
    * map-side-combined on the same key.
    */
  val dailyTwap = Q(
    "q304_daily_twap",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          col("ts"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val w = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
      ev.withColumn("next_us",
          coalesce(unix_micros(lead(col("ts"), 1).over(w)),
            unix_micros(col("day").cast("timestamp") + expr("INTERVAL 1 DAY"))))
        .withColumn("dur", col("next_us") - unix_micros(col("ts")))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n_events"),
          sum(col("dur")).as("dur_us"),
          sum((col("cents") * col("dur")).cast("decimal(38,0)")).as("num"))
        .select(col("event_type"), col("day"), col("n_events"),
          col("dur_us"),
          (col("num").cast("double") / col("dur_us").cast("double")).as("twap_cents"))
    },
    Some("""WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
                               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                        FROM events),
            stepped AS (SELECT event_type, day, cents,
                               coalesce(epoch_us(lead(ts, 1) OVER w),
                                        epoch_us(CAST(day AS TIMESTAMP)
                                                 + INTERVAL 1 DAY))
                                 - epoch_us(ts) AS dur
                        FROM ev
                        WINDOW w AS (PARTITION BY event_type, day
                                     ORDER BY ts, event_id)),
            agg AS (SELECT event_type, day,
                           CAST(count(*) AS BIGINT) AS n_events,
                           CAST(sum(dur) AS BIGINT) AS dur_us,
                           sum(cents * dur) AS num
                    FROM stepped GROUP BY 1, 2)
            SELECT event_type, day, n_events, dur_us,
                   CAST(num AS DOUBLE) / CAST(dur_us AS DOUBLE) AS twap_cents
            FROM agg""")
  )

  /** q317 — EXACT EXPONENTIAL TIME-DECAY SCORING: recency-weighted
    * per-type revenue with a 7-day half-life — the ranking signal
    * (trending content, feature freshness, popularity serving) that is
    * usually computed with float pow() and silently drifts across
    * engines and reruns. Here it is EXACT: with half-life h, the decay
    * for an event a days old is 2^(−a/h); restricting weights to the
    * integer-exponent grid k = ⌈a/h⌉ (the staircase every production
    * half-life score quantizes to anyway) makes each term
    * cents · 2^(30−k) a pure BIGINT (a shiftleft, not a pow), the
    * per-type total an exact DECIMAL sum, and the published score ONE
    * division by 2^30 — the q302/q304 division-late discipline applied
    * to the one statistic people assume NEEDS floats. Terms older than
    * 30 half-lives carry weight < 1e-9 of fresh ones and are DEFINED
    * to zero (the documented truncation; at a 7-day half-life that is
    * 210 days — far beyond any trending window).
    *
    * Scale shape: one narrow projection computes k from the day grain
    * (horizon = max day, a 1-row broadcast), one map-side-combined
    * aggregate per type; no window, no sort, no doubles until the
    * final division. At 100 TB the same staircase serves incremental
    * maintenance (q300): yesterday's store re-weights by one shift.
    */
  val decayScore = Q(
    "q317_decay_score",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val horizon = ev.agg(max(col("day")).as("h"))
      ev.crossJoin(broadcast(horizon))
        .withColumn("age", datediff(col("h"), col("day")).cast("long"))
        .withColumn("k", expr("(age + 6L) div 7L"))
        .withColumn("term",
          when(col("k") <= 30L,
            col("cents") * expr("shiftleft(1L, CAST(30 - k AS INT))"))
            .otherwise(lit(0L)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("term").cast("decimal(38,0)")).as("scaled"))
        .select(col("event_type"), col("n_events"),
          (col("scaled").cast("double") / lit(1073741824.0)).as("decayed_cents"))
    },
    Some("""WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day,
                               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                        FROM events),
            hz AS (SELECT max(day) AS h FROM ev),
            t AS (SELECT event_type, cents,
                         (CAST(date_diff('day', day, hz.h) AS BIGINT) + 6) // 7 AS k
                  FROM ev CROSS JOIN hz)
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CASE WHEN k <= 30
                                 THEN cents * (CAST(1 AS BIGINT) << CAST(30 - k AS INT))
                                 ELSE 0 END) AS DOUBLE) / 1073741824.0
                     AS decayed_cents
            FROM t GROUP BY 1""")
  )

  /** q329 — DAY-OF-WEEK SEASONAL INDEX: per (event_type, weekday), the
    * multiplicative seasonal factor — dow mean over overall mean — the
    * classical-decomposition building block behind weekday-aware
    * anomaly thresholds and forecast baselines (q176's EWMA and q289's
    * backtest both treat days as exchangeable; this is the operator
    * that says Sundays are structurally different). The index is
    * computed DIVISION-LAST from exact integers:
    * (cents_dow·n_all)/(n_dow·cents_all) as one double division of two
    * exact DECIMAL(38,0) products — never a ratio of two rounded means
    * (the q322 discipline). ISO weekday numbering (1 = Monday) is
    * portable: Spark's `dayofweek` is Sunday-1, so the engine side uses
    * `weekday(date)+1`-equivalent arithmetic matching DuckDB's
    * `isodow`.
    *
    * Scale shape: one map-side-combined aggregate on a |types|×7 key
    * space plus a broadcast of the |types|-row totals. One scan.
    */
  val dowSeasonality = Q(
    "q329_dow_seasonality",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        to_date(col("ts")).as("day"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        // ISO weekday: Spark dayofweek is 1=Sunday..7=Saturday → shift
        .withColumn("dow", ((dayofweek(col("day")) + 5) % 7 + 1).cast("long"))
      val byDow = ev.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      val tot = byDow.groupBy("event_type")
        .agg(sum(col("n")).as("n_all"), sum(col("cents")).as("cents_all"))
      byDow.join(broadcast(tot), "event_type")
        .select(col("event_type"), col("dow"), col("n"), col("cents"),
          ((col("cents").cast("decimal(38,0)") * col("n_all").cast("decimal(38,0)"))
            .cast("double")
            / (col("n").cast("decimal(38,0)") * col("cents_all").cast("decimal(38,0)"))
              .cast("double")).as("seasonal_index"))
    },
    Some("""WITH ev AS (SELECT event_type, isodow(CAST(ts AS DATE)) AS dow,
                               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                        FROM events),
            bd AS (SELECT event_type, CAST(dow AS BIGINT) AS dow,
                          CAST(count(*) AS BIGINT) AS n,
                          CAST(sum(cents) AS BIGINT) AS cents
                   FROM ev GROUP BY 1, 2),
            t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_all,
                         CAST(sum(cents) AS BIGINT) AS cents_all
                  FROM bd GROUP BY 1)
            SELECT bd.event_type, bd.dow, bd.n, bd.cents,
                   CAST(CAST(bd.cents AS HUGEINT) * CAST(t.n_all AS HUGEINT)
                        AS DOUBLE)
                     / CAST(CAST(bd.n AS HUGEINT) * CAST(t.cents_all AS HUGEINT)
                            AS DOUBLE) AS seasonal_index
            FROM bd JOIN t USING (event_type)""")
  )

  /** q336 — MOVING-AVERAGE CROSSOVER DETECTION: days where the 3-day
    * trailing mean of a type's daily cents crosses its 7-day trailing
    * mean — the trend-reversal signal (golden/death cross) behind
    * momentum alerts and KPI inflection detection, and a window shape
    * the frame family (q15/q54/q58) doesn't exercise: TWO different
    * trailing ROWS frames compared row-by-row, with the comparison done
    * DIVISION-FREE — ma3 > ma7 ⇔ 7·sum3 > 3·sum7 on exact BIGINTs, so
    * the crossover day is decided without a single float (the q302/q317
    * multiply-through rule applied to a classic "needs averages"
    * signal). A cross fires only when yesterday's relation differed
    * (lag of the integer sign), and only once both frames are FULL
    * (rn ≥ 7) — partial-frame noise is the classic false-signal bug.
    *
    * Scale shape: one map-side-combined daily rollup (the only
    * corpus-sized work), then windows over type-partitioned DAY-grain
    * rows — thousands of rows per type regardless of corpus size.
    */
  val maCrossover = Q(
    "q336_ma_crossover",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      val wOrd = Window.partitionBy("event_type").orderBy("day")
      val w3 = wOrd.rowsBetween(-2, 0)
      val w7 = wOrd.rowsBetween(-6, 0)
      daily
        .withColumn("rn", row_number().over(wOrd).cast("long"))
        .withColumn("sum3", sum(col("cents")).over(w3))
        .withColumn("sum7", sum(col("cents")).over(w7))
        .withColumn("sgn",
          when(lit(7L) * col("sum3") > lit(3L) * col("sum7"), 1L)
            .when(lit(7L) * col("sum3") < lit(3L) * col("sum7"), -1L).otherwise(0L))
        .withColumn("prev_sgn", lag(col("sgn"), 1).over(wOrd))
        .where(col("rn") >= 7 && col("prev_sgn").isNotNull
          && col("sgn") =!= col("prev_sgn") && col("sgn") =!= 0)
        .select(col("event_type"), col("day"),
          when(col("sgn") === 1L, lit("golden")).otherwise(lit("death")).as("cross"),
          col("sum3"), col("sum7"))
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                                  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                                       AS BIGINT) AS cents
                           FROM events GROUP BY 1, 2),
            wdw AS (SELECT event_type, day,
                           CAST(row_number() OVER w AS BIGINT) AS rn,
                           CAST(sum(cents) OVER (w ROWS BETWEEN 2 PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS sum3,
                           CAST(sum(cents) OVER (w ROWS BETWEEN 6 PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS sum7
                    FROM daily
                    WINDOW w AS (PARTITION BY event_type ORDER BY day)),
            sg AS (SELECT *, CASE WHEN 7 * sum3 > 3 * sum7 THEN 1
                                  WHEN 7 * sum3 < 3 * sum7 THEN -1
                                  ELSE 0 END AS sgn
                   FROM wdw),
            lg AS (SELECT *, lag(sgn) OVER (PARTITION BY event_type
                                            ORDER BY day) AS prev_sgn
                   FROM sg)
            SELECT event_type, day,
                   CASE WHEN sgn = 1 THEN 'golden' ELSE 'death' END AS cross,
                   sum3, sum7
            FROM lg
            WHERE rn >= 7 AND prev_sgn IS NOT NULL
              AND sgn <> prev_sgn AND sgn <> 0""")
  )

  /** q338 — HOLT LINEAR-TREND SMOOTHING (double exponential): the
    * 2-STATE recurrence the smoothing family stops short of — q176/q180
    * carry one state (EWMA level) and lag every trend; Holt carries
    * (level, trend) so the one-step forecast level+trend tracks a
    * drifting series instead of trailing it (the MatrixScan scaladoc
    * names this family; here it is instantiated). α = β = ½ keeps the
    * recurrence INTEGER-EXACT: lvl_t = ⌊(x_t + lvl_{t−1} + tr_{t−1})/2⌋,
    * tr_t = (tr_{t−1} + (lvl_t − lvl_{t−1})) quot 2 — TRUNCATING
    * division on both sides (Scala Long `/` ≡ DuckDB `//`, both round
    * toward zero — probed, NOT floor: −7 // 2 = −3 in DuckDB), which
    * matters because the trend goes NEGATIVE on downswings and a
    * floor-vs-truncate mismatch is an off-by-one on every negative
    * step; the whole series is BIGINTs, no float smoothing drift.
    *
    * Engine path: a typed groupByKey/flatMapGroups fold per event_type
    * (the q95 sequential-recurrence shape — frame is one type's ~30
    * daily rows, never the corpus); oracle = a recursive CTE stepping
    * one day per type per iteration (q95/q180 discipline). Corpus cost
    * is the one daily rollup.
    */
  val holtTrend = Q(
    "q338_holt_trend",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy("day")).cast("long"))
      daily.select(col("event_type"), col("day"), col("cents"), col("rn"))
        .as[(String, java.sql.Date, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroups { (t: String, it: Iterator[(String, java.sql.Date, Long, Long)]) =>
          val rows = it.toSeq.sortBy(_._4)
          var level = 0L
          var trend = 0L
          rows.iterator.map { case (_, day, x, rn) =>
            if (rn == 1L) { level = x; trend = 0L }
            else {
              val prev = level
              level = (x + (level + trend)) / 2L
              trend = (trend + (level - prev)) / 2L
            }
            (t, day, x, level, trend, level + trend)
          }
        }
        .toDF("event_type", "day", "cents", "level_cents", "trend_cents",
          "forecast_next")
    },
    Some("""WITH RECURSIVE daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                     CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                       AS cents,
                     CAST(row_number() OVER (PARTITION BY event_type
                          ORDER BY CAST(ts AS DATE)) AS BIGINT) AS rn
              FROM events GROUP BY 1, 2),
            walk AS (
              SELECT event_type, day, cents, rn,
                     cents AS level_c, CAST(0 AS BIGINT) AS trend_c
              FROM daily WHERE rn = 1
              UNION ALL
              SELECT h.event_type, h.day, h.cents, h.rn,
                     CAST((h.cents + (w.level_c + w.trend_c)) // 2 AS BIGINT),
                     CAST((w.trend_c +
                           ((h.cents + (w.level_c + w.trend_c)) // 2 - w.level_c))
                          // 2 AS BIGINT)
              FROM daily h JOIN walk w
                ON w.event_type = h.event_type AND h.rn = w.rn + 1)
            SELECT event_type, day, cents,
                   level_c AS level_cents, trend_c AS trend_cents,
                   level_c + trend_c AS forecast_next
            FROM walk""")
  )

  val all: Seq[Q] =
    Seq(dowSeasonality, maCrossover, holtTrend,
      tumbling, sliding, session, streamTumbling, streamTumblingAppend,
      streamDedup, statefulSessions, gapFill, streamIntervalJoin, streamFileSink,
      streamStaticJoin, streamUpsert, ewmaAnomaly, recursiveEwma, streamOuterJoin,
      streamChainedWindows, streamRocksDb, cogroupReconcile,
      transformWithStateTotals, stateStoreRead, sessionTimers, twsStateRead,
      joinStateRead, streamDedupWithinWatermark, streamSessionWindow,
      transformWithMapState, streamFullOuterJoin, transformWithInitialState,
      dynamicSessionGap, locfImpute, autocorr, transformWithListState,
      transformWithTtlState, streamSemiJoin, streamTumblingUpdate, theilSen,
      streamObserve, cumulativeReach, forecastBacktest, cusumChangepoint,
      dailyTwap, decayScore)
}
