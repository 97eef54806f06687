package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.types._

import graft.util.Cols._

/** µs-held timestamp codec shared by the stateful ops (the
  * latestState/sessionize lesson: getTime-millis folding silently
  * truncates emitted timestamps against µs event data). A standalone
  * Serializable object — NOT methods on StreamingWindows — so that
  * state-function closures capture only this tiny module instead of
  * dragging the non-serializable enclosing object onto executors. */
private[streaming] object Micros extends Serializable {
  def toMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
  def fromMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}

/** Structured Streaming twins of the batch event-time windows
  * ([[graft.llm.EventWindows]]): readStream → watermark → windowed agg →
  * sink. The reference has no streaming (SURVEY §2.9 — its Kafka deps are
  * dead pom weight); this is the extension surface for the `events`
  * table, built so batch and stream produce IDENTICAL results on a
  * finite input (verified in StreamingSpec).
  *
  * Scale notes: watermark bounds state; tumbling windows keyed by
  * (window, type) shuffle once; session windows use Spark's native
  * session_window state merging. mapGroupsWithState demonstrates the
  * custom-state escape hatch (per-user running counters) with an
  * explicit timeout — the pattern for state Spark's built-ins can't
  * express.
  */
object StreamingWindows {

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Parquet-directory stream of events rows. */
  def readEventStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .schema(EventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(path)

  /** Stream-static enrichment join: attach a dimension row to every
    * stream event — the standard streaming-ingest enrichment pattern
    * (stream fact ⋈ slowly-changing dim). The static side is re-planned
    * per micro-batch (so a refreshed dim snapshot is picked up) and
    * broadcast: the stream side never shuffles and the join keeps ZERO
    * streaming state — append mode, no watermark needed. Left-outer so
    * unknown keys pass through (nulls), mirroring j3's anti-label
    * semantics rather than silently dropping events. */
  def enrich(events: DataFrame, dim: DataFrame,
             key: String = "user_id"): DataFrame =
    events.join(broadcast(dim), Seq(key), "left_outer")

  /** Tumbling 1h × event_type (same shape as batch ev_tumbling). */
  def tumbling(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding 1h window every 15 min × event_type (same shape as batch
    * ev_sliding): each event lands in exactly 4 overlapping windows
    * (duration divisible by slide). The overlap multiplies STATE rows,
    * not input rows — Spark expands each input to its window set
    * map-side and the keyed state store holds (windows per duration ×
    * slide ratio) aggregates per type, still bounded by the watermark. */
  def sliding(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Session windows per user, 30-min gap (same shape as batch
    * ev_session). `delay` is the watermark: events arriving more than
    * `delay` behind the max seen ts are DROPPED — stream results equal
    * the batch spelling exactly when input disorder stays within it.
    * (Observed in the parity test: per-file micro-batches arrive out of
    * event-time order, and a 30-min watermark silently dropped the
    * early-ts files.) */
  def session(events: DataFrame, delay: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("n_events"), col("sum_value"))

  /** Streaming exact dedup, state-BOUNDED: the at-least-once-ingest twin
    * of batch `dedup_exact`/`distinct`. A plain streaming
    * `dropDuplicates` keeps every key seen since the query started —
    * state grows without bound at ingest scale, which is the difference
    * between a pipeline that runs for a day and one that runs forever.
    * `dropDuplicatesWithinWatermark` evicts a key's state once the
    * watermark passes its event time + delay, so re-deliveries are
    * dropped exactly as long as the source's redelivery window stays
    * within `delay` (the contract brokers actually give you), and state
    * size is ~(keys per delay window), constant at steady state. */
  def dedupWithinWatermark(events: DataFrame,
                           delay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Custom-state example: per-user running event count + last-seen via
    * mapGroupsWithState. NoTimeout: with Trigger.AvailableNow a
    * processing-time timeout makes the stream run extra trigger cycles
    * waiting for wall-clock timeouts that never land — the finite-drain
    * run then never terminates (observed: execution thread busy-looping).
    * Production streams that need eviction pair the timeout with a
    * continuous trigger instead. */
  case class UserState(n: Long, lastTs: Long)
  case class UserCount(user_id: Long, n: Long, last_ts: java.sql.Timestamp)

  /** BY-NAME typed projection for the stateful operators (ADVICE r7): a
    * positional `.as[(Long, Timestamp, ...)]` silently keys on whatever
    * column happens to sit third — any upstream reordering would
    * sessionize on the wrong column or fail at runtime. Selecting the
    * three needed columns by name makes the dependency explicit and
    * drops the unused payload before the state shuffle. */
  case class EvRow(user_id: Long, ts: java.sql.Timestamp, value: Double)

  private def typedRows(spark: SparkSession, events: DataFrame) = {
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("value")).as[EvRow]
  }

  def runningCounts(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import Micros.{toMicros, fromMicros}
    typedRows(spark, events)
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserCount](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[EvRow], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, Long.MinValue))
          var n = prev.n
          var last = prev.lastTs
          rows.foreach { r => n += 1; last = math.max(last, toMicros(r.ts)) }
          state.update(UserState(n, last))
          UserCount(user, n, fromMicros(last))
      }.toDF()
  }

  case class LatestState(ts: java.sql.Timestamp, event_type: String,
                         value: Double, event_id: Long)
  case class EvFull(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                    event_type: String, value: Double)
  case class UserLatest(user_id: Long, ts: java.sql.Timestamp,
                        event_type: String, value: Double, event_id: Long)

  /** Streaming CDC "current state per key" — the stream twin of the
    * batch merge-apply (`t8_merge_upsert`'s latest-wins aggregate):
    * every micro-batch folds its rows into the stored
    * max-by-(ts, event_id) row per user, and update-mode output emits
    * the new current row for each touched key — exactly the changelog
    * a downstream upsert sink (Delta/Hudi-style MERGE, or the K4 KV
    * put) consumes. Ties break on event_id so stream and batch agree
    * under ANY row arrival order. State is ONE narrow row per key —
    * bounded by key cardinality, never by stream length; with an
    * inactivity timeout this is the standard compacting-changelog
    * pattern at any scale. By-name typed projection per the r7
    * positional-tuple lesson. The ordering uses Timestamp.compareTo —
    * nanos-aware — NOT getTime, which truncates the event time to
    * millis and silently disagrees with the batch max_by on
    * microsecond data (caught by the parity spec). */
  def latestState(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")).as[EvFull]
      .groupByKey(_.user_id)
      .mapGroupsWithState[LatestState, UserLatest](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[EvFull], state: GroupState[LatestState]) =>
          var cur = state.getOption.orNull
          rows.foreach { r =>
            val c = if (cur == null) 1 else r.ts.compareTo(cur.ts)
            if (c > 0 || (c == 0 && r.event_id > cur.event_id))
              cur = LatestState(r.ts, r.event_type, r.value, r.event_id)
          }
          state.update(cur)
          UserLatest(user, cur.ts, cur.event_type, cur.value, cur.event_id)
      }.toDF()
  }

  /** Stream-stream interval join: purchases stream ⋈ views stream on
    * user_id with the view in the `lagHours` before the purchase — the
    * streaming twin of the batch binned range join (`ev_range_join`).
    * Both sides carry watermarks and the join condition bounds event
    * time in BOTH directions, so Spark can size the join state: a
    * buffered view is dropped once the watermark says no future purchase
    * can reach back to it (state ≈ events per lag window per side, not
    * the stream's history). An unbounded or one-sided time condition
    * would grow state forever — the scan-layer equivalent of the
    * dropDuplicates-without-watermark trap. */
  def streamStreamRangeJoin(purchases: DataFrame, views: DataFrame,
                            lagHours: Int = 12,
                            delay: String = "1 hour"): DataFrame = {
    val p = purchases.select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", delay)
    val v = views.select(col("event_id").as("v_id"),
        col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("value").as("v_value"))
      .withWatermark("v_ts", delay)
    p.join(v,
      col("user_id") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr(s"INTERVAL $lagHours hours") &&
        col("v_ts") < col("p_ts"))
      .select(col("p_id"), col("user_id"), col("p_ts"),
        col("v_id"), col("v_ts"), col("v_value"))
  }

  /** Stream-stream LEFT OUTER interval join — [[streamStreamRangeJoin]]'s
    * outer sibling and the fourth stateful-operator class the declared
    * family proves end-to-end: NULL-SIDE WATERMARK EVICTION. An inner
    * pair emits the micro-batch it matches, but an UNMATCHED left row
    * can only emit (with a null right side) once the watermark
    * guarantees no future right row can still match it — the row sits
    * in the left state store until eviction. The condition
    * `v_ts ∈ [p_ts − lag, p_ts)` bounds the match window in both
    * directions, so a purchase is evictable exactly when the global
    * watermark passes p_ts (every qualifying view is strictly older
    * than the purchase). At ingest scale this operator is how "orders
    * that never got a confirmation within X hours" alerts are built —
    * the timeout join. */
  def streamStreamLeftJoin(purchases: DataFrame, views: DataFrame,
                           lagHours: Int = 12,
                           delay: String = "1 hour"): DataFrame = {
    val p = purchases.select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", delay)
    val v = views.select(col("event_id").as("v_id"),
        col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("value").as("v_value"))
      .withWatermark("v_ts", delay)
    p.join(v,
      col("user_id") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr(s"INTERVAL $lagHours hours") &&
        col("v_ts") < col("p_ts"),
      "left_outer")
      .select(col("p_id"), col("user_id"), col("p_ts"),
        col("v_id"), col("v_ts"), col("v_value"))
  }

  /** Custom sessionizer via flatMapGroupsWithState — the full custom-state
    * pattern (Append output + event-time timeout) for session semantics
    * Spark's built-in `session_window` can't carry (e.g. per-session
    * derived payloads, early emission rules). Semantics match the batch
    * `ev_session` spelling: a session is a maximal run of a user's events
    * with gaps < `gap`; emitted end = last event + gap (half-open).
    *
    * Protocol per micro-batch and user: sort the batch's events by ts
    * (micro-batches are small; state stays O(1) per user), merge into the
    * open session, CLOSE-AND-EMIT whenever an in-batch gap ≥ `gap` shows,
    * and park the still-open session in state with an event-time timeout
    * at last + gap — when the watermark passes it, the timeout branch
    * emits the finished session and clears state.
    *
    * Correctness invariant (why eager closure is safe): with watermark
    * delay == gap, any event that could still merge into a session whose
    * last event is ≥ gap behind the max seen ts is necessarily later than
    * the watermark allows and gets dropped — so a closed session can
    * never need reopening. Run it with delay == gap (the default), not a
    * larger delay. */
  /** State carries the value sum in integer CENTS (not a double): the
    * batch twin sums DECIMAL(18,2) and casts once, so a double
    * accumulator whose result depends on addition order would disagree
    * with the batch/oracle sum in the last ulp on long sessions.
    * Event times are held in MICROSECONDS (`start`/`last`): the events
    * table carries µs precision, and a getTime-millis fold would emit
    * ms-truncated s_start/s_end that diverge from the batch
    * session_window (which aggregates the full µs value). Only the
    * TIMEOUT registration narrows to ms — that is GroupState's own
    * unit. */
  case class SessState(start: Long, last: Long, n: Long, sumCents: Long)
  case class SessRow(user_id: Long, ts: java.sql.Timestamp, cents: Long)
  case class SessionOut(user_id: Long, s_start: java.sql.Timestamp,
                        s_end: java.sql.Timestamp, n_events: Long, sum_value: Double)

  def sessionize(spark: SparkSession, events: DataFrame,
                 gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val gapUs = gapMinutes * 60000000L
    import Micros.{toMicros, fromMicros}
    def out(u: Long, s: SessState): SessionOut =
      SessionOut(u, fromMicros(s.start),
        fromMicros(s.last + gapUs), s.n, s.sumCents / 100.0)
    events.withWatermark("ts", s"$gapMinutes minutes")
      .select(col("user_id"), col("ts"),
        (dec2(col("value")) * 100).cast("long").as("cents")).as[SessRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[SessRow], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(out(user, s))
          } else {
            val closed = ArrayBuffer.empty[SessState]
            var cur = state.getOption
            rows.toSeq.sortBy(r => toMicros(r.ts)).foreach { r =>
              val t = toMicros(r.ts)
              cur = cur match {
                // Within gap of the OPEN INTERVAL on either side (strict
                // <: session_window is half-open [start, last+gap)). The
                // min/max merge matters for an out-of-order event from a
                // LATER micro-batch that precedes the open session's
                // start (t < s.start but t ≥ watermark — reachable
                // because the watermark tracks the global max while this
                // user's state lags, ADVICE r7): s.start must move back
                // to t or the emitted s_start diverges from the batch
                // semantics.
                case Some(s) if t - s.last < gapUs && s.start - t < gapUs =>
                  Some(SessState(math.min(s.start, t), math.max(s.last, t),
                    s.n + 1, s.sumCents + r.cents))
                case Some(s) if t - s.last >= gapUs =>
                  closed += s
                  Some(SessState(t, t, 1L, r.cents))
                case Some(s) =>
                  // t precedes the open session by ≥ gap: an earlier,
                  // already-complete session. Only reachable when t sits
                  // exactly ON the watermark (t ≥ wm = prevMax − gap and
                  // s.start ≥ t + gap ≥ prevMax forces equality
                  // throughout), so no still-admissible event can extend
                  // it — emit the singleton, keep the open session.
                  closed += SessState(t, t, 1L, r.cents)
                  cur
                case None => Some(SessState(t, t, 1L, r.cents))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // GroupState's unit is MILLIseconds; floor-µs→ms here is
              // pinned (with the strict-< firing rule) by
              // TimeoutBoundarySpec and replayed by the st_sessionize
              // oracle's emission predicate.
              state.setTimeoutTimestamp((s.last + gapUs) / 1000L)
            }
            closed.iterator.map(out(user, _))
          }
      }.toDF()
  }

  /** Drain a finite source completely into an in-memory table; returns
    * the collected result. Complete/update modes emit final aggregates
    * without waiting for watermark advancement — right for batch-parity
    * checks on finite data. */
  def runToCompletion(spark: SparkSession, stream: DataFrame,
                      queryName: String, mode: OutputMode): DataFrame = {
    val q = stream.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Drain a finite source to a parquet FILE sink and read it back —
    * the drain for a declared query whose emitted set is FACT-SCALE
    * (one row per input event): a memory sink pins the whole result on
    * the driver heap, which is exactly the scale bug the engine exists
    * to avoid (observed: 10M enriched rows OOM'd the sf10 probe). The
    * file sink writes per-partition parallel with exactly-once commits
    * — the production sink — and the read-back is an ordinary
    * distributed scan. Append-mode only (the file sink's contract). */
  def runToParquet(spark: SparkSession, stream: DataFrame,
                   name: String): DataFrame = {
    // freshDir: the file sink's commit log would otherwise treat a
    // re-run as "nothing new" and return stale files
    val base = graft.util.Scratch.freshDir(s"stream-sink-$name")
    val out = s"$base/out"
    val chk = s"$base/chk"
    val q = stream.writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", chk)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.schema(stream.schema).parquet(out)
  }

  // ---- Declared queries -------------------------------------------

  /** Declared-query reader: NO maxFilesPerTrigger, so AvailableNow takes
    * every existing file in the FIRST micro-batch and then runs the
    * no-data finalization batch that fires event-time timeouts. This
    * makes the emitted set a pure function of the DATA, independent of
    * how many part files the table happens to have — the per-file
    * variant above stays the multi-batch/out-of-order test surface.
    *
    * FileStreamSource requires a DIRECTORY; the testdata tables are
    * single parquet FILES — so a file target is surfaced through a
    * per-process scratch directory ([[graft.util.Scratch]]: pid-scoped,
    * stale-cleaned, deleted at exit) via symlink, re-pointed each call
    * so a regenerated table is picked up. */
  private def readAllEventStream(spark: SparkSession, path: String): DataFrame =
    readAllParquetStream(spark, path, EventSchema)

  /** The same all-files-one-batch file source for an arbitrary table —
    * the reader behind every declared st_* entry (schema per table,
    * symlink trick for single-file testdata, no maxFilesPerTrigger). */
  private def readAllParquetStream(spark: SparkSession, path: String,
                                   schema: StructType): DataFrame = {
    val p = java.nio.file.Paths.get(path)
    val dir =
      if (java.nio.file.Files.isDirectory(p)) path
      else {
        val d = java.nio.file.Paths.get(graft.util.Scratch.dir(
          s"stream-src-${Integer.toHexString(path.hashCode)}"))
        val link = d.resolve(p.getFileName)
        java.nio.file.Files.deleteIfExists(link)
        java.nio.file.Files.createSymbolicLink(link, p.toAbsolutePath)
        d.toString
      }
    spark.readStream.schema(schema).parquet(dir)
  }

  type Q = (SparkSession, String) => DataFrame

  /** st_sessionize: the flatMapGroupsWithState sessionizer run as a
    * finite drain over the events table. With a single data batch the
    * emitted set is exactly: every session CLOSED by in-batch gap
    * evidence (all non-final sessions of each user) plus each user's
    * final session IFF its event-time timeout fired —
    * floor_ms(last+gap) STRICTLY below floor_ms(max_ts) − gap_ms, the
    * boundary pinned µs-exactly by TimeoutBoundarySpec — which is what
    * the DuckDB oracle spells. Proves the streaming twin end-to-end
    * (state fold, timeout emission, watermark arithmetic), not just
    * in a unit test. */
  private val stSessionize: Q = (spark, dir) => withStateParts(spark, dir) { spark =>
    // sessions are FACT-SCALE (9.5M rows at the sf10 probe) → file
    // sink; the memory-sink + localCheckpoint spelling this replaced
    // still pinned the full emitted set on the driver heap once per
    // drain before the copy-out
    runToParquet(spark,
      sessionize(spark, readAllEventStream(spark, s"$dir/events.parquet")),
      "sess")
  }

  /** st_latest_state: the CDC compacting-changelog twin drained to its
    * FINAL state per key: update-mode emissions are compacted to the
    * per-user row with max (ts, event_id) — equal, by the latest-wins
    * contract, to the batch "current row per user", which the oracle
    * recomputes directly. */
  private val stLatestState: Q = (spark, dir) => withStateParts(spark, dir) { spark =>
    val emitted = runToCompletion(spark,
      latestState(spark, readAllEventStream(spark, s"$dir/events.parquet")),
      "st_latest_mem", OutputMode.Update())
      .localCheckpoint(true) // same memory-sink ballast relief as above
    spark.catalog.dropTempView("st_latest_mem")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    emitted.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** st_tumbling: the watermarked tumbling-window aggregate drained in
    * APPEND mode — the streaming twin of batch ev_tumbling, restricted
    * to the windows the watermark has FINALIZED when the drain ends:
    * with one data batch and the AvailableNow no-data final batch, the
    * watermark lands at floor_ms(max_ts) − 1h and append emits exactly
    * the windows with floor_ms(w_end) ≤ that boundary (non-strict —
    * pinned by the oracle and exercised whenever an hour-aligned max_ts
    * makes the boundary land ON a window end). The still-open windows
    * are withheld state, not lost rows — the same finalization contract
    * st_sessionize pins for session windows. */
  private val stTumbling: Q = (spark, dir) => withStateParts(spark, dir) { spark =>
    val out = runToCompletion(spark,
      tumbling(readAllEventStream(spark, s"$dir/events.parquet")),
      "st_tumb_mem", OutputMode.Append())
      .localCheckpoint(true) // same memory-sink ballast relief as above
    spark.catalog.dropTempView("st_tumb_mem")
    out
  }

  /** st_range_join: the stream-stream interval join drained over the
    * events table — purchases stream ⋈ views stream, view within the 12
    * hours before the purchase, BOTH sides watermarked and the time
    * condition bounded in both directions (what lets Spark size and
    * evict the two join-state stores). INNER stream-stream joins emit a
    * pair the micro-batch it matches (only OUTER sides wait on the
    * watermark), so the finite drain emits exactly the batch range
    * join's pairs and the oracle is ev_range_join's spelling verbatim —
    * same rows through a completely different executor (symmetric
    * hash-join state stores vs the batch binned SMJ). Proves the
    * third stateful-operator class (two-sided join state) end-to-end,
    * after aggregation state (st_tumbling/st_sessionize) and keyed
    * update state (st_latest_state). */
  /** Run a stateful drain with `spark.sql.shuffle.partitions` sized to
    * the STREAM STATE volume rather than the session's batch default:
    * every stateful operator keeps one state store per partition (a
    * stream-stream join four), and every micro-batch pays each store's
    * load/commit lifecycle — with 40 k state rows at sf0.1, a 32-way
    * layout spends more on store lifecycles than on the operator
    * (measured on the interval join: 8-10 s at 32 parts vs 3.7-4.0 s at
    * 8, either provider). Partitions therefore track the event volume
    * (≈ state volume for a one-batch drain), floored at 8 and capped at
    * the session default — min(prev, max(8, volume)), so a session
    * configured below 8 is never raised above its own cap; at sf10 the
    * cap restores full parallelism, and on a real cluster the cap is
    * the configured executor fan-out. A non-numeric session value falls
    * back to the scheduler's parallelism. The count is read at query
    * start against a FRESH checkpoint each drain, so it is free to
    * differ per corpus; the emitted set is partition-invariant.
    * Stateless drains (st_enrich, st_index_update) are NOT wrapped: no
    * store, and shrinking their partitions would only serialize the
    * file-sink write.
    *
    * `f` runs in a [[graft.Sessions.scoped]] session carrying the
    * count, so the caller's conf is never flipped; the drains register
    * their memory-sink views there, never in the caller's session. */
  private def withStateParts(spark: SparkSession, dir: String)(
      f: SparkSession => DataFrame): DataFrame = {
    val key = "spark.sql.shuffle.partitions"
    val evBytes = graft.util.Storage.factBytes(dir, "events")
    val prevL = spark.conf.get(key).toLongOption
      .getOrElse(spark.sparkContext.defaultParallelism.toLong)
    val parts = math.min(prevL, math.max(8L, evBytes / (2L << 20)))
    graft.Sessions.scoped(spark, key -> parts.toString)(f)
  }

  private val stRangeJoin: Q = (spark, dir) => withStateParts(spark, dir) { spark =>
    val ev = readAllEventStream(spark, s"$dir/events.parquet")
    val joined = streamStreamRangeJoin(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "view"))
    // pair output grows with the fact table → file sink (see runToParquet)
    runToParquet(spark, joined, "rjoin")
  }

  /** st_left_join: the stream-stream LEFT OUTER interval join drained
    * over the events table. The emitted set is the inner pairs (emitted
    * on match, batch-identical) PLUS the null-extended purchases whose
    * eviction fired during the finalization batch: a purchase with no
    * qualifying view emits iff its event time sits strictly below the
    * final global watermark — min over BOTH sides' per-source maxima
    * (multipleWatermarkPolicy=min), ms-floored, minus the delay — the
    * boundary the oracle spells µs-exactly. Purchases above the
    * boundary are still "maybe matchable" when the drain ends and are
    * deliberately NOT emitted (they'd emit on the next batch of a real
    * continuous run). */
  private val stLeftJoin: Q = (spark, dir) => withStateParts(spark, dir) { spark =>
    val ev = readAllEventStream(spark, s"$dir/events.parquet")
    val joined = streamStreamLeftJoin(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "view"))
    runToParquet(spark, joined, "ljoin")
  }

  /** st_enrich: the stream-static broadcast enrichment drained over the
    * events table — every stream event picks up its customer dimension
    * row (left-outer, so users without a customer row pass through with
    * nulls rather than vanishing). ZERO streaming state and no
    * watermark: the stream side never shuffles, the static side is
    * re-planned + broadcast per micro-batch (how a refreshed dim
    * snapshot is picked up mid-stream). The stateless fourth member of
    * the declared streaming family — at ingest scale this exact shape
    * is the first operator of every enrichment pipeline. */
  private val stEnrich: Q = (spark, dir) => {
    import org.apache.spark.sql.functions.col
    val dim = graft.Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_name"),
        col("c_mktsegment"))
    val joined = enrich(
      readAllEventStream(spark, s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value")),
      dim)
    // FACT-SCALE emitted set (one row per event) → file sink, never the
    // memory sink (which OOM'd the driver at the sf10 probe)
    runToParquet(spark, joined, "enrich")
  }

  /** st_dedup: the state-BOUNDED streaming exact-dedup drained over a
    * simulated at-least-once redelivery — the events stream unioned
    * with a second delivery of itself (two file sources over the same
    * table: every event arrives twice), collapsed by
    * `dropDuplicatesWithinWatermark(event_id)`. The emitted set is
    * exactly one row per event_id — the batch DISTINCT the oracle
    * recomputes directly — proving the dedup state store end-to-end
    * (insert-on-first-seen, drop-on-re-delivery) through a genuine
    * duplicated input, not a vacuous pass-through. Within-watermark
    * eviction (what bounds state at ingest scale — a plain streaming
    * dropDuplicates grows forever) is the operator's reason to exist;
    * the eviction boundary itself is exercised by the multi-batch
    * out-of-order tests, while this drain pins the visible contract.
    * Emitted set is FACT-SCALE (one row per distinct event) → file
    * sink. */
  private val stDedup: Q = (spark, dir) => withStateParts(spark, dir) { spark =>
    val once = readAllEventStream(spark, s"$dir/events.parquet")
    val redelivered = once.unionAll(
      readAllEventStream(spark, s"$dir/events.parquet"))
    runToParquet(spark, dedupWithinWatermark(redelivered), "dedup")
  }

  /** st_index_update: the STREAMING twin of the batch `sim_index_update`
    * — fresh vectors ride the ingest stream into the persisted ANN
    * index (the operation a production vector platform runs
    * continuously, where the batch twin runs nightly). The stream side
    * is the hash-designated arrival batch of the embeddings table; the
    * static side is the PERSISTED codebook artifact ([[graft.llm
    * .AnnIndex]]) grouped to ONE row per subspace with its 16 centroids
    * ordered by code — a stream-static broadcast equi-join (stateless:
    * no watermark, no state store; the static side is re-planned per
    * micro-batch, which is exactly how a codebook refresh would be
    * picked up mid-stream). The per-(vector, subspace) encode is a
    * map-side HOF argmin over the 16-entry centroid list — the batch
    * twin's bounded-key window is NOT stream-legal, and the ascending-
    * code fold with a strict `<` keeps the identical lowest-code
    * tie-break, so the drained set equals the batch op's output
    * bit-for-bit and REUSES its DuckDB oracle verbatim (the strongest
    * cross-engine check a streaming query can carry). Interpreted-HOF
    * cost is bounded by design: the update is batch-sized (never the
    * corpus), 16 codes × 8 subspaces per row. Emitted set grows with
    * the arrival batch → file sink. */
  private val stIndexUpdate: Q = (spark, dir) => {
    import org.apache.spark.sql.functions._
    val m = graft.llm.AnnIndex.M
    val subDim = graft.llm.AnnIndex.SubDim
    val books = graft.llm.AnnIndex.pqBooks(spark, dir)
      .groupBy(col("sub"))
      .agg(array_sort(collect_list(struct(col("code"), col("cent"))))
        .as("cents"))
      .withColumn("one", lit(1))
    // Schema from a one-off batch read, not a hand-written literal
    // (ADVICE r12): if the testdata generator changes an element type
    // (e.g. float→double) the batch twin adapts via inference and a
    // hardcoded stream schema would break alone at runtime.
    val embSchema = spark.read.parquet(s"$dir/embeddings.parquet").schema
    val stream = readAllParquetStream(spark, s"$dir/embeddings.parquet",
        embSchema)
      .filter(graft.llm.TextOps.hash48(
        concat(lit("upd:"), col("vec_id").cast("string"))) % 10 === 0)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("one", lit(1))
    val best = aggregate(
      col("cents"),
      struct(lit(-1).cast("int").as("code"),
        lit(Double.PositiveInfinity).as("d")),
      (acc, e) => {
        val dist = aggregate(
          zip_with(slice(col("v"), col("sub") * subDim + 1, lit(subDim)),
            e.getField("cent"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, x) => a + x)
        when(dist < acc.getField("d"),
          struct(e.getField("code").as("code"), dist.as("d")))
          .otherwise(acc)
      })
    val enc = stream.join(broadcast(books), Seq("one"))
      .withColumn("best", best)
      .select(col("vec_id"), col("sub").cast("long").as("sub"),
        col("best.code").cast("long").as("code"), col("best.d").as("l2sq"))
    require(m == 8, "scaladoc cost bound assumes the declared M")
    runToParquet(spark, enc, "idxupd")
  }

  /** st_sliding: the watermarked SLIDING-window aggregate drained in
    * append mode — st_tumbling's overlapping-window sibling, proving the
    * window-EXPANSION path of the streaming aggregate (each event feeds
    * 4 window states, and finalization releases a window only when the
    * watermark passes ITS end, so the drained set is the 4×-overlapped
    * window table cut by the same non-strict boundary predicate the
    * tumbling oracle pins). */
  private val stSliding: Q = (spark, dir) => withStateParts(spark, dir) { spark =>
    val out = runToCompletion(spark,
      sliding(readAllEventStream(spark, s"$dir/events.parquet")),
      "st_slide_mem", OutputMode.Append())
      .localCheckpoint(true) // same memory-sink ballast relief as above
    spark.catalog.dropTempView("st_slide_mem")
    out
  }

  /** st_running_counts: the mapGroupsWithState per-user running counter
    * drained to its final state — the minimal keyed-update stateful op
    * (one narrow row per key, update-mode emission each batch),
    * declared so ALL FOUR custom-state classes are driver-visible:
    * fold (this), latest-wins (st_latest_state), session+timeout
    * (st_sessionize), dedup store (st_dedup). With the all-files-one-
    * batch reader each user emits once; the max-n compaction makes the
    * contract explicit under any batching. Oracle = the batch
    * count/max — exact because state holds µs, not getTime millis. */
  private val stRunningCounts: Q = (spark, dir) => withStateParts(spark, dir) { spark =>
    val emitted = runToCompletion(spark,
      runningCounts(spark, readAllEventStream(spark, s"$dir/events.parquet")),
      "st_runcnt_mem", OutputMode.Update())
      .localCheckpoint(true) // same memory-sink ballast relief as above
    spark.catalog.dropTempView("st_runcnt_mem")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n").desc)
    emitted.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  val queries: Map[String, Q] = Map(
    "st_running_counts" -> stRunningCounts,
    "st_sliding"      -> stSliding,
    "st_sessionize"   -> stSessionize,
    "st_latest_state" -> stLatestState,
    "st_tumbling"     -> stTumbling,
    "st_range_join"   -> stRangeJoin,
    "st_left_join"    -> stLeftJoin,
    "st_enrich"       -> stEnrich,
    "st_dedup"        -> stDedup,
    "st_index_update" -> stIndexUpdate)

  val oracles: Map[String, String] = Map(
    // ev_session's batch spelling, minus each user's final session when
    // it is still inside the finalization watermark. Events are
    // PRE-AGGREGATED by (user_id, ts) first: with raw rows, the lag and
    // cumulative-sum windows could order tied timestamps differently
    // (unstable sorts in two separate window operators) and split a tie
    // across sessions nondeterministically — on distinct timestamps both
    // windows have a total order.
    "st_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS t,
        |         COUNT(*) AS nr, SUM(CAST(value AS DECIMAL(18,2))) AS v
        |  FROM events GROUP BY 1, 2),
        |o AS (
        |  SELECT user_id, t, nr, v,
        |         CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
        |              >= INTERVAL '30 minutes'
        |              OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |s AS (
        |  SELECT user_id, t, nr, v,
        |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY t
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM o),
        |g AS (
        |  SELECT user_id, sess, MIN(t) AS s_start,
        |         MAX(t) + INTERVAL '30 minutes' AS s_end,
        |         CAST(SUM(nr) AS BIGINT) AS n_events,
        |         CAST(SUM(v) AS DOUBLE) AS sum_value
        |  FROM s GROUP BY user_id, sess),
        |mx AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS max_ts FROM events),
        |r AS (
        |  SELECT g.*, max_ts,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY s_start DESC) AS rk
        |  FROM g, mx)
        |SELECT user_id, s_start, s_end, n_events, sum_value
        |FROM r WHERE rk > 1
        |   OR (epoch_us(s_end) // 1000) < (epoch_us(max_ts) // 1000) - 1800000""".stripMargin,

    // the batch running-count final state: count + µs-exact max ts
    "st_running_counts" ->
      """SELECT user_id, COUNT(*) AS n,
        |       MAX(CAST(ts AS TIMESTAMP)) AS last_ts
        |FROM events GROUP BY 1""".stripMargin,

    // each event expands to its 4 covering windows (duration/slide = 4,
    // epoch-aligned like Spark's default startTime=0), then the same
    // non-strict finalization boundary as st_tumbling
    "st_sliding" ->
      """WITH x AS (
        |  SELECT CAST(ts AS TIMESTAMP) AS t, event_type,
        |         CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |e AS (
        |  SELECT time_bucket(INTERVAL '15 minutes', t)
        |           - i * INTERVAL '15 minutes' AS w_start,
        |         event_type, v
        |  FROM x, (SELECT unnest([0, 1, 2, 3]) AS i)),
        |g AS (
        |  SELECT w_start, w_start + INTERVAL '1 hour' AS w_end, event_type,
        |         COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS sum_value
        |  FROM e GROUP BY 1, 2, 3),
        |mx AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS max_ts FROM events)
        |SELECT w_start, w_end, event_type, n, sum_value
        |FROM g, mx
        |WHERE (epoch_us(w_end) // 1000) <= (epoch_us(max_ts) // 1000) - 3600000""".stripMargin,

    "st_tumbling" ->
      """WITH g AS (
        |  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS w_start,
        |         time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) + INTERVAL '1 hour' AS w_end,
        |         event_type, COUNT(*) AS n,
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2, 3),
        |mx AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS max_ts FROM events)
        |SELECT w_start, w_end, event_type, n, sum_value
        |FROM g, mx
        |WHERE (epoch_us(w_end) // 1000) <= (epoch_us(max_ts) // 1000) - 3600000""".stripMargin,

    // stateless enrichment: the plain left join (the harness compares
    // columns sorted by NAME, so the USING-join's user_id-first column
    // order on the Spark side doesn't matter)
    "st_enrich" ->
      """SELECT e.event_id, e.user_id, e.event_type, e.value,
        |       c.c_name, c.c_mktsegment
        |FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id""".stripMargin,

    // the batch range join's spelling verbatim (ev_range_join): inner
    // stream-stream pairs emit on match, so the drained set is the full
    // batch answer — no finalization predicate needed.
    "st_range_join" ->
      """SELECT p.event_id AS p_id, p.user_id AS user_id,
        |       CAST(p.ts AS TIMESTAMP) AS p_ts,
        |       v.event_id AS v_id, CAST(v.ts AS TIMESTAMP) AS v_ts,
        |       v.value AS v_value
        |FROM events p JOIN events v
        |  ON v.user_id = p.user_id
        | AND CAST(v.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL '12 hours'
        | AND CAST(v.ts AS TIMESTAMP) < CAST(p.ts AS TIMESTAMP)
        |WHERE p.event_type = 'purchase' AND v.event_type = 'view'""".stripMargin,

    // the inner pairs (batch-identical, emitted on match) plus the
    // null-extended purchases the finalization batch EVICTED: no
    // qualifying view exists AND p_ts sits strictly below the final
    // global watermark = min(per-side ms-floored max event time) −
    // delay — the min-policy over the two watermarked sources, spelled
    // µs-exactly like st_sessionize's boundary.
    "st_left_join" ->
      """WITH m AS (
        |  SELECT p.event_id AS p_id, p.user_id AS user_id,
        |         CAST(p.ts AS TIMESTAMP) AS p_ts,
        |         v.event_id AS v_id, CAST(v.ts AS TIMESTAMP) AS v_ts,
        |         v.value AS v_value
        |  FROM events p JOIN events v
        |    ON v.user_id = p.user_id
        |   AND CAST(v.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL '12 hours'
        |   AND CAST(v.ts AS TIMESTAMP) < CAST(p.ts AS TIMESTAMP)
        |  WHERE p.event_type = 'purchase' AND v.event_type = 'view'),
        |wm AS (
        |  SELECT LEAST(
        |    (SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP)) // 1000)
        |       FROM events WHERE event_type = 'purchase'),
        |    (SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP)) // 1000)
        |       FROM events WHERE event_type = 'view')) - 3600000 AS wm_ms),
        |u AS (
        |  SELECT p.event_id AS p_id, p.user_id AS user_id,
        |         CAST(p.ts AS TIMESTAMP) AS p_ts,
        |         CAST(NULL AS BIGINT) AS v_id,
        |         CAST(NULL AS TIMESTAMP) AS v_ts,
        |         CAST(NULL AS DOUBLE) AS v_value
        |  FROM events p, wm
        |  WHERE p.event_type = 'purchase'
        |    AND (epoch_us(CAST(p.ts AS TIMESTAMP)) // 1000) < wm.wm_ms
        |    AND NOT EXISTS (
        |      SELECT 1 FROM events v
        |      WHERE v.event_type = 'view' AND v.user_id = p.user_id
        |        AND CAST(v.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL '12 hours'
        |        AND CAST(v.ts AS TIMESTAMP) < CAST(p.ts AS TIMESTAMP)))
        |SELECT * FROM m UNION ALL SELECT * FROM u""".stripMargin,

    "st_latest_state" ->
      """WITH r AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value, event_id,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |           ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, ts, event_type, value, event_id
        |FROM r WHERE rn = 1""".stripMargin,

    // two identical deliveries collapse to the batch relation: one row
    // per event_id (event_id is the table's unique key, so "first seen
    // wins" and DISTINCT coincide — no tie to adjudicate)
    "st_dedup" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |       event_type, value, props
        |FROM events""".stripMargin,

    // the stateless stream-static encode drains to EXACTLY the batch
    // twin's rows — the oracle is sim_index_update's, verbatim
    "st_index_update" -> graft.llm.Similarity.oracles("sim_index_update"))
}
