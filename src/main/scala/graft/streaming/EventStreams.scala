package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming layer (SURVEY.md §2.11 / §7 layer 6).
  *
  * The reference's ingestion cadence is "a new monthly file appears in a
  * folder" (S12). The Spark-native generalization is a file-source stream
  * with `Trigger.AvailableNow` — each run drains whatever arrived, with
  * exactly-once file tracking, replacing the hand-rolled
  * latest-file-selection + archive-compare machinery.
  */
object EventStreams {

  /** Hourly tumbling-window counts/sums per event type with a watermark
    * for late data. Append-mode compatible.
    */
  def hourlyByType(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Windowed distinct-count SKETCH stream: per (window, group) HLL
    * sketches with a watermark — the streaming face of
    * `Aggs.distinctSketches`. Each emitted row carries the mergeable
    * sketch binary, so a sink table of these rows IS an
    * incrementally-built sketch table: any coarser rollup (daily from
    * hourly, all-groups from per-group) runs later via
    * `Aggs.mergeSketches` without touching the event stream again.
    * State is bounded by the watermark like any windowed agg; the HLL
    * aggregate is algebraic, so partial merges happen map-side
    * per micro-batch. Append-mode compatible.
    */
  def distinctSketchStream(events: DataFrame, groupCol: String,
                           valueCol: String, windowLen: String = "1 hour",
                           watermark: String = "2 hours",
                           lgK: Int = 12): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col(groupCol))
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"),
        count(col(valueCol)).as("n_rows"))
      .select(col("window.start").as("window_start"), col(groupCol),
        col("sketch"), col("n_rows"))

  /** Streaming exact dedup with bounded state: duplicates arriving within
    * the watermark horizon are dropped; state for keys older than the
    * watermark is evicted. The streaming counterpart of batch
    * `dropDuplicates` — at 100 TB/day the watermark IS the memory bound.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-static enrichment join: the static dimension is re-read per
    * micro-batch (picking up slowly-changing updates); the stream side
    * never blocks on it. Broadcast applies as in batch.
    */
  def enrichStream(events: DataFrame, dim: DataFrame,
                   eventKey: String, dimKey: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim),
      events(eventKey) === dim(dimKey), "left")

  /** Stream-stream interval join: each left event matched to right
    * events of the same key within `[leftTs - before, leftTs + after]`.
    * BOTH sides carry watermarks and the join condition bounds the time
    * range — that pair of constraints is what lets Spark evict join
    * state, keeping memory finite on unbounded streams (an unbounded
    * stream-stream equi-join would buffer everything forever).
    */
  def intervalJoinStreams(left: DataFrame, right: DataFrame,
                          key: String, before: String = "1 hour",
                          after: String = "0 seconds",
                          watermark: String = "2 hours"): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col("r.ts") >= col("l.ts") - expr(s"INTERVAL $before") &&
        col("r.ts") <= col("l.ts") + expr(s"INTERVAL $after"))
  }

  case class SessionUpdate(user_id: Long, session_start: java.sql.Timestamp,
                           n_events: Long, total_value: Double, closed: Boolean)
  case class SessionState(start: Long, last: Long, n: Long, total: Double)

  /** Gap-based sessionization with custom state: a session closes after
    * `gapMs` of inactivity (flatMapGroupsWithState with event-time
    * timeout). Emits one row per closed session.
    */
  def sessionize(spark: SparkSession, events: DataFrame,
                 gapMs: Long = 30 * 60 * 1000L): Dataset[SessionUpdate] = {
    import spark.implicits._
    val typed = events
      .withWatermark("ts", "1 hour")
      .select(col("user_id").cast("long"), col("ts"), col("value").cast("double"))
      .as[(Long, java.sql.Timestamp, Double)]

    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
       state: GroupState[SessionState]) =>
        if (state.hasTimedOut) {
          val s = state.get
          state.remove()
          Iterator.single(SessionUpdate(user, new java.sql.Timestamp(s.start),
            s.n, s.total, closed = true))
        } else {
          val sorted = rows.toSeq.sortBy(_._2.getTime)
          var closedSessions = List.empty[SessionUpdate]
          var cur = state.getOption
          sorted.foreach { case (_, ts, v) =>
            val t = ts.getTime
            cur match {
              case Some(s) if t - s.last <= gapMs =>
                // max: a later micro-batch can deliver an in-gap but
                // out-of-order event; regressing `last` would shrink the
                // timeout and close the session prematurely
                cur = Some(s.copy(last = math.max(s.last, t),
                  n = s.n + 1, total = s.total + v))
              case Some(s) =>
                closedSessions ::= SessionUpdate(user, new java.sql.Timestamp(s.start),
                  s.n, s.total, closed = true)
                cur = Some(SessionState(t, t, 1, v))
              case None =>
                cur = Some(SessionState(t, t, 1, v))
            }
          }
          cur.foreach { s =>
            // FMGWS does NOT filter late input: a batch can deliver
            // events so old that the watermark already passed the
            // session's gap deadline. Setting that stale deadline as the
            // timeout throws (timeouts must be later than the
            // watermark), so close the session NOW — by the watermark
            // contract it could only have received more late events,
            // which a gap session must not extend through anyway.
            // (Found by the sf10 streaming probe: 13 wide-time-range
            // micro-batches; never triggerable on single-batch fixtures.)
            if (s.last + gapMs <= state.getCurrentWatermarkMs()) {
              closedSessions ::= SessionUpdate(user,
                new java.sql.Timestamp(s.start), s.n, s.total, closed = true)
              if (state.exists) state.remove()
            } else {
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
          }
          closedSessions.reverseIterator
        }
    }
  }

  /** Sessionization via Spark's native `session_window` — the built-in
    * gap-session operator (works in batch AND streaming with a
    * watermark; in streaming, state merging is handled by the engine).
    * Boundary semantics differ from [[sessionizeBatch]] by a half-open
    * edge: an event exactly `gap` after the previous one starts a NEW
    * session here (windows [t, t+gap) don't overlap), while the
    * lag-based form keeps `diff == gap` in the same session — identical
    * on any data without exact-boundary gaps. Session_seq is assigned
    * per user in session-start order, matching sessionizeBatch's shape.
    */
  def sessionizeNative(events: DataFrame, gap: String = "30 minutes"): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("session_start")
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(27, 4)))
          .cast("double").as("total_value"))
      .withColumn("session_seq",
        row_number().over(byUser).cast("long"))
      .select("user_id", "session_seq", "session_start", "session_end",
        "n_events", "total_value")
  }

  /** Batch-mode gap sessionization (same semantics, window-function form):
    * used for oracle checks and for backfills over historical data. One
    * shuffle on user_id; at 100 TB the input should be date-partitioned
    * and the shuffle keyed on (user_id) with AQE handling skewed users.
    */
  def sessionizeBatch(events: DataFrame, gapMs: Long = 30 * 60 * 1000L,
                      tieBreak: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tieBreak: session boundaries are tie-order-invariant (equal ts ⇒
    // gap 0 ⇒ same session), but a unique column keeps the intra-window
    // order deterministic across engines when (user_id, ts) collides.
    val byUser = Window.partitionBy("user_id").orderBy(col("ts") +: tieBreak: _*)
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (unix_millis(col("ts")) - unix_millis(col("prev_ts"))) > gapMs, 1).otherwise(0))
      .withColumn("session_seq",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        // decimal sum → double: order-independent, hash-stable across engines
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(27, 4)))
          .cast("double").as("total_value"))
  }
}
