package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming faces of the batch event operators: the same
  * tumbling-window aggregation as Queries.q25 and the same gap-based
  * sessionization as operators.Sessionize, expressed as streaming plans.
  *
  * The reference pipeline is batch-only (SURVEY.md §2.9); this is the
  * engine's scale path for continuous ingest: a file-source stream with
  * `Trigger.AvailableNow` reprocesses new drops incrementally with
  * exactly-once state, replacing the reference's manual re-runs.
  */
object EventStreams {

  /** Hourly tumbling-window counts/sums with a watermark: late events
    * beyond 2 hours are dropped and state is GC'd — bounded state at any
    * scale. Append-mode compatible. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("total_value"))

  /** SLIDING-window counts/sums: 1-hour windows advancing every 15
    * minutes — each event lands in windowDur/slideDur overlapping
    * windows (4 here), the "last hour, refreshed every 15 min"
    * operational view a tumbling window can't give (its hourly edges
    * hide a mid-hour spike for up to an hour). Same watermark/state
    * contract as [[hourlyAgg]]: state is bounded by windows inside the
    * horizon × keys, GC'd as the watermark advances; the overlap
    * multiplies state by windowDur/slideDur — the caller's knob, loud
    * in the signature.
    *
    * slideDur must divide windowDur (Spark aligns window starts to the
    * slide grid from the epoch; a non-dividing pair produces partial
    * windows the batch oracle can't replay) — enforced loudly below,
    * not just documented. */
  def slidingAgg(events: DataFrame, windowDur: String = "1 hour",
                 slideDur: String = "15 minutes"): DataFrame = {
    val wUs = durationMicros(windowDur, "slidingAgg.windowDur")
    val sUs = durationMicros(slideDur, "slidingAgg.slideDur")
    require(sUs <= wUs && wUs % sUs == 0,
      s"slidingAgg: slideDur ($slideDur) must divide windowDur " +
        s"($windowDur) — non-dividing pairs produce partial windows " +
        "the batch oracle cannot replay")
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), windowDur, slideDur), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("total_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("total_value"))
  }

  /** Parse the fixed-unit duration strings this module accepts
    * ("N second(s)/minute(s)/hour(s)/day(s)") to microseconds —
    * loud on anything else (calendar units like months have no fixed
    * micros, and window() rejects them as slides anyway). */
  private[graft] def durationMicros(s: String, what: String): Long = {
    val m = "^\\s*(\\d+)\\s+(second|minute|hour|day)s?\\s*$".r
      .findFirstMatchIn(s.toLowerCase(java.util.Locale.ROOT))
      .getOrElse(throw new IllegalArgumentException(
        s"$what: cannot parse duration '$s' — expected 'N " +
          "second(s)|minute(s)|hour(s)|day(s)'"))
    val n = m.group(1).toLong
    require(n >= 1, s"$what: duration must be >= 1: '$s'")
    val unit = m.group(2) match {
      case "second" => 1000000L
      case "minute" => 60L * 1000000L
      case "hour"   => 3600L * 1000000L
      case "day"    => 86400L * 1000000L
    }
    math.multiplyExact(n, unit)
  }

  /** Stream-static enrichment + rollup: join the event stream against a
    * BATCH dimension (the classic "decorate clicks with the customer
    * segment" shape) and aggregate per dimension attribute. The static
    * side broadcasts — each micro-batch probes the same built hash
    * relation, no stream-side shuffle for the join, and the dimension
    * is re-read per batch (so a dim refresh is picked up without
    * restarting the query — the documented stream-static contract).
    * Left join: events whose key misses the dimension roll up under
    * the NULL attribute instead of silently dropping (at 100 TB the
    * miss rate is itself a signal worth seeing).
    *
    * Unwindowed complete-mode aggregate: state is ≤ |attribute values|
    * rows — dimension-bounded, not stream-bounded. */
  def enrichAgg(events: DataFrame, dim: DataFrame, keyCol: String,
                attrCol: String): DataFrame =
    events
      .join(broadcast(dim.select(col(keyCol), col(attrCol))),
        Seq(keyCol), "left")
      .groupBy(col(attrCol))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("total_value"))

  /** Exactly-once-style ingest dedup: drop event_id re-deliveries within
    * the watermark horizon (state = one id per event inside the horizon,
    * GC'd as the watermark advances — bounded at any scale; an at-least-
    * once upstream becomes effectively-once downstream). */
  def dedupedEvents(events: DataFrame, watermarkHorizon: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkHorizon)
      .dropDuplicatesWithinWatermark("event_id")

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionState(sessionCount: Long, totalEvents: Long,
                                lastStart: Long, lastEnd: Long)
  final case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  /** Stateful gap-based sessionization via flatMapGroupsWithState: emits a
    * running (user, session-count, event-count) row per update. State is
    * one tiny record per user; processing-time timeout evicts idle users.
    *
    * Batch equivalent: [[graft.operators.Sessionize.userSessionStats]] —
    * the spec asserts they agree on the same input.
    */
  /** Full-precision epoch micros — Timestamp.getTime is millis and would
    * truncate the sub-ms component the batch operator (and the oracle)
    * order and gap-compare with. */
  private def micros(t: java.sql.Timestamp): Long =
    t.getTime / 1000L * 1000000L + t.getNanos / 1000L

  /** A micro-batch's events folded one at a time into disjoint
    * [start, end] time intervals separated by > gap — the session set of
    * the batch. Memory is O(sessions in the batch), NOT O(events): a hot
    * user with millions of dense events in one micro-batch costs a
    * handful of tree entries, where a sort-the-whole-group buffer
    * (the previous formulation) would OOM the task.
    *
    * Exactness: within a session, consecutive sorted events gap ≤ g, so a
    * point landing inside an interval chains to both neighbors; a point
    * within g of an interval's end chains to its boundary event. Merging
    * a point can bridge at most one interval on each side (intervals are
    * > g apart). Hence interval-merge ≡ sort-then-fold for the batch. */
  private def mergePoint(iv: java.util.TreeMap[Long, Long], t: Long,
                         gapUs: Long): Unit = {
    var start = t
    var end = t
    val below = iv.floorEntry(t)
    if (below != null && t - below.getValue <= gapUs) {
      start = below.getKey
      end = math.max(end, below.getValue)
      iv.remove(below.getKey)
    }
    val above = iv.ceilingEntry(t)
    if (above != null && above.getKey - end <= gapUs) {
      end = math.max(end, above.getValue)
      iv.remove(above.getKey)
    }
    iv.put(start, end)
  }

  def sessionize(events: Dataset[Event], gapMinutes: Int): Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSessions](
        OutputMode.Update, GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[SessionState]) =>
          val s = state.getOption.getOrElse(SessionState(0L, 0L, 0L, 0L))
          // seed with the carried last-session interval so late-but-in-
          // horizon events chain into it; sessions before it are closed
          // (an event bridging two CLOSED sessions is beyond repair here,
          // exactly as in any single-interval carry)
          val iv = new java.util.TreeMap[Long, Long]()
          if (s.sessionCount > 0L) iv.put(s.lastStart, s.lastEnd)
          var nEvents = 0L
          rows.foreach { e => nEvents += 1L; mergePoint(iv, micros(e.ts), gapUs) }
          val carried = if (s.sessionCount > 0L) 1L else 0L
          val next =
            if (iv.isEmpty) s
            else SessionState(s.sessionCount - carried + iv.size,
              s.totalEvents + nEvents, iv.lastKey, iv.lastEntry.getValue)
          state.update(next)
          Iterator.single(UserSessions(uid, next.sessionCount, next.totalEvents))
      }
  }

  /** Stream-stream interval join (attribution shape): pair each row of
    * `effects` with every `causes` row for the same user whose timestamp
    * falls in `[effect.ts - horizon, effect.ts]` — e.g. attribute a
    * purchase to the views that preceded it within 30 minutes.
    *
    * Both sides carry a watermark, and the join condition bounds cause-ts
    * by effect-ts on both ends, so Spark derives a state-eviction bound
    * for BOTH sides: buffered state is one horizon+watermark window per
    * side, not the whole stream — bounded at any scale. Inner join in
    * append mode emits a pair the moment both rows exist; nothing waits
    * on watermark close. The join itself hash-partitions both sides on
    * `user_id`, the natural key, and the payload carried through the
    * shuffle is three narrow columns per side.
    *
    * Returns (effect_id, cause_id, user_id, effect_ts, cause_ts); callers
    * aggregate (conversion counts, first-touch/last-touch) downstream. */
  def intervalJoin(causes: DataFrame, effects: DataFrame,
                   horizon: String = "30 minutes",
                   watermark: String = "2 hours"): DataFrame = {
    val c = causes
      .select(col("event_id").as("cause_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    val e = effects
      .select(col("event_id").as("effect_id"), col("user_id").as("user_id"),
        col("ts").as("effect_ts"))
      .withWatermark("effect_ts", watermark)
    e.join(c,
      expr(s"""c_user = user_id AND
        c_ts >= effect_ts - INTERVAL $horizon AND c_ts <= effect_ts"""))
      .select(col("effect_id"), col("cause_id").as("cause_id"),
        col("user_id"), col("effect_ts"), col("c_ts").as("cause_ts"))
  }

  final case class Admitted(event_id: Long, user_id: Long,
                            window_start: java.sql.Timestamp, slot: Long)
  final case class RateState(windows: Map[Long, Long])

  /** Streaming fixed-window rate limiter — the frontier-politeness gate
    * at FETCH time ("at most `maxPerWindow` requests per key per
    * tumbling window"; the batch scheduler's TopK politeness bounds
    * the plan, this bounds the live stream). flatMapGroupsWithState
    * keeps one tiny (window → admitted-count) map per key; admitted
    * events emit with their slot (1-based within the window), excess
    * rows are silently deferred (re-submission is the caller's loop,
    * exactly like a real fetch scheduler).
    *
    * Determinism: within a micro-batch a key's rows are sorted by
    * (ts, event_id) before admission, so the decision is the batch
    * `row_number() ≤ R` formulation whenever delivery is in-order
    * across batches (the gate's AvailableNow drain is; true re-ordered
    * delivery admits first-arrived). State eviction: windows older
    * than the newest-seen window minus `horizonWindows` drop — bounded
    * state per key at any stream length. An event arriving in a window
    * ALREADY evicted (more than `horizonWindows` behind the key's
    * newest window) is DROPPED outright, never re-counted against a
    * fresh zero — so at-most-`maxPerWindow` per (key, window) holds
    * regardless of arrival order; the price is that extremely late
    * stragglers are rejected even if their window had free slots
    * (the same trade a watermark makes, and `horizonWindows` is the
    * loud knob).
    *
    * Memory: the per-batch sort buffers one KEY's micro-batch rows —
    * bounded by per-key arrival rate (a frontier's per-host rate is
    * politeness-bounded by construction; documented). */
  def rateLimitPerKey(events: Dataset[Event], windowMinutes: Int,
                      maxPerWindow: Long,
                      horizonWindows: Long = 48L): Dataset[Admitted] = {
    require(windowMinutes >= 1 && maxPerWindow >= 1 && horizonWindows >= 1,
      s"rateLimitPerKey: positive window/max/horizon required")
    import events.sparkSession.implicits._
    val wUs = windowMinutes.toLong * 60L * 1000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RateState, Admitted](
        OutputMode.Update, GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[RateState]) =>
          var wins = state.getOption.map(_.windows).getOrElse(Map.empty)
          // persisted wins are always within the horizon of their max,
          // so keys.max is exactly the newest window ever admitted
          var newest =
            if (wins.isEmpty) Long.MinValue else wins.keys.max
          val sorted = rows.toArray.sortBy(e => (micros(e.ts), e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[Admitted]
          sorted.foreach { e =>
            val w = micros(e.ts) / wUs * wUs
            // evicted-window straggler: its count is forgotten, so
            // re-counting could exceed maxPerWindow — drop instead
            // (the documented at-most-R contract)
            val evicted = newest != Long.MinValue &&
              w <= newest - horizonWindows * wUs
            val cnt = wins.getOrElse(w, 0L)
            if (!evicted && cnt < maxPerWindow) {
              wins = wins.updated(w, cnt + 1L)
              if (w > newest) newest = w
              out += Admitted(e.event_id, uid,
                new java.sql.Timestamp(w / 1000L), cnt + 1L)
            }
          }
          if (wins.nonEmpty) {
            wins = wins.filter(_._1 > newest - horizonWindows * wUs)
            state.update(RateState(wins))
          }
          out.iterator
      }
  }
}
