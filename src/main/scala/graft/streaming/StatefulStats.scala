package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Typed event row for the stateful operators (TimestampType µs). */
final case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

/** Per-user running state: event count, exact cents total, last event
  * time, and gap-based session count (30 min timeout, same semantics
  * as EventStreams.sessionize).
  */
final case class UserStats(user_id: Long, n_events: Long, value_cents: Long,
    last_ts: java.sql.Timestamp, n_sessions: Long)

/** Custom keyed state via `mapGroupsWithState` (SURVEY.md §2.7) — the
  * escape hatch for stream logic the built-in operators can't express
  * (here: a running session COUNTER that never stores per-session
  * state, where session_window materializes every open session).
  *
  * State is one tiny UserStats per key, and BOUNDED by an event-time
  * timeout: each update arms a timer at (last event ts) + `horizonDays`;
  * when the watermark passes it the user's state is evicted (final row
  * emitted once more — an idempotent upsert under the update-mode
  * sink). So state is O(users active inside one horizon), not O(users
  * ever seen over the stream's lifetime). A user reappearing after
  * eviction restarts their running stats — the documented horizon
  * contract (a lifetime-exact recount is the batch recompute's job,
  * which shares this fold). Streaming callers must `withWatermark` on
  * `ts` (Spark rejects an event-time timeout without one); the batch
  * form runs the identical fold with timers disabled, which is how
  * the DuckDB oracle checks it.
  */
object StatefulStats {

  private val gapMs = 30L * 60 * 1000

  /** Eviction horizon: stats for a user idle this long are final for
    * any in-order feed (generous — a month of inactivity).
    */
  val DefaultHorizonDays = 30

  def runningUserStats(events: Dataset[UserEvent],
      horizonDays: Int = DefaultHorizonDays): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    // captured outside the closure: batch mode never arms timers (no
    // watermark exists to fire them)
    val streaming = events.isStreaming
    val horizonMs = horizonDays * 86400000L
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserStats, UserStats](GroupStateTimeout.EventTimeTimeout) {
        (uid, it, state) =>
          if (state.hasTimedOut) {
            // horizon passed: emit the final row once more and free
            // the state
            val out = state.get
            state.remove()
            out
          } else {
            // events inside one trigger arrive unordered; sort before
            // folding (cross-trigger order is the stream's time order)
            val evs = it.toArray.sortBy(_.ts.getTime)
            val prev = state.getOption
            var n = prev.map(_.n_events).getOrElse(0L)
            var cents = prev.map(_.value_cents).getOrElse(0L)
            var last = prev.map(_.last_ts).orNull
            var sessions = prev.map(_.n_sessions).getOrElse(0L)
            evs.foreach { e =>
              if (last == null || e.ts.getTime - last.getTime >= gapMs) sessions += 1
              n += 1
              // HALF_UP = away-from-zero at exact halves — the semantics
              // of round() in both the DuckDB oracle and Spark's round()
              // (java Math.round rounds half toward +inf, which diverges
              // on negative values landing exactly on a half-cent)
              cents += BigDecimal(e.value * 100)
                .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
              last = e.ts
            }
            val out = UserStats(uid, n, cents, last, sessions)
            state.update(out)
            if (streaming)
              // arm (or push back) the eviction timer; clamp above the
              // current watermark so a group fed only late data cannot
              // compute a timer the store must reject
              state.setTimeoutTimestamp(
                math.max(last.getTime + horizonMs, state.getCurrentWatermarkMs + 1))
            out
          }
      }
  }
}
