package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event for the gap debouncer. */
final case class DebEvent(
    user_id: Long, event_type: String, ts: java.sql.Timestamp,
    event_id: Long)

/** A kept (debounced) event. */
final case class DebKept(user_id: Long, event_type: String, event_id: Long)

/** STREAMING GAP DEBOUNCE — the 20th stateful family: keep an event
  * iff it arrives at least [[GAP_US]] after the last KEPT event of the
  * same (user, type) — the q306 recurrence run online. This is the
  * other rate-limit shape next to q185's quota throttle: the throttle
  * admits N per fixed window; the debouncer admits one per quiet gap,
  * so its decision depends on its own previous DECISION, not on a
  * window boundary — which is exactly why the state must be carried
  * (a stateless window pass cannot express "relative to last kept").
  *
  * State is ONE long per (user, type): the last kept event-time.
  * It is also self-expiring: once the watermark passes
  * last_kept + gap, every future on-time event clears the gap test
  * regardless of the stored value, so the entry can be dropped
  * without changing any future decision — EventTimeTimeout does that,
  * bounding |state| by the ACTIVE key set instead of the all-time
  * key set.
  *
  * Determinism: each micro-batch folds its group's events in
  * (event time, event_id) order, and a kept decision never retracts
  * (append sink). Replaying the log in any time-ordered batch tiling
  * yields the identical kept set — the two-batch spec proves it, and
  * the batch twin q306 (same recurrence as one per-key fold) is the
  * oracle.
  */
object StreamDebounce {

  /** Same gap as the batch twin (q306) so the oracle is shared. */
  val GAP_US: Long = graft.queries.TemporalOps.DEBOUNCE_US

  /** q306's virtual "no event yet" last-kept sentinel (−2^62). */
  val NO_LAST: Long = -4611686018427387904L

  /** Watermark lateness bound (engine drops events later than this). */
  val LATENESS_MS: Long = 3600L * 1000L

  implicit val evEnc: Encoder[DebEvent] = Encoders.product[DebEvent]
  implicit val outEnc: Encoder[DebKept] = Encoders.product[DebKept]
  implicit val stEnc: Encoder[Long] = Encoders.scalaLong
  implicit val keyEnc: Encoder[(Long, String)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.STRING)

  /** Pure transition: fold one key's batch from `last` (last kept
    * event-time in µs, [[NO_LAST]] when none yet).
    */
  def step(evs: Seq[DebEvent], last: Long): (Seq[DebKept], Long) = {
    var l = last
    val out = Seq.newBuilder[DebKept]
    evs.sortBy(e => (tsUs(e.ts), e.event_id)).foreach { e =>
      if (tsUs(e.ts) >= l + GAP_US) {
        l = tsUs(e.ts)
        out += DebKept(e.user_id, e.event_type, e.event_id)
      }
    }
    (out.result(), l)
  }

  def debounce(events: DataFrame): Dataset[DebKept] = {
    val typed = events
      .withWatermark("ts", s"${LATENESS_MS / 1000L} seconds")
      .select(col("user_id").cast("long").as("user_id"),
        col("event_type"), col("ts"),
        col("event_id").cast("long").as("event_id"))
      .as[DebEvent]
    typed.groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[Long, DebKept](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: (Long, String), it: Iterator[DebEvent],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            // watermark passed last_kept + gap: any future on-time
            // event passes the gap test anyway — drop the entry
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(NO_LAST)
            val (out, l) = step(it.toSeq, prev)
            state.update(l)
            if (l != NO_LAST) {
              val target = (l + GAP_US) / 1000L + LATENESS_MS
              state.setTimeoutTimestamp(
                math.max(target, state.getCurrentWatermarkMs + 1L))
            }
            out.iterator
          }
      }
  }
}
