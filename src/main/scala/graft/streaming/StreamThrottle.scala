package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event for the quota throttler. */
final case class ThrottleEvent(
    user_id: Long, win_us: Long, ts: java.sql.Timestamp, event_id: Long)

/** An admitted event with its within-quota sequence number. */
final case class Admitted(
    user_id: Long, win_start_us: Long, event_id: Long, seq: Long)

/** STREAMING QUOTA THROTTLE (thirteenth stateful family) — admit at
  * most N events per (user, tumbling day), deterministically the
  * FIRST N in (event time, event_id) order; everything later in the
  * window is suppressed. This is the rate-limit / sampling gate an
  * ingest pipeline puts in front of a hot key, and the state is the
  * minimal one long (admitted-so-far) per open (user, window) —
  * unlike dropDuplicates state it never grows with event volume.
  * Emission is immediate (an admit decision never retracts), so no
  * timeout is needed for CORRECTNESS — but a long-running stream
  * would accrue one counter per (user, day) forever, so the state is
  * BOUNDED with EventTimeTimeout: each counter times out once the
  * watermark passes its window end + the allowed lateness and is
  * removed. |state| = |users x open windows|, independent of stream
  * age.
  *
  * Batch parity: the admitted set equals `row_number() OVER
  * (PARTITION BY user, window ORDER BY ts, event_id) <= N` exactly —
  * the oracle states it that way — provided replay feeds each group
  * time-ordered batches (the two-batch spec splits by time).
  */
object StreamThrottle {

  // 2 per user-day: binds on this event density (~2.2 events/user/day),
  // so the suppression path is actually exercised end-to-end
  val QUOTA = 2
  val WINDOW_US: Long = 24L * 3600L * 1000000L

  implicit val evEnc: Encoder[ThrottleEvent] = Encoders.product[ThrottleEvent]
  implicit val outEnc: Encoder[Admitted] = Encoders.product[Admitted]
  implicit val stEnc: Encoder[Long] = Encoders.scalaLong
  implicit val keyEnc: Encoder[(Long, Long)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** Pure transition: admit from `used` within one (user, window). */
  def step(evs: Seq[ThrottleEvent], used: Long): (Seq[Admitted], Long) = {
    var n = used
    val out = Seq.newBuilder[Admitted]
    evs.sortBy(e => (tsUs(e.ts), e.event_id)).foreach { e =>
      if (n < QUOTA) {
        n += 1
        out += Admitted(e.user_id, e.win_us, e.event_id, n)
      }
    }
    (out.result(), n)
  }

  /** Watermark lateness bound: events later than this past the max
    * seen time are dropped by the engine, and a window's counter is
    * evicted once the watermark passes window end + this bound.
    */
  val LATENESS_MS: Long = 3600L * 1000L

  def throttle(events: DataFrame): Dataset[Admitted] = {
    val typed = events
      .withWatermark("ts", s"${LATENESS_MS / 1000L} seconds")
      .select(
        col("user_id").cast("long").as("user_id"),
        (floor(unix_micros(col("ts")) / WINDOW_US) * WINDOW_US).as("win_us"),
        col("ts"), col("event_id").cast("long").as("event_id"))
      .as[ThrottleEvent]
    typed.groupByKey(e => (e.user_id, e.win_us))
      .flatMapGroupsWithState[Long, Admitted](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: (Long, Long), it: Iterator[ThrottleEvent], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            // watermark passed window end + lateness: no more events
            // can reach this window — drop its counter
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(0L)
            val (out, n) = step(it.toSeq, prev)
            if (n != prev || state.getOption.isEmpty) state.update(n)
            // evict once the watermark passes window end + lateness;
            // clamp above the current watermark (setting a timestamp
            // at or below it is an error)
            val target = (key._2 + WINDOW_US) / 1000L + LATENESS_MS
            state.setTimeoutTimestamp(
              math.max(target, state.getCurrentWatermarkMs + 1L))
            out.iterator
          }
      }
  }
}
