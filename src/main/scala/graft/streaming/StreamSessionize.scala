package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event for the stateful sessionizer. `ts` stays a timestamp so
  * the watermark column survives into the typed Dataset (a projection
  * to epoch micros would strip the event-time tag EventTimeTimeout
  * requires).
  */
final case class SessEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

/** Open-session state carried between micro-batches. */
final case class SessState(
    start_us: Long, last_us: Long, n_events: Long, sum_value: Double)

/** A closed (emitted) session. */
final case class SessionOut(
    user_id: Long, start_us: Long, end_us: Long, n_events: Long, sum_value: Double)

/** Gap-based sessionization with CUSTOM STATE — the Structured
  * Streaming counterpart of the q37 batch window pass, via
  * flatMapGroupsWithState (SURVEY: "custom state" streaming surface).
  *
  * Per user, events extend the open session while gaps stay within
  * `gapMinutes`; a larger gap closes the session and emits it. An
  * event-time timeout (watermark + gap) closes idle sessions, which
  * bounds state for an unbounded source. Works identically on a batch
  * Dataset (each group processed once, no timeout) — batch/stream
  * parity is the spec's oracle.
  */
object StreamSessionize {

  implicit val sessEventEnc: Encoder[SessEvent] = Encoders.product[SessEvent]
  implicit val sessStateEnc: Encoder[SessState] = Encoders.product[SessState]
  implicit val sessionOutEnc: Encoder[SessionOut] = Encoders.product[SessionOut]
  implicit val longEnc: Encoder[Long] = Encoders.scalaLong

  def gapUs(gapMinutes: Int): Long = gapMinutes * 60L * 1000000L

  def usToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000L)
    t.setNanos((us % 1000000L).toInt * 1000)
    t
  }

  /** Core transition: fold a batch of events for one user into closed
    * sessions + the still-open state. Events are sorted by event time
    * within the batch (micro-batches preserve no order).
    */
  def step(events: Seq[SessEvent], prior: Option[SessState], gapMin: Int)
      : (Seq[SessionOut], Option[SessState]) = {
    val gap = gapUs(gapMin)
    var state = prior
    val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
    events.sortBy(e => (tsUs(e.ts), e.value)).foreach { e =>
      val us = tsUs(e.ts)
      state = state match {
        case Some(s) if us - s.last_us <= gap =>
          Some(SessState(s.start_us, us, s.n_events + 1, s.sum_value + e.value))
        case Some(s) =>
          closed += SessionOut(0L, s.start_us, s.last_us, s.n_events, s.sum_value)
          Some(SessState(us, us, 1L, e.value))
        case None =>
          Some(SessState(us, us, 1L, e.value))
      }
    }
    (closed.toSeq, state)
  }

  /** Apply to a (possibly streaming) events DataFrame with `ts`
    * timestamp, `user_id`, `value` columns. Streaming requires a
    * watermark on ts and Append output mode.
    */
  def sessionize(events: DataFrame, gapMin: Int = 30): Dataset[SessionOut] = {
    val typed = events.select(
      col("user_id").cast("long").as("user_id"),
      col("ts"),
      col("value").cast("double").as("value")).as[SessEvent]

    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, it: Iterator[SessEvent], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(user, s.start_us, s.last_us, s.n_events, s.sum_value))
          } else {
            val (closed, open) =
              step(it.toSeq, state.getOption, gapMin)
            open match {
              case Some(s) =>
                state.update(s)
                // close the session once the watermark passes last+gap
                state.setTimeoutTimestamp((s.last_us + gapUs(gapMin)) / 1000L)
              case None => state.remove()
            }
            closed.iterator.map(c => c.copy(user_id = user))
          }
      }
  }
}
