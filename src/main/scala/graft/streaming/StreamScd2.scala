package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One CDC event: the user's tracked attribute observed as `attr` at
  * `ts`. `ts` stays a timestamp (same reasoning as [[SessEvent]]).
  */
final case class AttrEvent(
    user_id: Long, event_id: Long, ts: java.sql.Timestamp, attr: Long)

/** The open attribute version carried between micro-batches: one
  * (attr, since) pair per user — state is bounded by |users| no matter
  * how long the stream runs, so no timeout is needed (a version stays
  * open until a change closes it).
  */
final case class AttrVersionState(attr: Long, since_us: Long)

/** A closed attribute version, emitted when a change supersedes it. */
final case class ClosedVersion(
    user_id: Long, attr: Long, valid_from_us: Long, valid_to_us: Long)

/** STREAMING SCD TYPE-2 — the ninth streaming family: per-key CDC
  * attribute state via flatMapGroupsWithState. Each user's open
  * version lives in state; an arriving change CLOSES it (emitting the
  * [valid_from, valid_to) row downstream — e.g. to the history table
  * an [[ExactlyOnceSink]] maintains) and opens the next. No-op
  * observations (same attr) extend the open version silently, exactly
  * like the batch q110 lag() collapse. Works identically on a batch
  * Dataset; a whole-log single-batch replay emits exactly the batch
  * formulation's closed rows — the oracle-checkable parity claim.
  */
object StreamScd2 {

  implicit val attrEventEnc: Encoder[AttrEvent] = Encoders.product[AttrEvent]
  implicit val attrStateEnc: Encoder[AttrVersionState] =
    Encoders.product[AttrVersionState]
  implicit val closedEnc: Encoder[ClosedVersion] = Encoders.product[ClosedVersion]
  implicit val longEnc: Encoder[Long] = Encoders.scalaLong

  /** Core transition: fold one user's batch of observations (sorted by
    * event time — micro-batches preserve no order) into closed versions
    * plus the still-open state.
    */
  def step(uid: Long, events: Seq[AttrEvent], prior: Option[AttrVersionState])
      : (Seq[ClosedVersion], Option[AttrVersionState]) = {
    var state = prior
    val closed = scala.collection.mutable.ArrayBuffer[ClosedVersion]()
    events.sortBy(e => (tsUs(e.ts), e.event_id)).foreach { e =>
      val us = tsUs(e.ts)
      state match {
        case Some(s) if s.attr != e.attr =>
          closed += ClosedVersion(uid, s.attr, s.since_us, us)
          state = Some(AttrVersionState(e.attr, us))
        case None =>
          state = Some(AttrVersionState(e.attr, us))
        case _ => () // no-op observation: the open version continues
      }
    }
    (closed.toSeq, state)
  }

  /** Apply to a (possibly streaming) DataFrame with user_id, event_id,
    * ts, attr columns. Streaming requires Append output mode.
    */
  def closedVersions(events: DataFrame): Dataset[ClosedVersion] = {
    val typed = events.select(
      col("user_id").cast("long").as("user_id"),
      col("event_id").cast("long").as("event_id"),
      col("ts"),
      col("attr").cast("long").as("attr")).as[AttrEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrVersionState, ClosedVersion](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[AttrEvent], state: GroupState[AttrVersionState]) =>
          val (closed, next) = step(uid, it.toSeq, state.getOption)
          next.foreach(state.update)
          closed.iterator
      }
  }
}
