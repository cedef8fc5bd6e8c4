package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event for the CEP matcher. */
final case class CepEvent(
    user_id: Long, event_type: String, ts: java.sql.Timestamp, event_id: Long)

/** A matched (click, purchase) pair within the pattern window. */
final case class CepMatch(
    user_id: Long, click_id: Long, purchase_id: Long, lag_us: Long)

/** STREAMING CEP PAIR MATCHING (fourteenth stateful family) — emit
  * EVERY (click, purchase) pair where the purchase follows the click
  * within the window: the complex-event-processing "A followed by B
  * within T" primitive. Unlike q91's funnel (last-click state, one
  * long) this needs LIST state — and unlike q59's watermarked interval
  * join the state is evicted inline as events arrive (anything older
  * than T behind the group's max-seen time can never match again), so
  * state is bounded by the per-user event rate x window, independent
  * of stream length.
  *
  * BOTH sides are kept in state: pending clicks match purchases that
  * arrive later, and buffered purchases match clicks that arrive later
  * — so a click delivered in a LATER micro-batch than a purchase it
  * precedes in event time still pairs (each pair fires exactly once,
  * at the arrival of whichever side arrives second; within a batch
  * events are processed in event-time order, so the purchase-direction
  * match sees exactly the clicks that precede it). Batch parity with
  * the interval-join oracle therefore does NOT require time-split
  * batches — only that an event arrives within WINDOW_US (event time)
  * of the group's max-seen event, the same staleness bound the inline
  * eviction enforces.
  */
object StreamCep {

  val WINDOW_US: Long = 30L * 60L * 1000000L

  /** (pending clicks, buffered purchases) as (event_us, event_id). */
  type CepState = (Seq[(Long, Long)], Seq[(Long, Long)])

  implicit val evEnc: Encoder[CepEvent] = Encoders.product[CepEvent]
  implicit val outEnc: Encoder[CepMatch] = Encoders.product[CepMatch]
  implicit val stEnc: Encoder[CepState] = Encoders.kryo[CepState]
  implicit val longEnc: Encoder[Long] = Encoders.scalaLong

  /** Pure transition: fold a batch into (pending clicks, buffered
    * purchases), emitting matches.
    */
  def step(evs: Seq[CepEvent], st0: CepState): (Seq[CepMatch], CepState) = {
    var clicks = st0._1
    var purchases = st0._2
    val out = Seq.newBuilder[CepMatch]
    var maxSeen = (clicks.map(_._1) ++ purchases.map(_._1))
      .maxOption.getOrElse(Long.MinValue)
    evs.sortBy(e => (tsUs(e.ts), e.event_id)).foreach { e =>
      val us = tsUs(e.ts)
      maxSeen = math.max(maxSeen, us)
      e.event_type match {
        case "purchase" =>
          clicks.foreach { case (cUs, cId) =>
            val lag = us - cUs
            if (lag > 0L && lag <= WINDOW_US)
              out += CepMatch(e.user_id, cId, e.event_id, lag)
          }
          purchases = purchases :+ (us, e.event_id)
        case "click" =>
          // late-arrival direction: purchases already seen that FOLLOW
          // this click in event time
          purchases.foreach { case (pUs, pId) =>
            val lag = pUs - us
            if (lag > 0L && lag <= WINDOW_US)
              out += CepMatch(e.user_id, e.event_id, pId, lag)
          }
          clicks = clicks :+ (us, e.event_id)
        case _ => ()
      }
      // inline eviction: entries that can never pair with anything
      // arriving at most WINDOW_US behind max-seen
      clicks = clicks.filter(_._1 >= maxSeen - 2L * WINDOW_US)
      purchases = purchases.filter(_._1 >= maxSeen - 2L * WINDOW_US)
    }
    (out.result(), (clicks, purchases))
  }

  def matchPairs(events: DataFrame): Dataset[CepMatch] = {
    val typed = events.select(
      col("user_id").cast("long").as("user_id"),
      col("event_type"), col("ts"),
      col("event_id").cast("long").as("event_id")).as[CepEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[CepState, CepMatch](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, it: Iterator[CepEvent], state: GroupState[CepState]) =>
          val (out, st) =
            state.getOption.map(step(it.toSeq, _))
              .getOrElse(step(it.toSeq, (Seq.empty, Seq.empty)))
          if (st._1.nonEmpty || st._2.nonEmpty) state.update(st)
          else state.remove()
          out.iterator
      }
  }
}
