package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event for the streaming funnel attributor. */
final case class FunnelEvent(
    user_id: Long, event_type: String, ts: java.sql.Timestamp, event_id: Long)

/** An attributed conversion: a purchase with its most recent
  * within-window click.
  */
final case class Conversion(
    user_id: Long, event_id: Long, purchase_us: Long, click_us: Long,
    lag_us: Long)

/** Streaming funnel attribution — the stateful counterpart of the
  * batch running-last-click window (q73): per user, state holds the
  * most recent click's event time; each purchase within `windowUs` of
  * it is emitted as a conversion, everything else is suppressed.
  *
  * Within a micro-batch events are replayed in (event time, event_id)
  * order, so the emitted set is exactly the batch window formulation's
  * — parity holds under in-order delivery (the driver replays the file
  * as one sorted batch; the two-batch spec splits BY TIME, preserving
  * order across the boundary). State is one long per user — bounded by
  * the user space; at production scale the same operator runs with
  * EventTimeTimeout so users idle past the attribution window are
  * dropped (their state could never convert again anyway).
  */
object StreamFunnel {

  implicit val funnelEventEnc: Encoder[FunnelEvent] = Encoders.product[FunnelEvent]
  implicit val conversionEnc: Encoder[Conversion] = Encoders.product[Conversion]
  implicit val longEnc: Encoder[Long] = Encoders.scalaLong

  /** Apply to a (possibly streaming) events DataFrame with `user_id`,
    * `event_type`, `ts`, `event_id` columns.
    */
  def attribute(events: DataFrame, windowUs: Long): Dataset[Conversion] = {
    val typed = events.select(
      col("user_id").cast("long").as("user_id"),
      col("event_type"),
      col("ts"),
      col("event_id").cast("long").as("event_id")).as[FunnelEvent]

    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, Conversion](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[FunnelEvent], state: GroupState[Long]) =>
          val evs = it.toSeq.sortBy(e => (tsUs(e.ts), e.event_id))
          var lastClick = state.getOption.getOrElse(Long.MinValue)
          val out = Seq.newBuilder[Conversion]
          evs.foreach { e =>
            val us = tsUs(e.ts)
            e.event_type match {
              case "click" => lastClick = us
              case "purchase"
                  if lastClick != Long.MinValue && us - lastClick <= windowUs =>
                out += Conversion(user, e.event_id, us, lastClick, us - lastClick)
              case _ => ()
            }
          }
          if (lastClick != Long.MinValue) state.update(lastClick)
          out.result().iterator
      }
  }
}
