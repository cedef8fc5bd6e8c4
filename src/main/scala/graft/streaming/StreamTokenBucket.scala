package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event for the token-bucket limiter. */
final case class TbEvent(
    user_id: Long, ts: java.sql.Timestamp, event_id: Long)

/** Token-bucket state: remaining budget (µs of accumulated quiet
  * time, capped) and the time it was last valued. Two longs per user.
  */
final case class TbState(tokens_us: Long, last_us: Long)

/** An admitted event with the budget left AFTER paying for it. */
final case class TbAdmitted(user_id: Long, event_id: Long, tokens_left_us: Long)

/** STREAMING TOKEN BUCKET — the 21st stateful family, and the third
  * rate-limit shape: q185's quota resets at window BOUNDARIES, q381's
  * debounce demands one fixed gap since the last KEPT, the token
  * bucket lets a user BURST up to [[CAP_US]] of accumulated budget
  * and then refills continuously at one token ([[COST_US]]) per
  * token-interval — the limiter actually deployed in front of APIs,
  * because it forgives bursts without admitting sustained overload.
  *
  * The state is exactly two longs: budget is measured in µs of
  * accumulated time (refill rate 1 µs/µs, capped), so the transition
  * is pure integer arithmetic — tokens' = min(CAP, tokens + Δt);
  * admit iff tokens' ≥ COST, then pay COST. Both branches update the
  * valuation time, so any time-ordered batch tiling folds to the same
  * decisions (two-batch replay spec), and the oracle replays the
  * identical fold in SQL with a flat BIGINT-list accumulator (slots
  * 1-2 = state, tail = admitted ids — the STRUCT-accumulator dodge
  * q306 documented for DuckDB 1.0).
  */
object StreamTokenBucket {

  /** Burst capacity: 6 hours of budget (a 2-admit burst). Sized with
    * COST so the fixture actually exercises BOTH branches (337 of
    * 10000 events denied at sf0.01 — a 3h/1h bucket admits 100%). */
  val CAP_US: Long = 6L * 3600L * 1000000L

  /** Cost per admitted event: 3 hours of budget. */
  val COST_US: Long = 3L * 3600L * 1000000L

  implicit val evEnc: Encoder[TbEvent] = Encoders.product[TbEvent]
  implicit val stEnc: Encoder[TbState] = Encoders.product[TbState]
  implicit val outEnc: Encoder[TbAdmitted] = Encoders.product[TbAdmitted]
  implicit val longEnc: Encoder[Long] = Encoders.scalaLong

  /** Pure transition: fold one user's batch (time-ordered) from
    * `prior` (a full bucket valued at 0 when absent).
    */
  def step(evs: Seq[TbEvent], prior: Option[TbState])
      : (Seq[TbAdmitted], TbState) = {
    var st = prior.getOrElse(TbState(CAP_US, 0L))
    val out = Seq.newBuilder[TbAdmitted]
    evs.sortBy(e => (tsUs(e.ts), e.event_id)).foreach { e =>
      val now = tsUs(e.ts)
      val refilled = math.min(CAP_US, st.tokens_us + (now - st.last_us))
      if (refilled >= COST_US) {
        st = TbState(refilled - COST_US, now)
        out += TbAdmitted(e.user_id, e.event_id, st.tokens_us)
      } else st = TbState(refilled, now)
    }
    (out.result(), st)
  }

  /** Watermark lateness bound. */
  val LATENESS_MS: Long = 3600L * 1000L

  def limit(events: DataFrame): Dataset[TbAdmitted] = {
    val typed = events
      .withWatermark("ts", s"${LATENESS_MS / 1000L} seconds")
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        col("event_id").cast("long").as("event_id"))
      .as[TbEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[TbState, TbAdmitted](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, it: Iterator[TbEvent], state: GroupState[TbState]) =>
          if (state.hasTimedOut) {
            // the bucket has refilled to CAP: a full bucket at any
            // valuation time is indistinguishable from fresh state
            // for every future on-time event — eviction is lossless
            state.remove()
            Iterator.empty
          } else {
            val (out, st) = step(it.toSeq, state.getOption)
            state.update(st)
            val fullAt = (st.last_us + (CAP_US - st.tokens_us)) / 1000L +
              LATENESS_MS
            state.setTimeoutTimestamp(
              math.max(fullAt, state.getCurrentWatermarkMs + 1L))
            out.iterator
          }
      }
  }
}
