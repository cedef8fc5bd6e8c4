package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event for the online CUSUM monitor. */
final case class CusumEvent(
    event_type: String, ts: java.sql.Timestamp, event_id: Long, value: Double)

/** Per-type CUSUM state carried between micro-batches: the running
  * centered cumulative sum C, its running minimum (and WHERE that
  * minimum was attained — the changepoint candidate), and the alarm
  * latch. Five longs + a bool per key — bounded by the type
  * cardinality, mergeable forever.
  */
final case class CusumState(
    c: Long, runmin: Long, argminId: Long, argminUs: Long, alarmed: Boolean)

/** An emitted CUSUM alarm (one per type, at the first crossing). */
final case class CusumOut(
    event_type: String, alarm_id: Long, s_unit: Long, cp_id: Long)

/** ONLINE PAGE CUSUM — the 19th stateful streaming family: detect a
  * sustained upward level shift in per-event values WHILE ingesting,
  * per event type. The textbook recurrence S_t = max(0, S_{t-1} +
  * (v_t − µ0 − k)) never materializes: the operator carries the
  * running-minimum identity S_t = C_t − min(0, min_{j≤t} C_j) where
  * C_t = Σ(v_i − µ0 − k), which (a) needs only integers that an exact
  * fold updates in O(1), and (b) is exactly what a BATCH window pass
  * (running sum + running min) computes — that identity is the
  * batch-parity oracle. The alarm fires at the first event where
  * S_t ≥ [[H_UNIT]]; the reported changepoint is the LAST event at
  * which the running minimum was attained (the "last time the CUSUM
  * was at its low" MLE convention; −1 when the low is the virtual
  * start). The batch twin q143 answers the retrospective question
  * (WHERE did the daily level shift, given the whole series); this is
  * the alert-at-ingest form with a fixed reference (µ0, k), the shape
  * SPC monitoring actually deploys.
  *
  * Determinism: values quantize to integer 1e4-units at entry; C,
  * runmin and S are exact integer arithmetic (no float anywhere);
  * each micro-batch folds its events in (ts, event_id) order and the
  * alarm latch makes emission once-only — so any batch tiling replays
  * to the identical output set.
  */
object StreamCusum {

  implicit val cusumEventEnc: Encoder[CusumEvent] = Encoders.product[CusumEvent]
  implicit val cusumStateEnc: Encoder[CusumState] = Encoders.product[CusumState]
  implicit val cusumOutEnc: Encoder[CusumOut] = Encoders.product[CusumOut]
  implicit val stringEnc: Encoder[String] = Encoders.STRING

  /** In-control target mean, in 1e4-units (the SPC reference µ0 —
    * the fixture's event values average ≈ 50, i.e. ≈ 500000 units,
    * so a reference of 40 models a monitored +25% level shift). */
  val MU0_UNIT = 400000L

  /** Reference allowance k (half the shift worth detecting), 1e4-units. */
  val K_UNIT = 20000L

  /** Decision threshold h on S⁺, 1e4-units (≈ 60 events of sustained
    * +8-unit drift at the fixture's level). */
  val H_UNIT = 5000000L

  def unit(v: Double): Long = math.floor(v * 1e4 + 0.5).toLong

  /** Core transition: fold one type's batch (sorted by event time,
    * ties by event_id) through (C, runmin, argmin); emit the alarm at
    * the first S ≥ h crossing and latch.
    */
  def step(events: Seq[CusumEvent], prior: Option[CusumState])
      : (Seq[CusumOut], CusumState) = {
    var st = prior.getOrElse(CusumState(0L, 0L, -1L, Long.MinValue, false))
    val out = scala.collection.mutable.ArrayBuffer[CusumOut]()
    events.sortBy(e => (tsUs(e.ts), e.event_id)).foreach { e =>
      if (!st.alarmed) {
        val c = st.c + unit(e.value) - MU0_UNIT - K_UNIT
        // last argmin: <= keeps the LATEST index attaining the low
        val (rm, aId, aUs) =
          if (c <= st.runmin) (c, e.event_id, tsUs(e.ts))
          else (st.runmin, st.argminId, st.argminUs)
        val s = c - math.min(0L, rm)
        if (s >= H_UNIT) {
          out += CusumOut(e.event_type, e.event_id, s,
            if (rm < 0L) aId else -1L)
          st = CusumState(c, rm, aId, aUs, alarmed = true)
        } else st = CusumState(c, rm, aId, aUs, alarmed = false)
      }
    }
    (out.toSeq, st)
  }

  /** Apply to a (possibly streaming) events DataFrame. State never
    * expires: the monitor is the point (five longs per type).
    */
  def monitor(events: DataFrame): Dataset[CusumOut] = {
    val typed = events.select(
      col("event_type"), col("ts"),
      col("event_id").cast("long").as("event_id"),
      col("value").cast("double").as("value")).as[CusumEvent]
    typed.groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, it: Iterator[CusumEvent], state: GroupState[CusumState]) =>
          val (out, st) = step(it.toSeq, state.getOption)
          state.update(st)
          out.iterator
      }
  }
}
