package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event for the online anomaly detector. */
final case class AnomEvent(
    event_type: String, ts: java.sql.Timestamp, event_id: Long, value: Double)

/** Running per-type moments carried between micro-batches: count, sum
  * and sum-of-squares of the INTEGER 1e4-unit values — three longs of
  * state per key, exact (no Welford float drift), mergeable forever.
  * ss stays under 2^63 past 10^6 events/key at the observed value
  * range; the transient n*ss product is taken in BigInt.
  */
final case class AnomState(n: Long, s: Long, ss: Long)

/** An emitted anomaly. */
final case class AnomOut(
    event_id: Long, event_type: String, v_unit: Long, z_micro: Long)

/** ONLINE ANOMALY DETECTION with custom streaming state — the
  * "alert while ingesting" counterpart of the q99 batch z-score scan:
  * every event is scored against the running mean/variance of all
  * STRICTLY EARLIER events of its type, and emitted when |z| crosses
  * the threshold after a warm-up count. The state is three exact
  * integers per event type; each micro-batch folds its (ts, event_id)-
  * sorted events sequentially, so replaying the log in any batch
  * tiling yields the identical emitted set — which is what makes the
  * operator oracle-checkable: the batch equivalent is a prior-frame
  * window pass (rows unbounded preceding .. 1 preceding).
  *
  * Determinism across engines: values quantize to integer 1e4-units,
  * moments are exact integer sums, and z = (v*n - s)/sqrt(n*ss - s^2)
  * is two exact-integer-to-double conversions and one IEEE divide/sqrt
  * — bit-equal in Spark and DuckDB. The emission gate compares the
  * quantized z_micro, an integer.
  */
object StreamAnomaly {

  implicit val anomEventEnc: Encoder[AnomEvent] = Encoders.product[AnomEvent]
  implicit val anomStateEnc: Encoder[AnomState] = Encoders.product[AnomState]
  implicit val anomOutEnc: Encoder[AnomOut] = Encoders.product[AnomOut]
  implicit val stringEnc: Encoder[String] = Encoders.STRING

  /** Events with fewer prior same-type observations are never scored. */
  val MIN_N = 30L

  /** Emission threshold on |z|, in micro-units (3 sigma). */
  val Z_THRESH_MICRO = 3000000L

  def unit(v: Double): Long = math.floor(v * 1e4 + 0.5).toLong

  /** z-score of unit value v against prior moments, in micro-units;
    * None when the prior variance is zero / not positive.
    */
  def zMicro(v: Long, st: AnomState): Option[Long] = {
    val varNum = BigInt(st.n) * BigInt(st.ss) - BigInt(st.s) * BigInt(st.s)
    if (varNum <= 0) None
    else {
      val z = (BigInt(v) * BigInt(st.n) - BigInt(st.s)).toDouble /
        math.sqrt(varNum.toDouble)
      Some(math.floor(z * 1e6 + 0.5).toLong)
    }
  }

  /** Core transition: fold one type's batch (sorted by event time,
    * ties by event_id) through the running moments, scoring each event
    * against the state BEFORE it.
    */
  def step(events: Seq[AnomEvent], prior: Option[AnomState])
      : (Seq[AnomOut], AnomState) = {
    var st = prior.getOrElse(AnomState(0L, 0L, 0L))
    val out = scala.collection.mutable.ArrayBuffer[AnomOut]()
    events.sortBy(e => (tsUs(e.ts), e.event_id)).foreach { e =>
      val v = unit(e.value)
      if (st.n >= MIN_N) zMicro(v, st).foreach { z =>
        if (z >= Z_THRESH_MICRO || z <= -Z_THRESH_MICRO)
          out += AnomOut(e.event_id, e.event_type, v, z)
      }
      st = AnomState(st.n + 1L, st.s + v, st.ss + v * v)
    }
    (out.toSeq, st)
  }

  /** Apply to a (possibly streaming) events DataFrame with
    * `event_type`, `ts`, `event_id`, `value` columns. State never
    * expires (NoTimeout): running moments are the point — three longs
    * per event type, bounded by the type cardinality.
    */
  def detect(events: DataFrame): Dataset[AnomOut] = {
    val typed = events.select(
      col("event_type"), col("ts"),
      col("event_id").cast("long").as("event_id"),
      col("value").cast("double").as("value")).as[AnomEvent]
    typed.groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomState, AnomOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, it: Iterator[AnomEvent], state: GroupState[AnomState]) =>
          val (out, st) = step(it.toSeq, state.getOption)
          state.update(st)
          out.iterator
      }
  }
}
