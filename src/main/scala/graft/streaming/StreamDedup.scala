package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event for the streaming deduplicator. */
final case class DedupEvent(
    user_id: Long, event_type: String, ts: java.sql.Timestamp,
    event_id: Long, value: Double)

/** The emitted first occurrence of a key. */
final case class DedupOut(
    user_id: Long, event_type: String, first_us: Long,
    first_event_id: Long, first_value: Double)

/** Streaming exact deduplication: emit the FIRST occurrence of each
  * (user_id, event_type) key, suppress every later one — the streaming
  * counterpart of batch q26/q49, with custom state instead of
  * `dropDuplicates` so the within-batch winner is deterministic
  * (min by (event time, event_id), not arrival order).
  *
  * State is a per-key tombstone. It is bounded by the KEY space, not
  * the stream: at production scale the same operator runs with
  * EventTimeTimeout and a watermark-driven TTL so keys idle past the
  * dedup horizon are forgotten (the standard bounded-state trade:
  * after the horizon a re-occurrence counts as new). The spec replays
  * two micro-batches to pin cross-batch suppression.
  */
object StreamDedup {

  implicit val dedupEventEnc: Encoder[DedupEvent] = Encoders.product[DedupEvent]
  implicit val dedupOutEnc: Encoder[DedupOut] = Encoders.product[DedupOut]
  implicit val boolEnc: Encoder[Boolean] = Encoders.scalaBoolean
  implicit val keyEnc: Encoder[(Long, String)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.STRING)

  /** Epoch microseconds of 2024-01-01 UTC — baseline for the packed
    * (timestamp, sequence) order key shared with the q49/q51 oracles.
    * The packing assumes event_id < 2^20 and a timestamp span under
    * ~100 days past the baseline (else the product leaves int64);
    * widen the multiplier/baseline together with the oracle if either
    * bound moves.
    */
  val ORD_EPOCH_US = 1704067200000000L

  /** The packed total-order key: defines "first" identically in Spark
    * and in the SQL oracle (DuckDB arg_min cannot order by a struct,
    * so BOTH sides must use the same scalar packing — a lexicographic
    * (ts, id) minBy here would disagree with the oracle once event_id
    * reaches 2^20).
    */
  def packedOrd(e: DedupEvent): Long =
    (tsUs(e.ts) - ORD_EPOCH_US) * 1048576L + e.event_id

  /** Apply to a (possibly streaming) events DataFrame with `user_id`,
    * `event_type`, `ts`, `event_id`, `value` columns.
    */
  def dedup(events: DataFrame): Dataset[DedupOut] = {
    val typed = events.select(
      col("user_id").cast("long").as("user_id"),
      col("event_type"),
      col("ts"),
      col("event_id").cast("long").as("event_id"),
      col("value").cast("double").as("value")).as[DedupEvent]

    typed.groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[Boolean, DedupOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: (Long, String), it: Iterator[DedupEvent], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            val first = it.minBy(packedOrd)
            state.update(true)
            Iterator(DedupOut(key._1, key._2, tsUs(first.ts),
              first.event_id, first.value))
          }
      }
  }
}
