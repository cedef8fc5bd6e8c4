package graft

import graft.streaming.{CusumEvent, CusumOut, Replay, StreamCusum}
import java.nio.file.Files
import org.apache.spark.sql.functions._

class StreamCusumSpec extends SparkSpec {

  /** Batch truth: whole-log sequential fold per type through the SAME
    * transition (the streaming claim is exactly that batch tiling
    * does not change the fold).
    */
  private def expectedAlarms(): Set[CusumOut] = {
    val ev = Tables(spark, sfDir).events
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .collect()
      .map(r => CusumEvent(r.getString(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3)))
    ev.groupBy(_.event_type).flatMap { case (_, evs) =>
      StreamCusum.step(evs.toSeq, None)._1
    }.toSet
  }

  test("unit transition: running-min identity, latch, changepoint") {
    import StreamCusum.{H_UNIT, K_UNIT, MU0_UNIT}
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ev(id: Long, unitVal: Long) = CusumEvent("t",
      new java.sql.Timestamp(t0.getTime + id * 1000), id,
      unitVal.toDouble / 1e4)
    val drift = MU0_UNIT + K_UNIT
    // dip below the reference first (the low the changepoint reports),
    // then a sustained shift of +h/5 per event: alarm on the 5th
    val dip = Seq(ev(0L, drift - 7L), ev(1L, drift + 3L))
    val shifted = (2L until 10L).map(i => ev(i, drift + H_UNIT / 5L))
    val (out, st) = StreamCusum.step(dip ++ shifted, None)
    // identity check: after the dip, C = -4, runmin = -7 at id 0
    assert(out.map(o => (o.alarm_id, o.cp_id)) === Seq((6L, 0L)),
      "first S >= h crossing must alarm once, changepoint at the low")
    assert(out.head.s_unit >= H_UNIT)
    assert(st.alarmed, "state must latch")
    // the latch holds: further shifted events emit nothing
    val (out2, _) = StreamCusum.step(Seq(ev(10L, drift + H_UNIT)), Some(st))
    assert(out2.isEmpty)
    // equal lows resolve to the LAST index attaining the minimum
    val (_, st3) = StreamCusum.step(
      Seq(ev(0L, drift - 5L), ev(1L, drift + 5L), ev(2L, drift - 5L)), None)
    assert(st3.runmin === -5L && st3.argminId === 2L)
  }

  test("two-batch replay emits exactly the whole-log sequential fold") {
    val dir = Files.createTempDirectory("cusum_stream").toString
    val ev = Tables(spark, sfDir).events
    val mid = ev.agg(expr("percentile(unix_micros(ts), 0.5)"))
      .collect().head.getDouble(0).toLong
    ev.filter(unix_micros(col("ts")) <= mid).coalesce(1).write
      .parquet(s"$dir/b1")
    ev.filter(unix_micros(col("ts")) > mid).coalesce(1).write
      .parquet(s"$dir/b2")
    val flat = Files.createTempDirectory("cusum_flat").toString
    var i = 0
    Seq("b1", "b2").foreach { b =>
      java.nio.file.Files.list(java.nio.file.Paths.get(dir, b)).forEach { p =>
        if (p.toString.endsWith(".parquet")) {
          java.nio.file.Files.copy(p,
            java.nio.file.Paths.get(flat, f"part$i%02d.parquet"))
          i += 1
        }
      }
    }
    val schema = spark.read.parquet(flat).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(flat)
    val streamed = Replay.toMemory(StreamCusum.monitor(stream), "append",
      noDataBatches = true).collect()
      .map(r => CusumOut(r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
      .toSet
    val expected = expectedAlarms()
    assert(expected.nonEmpty, "fixture must trip the CUSUM alarm")
    assert(streamed == expected,
      "two-batch replay differs from the whole-log fold")
  }

  test("q353 gate binding equals the whole-log fold") {
    val got = graft.queries.SessionOps.q353StreamCusum(spark, sfDir)
      .collect()
      .map(r => CusumOut(r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
      .toSet
    assert(got == expectedAlarms())
  }
}
