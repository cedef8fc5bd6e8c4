package graft

import graft.streaming.{DebEvent, DebKept, Replay, StreamDebounce}
import java.nio.file.Files
import org.apache.spark.sql.functions._

class StreamDebounceSpec extends SparkSpec {

  /** Batch truth: whole-log sequential fold per (user, type) through
    * the SAME transition — the streaming claim is that time-ordered
    * batch tiling does not change the fold.
    */
  private def expectedKept(): Set[DebKept] = {
    val ev = Tables(spark, sfDir).events
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .collect()
      .map(r => DebEvent(r.getLong(0), r.getString(1), r.getTimestamp(2),
        r.getLong(3)))
    ev.groupBy(e => (e.user_id, e.event_type)).flatMap { case (_, evs) =>
      StreamDebounce.step(evs.toSeq, StreamDebounce.NO_LAST)._1
    }.toSet
  }

  test("unit transition: gap relative to last KEPT, not last seen") {
    import StreamDebounce.GAP_US
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ev(id: Long, offUs: Long) = DebEvent(1L, "click",
      new java.sql.Timestamp(t0.getTime + offUs / 1000L), id)
    // e0 kept; e1 at +0.6 gap suppressed; e2 at +1.2 gap KEPT (gap
    // measured from e0, the last KEPT — a last-SEEN debouncer would
    // suppress it, 1.2 - 0.6 < 1); e3 right at e2 + gap kept (>=)
    val evs = Seq(ev(0L, 0L), ev(1L, GAP_US * 6 / 10),
      ev(2L, GAP_US * 12 / 10), ev(3L, GAP_US * 22 / 10))
    val (out, last) = StreamDebounce.step(evs, StreamDebounce.NO_LAST)
    assert(out.map(_.event_id) === Seq(0L, 2L, 3L))
    assert(last === graft.streaming.tsUs(evs(3).ts))
    // state carries across batches: next event inside the gap drops
    val (out2, _) = StreamDebounce.step(Seq(ev(4L, GAP_US * 25 / 10)),
      last)
    assert(out2.isEmpty)
  }

  test("two-batch replay emits exactly the whole-log sequential fold") {
    val dir = Files.createTempDirectory("deb_stream").toString
    val ev = Tables(spark, sfDir).events
    val mid = ev.agg(expr("percentile(unix_micros(ts), 0.5)"))
      .collect().head.getDouble(0).toLong
    ev.filter(unix_micros(col("ts")) <= mid).coalesce(1).write
      .parquet(s"$dir/b1")
    ev.filter(unix_micros(col("ts")) > mid).coalesce(1).write
      .parquet(s"$dir/b2")
    val flat = Files.createTempDirectory("deb_flat").toString
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
    val streamed = Replay.toMemory(StreamDebounce.debounce(stream), "append",
      noDataBatches = true).collect()
      .map(r => DebKept(r.getLong(0), r.getString(1), r.getLong(2)))
    assert(streamed.length === streamed.toSet.size, "no duplicates")
    assert(streamed.toSet === expectedKept())
    // the fixture must exercise BOTH branches: some suppressed
    val total = Tables(spark, sfDir).events.count()
    assert(streamed.length < total, "gap must suppress something")
  }
}
