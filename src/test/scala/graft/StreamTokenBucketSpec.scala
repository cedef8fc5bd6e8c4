package graft

import graft.streaming.{Replay, StreamTokenBucket, TbAdmitted, TbEvent}
import java.nio.file.Files
import org.apache.spark.sql.functions._

class StreamTokenBucketSpec extends SparkSpec {

  private def expectedAdmitted(): Set[TbAdmitted] = {
    val ev = Tables(spark, sfDir).events
      .select(col("user_id"), col("ts"), col("event_id")).collect()
      .map(r => TbEvent(r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    ev.groupBy(_.user_id).flatMap { case (_, evs) =>
      StreamTokenBucket.step(evs.toSeq, None)._1
    }.toSet
  }

  test("unit transition: burst then starve then refill") {
    import StreamTokenBucket.{CAP_US, COST_US}
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ev(id: Long, offUs: Long) = TbEvent(1L,
      new java.sql.Timestamp(t0.getTime + offUs / 1000L), id)
    // full bucket admits a CAP/COST burst back-to-back, then denies
    val burst = (0L until CAP_US / COST_US + 1).map(i => ev(i, i))
    val (out1, st1) = StreamTokenBucket.step(burst, None)
    assert(out1.map(_.event_id) === (0L until CAP_US / COST_US))
    assert(out1.last.tokens_left_us < COST_US)
    // still starved just before one COST of refill, admitted at it
    val (out2, st2) = StreamTokenBucket.step(
      Seq(ev(10L, COST_US - 1000000L)), Some(st1))
    assert(out2.isEmpty)
    val (out3, _) = StreamTokenBucket.step(
      Seq(ev(11L, COST_US + st2.tokens_us)), Some(st2))
    assert(out3.map(_.event_id) === Seq(11L))
    // refill caps at CAP: after a long quiet spell only CAP is there
    val (_, st4) = StreamTokenBucket.step(
      Seq(ev(12L, 100L * CAP_US)), Some(st1))
    assert(st4.tokens_us === CAP_US - COST_US)
  }

  test("two-batch replay emits exactly the whole-log sequential fold") {
    val dir = Files.createTempDirectory("tb_stream").toString
    val ev = Tables(spark, sfDir).events
    val mid = ev.agg(expr("percentile(unix_micros(ts), 0.5)"))
      .collect().head.getDouble(0).toLong
    ev.filter(unix_micros(col("ts")) <= mid).coalesce(1).write
      .parquet(s"$dir/b1")
    ev.filter(unix_micros(col("ts")) > mid).coalesce(1).write
      .parquet(s"$dir/b2")
    val flat = Files.createTempDirectory("tb_flat").toString
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
    val streamed = Replay.toMemory(StreamTokenBucket.limit(stream), "append",
      noDataBatches = true).collect()
      .map(r => TbAdmitted(r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(streamed.length === streamed.toSet.size, "no duplicates")
    assert(streamed.toSet === expectedAdmitted())
    // the fixture must exercise the deny branch
    val total = Tables(spark, sfDir).events.count()
    assert(streamed.length < total, "bucket must deny something")
  }
}
