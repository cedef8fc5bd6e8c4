package graft

import graft.streaming.{AnomEvent, AnomOut, Replay, StreamAnomaly}
import java.nio.file.Files
import org.apache.spark.sql.functions._

class StreamAnomalySpec extends SparkSpec {

  /** Batch truth: sequential fold of the whole log per type through
    * the SAME transition function (the streaming claim is exactly
    * that batch tiling doesn't change the fold).
    */
  private def expectedAnomalies(): Set[AnomOut] = {
    val ev = Tables(spark, sfDir).events
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .collect()
      .map(r => AnomEvent(r.getString(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3)))
    ev.groupBy(_.event_type).flatMap { case (_, evs) =>
      StreamAnomaly.step(evs.toSeq, None)._1
    }.toSet
  }

  test("unit transition: warm-up suppresses, threshold gates, moments stay exact") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ev(id: Long, v: Double) =
      AnomEvent("t", new java.sql.Timestamp(t0.getTime + id * 1000), id, v)
    // 40 calm events then one huge spike
    val calm = (0L until 40L).map(i => ev(i, 10.0 + (i % 3)))
    val (outCalm, st) = StreamAnomaly.step(calm, None)
    assert(outCalm.isEmpty, "calm stream must not alert")
    assert(st.n == 40 && st.s == calm.map(e => StreamAnomaly.unit(e.value)).sum)
    val (outSpike, st2) = StreamAnomaly.step(Seq(ev(40L, 500.0)), Some(st))
    assert(outSpike.map(_.event_id) == Seq(40L), "spike must alert")
    assert(outSpike.head.z_micro > StreamAnomaly.Z_THRESH_MICRO)
    assert(st2.n == 41, "the anomalous event still folds into state")
    // before MIN_N, even a spike stays silent
    val (earlySpike, _) = StreamAnomaly.step(
      calm.take(10) :+ ev(10L, 500.0), None)
    assert(earlySpike.isEmpty, "warm-up must suppress")
  }

  test("two-batch replay emits exactly the whole-log sequential fold") {
    val dir = Files.createTempDirectory("anom_stream").toString
    val ev = Tables(spark, sfDir).events
    val mid = ev.agg(expr("percentile(unix_micros(ts), 0.5)"))
      .collect().head.getDouble(0).toLong
    ev.filter(unix_micros(col("ts")) <= mid).coalesce(1).write.parquet(s"$dir/b1")
    ev.filter(unix_micros(col("ts")) > mid).coalesce(1).write.parquet(s"$dir/b2")
    val flat = Files.createTempDirectory("anom_flat").toString
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
    val streamed = Replay.toMemory(StreamAnomaly.detect(stream), "append",
      noDataBatches = true).collect()
      .map(r => AnomOut(r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val expected = expectedAnomalies()
    assert(expected.nonEmpty, "fixture must contain 3-sigma anomalies")
    assert(streamed == expected,
      "two-batch replay differs from the whole-log fold")
  }

  test("q145 gate binding equals the batch prior-frame window formulation") {
    val got = graft.queries.SessionOps.q145StreamAnomaly(spark, sfDir)
      .collect()
      .map(r => AnomOut(r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expectedAnomalies())
  }
}
