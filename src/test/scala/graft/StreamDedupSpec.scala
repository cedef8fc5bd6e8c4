package graft

import graft.streaming.{DedupOut, Replay, StreamDedup}
import java.nio.file.Files
import org.apache.spark.sql.functions._

class StreamDedupSpec extends SparkSpec {

  /** Batch truth: global first event per key by (ts, event_id). */
  private def expectedFirsts(): Set[DedupOut] = {
    Tables(spark, sfDir).events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .groupBy(e => (e._1, e._2))
      .map { case ((u, t), evs) =>
        val f = evs.minBy(e => (e._3, e._4))
        DedupOut(u, t, f._3, f._4, f._5)
      }.toSet
  }

  test("two-batch replay: each key emits exactly once, the event-time first") {
    // time-ordered two-file replay: batch 2's keys that appeared in
    // batch 1 must be suppressed by the tombstone state
    val dir = Files.createTempDirectory("dedup_stream").toString
    val ev = Tables(spark, sfDir).events
    val mid = ev.agg(expr("percentile(unix_micros(ts), 0.5)"))
      .collect().head.getDouble(0).toLong
    ev.filter(unix_micros(col("ts")) <= mid).coalesce(1).write.parquet(s"$dir/b1")
    ev.filter(unix_micros(col("ts")) > mid).coalesce(1).write.parquet(s"$dir/b2")
    val flat = Files.createTempDirectory("dedup_flat").toString
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
    val streamed = Replay.toMemory(StreamDedup.dedup(stream), "append",
      noDataBatches = true).collect()
      .map(r => DedupOut(r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))

    // exactly one emission per key
    assert(streamed.map(o => (o.user_id, o.event_type)).distinct.length ==
      streamed.length, "a key emitted more than once across batches")
    // batches are time-ordered, so the per-key first equals batch truth
    assert(streamed.toSet == expectedFirsts())
  }

  test("scd2 stream: two-batch replay equals the whole-log version history") {
    import graft.streaming.{ClosedVersion, StreamScd2}
    val dir = Files.createTempDirectory("scd2_stream").toString
    val ev = Tables(spark, sfDir).events
      .select(col("user_id"), col("event_id"), col("ts"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").cast("long").as("attr"))
    val mid = ev.agg(expr("percentile(unix_micros(ts), 0.5)"))
      .collect().head.getDouble(0).toLong
    ev.filter(unix_micros(col("ts")) <= mid).coalesce(1).write.parquet(s"$dir/b1")
    ev.filter(unix_micros(col("ts")) > mid).coalesce(1).write.parquet(s"$dir/b2")
    val flat = Files.createTempDirectory("scd2_flat").toString
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
    val streamed = Replay.toMemory(StreamScd2.closedVersions(stream), "append",
      noDataBatches = true).collect()
      .map(r => ClosedVersion(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // batch truth over the whole log: the closed rows of the q110 history
    val batch = graft.queries.EventAnalytics.q110Scd2History(spark, sfDir)
      .filter(!col("is_current"))
      .collect()
      .map(r => ClosedVersion(r.getLong(0), r.getAs[Long]("attr"),
        r.getAs[Long]("valid_from_us"), r.getAs[Long]("valid_to_us"))).toSet
    // versions OPEN at the batch boundary must close correctly in batch 2
    assert(streamed == batch,
      "two-batch streamed versions differ from the whole-log history")
  }

  test("q102 dropDuplicatesWithinWatermark emits exactly the distinct key set") {
    val got = graft.queries.SessionOps.q102StreamDropdupWm(spark, sfDir)
    val expected = Tables(spark, sfDir).events
      .select(col("user_id"), col("event_type"),
        date_format(date_trunc("minute", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("minute"))
      .distinct()
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }
}
