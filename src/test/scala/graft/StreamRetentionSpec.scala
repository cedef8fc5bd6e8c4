package graft

import graft.streaming.{Replay, RetSeen, RetState, StreamRetention}
import java.nio.file.Files
import org.apache.spark.sql.functions._

class StreamRetentionSpec extends SparkSpec {

  test("unit: fold attributes each within-horizon day once, resumes") {
    import StreamRetention.HORIZON
    val s1 = StreamRetention.step(Seq(100L, 102L, 100L), None)
    assert(s1 === RetState(100L, Seq(100L, 102L)))
    // resume: an already-seen day adds nothing; a new one appends
    val s2 = StreamRetention.step(Seq(102L, 103L), Some(s1))
    assert(s2 === RetState(100L, Seq(100L, 102L, 103L)))
    // beyond-horizon activity is ignored WITHOUT being tracked
    val s3 = StreamRetention.step(Seq(100L + HORIZON + 1L), Some(s2))
    assert(s3 === s2)
    // the boundary day itself still counts
    val s4 = StreamRetention.step(Seq(100L + HORIZON), Some(s2))
    assert(s4.seen.last === 100L + HORIZON)
  }

  test("streaming two-batch replay equals the batch min-day rollup") {
    val t = Tables(spark, sfDir)
    import StreamRetention.HORIZON
    val want = {
      val d = t.events.select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day")).distinct()
      val c = d.groupBy("user_id").agg(min("day").as("cohort"))
      d.join(c, "user_id")
        .filter(col("day") - col("cohort") <= HORIZON)
        .select(col("user_id"), col("cohort"),
          (col("day") - col("cohort")).as("doff"))
        .collect().map(r => RetSeen(r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    }

    val dir = Files.createTempDirectory("retention_stream").toString
    val ev = t.events
    val mid = ev.agg(expr("percentile(unix_micros(ts), 0.5)"))
      .collect().head.getDouble(0).toLong
    ev.filter(unix_micros(col("ts")) <= mid).coalesce(1)
      .write.parquet(s"$dir/flat")
    val schema = spark.read.parquet(s"$dir/flat").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/flat")
    val replayed = Replay.toMemory(StreamRetention.firstSeen(stream), "append",
        noDataBatches = true, drive = { q =>
      q.processAllAvailable()
      ev.filter(unix_micros(col("ts")) > mid).coalesce(1)
        .write.mode("append").parquet(s"$dir/flat")
      q.processAllAvailable()
    })
    val got = replayed.as[RetSeen](
      org.apache.spark.sql.Encoders.product[RetSeen]).collect().toSet
    assert(got === want)
    // append-only: no (user, day) attributed twice
    val gotRows = replayed.collect()
    assert(gotRows.length === got.size)
  }
}
