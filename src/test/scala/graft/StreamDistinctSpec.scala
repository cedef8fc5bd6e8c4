package graft

import graft.streaming.{Replay, StreamDistinct}
import java.nio.file.Files
import org.apache.spark.sql.functions._

class StreamDistinctSpec extends SparkSpec {

  /** Batch truth: distinct users per closed (hour, type) window —
    * windows whose end passes the final watermark (= global max ts).
    */
  private def expectedClosed(): Set[(String, String, Long)] = {
    val ev = Tables(spark, sfDir).events
    val maxUs = ev.agg(max(unix_micros(col("ts")))).head.getLong(0)
    ev.select(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("win_start"),
        (unix_micros(date_trunc("hour", col("ts"))) + 3600L * 1000000L)
          .as("win_end_us"),
        col("event_type"), col("user_id"))
      .filter(col("win_end_us") <= maxUs)
      .groupBy("win_start", "event_type")
      .agg(countDistinct("user_id").as("d"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
  }

  test("two-batch replay: each closed window emits once with the exact distinct count") {
    val ev = Tables(spark, sfDir).events
    val mid = ev.agg(expr("percentile(unix_micros(ts), 0.5)"))
      .collect().head.getDouble(0).toLong
    val flat = Files.createTempDirectory("distinct_flat").toString
    ev.filter(unix_micros(col("ts")) <= mid).coalesce(1)
      .write.parquet(s"$flat/tmp1")
    ev.filter(unix_micros(col("ts")) > mid).coalesce(1)
      .write.parquet(s"$flat/tmp2")
    var i = 0
    Seq("tmp1", "tmp2").foreach { b =>
      Files.list(java.nio.file.Paths.get(flat, b)).forEach { p =>
        if (p.toString.endsWith(".parquet")) {
          Files.copy(p, java.nio.file.Paths.get(flat, f"part$i%02d.parquet"))
          i += 1
        }
      }
    }
    val schema = spark.read.parquet(s"$flat/part00.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$flat/part*.parquet")
    val streamed = Replay.toMemory(StreamDistinct.windowedDistinct(stream), "append",
        noDataBatches = true).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))

    assert(streamed.map(t => (t._1, t._2)).distinct.length == streamed.length,
      "a window emitted more than once across batches")
    assert(streamed.toSet == expectedClosed())
  }
}
