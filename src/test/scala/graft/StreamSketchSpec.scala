package graft

import graft.streaming.{Replay, StreamSketch}
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** q325 replay spec: the seventeenth stateful family — windowed
  * approximate distinct with ONE mergeable HLL buffer per group.
  * Two-batch time-ordered replay; every closed window must emit
  * exactly once and its estimate must land inside the 3-SE band of
  * the exact batch recompute (lgK=12 ⇒ ~1.6% SE ⇒ 5%).
  */
class StreamSketchSpec extends SparkSpec {

  private def exactClosed(): Map[(String, String), Long] = {
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
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
  }

  test("two-batch replay: closed windows emit once, estimates in-band") {
    val ev = Tables(spark, sfDir).events
    val mid = ev.agg(expr("percentile(unix_micros(ts), 0.5)"))
      .collect().head.getDouble(0).toLong
    val flat = Files.createTempDirectory("sketch_flat").toString
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
    val streamed = Replay.toMemory(StreamSketch.windowedSketchDistinct(stream), "append",
        noDataBatches = true).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2).toDouble))

    assert(streamed.map(t => (t._1, t._2)).distinct.length == streamed.length,
      "a window emitted more than once across batches")
    val exact = exactClosed()
    assert(streamed.map(t => (t._1, t._2)).toSet == exact.keySet,
      "emitted window set differs from the closed-window truth")
    streamed.foreach { case (w, t, est) =>
      val ex = exact((w, t)).toDouble
      assert(math.abs(est - ex) <= ex * 0.05,
        s"estimate $est left the 3-SE band of $ex for ($w, $t)")
    }
  }
}
