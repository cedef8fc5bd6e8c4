package graft

import graft.streaming.{Replay, StreamTopK, TopKEvent, TopKOut}
import java.nio.file.Files
import org.apache.spark.sql.functions._

class StreamTopKSpec extends SparkSpec {

  private def ev(win: Long, t: String) =
    TopKEvent(win, t, new java.sql.Timestamp(win / 1000))

  test("unit: step merges across batches, rank breaks ties by type") {
    val w = 0L
    val b1 = Seq(ev(w, "a"), ev(w, "b"), ev(w, "a"))
    val b2 = Seq(ev(w, "b"), ev(w, "c"), ev(w, "d"))
    val merged = StreamTopK.step(b2, Some(StreamTopK.step(b1, None)))
    assert(merged === Map("a" -> 2L, "b" -> 2L, "c" -> 1L, "d" -> 1L))
    val ranked = StreamTopK.rank(w, merged)
    // a and b tie at 2 -> type asc; c and d tie at 1 -> c takes rank 3
    assert(ranked === Seq(TopKOut(w, 1, "a", 2), TopKOut(w, 2, "b", 2),
      TopKOut(w, 3, "c", 1)))
  }

  test("streaming two-batch replay equals the batch hourly ranking") {
    // batch truth: hourly counts -> top-3, windows closed by max ts
    val evs = Tables(spark, sfDir).events
      .select((floor(unix_micros(col("ts")) / StreamTopK.WINDOW_US) *
        StreamTopK.WINDOW_US).as("w"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val wmMs = evs.map(_._3).max / 1000L
    val want = evs.groupBy(_._1).toSeq
      .filter { case (w, _) => (w + StreamTopK.WINDOW_US) / 1000L < wmMs }
      .flatMap { case (w, rs) =>
        StreamTopK.rank(w,
          rs.groupBy(_._2).map { case (t, xs) => t -> xs.length.toLong })
      }.toSet

    // replay as two time-split batches through a file stream
    val dir = Files.createTempDirectory("topk_stream").toString
    val ev = Tables(spark, sfDir).events
    val mid = ev.agg(expr("percentile(unix_micros(ts), 0.5)"))
      .collect().head.getDouble(0).toLong
    ev.filter(unix_micros(col("ts")) <= mid).coalesce(1)
      .write.parquet(s"$dir/flat")
    val schema = spark.read.parquet(s"$dir/flat").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/flat")
      .withWatermark("ts", "0 seconds")
    val replayed = Replay.toMemory(StreamTopK.windowedTopK(stream), "append",
        noDataBatches = true, drive = { q =>
      q.processAllAvailable()
      // second batch lands as a new file -> new micro-batch
      ev.filter(unix_micros(col("ts")) > mid).coalesce(1)
        .write.mode("append").parquet(s"$dir/flat")
      q.processAllAvailable()
    })
    val got = replayed.as[TopKOut](
      org.apache.spark.sql.Encoders.product[TopKOut]).collect().toSet
    assert(got === want)
  }
}
