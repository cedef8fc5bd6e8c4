package graft

import graft.operators.QuantileSketch
import graft.streaming.{Replay, StreamQuantile}
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** q339 replay spec: the eighteenth stateful family — windowed
  * quantile sketches with ONE mergeable KLL-style buffer per group.
  * Two-batch time-ordered replay; every closed window must emit
  * exactly once, the merged sketch's weight must equal the window's
  * exact population, and its p50 estimate's EXACT rank must sit
  * inside the sketch's own bound (rankErrorBound).
  */
class StreamQuantileSpec extends SparkSpec {

  test("two-batch replay: closed windows emit once, p50 rank in-bound") {
    val ev = Tables(spark, sfDir).events
    val mid = ev.agg(expr("percentile(unix_micros(ts), 0.5)"))
      .collect().head.getDouble(0).toLong
    val flat = Files.createTempDirectory("squant_flat").toString
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
    val streamed = Replay.toMemory(StreamQuantile.windowedSketchQuantile(stream),
        "append", noDataBatches = true).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        QuantileSketch.fromRow(r.getStruct(2))))

    assert(streamed.map(_._1).distinct.length == streamed.length,
      "a window emitted more than once across batches")
    // exact per-window populations from the batch side
    val maxUs = ev.agg(max(unix_micros(col("ts")))).head.getLong(0)
    val exact = ev
      .select(date_format(date_trunc("hour", col("ts")),
          "yyyy-MM-dd HH:mm:ss").as("w"),
        (unix_micros(date_trunc("hour", col("ts"))) + 3600L * 1000000L)
          .as("we"),
        col("event_type"), col("value"))
      .filter(col("we") <= maxUs)
      .collect()
      .map(r => (r.getString(0), r.getString(2)) -> r.getDouble(3))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    assert(streamed.map(_._1).toSet == exact.keySet,
      "emitted window set differs from the closed-window truth")
    streamed.foreach { case (k, sk) =>
      val vals = exact(k)
      assert(sk.n == vals.length,
        s"merged sketch weight ${sk.n} != window population ${vals.length}")
      val est = sk.quantile(0.5)
      val rank = vals.count(_ <= est).toLong
      val bound = graft.operators.QuantileSketch.rankErrorBound(sk)
      assert(math.abs(rank - math.ceil(vals.length * 0.5).toLong) <= bound,
        s"p50 rank error out of bound for $k")
    }
  }
}
