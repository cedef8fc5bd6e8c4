package graft

import graft.streaming.{Conversion, Replay, StreamFunnel}
import java.nio.file.Files
import org.apache.spark.sql.functions._

class StreamFunnelSpec extends SparkSpec {

  private val windowUs =
    graft.queries.SessionOps.ATTRIB_HOURS * 3600L * 1000000L

  /** Batch truth: the running-last-click window formulation. */
  private def expectedConversions(): Set[Conversion] = {
    Tables(spark, sfDir).events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).toSeq
      .flatMap { case (u, evs) =>
        var lastClick = Long.MinValue
        evs.sortBy(e => (e._3, e._4)).flatMap {
          case (_, "click", us, _) => lastClick = us; None
          case (_, "purchase", us, id)
              if lastClick != Long.MinValue && us - lastClick <= windowUs =>
            Some(Conversion(u, id, us, lastClick, us - lastClick))
          case _ => None
        }
      }.toSet
  }

  test("single-batch streaming funnel equals the batch window formulation") {
    val got = graft.queries.SessionOps.q91StreamFunnel(spark, sfDir).collect()
      .map(r => Conversion(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == expectedConversions())
  }

  test("two-batch replay: click state carries across the batch boundary") {
    val dir = Files.createTempDirectory("funnel_stream").toString
    val ev = Tables(spark, sfDir).events
    val mid = ev.agg(expr("percentile(unix_micros(ts), 0.5)"))
      .collect().head.getDouble(0).toLong
    ev.filter(unix_micros(col("ts")) <= mid).coalesce(1).write.parquet(s"$dir/b1")
    ev.filter(unix_micros(col("ts")) > mid).coalesce(1).write.parquet(s"$dir/b2")
    val flat = Files.createTempDirectory("funnel_flat").toString
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
    val streamed = Replay.toMemory(StreamFunnel.attribute(stream, windowUs), "append",
      noDataBatches = true).collect()
      .map(r => Conversion(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // batches split by time preserve order, so cross-batch attribution
    // (a batch-1 click converting a batch-2 purchase) must match the
    // single-pass batch truth exactly
    assert(streamed == expectedConversions())
  }
}
