package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming aggregation builders (SURVEY §2 q38).
  *
  * The same logical plan serves batch and stream — pass a batch
  * DataFrame and it aggregates; pass a readStream DataFrame and it
  * becomes a stateful windowed aggregation. q38 runs the complete-mode
  * variant; `withWatermark` is the production (append-mode, bounded
  * state) configuration for an unbounded source such as Kafka.
  */
object StreamAgg {

  /** Tumbling 1-hour window counts + value sums per event type. */
  def hourlyTypeAgg(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Exact.sumExact(col("value")).as("sum_value"))
      .select(col("event_type"),
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("n_events"), col("sum_value"))

  /** Watermarked variant: bounds state for append-mode output on an
    * unbounded source. Late events beyond `delay` are dropped — the
    * correct trade at 100 TB/day where state must not grow without
    * bound.
    */
  def hourlyTypeAggWatermarked(events: DataFrame, delay: String = "2 hours"): DataFrame =
    hourlyTypeAgg(events.withWatermark("ts", delay))

  /** Replay a parquet file/dir as a micro-batched stream with an
    * explicit schema (file stream sources cannot infer).
    */
  def parquetStream(spark: SparkSession, path: String): DataFrame =
    parquetStreamWithDir(spark, path)._1

  /** [[parquetStream]] variant that also returns the directory the
    * file source watches, so a replay harness can DROP MORE FILES into
    * it mid-run — the deterministic way to advance the watermark past
    * the fixture's tail when an operator (stream-stream OUTER join,
    * event-time timeout) emits on state expiry: a later flush batch is
    * guaranteed to see the new max event time, where relying on the
    * engine's trailing no-data micro-batch races processAllAvailable.
    */
  def parquetStreamWithDir(spark: SparkSession, path: String): (DataFrame, String) = {
    val schema = spark.read.parquet(path).schema
    import java.nio.file.{Files, Paths}
    val f = new java.io.File(path)
    // always watch a private temp dir (source data must stay
    // read-only even when the caller appends flush files)
    val d = Paths.get(graft.queries.Scratch.dir("graft_stream"))
    val targets =
      if (f.isDirectory) f.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
      else Seq(f)
    targets.foreach(t =>
      Files.createSymbolicLink(d.resolve(t.getName), Paths.get(t.getAbsolutePath)))
    d.toFile.deleteOnExit()
    // Schema-adaptive ts normalization — the upstream file has shipped
    // as both TIMESTAMP(NANOS)-as-long and TIMESTAMP(MICROS)/NTZ.
    (graft.Tables.normalizeTs(
      spark.readStream.schema(schema).parquet(d.toString)), d.toString)
  }
}
