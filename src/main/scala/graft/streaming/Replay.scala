package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The replay harness of the streaming gate queries: the events file
  * replayed as a stream into a memory sink, with the session conf
  * scoped to the call so an answer never depends on what ran before.
  */
object Replay {

  /** Runs `body` with `settings` applied to the session conf and puts
    * every key back on exit: a key that was set gets its old value, a
    * key that was unset is unset again (not written back as its
    * default). The one conf save/restore in graft.
    */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(body: => T): T = {
    val before = spark.conf.getAll
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally settings.foreach { case (k, _) =>
      before.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }

  /** Stream-replay conf scope. Shuffle partitions drop to at most 8:
    * every stateful streaming operator commits one state store per
    * shuffle partition per micro-batch, so the replay's tiny batches
    * are dominated by state-store overhead at the session's scan-sized
    * partition count (measured: q70 drops ~3.5x going 32 -> 8
    * partitions at sf0.1). Production streams size shuffle partitions
    * to state volume once (the count is baked into the checkpoint), so
    * a deliberate, smaller-than-batch setting is the realistic shape.
    * `noDataBatches` sets whether the engine runs a trailing no-data
    * micro-batch that advances the watermark and fires timeouts; each
    * caller states its value, none inherits one.
    */
  def scope[T](spark: SparkSession, noDataBatches: Boolean)(body: => T): T = {
    val partitions = "spark.sql.shuffle.partitions"
    withConf(spark,
      partitions -> math.min(8, spark.conf.get(partitions).toInt).toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatches.toString)(body)
  }

  /** Replays `stream` into a memory sink inside [[scope]]: starts the
    * sink, runs `drive` (which may add input files between batches),
    * stops the query, and returns the sink's rows. The sink's temp view
    * is dropped before returning; the returned frame keeps working
    * because a Dataset is analyzed when it is created, so its plan
    * already holds the sink's data rather than the view's name.
    */
  def toMemory(stream: Dataset[_], outputMode: String, noDataBatches: Boolean,
      drive: StreamingQuery => Unit = _.processAllAvailable()): DataFrame = {
    val spark = stream.sparkSession
    val name = "replay_" + java.util.UUID.randomUUID.toString.replace("-", "")
    try {
      scope(spark, noDataBatches) {
        val q = stream.writeStream.format("memory").queryName(name)
          .outputMode(outputMode).start()
        try drive(q) finally q.stop()
      }
      spark.table(name)
    } finally spark.catalog.dropTempView(name)
  }
}
