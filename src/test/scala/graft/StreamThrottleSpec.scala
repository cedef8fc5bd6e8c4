package graft

import graft.streaming.{Admitted, Replay, StreamThrottle, ThrottleEvent}
import graft.queries.PlannerOps
import java.nio.file.Files
import org.apache.spark.sql.functions._

class StreamThrottleSpec extends SparkSpec {

  private def ev(u: Long, us: Long, id: Long) =
    ThrottleEvent(u, (us / StreamThrottle.WINDOW_US) * StreamThrottle.WINDOW_US,
      new java.sql.Timestamp(us / 1000), id)

  test("unit: quota admits the first N in stream order, resumes from state") {
    val evs = (1L to 8L).map(i => ev(7, i * 1000000L, i))
    val (out1, n1) = StreamThrottle.step(evs.take(1), 0L)
    assert(out1.map(_.seq) === Seq(1L) && n1 === 1L)
    val (out2, n2) = StreamThrottle.step(evs.drop(1), n1)
    // only QUOTA-1 more fit across the batch boundary
    assert(out2.map(_.event_id) ===
      (2L until 1L + StreamThrottle.QUOTA).toSeq)
    assert(n2 === StreamThrottle.QUOTA.toLong)
  }

  test("streaming two-batch replay equals the batch row_number rule") {
    val t = Tables(spark, sfDir)
    val want = t.events
      .select(col("user_id"),
        (floor(unix_micros(col("ts")) / StreamThrottle.WINDOW_US) *
          StreamThrottle.WINDOW_US).as("w"), col("event_id"),
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id"),
              floor(unix_micros(col("ts")) / StreamThrottle.WINDOW_US))
            .orderBy("ts", "event_id")).cast("long").as("seq"))
      .filter(col("seq") <= StreamThrottle.QUOTA)
      .collect()
      .map(r => Admitted(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

    val dir = Files.createTempDirectory("throttle_stream").toString
    val ev = t.events
    val mid = ev.agg(expr("percentile(unix_micros(ts), 0.5)"))
      .collect().head.getDouble(0).toLong
    ev.filter(unix_micros(col("ts")) <= mid).coalesce(1)
      .write.parquet(s"$dir/flat")
    val schema = spark.read.parquet(s"$dir/flat").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/flat")
    val replayed = Replay.toMemory(StreamThrottle.throttle(stream), "append",
        noDataBatches = true, drive = { q =>
      q.processAllAvailable()
      ev.filter(unix_micros(col("ts")) > mid).coalesce(1)
        .write.mode("append").parquet(s"$dir/flat")
      q.processAllAvailable()
    })
    val got = replayed.as[Admitted](
      org.apache.spark.sql.Encoders.product[Admitted]).collect().toSet
    assert(got === want)
  }

  test("closed windows' counters are evicted once the watermark passes") {
    // day-0 events, then a batch 10 days later, then one 20 days later:
    // by the third batch the watermark (maxSeen - 1h) is far past the
    // day-0 window end + lateness, so its counter must be GONE from the
    // state store (the old NoTimeout operator kept one long per
    // (user, day) forever)
    import spark.implicits._
    val dayUs = StreamThrottle.WINDOW_US
    def rows(startUs: Long, ids: Range) =
      ids.map(i => (7L, new java.sql.Timestamp((startUs + i * 1000000L) / 1000L),
        i.toLong)).toSeq.toDF("user_id", "ts", "event_id")
    val dir = Files.createTempDirectory("throttle_evict").toString
    rows(0L, 1 to 3).coalesce(1).write.parquet(s"$dir/flat")
    val schema = spark.read.parquet(s"$dir/flat").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/flat")
    val replayed = Replay.toMemory(StreamThrottle.throttle(stream), "append",
        noDataBatches = true, drive = { q =>
      q.processAllAvailable()
      rows(10L * dayUs, 11 to 12).coalesce(1)
        .write.mode("append").parquet(s"$dir/flat")
      q.processAllAvailable()
      rows(20L * dayUs, 21 to 22).coalesce(1)
        .write.mode("append").parquet(s"$dir/flat")
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      // without eviction: 3 windows live; with it, day-0 is gone (day-10
      // may or may not have been reaped yet depending on the trailing
      // no-data micro-batch)
      assert(stateRows <= 2L, s"state not evicted: $stateRows rows")
    })
    // and the admitted set is still the first-QUOTA-per-window rule
    val admitted = replayed.collect()
      .map(r => r.getAs[Long]("event_id")).toSet
    assert(admitted === Set(1L, 2L, 11L, 12L, 21L, 22L))
  }

  test("q186 cardinality estimate equals the materialized self-join size") {
    val t = Tables(spark, sfDir)
    val actual = t.events.select("user_id")
      .join(t.events.select(col("user_id").as("u2")),
        col("user_id") === col("u2")).count()
    val est = PlannerOps.q186JoinCardinality(spark, sfDir).head
    assert(est.getAs[Long]("join_rows") === actual)
  }

  test("q199 breadth buckets partition the user base") {
    val total = PlannerOps.q199BreadthHist(spark, sfDir)
      .agg(sum("n_users")).head.getLong(0)
    assert(total ===
      Tables(spark, sfDir).events.select("user_id").distinct().count())
  }

  test("q200 heartbeat counts match direct table counts") {
    val t = Tables(spark, sfDir)
    val got = PlannerOps.q200TableHeartbeat(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size === 10)
    assert(got("lineitem") === t.lineitem.count())
    assert(got("events") === t.events.count())
    assert(got("region") === t.region.count())
  }

  test("q187 takes exactly N per stratum (or the whole stratum if smaller)") {
    val sizes = Tables(spark, sfDir).documents
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = PlannerOps.q187StratifiedFixedN(spark, sfDir)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.foreach { case (l, n) =>
      assert(got(l) === math.min(n, PlannerOps.STRATUM_N.toLong))
    }
    // determinism: two runs agree row-for-row
    val a = PlannerOps.q187StratifiedFixedN(spark, sfDir).collect().toSet
    val b = PlannerOps.q187StratifiedFixedN(spark, sfDir).collect().toSet
    assert(a === b)
  }
}
