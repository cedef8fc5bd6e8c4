package graft

import graft.streaming.{CepEvent, CepMatch, Replay, StreamCep}
import graft.queries.PlannerOps
import java.nio.file.Files
import org.apache.spark.sql.functions._

class StreamCepSpec extends SparkSpec {

  private def ev(t: String, us: Long, id: Long, u: Long = 9L) = {
    val ts = new java.sql.Timestamp((us / 1000000L) * 1000L)
    ts.setNanos(((us % 1000000L) * 1000L).toInt)
    CepEvent(u, t, ts, id)
  }

  test("unit: every in-window pair matches; eviction bounds state") {
    val W = StreamCep.WINDOW_US
    val evs = Seq(
      ev("click", 0L, 1), ev("click", 10L, 2),
      ev("purchase", W, 3),          // matches click 2 (lag W-10) and click 1 (lag W, inclusive)
      ev("purchase", W + 11L, 4))    // click1 lag W+11 (out), click2 lag W+1 (out)
    val (out, st) = StreamCep.step(evs, (Seq.empty, Seq.empty))
    assert(out.map(m => (m.click_id, m.purchase_id)).toSet ===
      Set((1L, 3L), (2L, 3L)))
    // entries older than maxSeen - 2W are evicted (2W: a late click
    // within the staleness contract can still need a purchase up to
    // 2W behind max-seen); push max-seen past the bound on both sides
    val (_, st2) = StreamCep.step(
      Seq(ev("view", 2L * W + 12L, 5)), st)
    assert(st2._1.isEmpty, "clicks past 2W must be evicted")
    val (_, st3) = StreamCep.step(
      Seq(ev("purchase", 0L, 1), ev("click", 2L * W + 1L, 2)),
      (Seq.empty, Seq.empty))
    assert(st3._2.isEmpty, "purchases past 2W must be evicted")
  }

  test("unit: state carries across batches") {
    val (o1, st1) = StreamCep.step(Seq(ev("click", 100L, 1)),
      (Seq.empty, Seq.empty))
    assert(o1.isEmpty && st1._1 === Seq((100L, 1L)))
    val (o2, _) = StreamCep.step(Seq(ev("purchase", 200L, 2)), st1)
    assert(o2 === Seq(CepMatch(9L, 1L, 2L, 100L)))
  }

  test("unit: a click arriving AFTER a purchase it precedes still pairs") {
    // purchase lands in batch 1; the click (earlier event time) is
    // delivered late in batch 2 — the buffered-purchase direction
    // must emit the pair exactly once
    val (o1, st1) = StreamCep.step(Seq(ev("purchase", 500L, 10)),
      (Seq.empty, Seq.empty))
    assert(o1.isEmpty && st1._2 === Seq((500L, 10L)))
    val (o2, st2) = StreamCep.step(Seq(ev("click", 100L, 11)), st1)
    assert(o2 === Seq(CepMatch(9L, 11L, 10L, 400L)))
    // and nothing re-fires on a third empty-ish batch
    val (o3, _) = StreamCep.step(Seq(ev("view", 600L, 12)), st2)
    assert(o3.isEmpty)
  }

  test("unit: same-batch pairing emits exactly once per pair") {
    val (out, _) = StreamCep.step(
      Seq(ev("click", 100L, 1), ev("purchase", 300L, 2)),
      (Seq.empty, Seq.empty))
    assert(out === Seq(CepMatch(9L, 1L, 2L, 200L)))
  }

  test("streaming two-batch replay equals the batch interval join") {
    val t = Tables(spark, sfDir)
    val c = t.events.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), unix_micros(col("ts")).as("cus"),
        col("event_id").as("cid"))
    val p = t.events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), unix_micros(col("ts")).as("pus"),
        col("event_id").as("pid"))
    val want = c.join(p, col("cu") === col("pu") &&
        (col("pus") - col("cus")) > 0 &&
        (col("pus") - col("cus")) <= StreamCep.WINDOW_US)
      .select(col("cu"), col("cid"), col("pid"),
        (col("pus") - col("cus")).as("lag"))
      .collect()
      .map(r => CepMatch(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

    val dir = Files.createTempDirectory("cep_stream").toString
    val mid = t.events.agg(expr("percentile(unix_micros(ts), 0.5)"))
      .collect().head.getDouble(0).toLong
    t.events.filter(unix_micros(col("ts")) <= mid).coalesce(1)
      .write.parquet(s"$dir/flat")
    val schema = spark.read.parquet(s"$dir/flat").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/flat")
    val replayed = Replay.toMemory(StreamCep.matchPairs(stream), "append",
        noDataBatches = true, drive = { q =>
      q.processAllAvailable()
      t.events.filter(unix_micros(col("ts")) > mid).coalesce(1)
        .write.mode("append").parquet(s"$dir/flat")
      q.processAllAvailable()
    })
    val got = replayed.as[CepMatch](
      org.apache.spark.sql.Encoders.product[CepMatch]).collect().toSet
    assert(got === want)
  }

  test("q195 mode equals a driver-side frequency argmax") {
    val rows = Tables(spark, sfDir).lineitem
      .select(col("l_returnflag"),
        floor(col("l_quantity") * 100 + lit(0.5)).cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val want = rows.groupBy(_._1).map { case (f, rs) =>
      val byQ = rs.groupBy(_._2).map { case (q, xs) => (q, xs.length.toLong) }
      val best = byQ.toSeq.sortBy { case (q, c) => (-c, q) }.head
      f -> best
    }
    PlannerOps.q195ModePerGroup(spark, sfDir).collect().foreach { r =>
      val (q, c) = want(r.getString(0))
      assert(r.getAs[Long]("mode_qty_c") === q)
      assert(r.getAs[Long]("n_mode") === c)
    }
  }

  test("q196 profiles every column with exact distincts in one row each") {
    val d = Tables(spark, sfDir).documents
    val got = PlannerOps.q196ColumnProfile(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet === Set("doc_id", "text", "lang", "source", "n_chars"))
    assert(got("lang").getAs[Long]("n_distinct") ===
      d.select("lang").distinct().count())
    assert(got("doc_id").getAs[Long]("n_distinct") === d.count())
    got.values.foreach(r => assert(r.getAs[Long]("n") === d.count()))
  }
}
