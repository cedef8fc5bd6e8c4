package graft

import graft.queries.SessionOps
import graft.streaming.Replay
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming gate queries leave the session as they found it: the
  * replay's conf keys and the catalog's tables and views are the same
  * before and after a query, and the returned frame still reads its
  * rows after the sink's view is gone. One spec over five queries with
  * both no-data-batch values (q39, q185 and q278 run with them off).
  */
class SessionStateSpec extends SparkSpec {

  private val keys = Seq("spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.shuffle.partitions")

  private def sessionState(): (Seq[Option[String]], Set[String]) = {
    val conf = spark.conf.getAll
    (keys.map(conf.get), spark.catalog.listTables().collect().map(_.name).toSet)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  private val replayed: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q38" -> SessionOps.q38StreamWindowAgg,
    "q39" -> SessionOps.q39StreamSessionize,
    "q70" -> SessionOps.q70StreamDistinct,
    "q185" -> SessionOps.q185StreamThrottle,
    "q278" -> SessionOps.q278StreamOuterJoin)

  test("streaming queries keep conf and views, and their frames collect twice") {
    replayed.foreach { case (name, query) =>
      val before = sessionState()
      val df = query(spark, sfDir)
      assert(sessionState() === before, s"$name changed the session")
      val first = rows(df)
      assert(first.nonEmpty, s"$name returned no rows")
      assert(rows(df) === first, s"$name read different rows the second time")
    }
  }

  test("q353 gives the same rows before and after q39") {
    val before = rows(SessionOps.q353StreamCusum(spark, sfDir))
    SessionOps.q39StreamSessionize(spark, sfDir).collect()
    assert(rows(SessionOps.q353StreamCusum(spark, sfDir)) === before)
  }

  test("withConf unsets a key that was unset and restores one that was set, on a throw too") {
    val unset = "graft.spec.unsetKey"
    val set = "graft.spec.setKey"
    spark.conf.set(set, "old")
    try {
      intercept[IllegalStateException] {
        Replay.withConf(spark, unset -> "x", set -> "new") {
          assert(spark.conf.get(unset) === "x")
          assert(spark.conf.get(set) === "new")
          throw new IllegalStateException("body failed")
        }
      }
      assert(spark.conf.getOption(unset) === None)
      assert(spark.conf.get(set) === "old")
    } finally spark.conf.unset(set)
  }
}
