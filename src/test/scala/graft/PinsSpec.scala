package graft

import graft.operators.Pins
import org.apache.spark.sql.{CacheEntries, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `Pins.scope` leaves the block store and the CacheManager as it found
  * them, `keep`'s result outlives its scope, nested scopes release only
  * their own pins, and the queries that pin the most leave nothing
  * behind inside a scope while returning the rows of an unscoped run.
  */
class PinsSpec extends SparkSpec {

  private def rdds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def cached(): Int = CacheEntries.count(spark)
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def frame(n: Int): DataFrame =
    spark.range(n).select(col("id"), (col("id") % 7).as("k"))

  test("scope releases what it pinned and cached, also when the body throws") {
    val (rddsBefore, cachedBefore) = (rdds(), cached())
    val total = Pins.scope(spark) {
      val p = Pins.pin(frame(100))
      val c = Pins.cache(frame(50))
      c.count()
      assert(rdds().size == rddsBefore.size + 2)
      p.join(c, "id").count()
    }
    assert(total == 50)
    assert(rdds() == rddsBefore, "scope left pins behind")
    assert(cached() == cachedBefore, "scope left a cached frame behind")

    intercept[IllegalStateException] {
      Pins.scope(spark) {
        Pins.pin(frame(10))
        Pins.cache(frame(20)).count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(rdds() == rddsBefore, "a throwing scope left pins behind")
    assert(cached() == cachedBefore, "a throwing scope left a cached frame behind")
  }

  test("cache needs an open scope") {
    intercept[IllegalStateException](Pins.cache(frame(5)))
  }

  test("keep's result collects the same rows after its scope") {
    val expected = rows(frame(200).groupBy("k").agg(sum("id").as("s")))
    val (rddsBefore, cachedBefore) = (rdds(), cached())
    val kept = Pins.keep(spark) {
      val c = Pins.cache(frame(200))
      Pins.pin(c.filter(col("k") > 2)).count()
      c.groupBy("k").agg(sum("id").as("s"))
    }
    assert(cached() == cachedBefore, "keep left its cached input behind")
    assert((rdds() -- rddsBefore).size == 1, "keep should leave only its result pinned")
    assert(rows(kept) == expected)
    assert(rows(kept) == expected, "kept rows changed on a second collect")
    Pins.release(kept)
    assert(rdds() == rddsBefore, "release left the kept pin behind")
  }

  test("nested scopes release only their own pins") {
    val rddsBefore = rdds()
    Pins.scope(spark) {
      val outer = Pins.pin(frame(30))
      val outerRdds = rdds()
      Pins.scope(spark) {
        Pins.pin(frame(40))
        Pins.cache(frame(60)).count()
      }
      assert(rdds() == outerRdds, "the inner scope released the outer pin or kept its own")
      assert(outer.count() == 30)
    }
    assert(rdds() == rddsBefore)
  }

  private val leakers: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q115_tfidf_pairs", "q323_greedy_cover", "q101_bigram_lm_score",
    "q168_prefix_join", "q223_kcore", "q281_label_prop", "q29_ngram_jaccard")
    .map(n => n -> SparkEntry.queries(n))

  test("pin-heavy queries leave no pins after their scope and keep their rows") {
    leakers.foreach { case (name, query) =>
      val unscopedBefore = rdds()
      val expected = rows(query(spark, sfDir))
      // the unscoped run's pins are this spec's to drop
      (rdds() -- unscopedBefore).foreach(id =>
        spark.sparkContext.getPersistentRDDs(id).unpersist(blocking = true))

      val (rddsBefore, cachedBefore) = (rdds(), cached())
      val scoped = Pins.scope(spark)(rows(query(spark, sfDir)))
      assert(rdds() == rddsBefore, s"$name left pins after its scope")
      assert(cached() == cachedBefore, s"$name left a cached frame after its scope")
      assert(scoped.nonEmpty, s"$name returned no rows")
      assert(scoped == expected, s"$name rows differ from the unscoped run")
    }
  }
}
