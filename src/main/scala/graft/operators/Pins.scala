package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer

/** The one way to pin an intermediate frame and to release it.
  * `pin` is the pin policy: an eager local checkpoint, which computes
  * the frame once and cuts its lineage. `cache` persists a frame that
  * plans already built over it should read. `scope` releases, on exit,
  * every persistent RDD and `cache`d frame added inside it, so a query
  * run in one leaves the block store as it found it. With no scope
  * open, a pin lives until the ContextCleaner collects its frame.
  * A frame cached outside a scope but first computed inside it loses
  * its blocks at the scope's exit (its cache entry stays).
  */
object Pins {

  /** The `cache`d frames of each open scope on this thread, innermost first. */
  private val open = ThreadLocal.withInitial[List[ArrayBuffer[DataFrame]]](() => Nil)

  def pin(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Cache `df` until the innermost scope exits (unless already cached). */
  def cache(df: DataFrame): DataFrame = open.get match {
    case Nil => throw new IllegalStateException("Pins.cache outside a Pins.scope")
    case frames :: _ =>
      if (df.storageLevel == StorageLevel.NONE) { df.persist(); frames += df }
      df
  }

  private def pinned(df: DataFrame) = df.queryExecution.logical match {
    case r: LogicalRDD => Some(r.rdd)
    case _ => None
  }

  /** Drop a pinned frame's blocks now, e.g. a loop's superseded round. */
  def release(df: DataFrame): Unit = pinned(df).foreach(_.unpersist(blocking = false))

  def scope[T](spark: SparkSession)(body: => T): T = scoped(spark)(body)(_ => Set.empty)

  /** A scope whose result is pinned and outlives it. */
  def keep(spark: SparkSession)(body: => DataFrame): DataFrame =
    scoped(spark)(pin(body))(pinned(_).map(_.id).toSet)

  private def scoped[T](spark: SparkSession)(body: => T)(kept: T => Set[Int]): T = {
    val sc = spark.sparkContext
    val (before, outer, frames) =
      (sc.getPersistentRDDs.keySet, open.get, ArrayBuffer.empty[DataFrame])
    var keep = Set.empty[Int]
    open.set(frames :: outer)
    try { val out = body; keep = kept(out); out }
    finally {
      open.set(outer)
      // newest first: a cached frame's plan may read an earlier one's cache
      frames.reverseIterator.foreach(_.unpersist(blocking = false))
      (sc.getPersistentRDDs -- before -- keep).toSeq.sortBy(-_._1)
        .foreach(_._2.unpersist(blocking = false))
    }
  }
}
