package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global row numbering.
  *
  * `row_number() OVER (ORDER BY ...)` with no PARTITION BY moves every
  * row to ONE partition — the classic single-task scale killer for
  * global ranks, percentiles-by-rank, and ntile feature binning. This
  * operator produces the identical 1-based global row number with
  * bounded per-task work:
  *
  *  1. range-repartition + sort within partitions on the rank keys
  *     (the same machinery a global ORDER BY uses — parallel),
  *  2. count rows per partition (O(partitions) driver data),
  *  3. broadcast-join each partition's prefix offset and add it to the
  *     per-partition row_number (windows partitioned by the physical
  *     partition id — parallel again).
  *
  * The ranked input is pinned with an eager localCheckpoint so the
  * count pass and the window pass see the SAME range partitioning
  * (range boundaries are sampled and would otherwise be recomputed —
  * legally differently — per action). Output ranks are nevertheless
  * partitioning-independent: offsets are derived from actual counts,
  * so any boundary placement yields the same global numbering as long
  * as the keys totally order rows (pass a unique tie-breaker).
  */
object GlobalRank {

  /** Adds `outCol` = 1-based global row number by `keys` (which must
    * totally order the rows — include a unique tie-breaker).
    */
  def withRowNumber(df: DataFrame, outCol: String, keys: Column*): DataFrame =
    withRowNumberAndCount(df, outCol, keys: _*)._1

  /** Adds `outCol` = SQL-standard `ntile(buckets)` in `keys` order —
    * integer arithmetic on the distributed (rank, n), bucket sizes
    * follow the remainder-to-front rule, so the result is identical to
    * the one-task `ntile() OVER (ORDER BY ...)` window builtin.
    */
  def withNtile(df: DataFrame, outCol: String, buckets: Int,
                keys: Column*): DataFrame = {
    val (ranked, n) = withRowNumberAndCount(df, "__ntile_r", keys: _*)
    val base = n / buckets
    val rem = n % buckets
    val cut = rem * (base + 1)
    def ceilDiv(a: Column, b: Long): Column =
      floor((a + lit(b - 1)) / lit(b.toDouble)).cast("long")
    val tile =
      if (base == 0) col("__ntile_r")
      else when(col("__ntile_r") <= cut, ceilDiv(col("__ntile_r"), base + 1))
        .otherwise(lit(rem) + ceilDiv(col("__ntile_r") - lit(cut), base))
    ranked.withColumn(outCol, tile).drop("__ntile_r")
  }

  /** [[withRowNumber]], also returning the TOTAL row count — already
    * known from the per-partition counts, so rank-arithmetic callers
    * (ntile, percent_rank) don't pay a second scan just for n.
    */
  def withRowNumberAndCount(df: DataFrame, outCol: String,
      keys: Column*): (DataFrame, Long) = {
    val spark = df.sparkSession
    import spark.implicits._
    val ranged = df
      .repartitionByRange(keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("__pid", spark_partition_id())
      .transform(Pins.pin)
    val counts = ranged.groupBy("__pid").count().as[(Int, Long)].collect()
      .sortBy(_._1)
    val offsets = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(0L)(_ + _))
      .toSeq.toDF("__pid", "__offset")
    val w = Window.partitionBy("__pid").orderBy(keys: _*)
    val ranked = ranged.join(broadcast(offsets), "__pid")
      .withColumn(outCol, row_number().over(w).cast("long") + col("__offset"))
      .drop("__pid", "__offset")
    (ranked, counts.map(_._2).sum)
  }

  /** Adds `outCol` = inclusive global running sum of the LONG `value`
    * column in `keys` order — the same machinery as [[withRowNumber]]
    * (an ORDER-BY-only running-sum window is the identical
    * one-partition scale killer), with the per-partition offsets being
    * partition value totals instead of row counts. Integer values
    * only: partition-order independence of the offsets relies on
    * associative addition.
    */
  def withRunningSum(df: DataFrame, outCol: String, value: Column,
      keys: Column*): DataFrame =
    withRunningSums(df, Seq(outCol -> value), inclusive = true, keys: _*)

  /** Adds one column per (outCol, value) pair: the global running sum
    * of each LONG `value` in `keys` order — inclusive (`... AND
    * CURRENT ROW`) when `inclusive`, else the exclusive prefix
    * (`... AND 1 PRECEDING`, 0 on the first row). One range
    * repartition + one checkpoint + one offsets broadcast serves every
    * column, so multi-series CDF/midrank rollups (q372/q390/q395) pay
    * the distributed-rank machinery once, not per series.
    */
  def withRunningSums(df: DataFrame, outs: Seq[(String, Column)],
      inclusive: Boolean, keys: Column*): DataFrame = {
    require(outs.nonEmpty, "withRunningSums needs at least one column")
    val spark = df.sparkSession
    val vcols = outs.indices.map(i => s"__v$i")
    val ranged = outs.zip(vcols).foldLeft(
        df.repartitionByRange(keys: _*)
          .sortWithinPartitions(keys: _*)
          .withColumn("__pid", spark_partition_id())) {
        case (d, ((_, v), vc)) => d.withColumn(vc, v.cast("long"))
      }.transform(Pins.pin)
    val aggs = vcols.map(c => sum(col(c)).as(c))
    val perPart = ranged.groupBy("__pid").agg(aggs.head, aggs.tail: _*)
      .collect().sortBy(_.getInt(0))
    val offsetsByCol = vcols.indices.map { i =>
      perPart.map(_.getLong(i + 1)).scanLeft(0L)(_ + _)
    }
    val offRows = perPart.indices.map { j =>
      org.apache.spark.sql.Row.fromSeq(
        perPart(j).getInt(0) +: vcols.indices.map(i => offsetsByCol(i)(j)))
    }
    val offSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__pid",
        org.apache.spark.sql.types.IntegerType) +:
        vcols.indices.map(i => org.apache.spark.sql.types.StructField(
          s"__off$i", org.apache.spark.sql.types.LongType)))
    val offDf = spark.createDataFrame(
      java.util.Arrays.asList(offRows: _*), offSchema)
    val w = Window.partitionBy("__pid").orderBy(keys: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withSums = outs.zipWithIndex.foldLeft(
        ranged.join(broadcast(offDf), "__pid")) {
      case (d, ((out, _), i)) =>
        val incl = sum(col(s"__v$i")).over(w) + col(s"__off$i")
        d.withColumn(out, if (inclusive) incl else incl - col(s"__v$i"))
    }
    withSums.drop(
      "__pid" +: (vcols ++ vcols.indices.map(i => s"__off$i")): _*)
  }
}
