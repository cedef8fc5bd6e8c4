package graft

/** Plan capture: write explain("formatted") for the named queries to
  * <outDir>/<name>.txt — the before/after plan evidence for
  * optimization rounds (plans/r09/..., plans/r10/...). Mostly
  * plan-only, but NOT job-free (ADVICE r09): building a query frame
  * that contains an eager `Pins.pin` runs the checkpointed
  * sub-plan for real, and Tables.fanOut's partition probe forces
  * physical planning of the scan — so checkpointed queries dump a
  * post-checkpoint RDD scan in place of the replaced lineage. When the
  * interesting change is upstream of a checkpoint, explain the
  * un-checkpointed sub-frame instead (e.g. `DedupOps.q168Plan`); the
  * traced benchmark run (`perfbench/run.py --trace 1`) reports each
  * query's frame-build and execution time.
  *
  * Usage: PlanDump <sfDir> <outDir> [comma-separated query names|all]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(outDir)
    val names: Seq[String] =
      if (args.length < 3 || args(2) == "all")
        SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").toSeq
    val spark = GraftSession.getOrCreate("graft-plandump")
    names.foreach { name =>
      val txt =
        try graft.operators.Pins.scope(spark) {
          val df = SparkEntry.queries(name)(spark, sfDir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable => s"PLAN FAILED: $e" }
      java.nio.file.Files.writeString(outDir.resolve(s"$name.txt"), txt)
    }
    println(s"""{"dumped": ${names.size}, "out": "${args(1)}"}""")
    spark.stop()
  }
}
