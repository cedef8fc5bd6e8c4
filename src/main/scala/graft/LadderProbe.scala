package graft

/** Scale-ladder probe: run the named queries ONCE each against a
  * (usually ScaleGen-built) SF dir and print one JSON line of raw
  * single-pass seconds. Deliberately NOT the bench protocol (no
  * warmup, no medians): the ladder fits growth EXPONENTS across SF
  * points that differ by 5-10x, where single-pass noise is irrelevant
  * but a full bench pass over a quadratic control would cost hours.
  *
  * Usage: LadderProbe <sfDir> <comma-separated query names>
  */
object LadderProbe {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) = (args(0), args(1).split(",").toSeq)
    val spark = GraftSession.getOrCreate("graft-ladder")
    val results = names.map { name =>
      val r = Bench.once(spark, sfDir, SparkEntry.queries(name))
      System.gc()
      name -> r
    }
    val fields = results.map {
      case (n, Right(s)) => f"""\"$n\": $s%.3f"""
      case (n, Left(e)) =>
        s""""$n": "FAIL: ${e.getClass.getSimpleName}""""
    }
    println(s"""{"sf_dir": "$sfDir", ${fields.mkString(", ")}}""")
    spark.stop()
  }
}
