package graftbench

import org.apache.spark.sql.{Row, SparkSession}

/** Expected counts for one generated snapshot. */
final case class Snap(
    sim: String, time: Double, nStar: Long, nBinaryStar: Long,
    nBinarySystem: Long, nAtomic: Long, nWithinRt: Long, nWithin2Rt: Long,
    nBinaryWithin2Rt: Long, unresolved: Seq[Long], totalMass: Double) {
  def key: String = Manifest.key(sim, time)
}

/** The generator's manifest (manifest.tsv, written by gen_nbody6.py)
  * and the checks of the program's outputs against it.
  */
final case class Manifest(coords: Seq[(Double, Double, Double)], snaps: Seq[Snap]) {
  private val byKey = snaps.map(s => s.key -> s).toMap
  def starRows: Long = snaps.map(_.nStar).sum

  private def coordLabel(c: (Double, Double, Double)) = s"${c._1},${c._2},${c._3}"
  private val coordIndex = coords.map(coordLabel).zipWithIndex.toMap

  private def snapOf(r: Row): Option[Snap] =
    byKey.get(Manifest.key(r.getAs[String]("sim_id"), r.getAs[Double]("time")))

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))

  /** First mismatch among `(label, got, want)` triples, if any. */
  private def firstDiff(checks: Iterable[(String, Any, Any)]): Option[String] =
    checks.collectFirst { case (l, g, w) if g != w => s"$l: got $g, expected $w" }

  /** Sum of a long column per (grouping) key over `rows`. */
  private def sums(rows: Seq[Row], col: String, key: Row => String): Map[String, Long] =
    rows.groupBy(key).map { case (k, rs) => k -> rs.map(_.getAs[Long](col)).sum }

  /** The tables SnapshotStats.writePartitioned wrote under `out`. */
  def checkWritten(spark: SparkSession, out: String): Option[String] = {
    val headers = spark.read.parquet(s"$out/headers").collect().toSeq
    val stars = spark.read.parquet(s"$out/stars").count()
    val binaries = spark.read.parquet(s"$out/binaries").count()
    val perSnap = headers.flatMap { r =>
      snapOf(r) match {
        case None => Seq(("unexpected snapshot", r.getAs[String]("sim_id"), ""))
        case Some(s) => Seq(
          (s"${s.key} n_stars_within_r_tidal", r.getAs[Long]("n_stars_within_r_tidal"), s.nWithinRt),
          (s"${s.key} n_stars_within_2x_r_tidal", r.getAs[Long]("n_stars_within_2x_r_tidal"), s.nWithin2Rt),
          (s"${s.key} n_binary_system", r.getAs[Long]("n_binary_system"), s.nBinarySystem),
          (s"${s.key} total_mass", close(r.getAs[Double]("total_mass"), s.totalMass), true))
      }
    }
    firstDiff(Seq(
      ("header rows", headers.size, snaps.size),
      ("star rows", stars, starRows),
      ("binary rows", binaries, snaps.map(_.nBinarySystem).sum)) ++ perSnap)
  }

  /** One collected SnapshotStats output of the staged analysis. */
  def checkStats(call: String, rows: Array[Row]): Option[String] = {
    val rs = rows.toSeq
    def snapKey(r: Row) = Manifest.key(r.getAs[String]("sim_id"), r.getAs[Double]("time"))
    def coordKey(r: Row) = s"${r.getAs[String]("obs_coord")}|${snapKey(r)}"
    def perCoord(f: (Snap, Int) => Long): Map[String, Long] =
      (for (s <- snaps; (c, i) <- coordIndex) yield s"$c|${s.key}" -> f(s, i)).toMap
    def perSnap(f: Snap => Long): Map[String, Long] = snaps.map(s => s.key -> f(s)).toMap
    def ringSums(col: String, distKey: String, key: Row => String) =
      sums(rs.filter(_.getAs[String]("dist_key") == distKey), col, key)
    call match {
      case "overall_observed" =>
        firstDiff(Seq(
          ("rows", rs.size, snaps.size * coords.size),
          ("n_binary_system", sums(rs, "n_binary_system", coordKey),
            perCoord((s, _) => s.nBinaryWithin2Rt)),
          ("n_unresolved_binary_system", sums(rs, "n_unresolved_binary_system", coordKey),
            perCoord((s, i) => s.unresolved(i)))))
      case "annular_observed" =>
        firstDiff(Seq(
          ("ring n_binary_system", ringSums("n_binary_system", "dist_dc_r_tidal", coordKey),
            perCoord((s, _) => s.nBinaryWithin2Rt)),
          ("ring n_unresolved_binary_system",
            ringSums("n_unresolved_binary_system", "dist_dc_r_tidal", coordKey),
            perCoord((s, i) => s.unresolved(i)))))
      case "overall_assembled" =>
        firstDiff(Seq(
          ("rows", rs.size, snaps.size),
          ("n_star", sums(rs, "n_star", snapKey), perSnap(_.nStar)),
          ("n_binary_star", sums(rs, "n_binary_star", snapKey), perSnap(_.nBinaryStar)),
          ("n_binary_system", sums(rs, "n_binary_system", snapKey), perSnap(_.nBinarySystem)),
          ("within_r_tidal_n_star", sums(rs, "within_r_tidal_n_star", snapKey),
            perSnap(_.nWithinRt)),
          ("within_2x_r_tidal_n_star", sums(rs, "within_2x_r_tidal_n_star", snapKey),
            perSnap(_.nWithin2Rt)),
          ("total_mass", rs.forall(r => snapOf(r).exists(s =>
            close(r.getAs[Double]("total_mass"), s.totalMass))), true)))
      case "annular_assembled" =>
        firstDiff(Seq(
          ("ring n_star by r_tidal", ringSums("n_star", "dist_dc_r_tidal", snapKey),
            perSnap(_.nStar)),
          ("ring n_star by r_half_mass", ringSums("n_star", "dist_dc_r_half_mass", snapKey),
            perSnap(_.nStar)),
          ("ring n_binary_system by r_tidal",
            ringSums("n_binary_system", "dist_dc_r_tidal", snapKey), perSnap(_.nBinarySystem))))
      case "inclinations" =>
        firstDiff(Seq(
          ("rows", rs.size.toLong, snaps.map(_.nAtomic).sum),
          ("incl_rad in [0, pi]", rs.forall { r =>
            val v = r.getAs[Double]("incl_rad"); v >= 0 && v <= math.Pi
          }, true)))
      case "time_align" =>
        val gridPoints = snaps.groupBy(_.sim).values.map { ss =>
          val ts = ss.map(_.time)
          (math.ceil(ts.max) - math.ceil(ts.min)).toLong + 1
        }.sum
        firstDiff(Seq(
          ("rows", rs.size.toLong, gridPoints),
          ("n_star", rs.map(_.getAs[Long]("n_star")).toSet, snaps.map(_.nStar).toSet)))
      case other => Some(s"no check for $other")
    }
  }
}

object Manifest {
  def key(sim: String, time: Double): String = f"$sim@$time%.2f"

  /** Line 1: `coords x,y,z;x,y,z`; line 2: column names; then one row
    * per snapshot, tab-separated, unresolved counts joined by commas.
    */
  def load(path: String): Manifest = {
    val lines = scala.io.Source.fromFile(path).getLines().toVector
    val coords = lines.head.stripPrefix("coords ").split(";").toSeq.map { c =>
      val Array(x, y, z) = c.split(",").map(_.toDouble)
      (x, y, z)
    }
    val snaps = lines.drop(2).map(_.split("\t")).map { f =>
      Snap(f(0), f(1).toDouble, f(2).toLong, f(3).toLong, f(4).toLong, f(5).toLong,
        f(6).toLong, f(7).toLong, f(8).toLong, f(9).split(",").map(_.toLong).toSeq,
        f(10).toDouble)
    }
    Manifest(coords, snaps)
  }
}
