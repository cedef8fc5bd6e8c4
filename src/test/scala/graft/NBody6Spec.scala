package graft

import graft.pipeline.SnapshotAssembler
import graft.sources.NBody6
import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._

/** Parser + assembler end-to-end over generated fixture files
  * (SURVEY §2: "snapshot assembly E2E", spec only — no driver query).
  *
  * Fixture layout per sim: 9 atomic stars (1-9) plus a regularized
  * pair (11,12) whose center-of-mass appears in OUT34 as name 10; a
  * wide pair (3,4) and a hierarchical triple (11+12)+5 in fort.19.
  */
object NBody6Fixtures {
  val TIMES = Seq(12.5, 25.0)
  val SIMS = Seq("simA", "simB")

  def starMass(name: Int): Double = 0.5 + 0.1 * name
  def starPos(name: Int, t: Double): (Double, Double, Double) =
    (name * 0.3 + t * 0.01, name * -0.2, name * 0.1)

  def write(root: Path): Unit = {
    for (sim <- SIMS) {
      val dir = root.resolve(sim)
      Files.createDirectories(dir)
      def fmtHeaderTokens(time: Double): Seq[String] = {
        // 28 tokens; indices: 5=nzero 7=time 8=rbar 9=vstar 10=rtide
        // 12=plummer 13-15=rd 16-18=rcm 22-24=rg 25-27=vg
        val t = Array.fill(28)("0.0")
        t(5) = "12"; t(7) = time.toString; t(8) = "1.5"; t(9) = "2.0"
        t(10) = "10.0"; t(12) = "100.0"
        t(13) = "0.1"; t(14) = "0.2"; t(15) = "0.3"
        t(16) = "0.4"; t(17) = "0.5"; t(18) = "0.6"
        t(22) = "1.0"; t(23) = "2.0"; t(24) = "3.0"
        t(25) = "4.0"; t(26) = "5.0"; t(27) = "6.0"
        t.toSeq
      }
      val out34 = TIMES.map { t =>
        val hdr = "# " + fmtHeaderTokens(t).mkString(" ")
        // atomic stars 1..9 plus CoM row name=10 for pair (11,12)
        val rows = ((1 to 9) :+ 10).map { n =>
          val (x, y, z) = starPos(n, t)
          val m = if (n == 10) starMass(11) + starMass(12) else starMass(n)
          s"$x $y $z ${0.1 * n} ${-0.1 * n} 0.05 $m $n 1"
        }
        (hdr +: rows).mkString("\n")
      }.mkString("\n")
      Files.writeString(dir.resolve("OUT34"), out34 + "\n")

      val out9 = TIMES.map { t =>
        val h1 = s"# h $t 1 filler"
        val h2 = "# filler2"
        val h3 = "# filler3"
        // tokens: 0..13 with ecc(3) semi(4) p(5) m1(6) m2(7) n1(8) n2(9) cm(13)
        val row = s"a b c 0.3 0.05 1.2 ${starMass(11)} ${starMass(12)} 11 12 0 0 0 10"
        Seq(h1, h2, h3, row).mkString("\n")
      }.mkString("\n")
      Files.writeString(dir.resolve("OUT9"), out9 + "\n")

      val f82 = TIMES.map { t =>
        val hdr = s"## BEGIN T $t"
        // name1(0) name2(1) .. x(5) y(6) z(7) .. m1(11) m2(12) zl1(13)
        // zl2(14) r1(15) r2(16) te1(17) te2(18)
        val row = s"11 12 0 0 0 1.0 2.0 3.0 0 0 0 ${starMass(11)} ${starMass(12)} " +
          "0.5 0.3 0.1 0.05 3.76 3.70"
        Seq(hdr, row, "## END").mkString("\n")
      }.mkString("\n")
      Files.writeString(dir.resolve("fort.82"), f82 + "\n")

      val f83 = TIMES.map { t =>
        val hdr = s"## BEGIN T $t"
        val rows = (1 to 9).map { n =>
          val (x, y, z) = starPos(n, t)
          s"$n 0 $x $y $z ${starMass(n)} ${0.1 * n} ${0.02 * n} ${3.5 + 0.01 * n}"
        }
        (hdr +: rows :+ "## END").mkString("\n")
      }.mkString("\n")
      Files.writeString(dir.resolve("fort.83"), f83 + "\n")

      val f19 = TIMES.map { t =>
        val hdr = s"# $t 2 x"
        // ecc(3) semi(4) p(5) m1(6) m2(7) n1(8) n2(9) hiarch(12)
        val wide = s"a b c 0.1 2000.0 6.5 ${starMass(3)} ${starMass(4)} 3 4 0 0 0"
        val triple = s"a b c 0.4 5000.0 7.0 ${starMass(11) + starMass(12)} ${starMass(5)} 10 5 0 0 1"
        Seq(hdr, wide, triple).mkString("\n")
      }.mkString("\n")
      Files.writeString(dir.resolve("fort.19"), f19 + "\n")

      val dens = TIMES.map(t => s"$t 10.0 0.5 0.5 0.5 11 99.0").mkString("\n")
      Files.writeString(dir.resolve("densCentre.txt"), dens + "\n")
    }
  }
}

class NBody6Spec extends SparkSpec {
  import NBody6Fixtures._

  private lazy val root: Path = {
    val d = Files.createTempDirectory("nbody6_fixtures")
    NBody6Fixtures.write(d)
    d
  }

  /** Fresh frames over the fixture files: each call plans anew. */
  private def assembleFixtures(): graft.pipeline.Assembled = {
    val g = root.toString
    val (o34h, o34d) = NBody6.readOut34(spark, s"$g/*/OUT34")
    val (_, o9d) = NBody6.readOut9(spark, s"$g/*/OUT9")
    val (_, f82d) = NBody6.readFort82(spark, s"$g/*/fort.82")
    val (_, f83d) = NBody6.readFort83(spark, s"$g/*/fort.83")
    val (_, f19d) = NBody6.readFort19(spark, s"$g/*/fort.19")
    val dcH = NBody6.readDensCentre(spark, s"$g/*/densCentre.txt")
    SnapshotAssembler.assemble(o34h, o34d, o9d, f82d, f83d, f19d, dcH)
  }

  private lazy val assembled: graft.pipeline.Assembled = assembleFixtures()

  test("parsers read every block of every file with sim_id and time keys") {
    val (o34h, o34d) = NBody6.readOut34(spark, s"$root/*/OUT34")
    assert(o34h.count() == SIMS.size * TIMES.size)
    assert(o34d.count() == SIMS.size * TIMES.size * 10)
    assert(o34h.select("sim_id").distinct().count() == 2)
    val h = o34h.filter(col("sim_id") === "simA" && col("time") === 12.5).collect().head
    assert(h.getAs[Long]("nzero") == 12L)
    assert(h.getAs[scala.collection.Seq[Double]]("rd").toSeq == Seq(0.1, 0.2, 0.3))
    val (_, o9d) = NBody6.readOut9(spark, s"$root/*/OUT9")
    assert(o9d.count() == SIMS.size * TIMES.size)
    assert(o9d.select("cmName").distinct().collect().head.getLong(0) == 10L)
  }

  test("footer lines and multi-line headers are handled") {
    val (_, f82d) = NBody6.readFort82(spark, s"$root/*/fort.82")
    assert(f82d.count() == SIMS.size * TIMES.size)  // "## END" not parsed as data
    val r = f82d.collect().head
    assert(r.getAs[Long]("name1") == 11L && r.getAs[Double]("tempe2") == 3.70)
  }

  test("CoM rows expand to members; stars table has 11 stars per snapshot") {
    val stars = assembled.stars
    assert(stars.groupBy("sim_id", "time").count()
      .filter(col("count") =!= 11).count() == 0)
    // members 11,12 share the CoM position (star 10's row)
    val s = stars.filter(col("sim_id") === "simA" && col("time") === 12.5 &&
      col("name").isin(11L, 12L)).select("x", "y", "z").distinct()
    assert(s.count() == 1)
    // name 10 itself no longer exists
    assert(stars.filter(col("name") === 10L).count() == 0)
  }

  test("binary systems: labels, hierarchy, and top-level flags") {
    val b = assembled.binaries.filter(col("sim_id") === "simA" && col("time") === 12.5)
    val byPair = b.collect().map(r => r.getAs[String]("pair") -> r).toMap
    assert(byPair.keySet == Set("3+4", "11+12", "5+(11+12)"))
    assert(byPair("11+12").getAs[Boolean]("is_top_level") == false)
    assert(byPair("5+(11+12)").getAs[Boolean]("is_top_level") == true)
    assert(byPair("3+4").getAs[Boolean]("is_top_level") == true)
    assert(byPair("5+(11+12)").getAs[Boolean]("is_multi_system") == true)
    assert(byPair("3+4").getAs[Boolean]("is_multi_system") == false)
    // component masses come from the attribute tables
    assert(byPair("5+(11+12)").getAs[scala.collection.Seq[Double]]("obj1_masses").toSeq ==
      Seq(starMass(11), starMass(12)))
    assert(byPair("5+(11+12)").getAs[Double]("obj2_total_mass") == starMass(5))
  }

  test("binaries are bit-identical at 1 and at 4 shuffle partitions") {
    // member sums and means fold each system's members in mpos order, so
    // no value may depend on the order a shuffle delivers the rows;
    // coalescing is off so that 4 partitions stay 4
    val confs = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = confs.map(k => k -> spark.conf.getOption(k))
    def binariesAt(partitions: Int): Seq[String] = {
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      assembleFixtures().binaries.collect().map(_.toString).sorted.toSeq
    }
    try {
      val one = binariesAt(1)
      assert(one.nonEmpty)
      assert(binariesAt(4) == one)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("kepler semi-major axis computed from period") {
    val b = assembled.binaries.filter(col("pair") === "3+4").collect().head
    val expected = {
      import graft.functions.Astro._
      val totalKg = (starMass(3) + starMass(4)) * M_SUN_KG
      val pS = math.pow(10, 6.5) * DAY_S
      math.pow(totalKg * pS * pS * (G_SI / (4 * math.Pi * math.Pi)), 1.0 / 3) / AU_M
    }
    assert(math.abs(b.getAs[Double]("semi") - expected) < 1e-9)
  }

  test("star hierarchy labels sorted by (length, lex)") {
    val s = assembled.stars.filter(col("sim_id") === "simA" && col("time") === 12.5)
    val h = s.collect().map(r => r.getAs[Long]("name") -> r.getAs[scala.collection.Seq[String]]("hierarchy").toSeq).toMap
    assert(h(11L) == Seq("11", "11+12", "5+(11+12)"))
    assert(h(5L) == Seq("5", "5+(11+12)"))
    assert(h(1L) == Seq("1"))
    val multi = s.collect().map(r => r.getAs[Long]("name") -> r.getAs[Boolean]("is_multi_system")).toMap
    assert(multi(11L) && multi(12L) && !multi(5L) && !multi(1L))
  }

  test("half-mass radius matches a direct computation") {
    val t = 12.5
    val dc = (0.5, 0.5, 0.5)
    val all = ((1 to 9).map(n => (starPos(n, t), starMass(n))) :+
      ((starPos(10, t), starMass(11))) :+ ((starPos(10, t), starMass(12))))
    val withDist = all.map { case ((x, y, z), m) =>
      (math.sqrt(math.pow(x - dc._1, 2) + math.pow(y - dc._2, 2) + math.pow(z - dc._3, 2)), m)
    }.sortBy(_._1)
    val total = withDist.map(_._2).sum
    val cum = withDist.scanLeft(0.0)(_ + _._2).tail
    val expected = withDist(cum.indexWhere(_ >= total / 2))._1
    val got = assembled.headers
      .filter(col("sim_id") === "simA" && col("time") === t)
      .select("r_half_mass").collect().head.getDouble(0)
    assert(math.abs(got - math.rint(expected * 10000) / 10000) < 1e-9,
      s"r_half_mass $got != $expected")
  }

  test("headers aggregate star, binary, and OUT34 quantities") {
    val h = assembled.headers.filter(col("sim_id") === "simB" && col("time") === 25.0)
      .collect().head
    val expectedTotal = ((1 to 9).map(starMass).sum + starMass(11) + starMass(12))
    assert(math.abs(h.getAs[Double]("total_mass") - math.rint(expectedTotal * 10000) / 10000) < 1e-9)
    assert(h.getAs[Long]("n_binary_system") == 3L)
    assert(h.getAs[Long]("n_multi_system") == 1L)
    assert(h.getAs[scala.collection.Seq[Double]]("galactic_pos_OUT34").toSeq == Seq(1.5, 3.0, 4.5))
    assert(h.getAs[scala.collection.Seq[Double]]("galactic_vel_OUT34").toSeq == Seq(8.0, 10.0, 12.0))
    assert(h.getAs[Double]("r_tidal_OUT34") == 10.0)
  }

  test("dissolved snapshots (r_tidal <= 0) are dropped") {
    val g = root.toString
    import spark.implicits._
    val dcBad = NBody6.readDensCentre(spark, s"$g/*/densCentre.txt")
      .withColumn("r_tidal", when(col("time") === 25.0, -1.0).otherwise(col("r_tidal")))
    val (o34h, o34d) = NBody6.readOut34(spark, s"$g/*/OUT34")
    val (_, o9d) = NBody6.readOut9(spark, s"$g/*/OUT9")
    val (_, f82d) = NBody6.readFort82(spark, s"$g/*/fort.82")
    val (_, f83d) = NBody6.readFort83(spark, s"$g/*/fort.83")
    val (_, f19d) = NBody6.readFort19(spark, s"$g/*/fort.19")
    val out = SnapshotAssembler.assemble(o34h, o34d, o9d, f82d, f83d, f19d, dcBad)
    assert(out.headers.filter(col("time") === 25.0).count() == 0)
    assert(out.stars.filter(col("time") === 25.0).count() == 0)
  }

  test("duplicate block timestamps keep the LAST block (reference overwrite)") {
    // two OUT34 blocks with the same rounded time but different row data
    val d = Files.createTempDirectory("nbody6_dupts").resolve("simDup")
    Files.createDirectories(d)
    def hdr(t: Double): String = {
      val tk = Array.fill(28)("0.0"); tk(5) = "2"; tk(7) = t.toString
      "# " + tk.mkString(" ")
    }
    val block1 = Seq(hdr(12.5), "1.0 0 0 0 0 0 0.5 1 1").mkString("\n")
    val block2 = Seq(hdr(12.5), "9.0 0 0 0 0 0 0.5 1 1", "9.5 0 0 0 0 0 0.6 2 1").mkString("\n")
    Files.writeString(d.resolve("OUT34"), block1 + "\n" + block2 + "\n")
    val (h, rows) = NBody6.readOut34(spark, s"${d.getParent}/*/OUT34")
    assert(h.count() == 1, "duplicate-time header blocks must collapse to one")
    val xs = rows.select("x").collect().map(_.getDouble(0)).sorted.toSeq
    assert(xs == Seq(9.0, 9.5), "the surviving block must be the LAST one")
  }

  test("fort.82 attribute melt keeps comp1 values on conflicting names") {
    import spark.implicits._
    // name 7 appears as comp1 of one pair AND comp2 of another, with
    // different attribute values — the comp1 row must win deterministically
    val f82d = Seq(
      ("simA", 12.5, 7L, 8L, 1.0, 1.1, 0.5, 0.6, 0.1, 0.2, 3.7, 3.8),
      ("simA", 12.5, 9L, 7L, 2.0, 2.2, 0.7, 0.8, 0.3, 0.4, 3.9, 4.0))
      .toDF("sim_id", "time", "name1", "name2", "mass1", "mass2",
        "zlum1", "zlum2", "rad1", "rad2", "tempe1", "tempe2")
    val f83d = Seq.empty[(String, Double, Long, Double, Double, Double, Double)]
      .toDF("sim_id", "time", "name", "mass", "zlum", "rad", "tempe")
    val attrs = SnapshotAssembler.buildAttrs(f82d, f83d)
    val r7 = attrs.filter(col("name") === 7L).collect()
    assert(r7.length == 1)
    assert(r7.head.getAs[Double]("mass") == 1.0 &&
      r7.head.getAs[Double]("zlum") == 0.5,
      "comp1 occurrence must survive, not comp2's")
  }

  test("loader validation reports missing and empty files per sim dir") {
    import graft.sources.Loader
    val root = Files.createTempDirectory("nbody6_validate")
    NBody6Fixtures.write(root)                       // two valid sims
    val bad = root.resolve("simBad")
    Files.createDirectories(bad)
    Files.writeString(bad.resolve("OUT34"), "")      // empty
    // (all other files missing)
    val problems = Loader.validate(root)
    assert(!problems.contains("simA") && !problems.contains("simB"))
    val ps = problems("simBad")
    assert(ps.contains("empty file: OUT34"))
    assert(ps.count(_.startsWith("missing file:")) == Loader.REQUIRED_FILES.size - 1)
    intercept[IllegalStateException](Loader.validate(root, strict = true))
  }

  test("timestamp alignment: strict report + mapping onto OUT34 grid") {
    import graft.sources.Loader
    import spark.implicits._
    val out34 = Seq(("s1", 0.0), ("s1", 12.5), ("s1", 25.0), ("s2", 0.0))
      .toDF("sim_id", "time")
    val f19 = Seq(("s1", 0.0), ("s1", 12.51), ("s1", 25.0), ("s2", 0.5))
      .toDF("sim_id", "time")   // 12.51 within tolerance; s2 0.5 is not
    val f82 = Seq(("s1", 0.0), ("s1", 12.5), ("s2", 0.0))
      .toDF("sim_id", "time")   // s1 missing its third block
    val a = Loader.alignTimestamps(
      Map("OUT34" -> out34, "fort.19" -> f19, "fort.82" -> f82))
    val rep = a.report.collect()
      .map(r => (r.getAs[String]("sim_id"), r.getAs[Int]("rank")) ->
        r.getAs[String]("reason")).toMap
    assert(rep == Map(
      ("s1", 3) -> "missing_in_some_files",
      ("s2", 1) -> "spread_exceeds_tolerance"))
    val m = a.mapping.collect()
    assert(m.length == 1)
    assert(m.head.getAs[String]("file") == "fort.19" &&
      m.head.getAs[Double]("time") == 12.51 &&
      m.head.getAs[Double]("ref_time") == 12.5)
    val fixed = Loader.applyAlignment(f19, a.mapping, "fort.19")
    assert(fixed.filter(col("sim_id") === "s1")
      .select("time").collect().map(_.getDouble(0)).toSet == Set(0.0, 12.5, 25.0))
  }

  test("duplicate attribute detection flags doubled names") {
    val (_, f82d) = NBody6.readFort82(spark, s"$root/*/fort.82")
    val (_, f83d) = NBody6.readFort83(spark, s"$root/*/fort.83")
    assert(SnapshotAssembler.duplicateAttrNames(
      SnapshotAssembler.buildAttrs(f82d, f83d)).count() == 0)
    // doubling fort.83 rows must trip the check
    val dup = SnapshotAssembler.buildAttrs(f82d, f83d.unionAll(f83d))
    assert(SnapshotAssembler.duplicateAttrNames(dup).count() > 0)
  }

  test("fetchSimRoot discovers the survey convention with attrs and labels") {
    import graft.sources.Loader
    val root = Files.createTempDirectory("nbody6_simroot")
    Files.createDirectories(root.resolve("Rad12/zmet14/M8/0509"))
    Files.createDirectories(root.resolve("Rad4/zmet140/M3/7"))
    Files.createDirectories(root.resolve("Rad4/zmet140/notasim/7"))
    Files.createDirectories(root.resolve("unrelated/dir"))
    val sims = Loader.fetchSimRoot(root)
    assert(sims.length == 2)
    // sorted by init_mass_lv ascending
    assert(sims.map(_.attrs("init_mass_lv")) == Seq(3, 8))
    assert(sims.head.label == "Rad04-zmet0140-M3-0007")
    assert(sims.last.label == "Rad12-zmet0014-M8-0509")
    assert(sims.last.attrs == Map(
      "init_gc_radius" -> 12, "init_metallicity" -> 14,
      "init_mass_lv" -> 8, "init_pos" -> 509))

    import spark.implicits._
    val stats = Seq((0.0, 10L)).toDF("time", "n")
    val withAttrs = Loader.withSimAttrs(stats, sims.head.attrs)
    assert(withAttrs.columns.toSet ==
      Set("time", "n", "init_gc_radius", "init_metallicity",
        "init_mass_lv", "init_pos"))
    assert(withAttrs.collect().head.getAs[Int]("init_mass_lv") == 3)
  }
}
