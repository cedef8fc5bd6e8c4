package graft.pipeline

import graft.functions.Astro
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Observed snapshot tables: stars carry offset-frame observables and
  * an is_unresolved_binary flag; binaries carry resolvability.
  */
final case class Observed(stars: DataFrame, binaries: DataFrame)

/** Spark-native pseudo-observation (reference: src/nbody6/observer.py
  * PseudoObserver._observe). The reference loops snapshots and merges
  * unresolved systems with recursive dict lookups; here each step is a
  * join/aggregation keyed by (sim_id, time), so one plan observes every
  * snapshot at once. The recursion is bounded (component sides hold at
  * most one regularized pair, observer.py:127), so it unrolls into two
  * deterministic merge levels.
  *
  * Resolvability: semi[AU] <= dist_obs[pc] * 0.6 is an angular cut —
  * separation/distance in those units IS arcsec, so this is a 0.6"
  * resolution limit (observer.py:22 UNRESOLVED_SEP_FACTOR).
  */
object PseudoObserver {

  val UNRESOLVED_SEP_FACTOR = 0.6
  private val KEY = Seq("sim_id", "time")

  private val ATTR = Seq("x", "y", "z", "vx", "vy", "vz", "mass",
    "log_L_L_sol", "log_R_R_sol")

  /** Photocentric merge of two component attr structs (reference:
    * observer.py:42 _merge_unresolved_binaries).
    */
  private def mergePair(s1: Column, s2: Column): Column = {
    val l1 = pow(lit(10.0), s1.getField("log_L_L_sol"))
    val l2 = pow(lit(10.0), s2.getField("log_L_L_sol"))
    def photo(f: String): Column =
      Astro.photocentric(l1, l2, s1.getField(f), s2.getField(f))
    val logL = Astro.logAdd10(s1.getField("log_L_L_sol"), s2.getField("log_L_L_sol"))
    val logR = Astro.logEquivalentRadius(s1.getField("log_R_R_sol"), s2.getField("log_R_R_sol"))
    struct(
      photo("x").as("x"), photo("y").as("y"), photo("z").as("z"),
      photo("vx").as("vx"), photo("vy").as("vy"), photo("vz").as("vz"),
      (s1.getField("mass") + s2.getField("mass")).as("mass"),
      logL.as("log_L_L_sol"), logR.as("log_R_R_sol"))
  }

  /** Observe every assembled snapshot from one observer coordinate.
    *
    * Plan size: each reference to `assembled.stars` or `.binaries`
    * embeds that frame's whole plan, which for freshly assembled (not
    * loaded) tables is the assembly itself. So the unresolved-system
    * steps read the observed binaries once, through a per-snapshot
    * window and one member lookup, instead of joining them with
    * themselves.
    */
  def observe(assembled: Assembled, coord: (Double, Double, Double)): Observed = {
    val starsW = assembled.stars.filter(col("is_within_2x_r_tidal"))
    val binsW = assembled.binaries.filter(col("is_within_2x_r_tidal"))

    // hierarchy restricted to pairs that survived the 2rt cut
    // (reference: observer.py:186-191)
    val pairSets = binsW.groupBy(KEY.map(col): _*)
      .agg(collect_set(col("pair")).as("alive_pairs"))
    val starsH = starsW.join(broadcast(pairSets), KEY, "left")
      .withColumn("hierarchy",
        filter(col("hierarchy"), p =>
          !p.contains("+") ||
            array_contains(coalesce(col("alive_pairs"), array()), p)))
      .withColumn("is_binary", size(col("hierarchy")) > 1)
      .withColumn("is_multi_system", size(col("hierarchy")) > 2)
      .drop("alive_pairs")

    val obs = OffsetFrame.project(starsH, coord)

    // observed distance + resolvability per system; a member's distance
    // depends on its position only, not on the hierarchy labels
    val memberObs = binsW
      .select((KEY.map(col) :+ col("pair") :+
        explode(concat(col("obj1_ids"), col("obj2_ids"))).as("name")): _*)
      .join(OffsetFrame.project(starsW, coord)
          .select((KEY.map(col) :+ col("name") :+ col("dist_pc")): _*),
        KEY :+ "name")
      .groupBy((KEY :+ "pair").map(col): _*)
      .agg(avg(col("dist_pc")).as("dist_obs_pc"))
    val binaries = binsW.join(memberObs, KEY :+ "pair")
      .withColumn("is_unresolved_binary_system",
        col("semi") <= col("dist_obs_pc") * UNRESOLVED_SEP_FACTOR)

    // single stars pass through; members of resolved systems pass
    // through flagged as binaries
    val resolvedNames = binaries.filter(!col("is_unresolved_binary_system"))
      .select((KEY.map(col) :+
        explode(concat(col("obj1_ids"), col("obj2_ids"))).as("name")): _*)
      .distinct()
    val singles = obs.filter(!col("is_binary"))
      .withColumn("is_unresolved_binary", lit(false))
    val resolvedStars = obs.join(resolvedNames, KEY :+ "name")
      .withColumn("is_binary", lit(true))
      .withColumn("is_unresolved_binary", lit(false))

    // ---- unresolved systems -> merged photocentric objects ---------
    def subsetOf(a: Column, b: Column): Column = size(array_except(a, b)) === 0
    // `others`: every unresolved system of the snapshot, for the two
    // subset tests below
    val unres = binaries.filter(col("is_unresolved_binary_system"))
      .withColumn("members", sort_array(concat(col("obj1_ids"), col("obj2_ids"))))
      .withColumn("others", collect_list(struct(col("pair").as("p"),
        col("members").as("ms"))).over(Window.partitionBy(KEY.map(col): _*)))

    // top-level = member set not a strict subset of another unresolved
    // system's member set (reference: observer.py:103); its hierarchy
    // gets every unresolved pair whose members are a subset of its own
    // (reference: observer.py:134-146)
    val topUnres = unres
      .filter(!exists(col("others"), o =>
        subsetOf(col("members"), o.getField("ms")) &&
          size(col("members")) < size(o.getField("ms"))))
      .withColumn("sub_pairs", array_distinct(transform(
        filter(col("others"), o => subsetOf(o.getField("ms"), col("members"))),
        _.getField("p"))))

    // component-side attrs: atoms look up the star; regularized pairs
    // merge their two members first (bounded recursion level 1). One
    // lookup serves both sides; a side with a member not found, or with
    // more than two members, drops its system. The side merge and the
    // system merge sit on two aggregations, so a filter on the merged
    // object's columns inlines at most one merge level.
    val attrStruct = struct(ATTR.map(col): _*).as("attrs")
    val atomAttrs = obs.select((KEY.map(col) :+ col("name") :+ attrStruct): _*)
    val sysCols = KEY ++ Seq("pair", "members", "sub_pairs")
    def attrsAt(arr: String, i: Int): Column = get(col(arr), lit(i)).getField("attrs")
    val sides = topUnres
      .select((sysCols.map(col) :+
        posexplode(array(col("obj1_ids"), col("obj2_ids"))).as(Seq("side", "ids"))): _*)
      .select((sysCols.map(col) ++ Seq(col("side"), size(col("ids")).as("n"),
        posexplode(col("ids")).as(Seq("pos", "name")))): _*)
      .join(atomAttrs, KEY :+ "name")
      .groupBy((sysCols ++ Seq("side", "n")).map(col): _*)
      .agg(sort_array(collect_list(struct(col("pos"), col("attrs")))).as("a"))
      .filter(size(col("a")) === col("n") && col("n") <= 2)
      .withColumn("attrs", when(col("n") === 1, attrsAt("a", 0))
        .otherwise(mergePair(attrsAt("a", 0), attrsAt("a", 1))))
    val withSides = sides
      .groupBy(sysCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col("side"), col("attrs")))).as("s"))
      .filter(size(col("s")) === 2)
      .withColumn("m", mergePair(attrsAt("s", 0), attrsAt("s", 1)))

    val hdr = assembled.headers.select((KEY.map(col) :+ col("density_center") :+
      col("r_tidal") :+ col("r_half_mass")): _*)
    val mergedStars0 = withSides
      .join(broadcast(hdr), KEY)
      .select((KEY.map(col) ++ Seq(col("pair"), col("members"), col("sub_pairs"),
        col("m"), col("density_center"), col("r_tidal"), col("r_half_mass"))): _*)

    val dcDist = {
      val dx = col("m.x") - element_at(col("density_center"), 1)
      val dy = col("m.y") - element_at(col("density_center"), 2)
      val dz = col("m.z") - element_at(col("density_center"), 3)
      sqrt(dx * dx + dy * dy + dz * dz)
    }
    val mergedFlat = mergedStars0
      .withColumn("hierarchy",
        transform(sort_array(transform(
          array_union(transform(col("members"), _.cast("string")), col("sub_pairs")),
          p => struct(length(p).as("l"), p.as("p")))), _.getField("p")))
      .withColumn("is_multi_system", size(col("members")) > 2)
      .withColumn("dist_dc_pc", dcDist)
      .select((KEY.map(col) ++ Seq(col("pair").as("obj_label"),
        col("hierarchy"), col("is_multi_system")) ++
        ATTR.map(f => col(s"m.$f").as(f)) ++ Seq(
        Astro.logEffectiveTemperatureK(col("m.log_L_L_sol"), col("m.log_R_R_sol"))
          .as("log_T_eff_K"),
        col("dist_dc_pc"),
        (col("dist_dc_pc") / col("r_tidal")).as("dist_dc_r_tidal"),
        (col("dist_dc_pc") / col("r_half_mass")).as("dist_dc_r_half_mass"),
        (col("dist_dc_pc") <= col("r_tidal")).as("is_within_r_tidal"),
        (col("dist_dc_pc") <= col("r_tidal") * 2).as("is_within_2x_r_tidal"))): _*)
    val mergedStars = OffsetFrame.project(mergedFlat, coord)
      .withColumn("is_binary", lit(true))
      .withColumn("is_unresolved_binary", lit(true))
      .withColumn("name", lit(null).cast("long"))

    val obsCols = Seq("sim_id", "time", "name", "obj_label", "is_binary",
      "is_multi_system", "is_unresolved_binary", "hierarchy") ++ ATTR ++
      Seq("log_T_eff_K", "dist_dc_pc", "dist_dc_r_tidal", "dist_dc_r_half_mass",
        "is_within_r_tidal", "is_within_2x_r_tidal",
        "lon_deg", "lat_deg", "pm_lon_coslat_mas_yr", "pm_lat_mas_yr",
        "dist_pc", "rv_kms")
    def shape(df: DataFrame): DataFrame = {
      val withLabel =
        if (df.columns.contains("obj_label")) df
        else df.withColumn("obj_label", col("name").cast("string"))
      withLabel.select(obsCols.map(col): _*)
    }

    Observed(
      stars = shape(singles).unionByName(shape(resolvedStars))
        .unionByName(shape(mergedStars)),
      binaries = binaries)
  }

  /** Observe every snapshot from EVERY coordinate — the reference's
    * SnapshotSeriesCollection layer (collection.py:84-126
    * iter_by_coordinate; observer.py observe(coordinates)). Each
    * coordinate's observation is tagged with the SURVEY §3 partition
    * column `obs_coord` plus the reference's galactic_x/y/z triple
    * (collection.py:207-210) and unioned into one table, so downstream
    * stats group by (obs_coord, sim_id, time) in a single pass instead
    * of looping coordinates. Scale note: coordinates multiply the data
    * N_coords times exactly like the reference's per-coordinate series
    * dict — but here each coordinate's branch shares the one assembled
    * scan and the union is partition-parallel.
    */
  def observeAll(assembled: Assembled,
                 coords: Seq[(Double, Double, Double)]): Observed = {
    require(coords.nonEmpty, "observeAll needs at least one coordinate")
    def tag(df: DataFrame, c: (Double, Double, Double)): DataFrame = df
      .withColumn("obs_coord", lit(s"${c._1},${c._2},${c._3}"))
      .withColumn("galactic_x", lit(c._1))
      .withColumn("galactic_y", lit(c._2))
      .withColumn("galactic_z", lit(c._3))
    coords.map { c =>
      val o = observe(assembled, c)
      Observed(tag(o.stars, c), tag(o.binaries, c))
    }.reduce((a, b) => Observed(
      a.stars.unionByName(b.stars), a.binaries.unionByName(b.binaries)))
  }
}
