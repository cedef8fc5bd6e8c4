package graft.pipeline

import graft.functions.Astro
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Assembled snapshot tables (reference: src/nbody6/assembler.py
  * Snapshot(stars, binary_systems, header) — here three flat DataFrames
  * keyed by (sim_id, time), the 100 TB data model of SURVEY §3).
  */
final case class Assembled(stars: DataFrame, binaries: DataFrame, headers: DataFrame)

object Assembled {
  /** Read back tables written by SnapshotStats.writePartitioned — the
    * parquet replacement for the reference's pickle round-trip
    * (snapshot.py:98 to_pickle / :145 from_pickle, SURVEY §6). The
    * scans are plain partitioned-parquet reads, so sim_id predicates
    * prune partitions and time predicates prune row groups; every
    * SnapshotStats/PseudoObserver pass runs on a loaded Assembled
    * exactly as on a freshly assembled one.
    */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Assembled =
    Assembled(
      stars = spark.read.parquet(s"$path/stars"),
      binaries = spark.read.parquet(s"$path/binaries"),
      headers = spark.read.parquet(s"$path/headers"))
}

/** Spark-native snapshot assembly (reference: assembler.py:516
  * _assemble). The reference loops timestamps serially and assembles
  * each snapshot in pandas; here EVERY step is a join/aggregation keyed
  * by (sim_id, time), so one plan assembles every snapshot of every
  * simulation at once — snapshots scale out instead of iterating.
  *
  * Shuffle audit: the three tables form a chain, each later one reading
  * the earlier ones as frames.
  *  - `stars` reads the block text of OUT34, OUT9, fort.82/83 and
  *    densCentre, plus OUT9 and fort.19 for the hierarchy labels, which
  *    come from the labeled systems alone, not from `binaries`.
  *  - `binaries` reads OUT9 and fort.19 for the systems, and the final
  *    `stars` frame for its member lookups and per-snapshot star
  *    statistics.
  *  - `headers` reads densCentre and the OUT34 headers, plus the star
  *    statistics (over `stars`) and `binaries`.
  * So a writer that persists `stars` and then `binaries` computes each
  * table once: Spark's CacheManager swaps the pinned frames into the
  * later plans (SnapshotStats.writePartitioned). All joins/windows key
  * on (sim_id, time [, name]); the tiny per-snapshot tables (density
  * center, half-mass radius, star stats) are broadcast.
  */
object SnapshotAssembler {

  private val KEY = Seq("sim_id", "time")

  /** CoM expansion (reference: assembler.py:81 _build_pos_vel_df):
    * OUT34 rows whose `name` is a regularized-pair center-of-mass are
    * replaced by their two members (same pos/vel); others pass through.
    */
  def expandComPositions(o34d: DataFrame, o9d: DataFrame): DataFrame = {
    val members = o9d.select(
      col("sim_id").as("m_sim_id"), col("time").as("m_time"),
      col("cmName"), explode(array(col("name1"), col("name2"))).as("member"))
    o34d.join(members,
        col("sim_id") === col("m_sim_id") && col("time") === col("m_time") &&
          col("name") === col("cmName"), "left")
      .select(col("sim_id"), col("time"),
        coalesce(col("member"), col("name")).as("name"),
        col("x"), col("y"), col("z"), col("vx"), col("vy"), col("vz"))
  }

  /** Attribute union (reference: assembler.py:110 _build_attr_df):
    * fort.82 component columns melted to rows, deduped with comp1
    * precedence, unioned with fort.83 singles. The survivor must be
    * DETERMINISTIC — dropDuplicates keeps an arbitrary row, so a name
    * appearing in both components with different attribute values would
    * make the stars table nondeterministic run-to-run; the reference
    * keeps the first occurrence, i.e. comp1 (assembler.py:115-123).
    */
  def buildAttrs(f82d: DataFrame, f83d: DataFrame): DataFrame = {
    def comp(i: Int) = f82d.select(
      col("sim_id"), col("time"),
      col(s"name$i").as("name"), col(s"mass$i").as("mass"),
      col(s"zlum$i").as("zlum"), col(s"rad$i").as("rad"),
      col(s"tempe$i").as("tempe"), lit(i).as("comp_priority"))
    val wFirst = Window.partitionBy("sim_id", "time", "name")
      .orderBy("comp_priority")
    comp(1).unionAll(comp(2))
      .withColumn("rn", row_number().over(wFirst))
      .filter(col("rn") === 1)
      .drop("rn", "comp_priority")
      .unionByName(f83d.select(col("sim_id"), col("time"), col("name"),
        col("mass"), col("zlum"), col("rad"), col("tempe")))
  }

  /** Names present in both fort.82/83 melts — the reference raises on
    * these (assembler.py:130); callers check emptiness in strict mode.
    */
  def duplicateAttrNames(attrs: DataFrame): DataFrame =
    attrs.groupBy("sim_id", "time", "name").count().filter(col("count") > 1)

  private def distTo(dc: Column, x: Column, y: Column, z: Column): Column = {
    val dx = x - element_at(dc, 1)
    val dy = y - element_at(dc, 2)
    val dz = z - element_at(dc, 3)
    sqrt(dx * dx + dy * dy + dz * dz)
  }

  /** Half-mass radius per snapshot over the stars within 2 r_tidal
    * (reference: calc/cluster.py:14 — the first distance where the
    * cumulative mass crosses half the total; searchsorted 'left' ==
    * min crossing). `df` needs sim_id, time, name, mass, dist_dc_pc and
    * dist_dc_r_tidal.
    */
  private def halfMassRadius(df: DataFrame): DataFrame = {
    val wCum = Window.partitionBy(KEY.map(col): _*)
      .orderBy("dist_dc_pc", "name").rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(KEY.map(col): _*)
    df.filter(col("dist_dc_r_tidal") <= 2)
      .select(col("sim_id"), col("time"), col("dist_dc_pc"), col("name"), col("mass"))
      .withColumn("cum_mass", sum("mass").over(wCum))
      .withColumn("total_mass", sum("mass").over(wAll))
      .filter(col("cum_mass") >= col("total_mass") / 2)
      .groupBy(KEY.map(col): _*)
      .agg(min("dist_dc_pc").as("r_half_mass"))
  }

  /** Sum and mean of an array's non-null values, added in array order
    * (null when there are none, like SQL sum/avg). An aggregate's sum
    * adds rows in the order the shuffle delivers them, so its low bits
    * change with the partitioning; a fold over a sorted array does not.
    */
  private def orderedSum(xs: Column): Column = {
    val present = filter(xs, _.isNotNull)
    when(size(present) > 0, aggregate(present, lit(0.0), _ + _))
  }
  private def orderedAvg(xs: Column): Column =
    orderedSum(xs) / size(filter(xs, _.isNotNull))

  /** Full assembly. Inputs are the NBody6 reader outputs; snapshots
    * with r_tidal <= 0 (dissolved cluster) are dropped like the
    * reference aborts them (assembler.py:523).
    */
  def assemble(
      o34h: DataFrame, o34d: DataFrame,
      o9d: DataFrame, f82d: DataFrame, f83d: DataFrame, f19d: DataFrame,
      dcH: DataFrame): Assembled = {

    val dc = dcH.filter(col("r_tidal") > 0)
      .select(col("sim_id"), col("time"), col("r_tidal"), col("density_center"))

    // --- binary systems, labeled (OUT9 + fort.19 only) ---------------
    val bins0 = o9d.select(col("sim_id"), col("time"), col("ecc"), col("p"),
        col("mass1"), col("mass2"), col("name1"), col("name2"))
        .withColumn("src", lit("OUT9"))
      .unionByName(f19d.select(col("sim_id"), col("time"), col("ecc"), col("p"),
        col("mass1"), col("mass2"), col("name1"), col("name2"))
        .withColumn("src", lit("FORT19")))
      .withColumn("semi",
        Astro.keplerSemiMajorAxisAu(col("mass1"), col("mass2"), pow(10.0, col("p"))))
      .withColumnRenamed("p", "log_period_days")

    val regMap = o9d.select(
      col("sim_id").as("r_sim_id"), col("time").as("r_time"),
      col("cmName"), array(col("name1"), col("name2")).as("ids"))
    def withIds(df: DataFrame, side: Int): DataFrame =
      df.join(regMap,
          col("sim_id") === col("r_sim_id") && col("time") === col("r_time") &&
            col(s"name$side") === col("cmName"), "left")
        .withColumn(s"obj${side}_ids",
          coalesce(col("ids"), array(col(s"name$side"))))
        .drop("r_sim_id", "r_time", "cmName", "ids")
    val binsIds = withIds(withIds(bins0, 1), 2)

    // hierarchical pair label (reference: assembler.py:260
    // _label_hierarchy): "(a+b)" for groups, plain id for atoms;
    // groups ordered atoms-first then by leading id.
    def groupLabel(ids: Column): Column =
      when(size(ids) === 1, element_at(ids, 1).cast("string"))
        .otherwise(concat(lit("("),
          array_join(transform(sort_array(ids), _.cast("string")), "+"), lit(")")))
    def sortKey(ids: Column): Column =
      struct(when(size(ids) === 1, 0).otherwise(1).as("grp"),
        array_min(ids).as("lead"))
    val labeled = binsIds
      .withColumn("g1", groupLabel(col("obj1_ids")))
      .withColumn("g2", groupLabel(col("obj2_ids")))
      .withColumn("pair",
        when(sortKey(col("obj1_ids")) <= sortKey(col("obj2_ids")),
          concat(col("g1"), lit("+"), col("g2")))
          .otherwise(concat(col("g2"), lit("+"), col("g1"))))
      .drop("g1", "g2")
      .withColumnRenamed("name1", "obj1_name")
      .withColumnRenamed("name2", "obj2_name")

    // --- stars -----------------------------------------------------
    val posvel = expandComPositions(o34d, o9d)
    val attrs = buildAttrs(f82d, f83d)
    val stars0 = posvel.join(attrs, KEY :+ "name")
      .join(broadcast(dc), KEY)
      .withColumn("dist_dc_pc",
        distTo(col("density_center"), col("x"), col("y"), col("z")))
      .withColumn("dist_dc_r_tidal", col("dist_dc_pc") / col("r_tidal"))
      .withColumn("is_within_r_tidal", col("dist_dc_pc") <= col("r_tidal"))
      .withColumn("is_within_2x_r_tidal", col("dist_dc_pc") <= col("r_tidal") * 2)

    val stars1 = stars0.join(broadcast(halfMassRadius(stars0)), KEY)
      .withColumn("dist_dc_r_half_mass", col("dist_dc_pc") / col("r_half_mass"))
      .withColumnRenamed("tempe", "log_T_eff_K")
      .withColumnRenamed("zlum", "log_L_L_sol")
      .withColumnRenamed("rad", "log_R_R_sol")

    // star hierarchy labels (reference: assembler.py:589). Every
    // labeled system of a snapshot that has stars is in `binaries`, so
    // labeling from `labeled` gives the same hierarchy without making
    // `stars` depend on `binaries`.
    val starPairs = labeled.select(col("sim_id"), col("time"), col("pair"),
      explode(concat(col("obj1_ids"), col("obj2_ids"))).as("name"))
    val hier = starPairs.groupBy(KEY.map(col) :+ col("name"): _*)
      .agg(collect_set(col("pair")).as("pairs"))
    val stars = stars1.join(hier, KEY :+ "name", "left")
      .withColumn("hier_all",
        array_union(coalesce(col("pairs"), array()),
          array(col("name").cast("string"))))
      // sorted by (length, lex) like the reference sort key
      .withColumn("hierarchy",
        transform(sort_array(transform(col("hier_all"),
          p => struct(length(p).as("l"), p.as("p")))), _.getField("p")))
      .withColumn("is_binary", col("pairs").isNotNull)
      .withColumn("is_multi_system", size(col("hierarchy")) > 2)
      .select(col("sim_id"), col("time"), col("name"), col("is_binary"),
        col("is_multi_system"), col("hierarchy"),
        col("x"), col("y"), col("z"), col("vx"), col("vy"), col("vz"),
        col("mass"), col("log_T_eff_K"), col("log_L_L_sol"), col("log_R_R_sol"),
        col("dist_dc_pc"), col("dist_dc_r_tidal"), col("dist_dc_r_half_mass"),
        col("is_within_r_tidal"), col("is_within_2x_r_tidal"))

    // per-snapshot star statistics over the final `stars` frame
    val starStats = stars.groupBy(KEY.map(col): _*).agg(
        sum(when(col("dist_dc_r_tidal") <= 1, 1L).otherwise(0L)).as("n_stars_within_r_tidal"),
        sum(when(col("dist_dc_r_tidal") <= 2, 1L).otherwise(0L)).as("n_stars_within_2x_r_tidal"),
        round(sum("mass"), 4).as("total_mass"),
        round(sum(when(col("dist_dc_r_tidal") <= 1, col("mass")).otherwise(0.0)), 4)
          .as("total_mass_within_r_tidal"),
        round(sum(when(col("dist_dc_r_tidal") <= 2, col("mass")).otherwise(0.0)), 4)
          .as("total_mass_within_2x_r_tidal"))
      .join(broadcast(dc.select(col("sim_id"), col("time"),
        round(col("r_tidal"), 4).as("r_tidal"))), KEY)
      .join(broadcast(halfMassRadius(stars).select(col("sim_id"), col("time"),
        round(col("r_half_mass"), 4).as("r_half_mass"))), KEY)
      .select(col("sim_id"), col("time"), col("r_tidal"), col("r_half_mass"),
        col("n_stars_within_r_tidal"), col("n_stars_within_2x_r_tidal"),
        col("total_mass"), col("total_mass_within_r_tidal"),
        col("total_mass_within_2x_r_tidal"))

    // --- binaries --------------------------------------------------
    // per-member lookups in one explode + one aggregation (reference
    // does per-row dict lookups: assembler.py:289,360-418)
    val binKey = KEY ++ Seq("obj1_name", "obj2_name", "src")
    val membersE = labeled.select(
      (binKey.map(col) :+ size(col("obj1_ids")).as("n1") :+
        posexplode(concat(col("obj1_ids"), col("obj2_ids"))).as(Seq("mpos", "member"))): _*)
    val starLkp = stars.select(col("sim_id"), col("time"), col("name").as("member"),
      col("mass").as("m_mass"), col("dist_dc_pc").as("m_dist"),
      col("dist_dc_r_tidal").as("m_dist_rt"),
      col("dist_dc_r_half_mass").as("m_dist_rhm"))
    // members in mpos order: every sum and mean below folds this list
    def side1(m: Column): Column = m.getField("side1")
    def field(name: String, keep: Column => Column = _ => lit(true)): Column =
      transform(filter(col("ms"), keep), _.getField(name))
    val memberAgg = membersE
      .join(starLkp, KEY :+ "member", "left")
      .groupBy(binKey.map(col): _*)
      .agg(
        sort_array(collect_list(struct(col("mpos"), (col("mpos") < col("n1")).as("side1"),
          col("m_mass"), col("m_dist"), col("m_dist_rt"), col("m_dist_rhm")))).as("ms"),
        // all present members inside radius; vacuously true when none
        // resolved (reference: all() over dict hits, assembler.py:402)
        coalesce(min(when(col("m_dist_rt").isNotNull,
          (col("m_dist_rt") <= 1).cast("int"))) === 1, lit(true)).as("is_within_r_tidal"),
        coalesce(min(when(col("m_dist_rt").isNotNull,
          (col("m_dist_rt") <= 2).cast("int"))) === 1, lit(true)).as("is_within_2x_r_tidal"))
      .select((binKey.map(col) ++ Seq(
        orderedSum(field("m_mass", side1)).as("obj1_total_mass"),
        orderedSum(field("m_mass", m => !side1(m))).as("obj2_total_mass"),
        orderedAvg(field("m_dist", side1)).as("obj1_dist_dc_pc"),
        orderedAvg(field("m_dist", m => !side1(m))).as("obj2_dist_dc_pc"),
        orderedAvg(field("m_dist")).as("dist_dc_pc"),
        orderedAvg(field("m_dist_rt")).as("dist_dc_r_tidal"),
        orderedAvg(field("m_dist_rhm")).as("dist_dc_r_half_mass"),
        col("is_within_r_tidal"), col("is_within_2x_r_tidal"),
        filter(field("m_mass", side1), _.isNotNull).as("obj1_masses"),
        filter(field("m_mass", m => !side1(m)), _.isNotNull).as("obj2_masses"))): _*)

    val binsStats = labeled.join(memberAgg, binKey)
      .join(broadcast(starStats.select(col("sim_id"), col("time"),
        col("r_half_mass").as("hm"), col("n_stars_within_2x_r_tidal").as("n2rt"))), KEY)
      .withColumn("is_multi_system",
        size(col("obj1_ids")) > 1 || size(col("obj2_ids")) > 1)
      .withColumn("is_wide_binary_system", Astro.isWideBinary(col("semi")))
      .withColumn("is_hard_binary_system",
        Astro.isHardBinary(col("semi"), col("hm"), col("n2rt")))
      .drop("hm", "n2rt")

    // top-level = this system's full id set is not a component of any
    // other system (reference: assembler.py:438-451); the id sets come
    // from `labeled`, so `binsStats` is not planned twice
    val compSet = labeled.select(col("sim_id"), col("time"),
        explode(array(sort_array(col("obj1_ids")), sort_array(col("obj2_ids"))))
          .as("comp"))
      .distinct()
      .withColumn("is_component", lit(true))
    val binaries = binsStats
      .withColumn("comp", sort_array(concat(col("obj1_ids"), col("obj2_ids"))))
      .join(compSet, KEY :+ "comp", "left")
      .withColumn("is_top_level", col("is_component").isNull)
      .drop("comp", "is_component")

    // --- headers ---------------------------------------------------
    val binStats = binaries.groupBy(KEY.map(col): _*).agg(
      count(lit(1)).as("n_binary_system"),
      sum(col("is_multi_system").cast("long")).as("n_multi_system"),
      sum(col("is_hard_binary_system").cast("long")).as("n_hard_binary_system"),
      sum(col("is_wide_binary_system").cast("long")).as("n_wide_binary_system"),
      sum(col("is_within_r_tidal").cast("long")).as("n_binary_system_within_r_tidal"),
      sum(col("is_within_2x_r_tidal").cast("long")).as("n_binary_system_within_2x_r_tidal"))

    def round4vec(c: Column): Column = transform(c, x => round(x, 4))
    val headers = dc.select(col("sim_id"), col("time"), col("density_center"))
      .join(starStats, KEY)
      .join(binStats, KEY, "left")
      .na.fill(0L, Seq("n_binary_system", "n_multi_system", "n_hard_binary_system",
        "n_wide_binary_system", "n_binary_system_within_r_tidal",
        "n_binary_system_within_2x_r_tidal"))
      .join(o34h.select(col("sim_id"), col("time"),
        round(col("rtide"), 4).as("r_tidal_OUT34"),
        round4vec(col("rd")).as("density_center_OUT34"),
        round4vec(col("rcm")).as("mass_center_OUT34"),
        transform(col("rg"), x => round(x * col("rbar"), 4)).as("galactic_pos_OUT34"),
        transform(col("vg"), x => round(x * col("vstar"), 4)).as("galactic_vel_OUT34"),
        col("nzero"), col("plummer_mass").as("plummer_mass_OUT34")), KEY)

    Assembled(stars, binaries, headers)
  }
}
