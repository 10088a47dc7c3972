package graft

import graft.pipeline.{SpatialJoin, SynthGeo}
import graft.stats.{Breaks, Lisa, Rates, SpatialLag}
import graft.weights.{ContiguityWeights, DistanceWeights, KnnWeights}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2), with DuckDB-runnable oracle SQL over the same parquet
  * tables. Spatial inputs are derived deterministically from integer keys
  * (see SynthGeo) so every derivation is replicable in ANSI SQL.
  */
object SparkEntry {
  import OracleSql._

  /** Flagship: geocode → tile → PIP spatial join → kNN weights → local
    * Moran (999 perms, seed 123456789) on sf0.001 — the BASELINE.json
    * north-rule pipeline in miniature.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val pts = SynthGeo.customerPoints(spark, dir)
    val polys = SynthGeo.partPolygons(spark, dir).withColumnRenamed("gid", "pid")
    val joined = SpatialJoin.pip(pts, polys, SynthGeo.CellW)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
    val vals = SynthGeo.customerValues(spark, dir)
    Lisa.localMoran(vals, w).join(joined, Seq("gid"), "left")
  }

  /** The reference persists weights once and reuses them for every
    * statistic (`postgeoda/notes.md:104-141`); the Bench/Verify analogue
    * is a per-dir memoized cached weights table shared by all LISA
    * queries in the session.
    */
  private val knnCache = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def knnWeights4(s: SparkSession, dir: String): DataFrame =
    knnCache.computeIfAbsent(dir, _ =>
      KnnWeights.build(SynthGeo.customerPoints(s, dir),
        KnnWeights.Conf(k = 4, cellSize = Some(4.0))).cache())

  /** Directed (gid, nbr) kNN(4) edge list derived from the memoized
    * weights table — the edge SET is identical to
    * `KnnWeights.pairs(customerPoints, Conf(k=4, cellSize=4))` (nbrs
    * arrays come from the same build), so consumers that only read the
    * graph shape (global Moran/Geary/join-count, the declarative Moran
    * statistic) reuse the session weights exactly like the LISA family
    * instead of re-running the kNN build per query.
    */
  private def knnPairs4(s: SparkSession, dir: String): DataFrame =
    knnWeights4(s, dir).select(col("gid"), explode(col("nbrs")).as("nbr"))

  private val queenCache = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def queenWeights(s: SparkSession, dir: String): DataFrame =
    queenCache.computeIfAbsent(dir, _ =>
      ContiguityWeights.build(SynthGeo.partPolygons(s, dir),
        ContiguityWeights.Conf(queen = true)).cache())

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational plumbing (scan/filter/agg/join/window/sort/top-k) ----
    "q01_pricing_agg" -> ((s, dir) => {
      SynthGeo.table(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q02_join_agg" -> ((s, dir) => {
      val o = SynthGeo.table(s, dir, "orders")
      val c = SynthGeo.table(s, dir, "customer")
      val n = SynthGeo.table(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum("o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("n_name")
    }),
    "q03_window_top_order" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      SynthGeo.table(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_custkey")
    }),
    "q04_topk_orders" -> ((s, dir) => {
      SynthGeo.table(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_totalprice")
    }),
    "q05_anti_join" -> ((s, dir) => {
      val c = SynthGeo.table(s, dir, "customer")
      val o = SynthGeo.table(s, dir, "orders")
        .filter(col("o_totalprice") > 200000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey").orderBy("c_custkey")
    }),

    // ---- tiling / weights (SURVEY §2.1 W1-W7, A1) ----
    "q10_points_cells" -> ((s, dir) => {
      SynthGeo.customerPoints(s, dir)
        .withColumn("cell",
          graft.core.Tiling.cellIdCol(col("x"), col("y"), 4.0))
        .orderBy("gid")
    }),
    "q11_knn_pairs" -> ((s, dir) => {
      KnnWeights.pairs(SynthGeo.customerPoints(s, dir),
          KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
        .select(col("gid"), col("nbr"), col("rk").cast("long").as("rk"))
        .orderBy("gid", "rk")
    }),
    "q12_distband_pairs" -> ((s, dir) => {
      // materialize the band join once before the declared ordering —
      // the range sort otherwise SAMPLES its child, re-running the
      // cell join + distance filter twice per run (r8 probe: join-only
      // 0.7 s vs 2.3 s with the sort; same fix as q108)
      DistanceWeights.pairs(SynthGeo.customerPoints(s, dir),
          DistanceWeights.Conf(threshold = 8.0))
        .select(col("gid"), col("nbr"))
        .localCheckpoint(true)
        .orderBy("gid", "nbr")
    }),
    "q13_min_dist_threshold" -> ((s, dir) => {
      val v = DistanceWeights.minDistThreshold(SynthGeo.customerPoints(s, dir))
      import s.implicits._
      Seq(v).toDF("mdt")
    }),
    "q14_spatial_lag" -> ((s, dir) => {
      SpatialLag.lag(SynthGeo.customerValues(s, dir), knnWeights4(s, dir))
        .select(col("gid"), round(col("lag"), 4).as("lag"))
        .orderBy("gid")
    }),
    "q15_moran_stat" -> ((s, dir) => {
      // declarative local Moran statistic (no permutations): z via global
      // aggregates, lag via neighbor join — mirrors the oracle exactly
      val vals = SynthGeo.customerValues(s, dir)
      val mo = vals.agg(avg("value").as("m"), stddev_samp("value").as("sd"))
      val z = vals.crossJoin(broadcast(mo))
        .select(col("gid"), ((col("value") - col("m")) / col("sd")).as("z"))
      val prs = knnPairs4(s, dir)
      val lag = prs.join(z.select(col("gid").as("nbr"), col("z").as("zn")),
          Seq("nbr"))
        .groupBy("gid").agg(avg("zn").as("lag"))
      z.join(lag, Seq("gid"))
        .select(col("gid"), round(col("z") * col("lag"), 4).as("moran_i"))
        .orderBy("gid")
    }),
    "q16_queen_pairs" -> ((s, dir) => {
      ContiguityWeights.adjacency(SynthGeo.partPolygons(s, dir),
          ContiguityWeights.Conf(queen = true))
        .orderBy("gid", "nbr")
    }),
    "q91_global_moran" -> ((s, dir) => {
      // global Moran's I with Cliff-Ord analytical inference (normality
      // + randomization moments) over the kNN(4) graph — the scalar
      // companion of the q30 local map; closed-form, no permutation
      // passes over the edge list
      val vals = SynthGeo.customerValues(s, dir)
      val prs = knnPairs4(s, dir)
      graft.stats.GlobalStats.moran(vals, prs).select(
        round(col("i"), 6).as("i"), round(col("e_i"), 6).as("e_i"),
        round(col("var_norm"), 8).as("var_norm"),
        round(col("z_norm"), 6).as("z_norm"),
        round(col("var_rand"), 8).as("var_rand"),
        round(col("z_rand"), 6).as("z_rand"))
    }),
    "q92_global_geary" -> ((s, dir) => {
      val vals = SynthGeo.customerValues(s, dir)
      val prs = knnPairs4(s, dir)
      graft.stats.GlobalStats.geary(vals, prs).select(
        round(col("c"), 6).as("c"), col("e_c"),
        round(col("var_norm"), 8).as("var_norm"),
        round(col("z_norm"), 6).as("z_norm"),
        round(col("var_rand"), 8).as("var_rand"),
        round(col("z_rand"), 6).as("z_rand"))
    }),
    "q98_global_joincount" -> ((s, dir) => {
      // global BB join count with nonfree-sampling analytical moments —
      // completes the GeoDa global panel (Moran, Geary, join count)
      val prs = knnPairs4(s, dir)
      graft.stats.GlobalStats.joinCount(binaryVar(s, dir), prs).select(
        round(col("bb"), 6).as("bb"), round(col("e_bb"), 6).as("e_bb"),
        round(col("var_rand"), 8).as("var_rand"),
        round(col("z_rand"), 6).as("z_rand"))
    }),
    "q89_weights_summary" -> ((s, dir) => {
      // GeoDa Weights-Manager connectivity panel over the queen graph:
      // n, edges, degree min/max/mean/median, % non-zero, islands.
      // Edge list derived from the session-memoized queen weights (the
      // same reuse pattern as knnPairs4): exploding the nbrs arrays
      // yields exactly adjacency()'s pair set (isolates' empty arrays
      // vanish; the summary's left join re-admits them at degree 0)
      val polys = SynthGeo.partPolygons(s, dir)
      graft.weights.WeightsSummary.summary(
        queenWeights(s, dir).select(col("gid"),
          explode(col("nbrs")).as("nbr")),
        polys)
    }),
    "q17_rook_pairs" -> ((s, dir) => {
      ContiguityWeights.adjacency(SynthGeo.partPolygons(s, dir),
          ContiguityWeights.Conf(queen = false))
        .orderBy("gid", "nbr")
    }),
    "q18_queen_order2" -> ((s, dir) => {
      ContiguityWeights.orderedAdjacency(SynthGeo.partPolygons(s, dir),
          ContiguityWeights.Conf(queen = true, order = 2))
        .orderBy("gid", "nbr")
    }),
    "q11k_kernel_knn" -> ((s, dir) => {
      // W5 kernel kNN (triangular, adaptive bandwidth = kth distance),
      // incl. the diagonal self entry (weight 1.0 by default)
      KnnWeights.build(SynthGeo.customerPoints(s, dir),
          KnnWeights.Conf(k = 4, cellSize = Some(4.0),
            kernel = Some("triangular")))
        .select(col("gid"), posexplode(arrays_zip(col("nbrs"), col("wts"))))
        .select(col("gid"), col("col.nbrs").as("nbr"),
          round(col("col.wts"), 9).as("w"))
        .orderBy("gid", "nbr")
    }),
    "q12k_kernel_distband" -> ((s, dir) => {
      // W7 kernel distance-band (epanechnikov), diagonal included
      graft.weights.DistanceWeights.build(SynthGeo.customerPoints(s, dir),
          graft.weights.DistanceWeights.Conf(threshold = 8.0,
            kernel = Some("epanechnikov")))
        .select(col("gid"), posexplode(arrays_zip(col("nbrs"), col("wts"))))
        .select(col("gid"), col("col.nbrs").as("nbr"),
          round(col("col.wts"), 9).as("w"))
        .orderBy("gid", "nbr")
    }),
    "q43_knn_sub" -> ((s, dir) => {
      // W4 knn_weights_sub: results for the gid slice only, all points
      // candidates (weights_knn.c:213-369 sharding semantics)
      KnnWeights.buildSub(SynthGeo.customerPoints(s, dir),
          KnnWeights.Conf(k = 4, cellSize = Some(4.0)),
          startGid = 100L, endGid = 200L)
        .select(col("gid"), posexplode(col("nbrs")))
        .select(col("gid"), col("col").as("nbr"),
          (col("pos") + 1).cast("long").as("rk"))
        .orderBy("gid", "rk")
    }),
    "q19_pip_join" -> ((s, dir) => {
      SpatialJoin.pip(SynthGeo.customerPoints(s, dir),
          SynthGeo.partPolygons(s, dir).withColumnRenamed("gid", "pid"),
          SynthGeo.CellW)
        .orderBy("gid", "pid")
    }),
    // same join, forced onto the partitioned path with an explicit
    // 8-way shuffle salt (north-rule skew handling) — must be
    // result-identical to q19's broadcast plan
    "q19s_pip_salted" -> ((s, dir) => {
      SpatialJoin.pip(SynthGeo.customerPoints(s, dir),
          SynthGeo.partPolygons(s, dir).withColumnRenamed("gid", "pid"),
          SynthGeo.CellW, broadcastLimitBytes = 0L, nSalt = 8)
        .orderBy("gid", "pid")
    }),

    // ---- rates / smoothing (R1-R5) ----
    "q20_excess_risk" -> ((s, dir) => {
      Rates.excessRisk(SynthGeo.customerRates(s, dir)).orderBy("gid")
    }),
    "q21_eb_rate" -> ((s, dir) => {
      Rates.ebRate(SynthGeo.customerRates(s, dir))
        .select(col("gid"), round(col("ebrate"), 6).as("ebrate"))
        .orderBy("gid")
    }),
    "q102_fdr_significance" -> ((s, dir) => {
      // GeoDa's significance filter: Benjamini-Hochberg FDR relabeling
      // over a minted (SQL-replayable) p surface — the bucketed global
      // ranking must reproduce the naive window's cutoff exactly
      val base = SynthGeo.customerValues(s, dir).select(col("gid"),
        (((col("gid") * 13) % 997).cast("double") / 997.0).as("p"),
        (col("gid") % 5).cast("double").as("c"))
      graft.stats.Significance.adjust(base, alpha = 0.05)
        .orderBy("gid")
    }),
    "q100_local_moran_ebrate" -> ((s, dir) => {
      // GeoDa's "Local Moran with EB Rate" workflow: empirical-Bayes
      // rate smoothing feeding the LISA — operator composition, rate
      // rounded to 6 before standardization so both engines z-score
      // identical inputs
      val eb = Rates.ebRate(SynthGeo.customerRates(s, dir))
        .select(col("gid"), round(col("ebrate"), 6).as("value"))
      Lisa.localMoran(eb, knnWeights4(s, dir))
        .select(col("gid"), round(col("stat"), 4).as("moran_eb"))
        .orderBy("gid")
    }),
    "q101_differential_moran" -> ((s, dir) => {
      // GeoDa's differential local Moran: per-location change of the
      // event-value total between the two halves of January (signed
      // sum in one aggregate), locations minted from user_id, then the
      // LISA over the change variable
      val cust = SynthGeo.customerValues(s, dir).select(col("gid"))
      val nCust = cust.count()
      val diff = SynthGeo.table(s, dir, "events")
        .select((col("user_id") % nCust + 1).as("gid"),
          when(unix_timestamp(col("ts")) < 1705363200L, -col("value"))
            .otherwise(col("value")).as("sv"))
        .groupBy("gid").agg(round(sum(col("sv")), 6).as("d"))
      val vals = cust.join(diff, Seq("gid"), "left")
        .select(col("gid"), coalesce(col("d"), lit(0.0)).as("value"))
      Lisa.localMoran(vals, knnWeights4(s, dir))
        .select(col("gid"), round(col("stat"), 4).as("diff_moran"))
        .orderBy("gid")
    }),
    "q22_spatial_rate" -> ((s, dir) => {
      Rates.spatialRate(SynthGeo.customerRates(s, dir), knnWeights4(s, dir))
        .orderBy("gid")
    }),
    "q23_spatial_eb" -> ((s, dir) => {
      Rates.spatialEb(SynthGeo.customerRates(s, dir), knnWeights4(s, dir))
        .select(col("gid"), round(col("sebrate"), 6).as("sebrate"))
        .orderBy("gid")
    }),

    // ---- breaks (B1-B6) ----
    "q24_hinge15_breaks" -> ((s, dir) => breaksDf(s,
      Breaks.hingeBreaks(SynthGeo.customerValues(s, dir), 1.5))),
    "q24b_hinge30_breaks" -> ((s, dir) => breaksDf(s,
      Breaks.hingeBreaks(SynthGeo.customerValues(s, dir), 3.0))),
    "q25_stddev_breaks" -> ((s, dir) => breaksDf(s,
      Breaks.stddevBreaks(SynthGeo.customerValues(s, dir)))),
    "q26_quantile_breaks" -> ((s, dir) => breaksDf(s,
      Breaks.quantileBreaks(SynthGeo.customerValues(s, dir), 6))),
    "q26b_percentile_breaks" -> ((s, dir) => breaksDf(s,
      Breaks.percentileBreaks(SynthGeo.customerValues(s, dir)))),
    "q96_equal_breaks" -> ((s, dir) => breaksDf(s,
      Breaks.equalIntervalBreaks(SynthGeo.customerValues(s, dir), 6))),
    "q27_natural_breaks" -> ((s, dir) => breaksDf(s,
      Breaks.naturalBreaks(SynthGeo.customerValues(s, dir), 5))),

    // ---- LISA (L1-L11). Each statistic is lag/sum/indicator algebra →
    // DuckDB-expressible, so the kernel's stat path is oracle-verified;
    // permutation p-values/cluster labels are covered by the C-pinned
    // kernel specs + q30f's full output (rows-only + determinism probe).
    "q30_local_moran" -> ((s, dir) =>
      Lisa.localMoran(SynthGeo.customerValues(s, dir), knnWeights4(s, dir))
        .select(col("gid"), round(col("stat"), 4).as("moran_i"))
        .orderBy("gid")),
    "q93_local_bimoran" -> ((s, dir) => {
      // bivariate local Moran (GeoDa companion): value × a second
      // minted variable; z_x times neighbor lag of z_y
      val vals = SynthGeo.customerValues(s, dir)
        .withColumn("value2", ((col("gid") * 7) % 30 + 1).cast("double"))
      Lisa.localBiMoran(vals, knnWeights4(s, dir))
        .select(col("gid"), round(col("stat"), 4).as("bimoran_i"))
        .orderBy("gid")
    }),
    "q94_token_budget_sample" -> ((s, dir) =>
      // training-mix draw by TOKEN budget per language stratum: Lehmer
      // order, greedy admit until 2000 tokens (bucketed prefix sum —
      // no stratum-wide sort)
      graft.pipeline.Curation.tokenBudgetSample(
        SynthGeo.table(s, dir, "documents"), Seq("lang"),
        budgetTokens = 2000, idCol = "doc_id")
        .orderBy("lang", "sample_id")),
    "q30f_local_moran_full" -> ((s, dir) =>
      Lisa.localMoran(SynthGeo.customerValues(s, dir), knnWeights4(s, dir))
        .orderBy("gid")),
    "q31_local_g" -> ((s, dir) =>
      Lisa.localG(SynthGeo.customerValues(s, dir), knnWeights4(s, dir),
        star = false)
        .select(col("gid"), round(col("stat"), 8).as("g"))
        .orderBy("gid")),
    "q32_local_gstar" -> ((s, dir) =>
      Lisa.localG(SynthGeo.customerValues(s, dir), knnWeights4(s, dir),
        star = true)
        .select(col("gid"), round(col("stat"), 8).as("gstar"))
        .orderBy("gid")),
    "q33_local_geary" -> ((s, dir) =>
      Lisa.localGeary(SynthGeo.customerValues(s, dir), knnWeights4(s, dir))
        .select(col("gid"), round(col("stat"), 4).as("geary"))
        .orderBy("gid")),
    "q34_local_joincount" -> ((s, dir) =>
      Lisa.localJoinCount(binaryVar(s, dir), knnWeights4(s, dir))
        .select(col("gid"), col("stat").cast("long").as("jc"),
          col("c").cast("long").as("nn"),
          (col("p") >= 0).cast("long").as("sig_def"))
        .orderBy("gid")),
    "q35_local_bijoincount" -> ((s, dir) => {
      val v = binaryVar(s, dir)
        .withColumn("value2", lit(1.0) - col("value"))
      Lisa.localBiJoinCount(v, knnWeights4(s, dir))
        .select(col("gid"), col("stat").cast("long").as("bjc"),
          col("c").cast("long").as("nn"),
          (col("p") >= 0).cast("long").as("sig_def"))
        .orderBy("gid")
    }),
    "q36_local_multijoincount" -> ((s, dir) => {
      val v = SynthGeo.table(s, dir, "customer").select(
        col("c_custkey").cast("long").as("gid"),
        array(((col("c_custkey") * 13) % 7 < 3).cast("double"),
          ((col("c_custkey") * 11) % 5 < 2).cast("double")).as("vals"))
      Lisa.localMultiJoinCount(v, knnWeights4(s, dir))
        .select(col("gid"), col("stat").cast("long").as("mjc"),
          col("c").cast("long").as("nn"),
          (col("p") >= 0).cast("long").as("sig_def"))
        .orderBy("gid")
    }),
    "q37_quantile_lisa" -> ((s, dir) =>
      Lisa.quantileLisa(5, 5, SynthGeo.customerValues(s, dir),
        knnWeights4(s, dir))
        .select(col("gid"), col("stat").cast("long").as("qjc"),
          (col("p") >= 0).cast("long").as("sig_def"))
        .orderBy("gid")),
    "q38_multiquantile_lisa" -> ((s, dir) => {
      val v = SynthGeo.table(s, dir, "customer").select(
        col("c_custkey").cast("long").as("gid"),
        array(col("c_acctbal").cast("double"),
          ((col("c_custkey") * 17) % 1000).cast("double")).as("vals"))
      Lisa.multiQuantileLisa(Array(4, 4), Array(4, 1), v, knnWeights4(s, dir))
        .select(col("gid"), col("stat").cast("long").as("mqjc"),
          (col("p") >= 0).cast("long").as("sig_def"))
        .orderBy("gid")
    }),
    "q39_local_multigeary" -> ((s, dir) => {
      val v = SynthGeo.table(s, dir, "customer").select(
        col("c_custkey").cast("long").as("gid"),
        array(col("c_acctbal").cast("double"),
          ((col("c_custkey") * 17) % 1000).cast("double")).as("vals"))
      Lisa.localMultiGeary(v, knnWeights4(s, dir))
        .select(col("gid"), round(col("stat"), 4).as("mgeary"))
        .orderBy("gid")
    }),

    // ---- regionalization (C1, C2) + neighbor match (L12) ----
    "q40_skater" -> ((s, dir) => {
      val v = SynthGeo.table(s, dir, "part").select(
        col("p_partkey").cast("long").as("gid"),
        array(col("p_retailprice").cast("double"),
          col("p_size").cast("double")).as("vals"))
      graft.cluster.Regionalize.run(v, queenWeights(s, dir),
        graft.cluster.Regionalize.Conf(k = 6))
        .orderBy("gid")
    }),
    "q41_redcap_ward" -> ((s, dir) => {
      // full polygon layer (same input as q40): Lance-Williams + a
      // primitive heap make full-order linkage O(N^2 log N) — no slice
      // cap; queen weights shared with q40 (reference persists weights
      // once, notes.md:104-141)
      val v = SynthGeo.table(s, dir, "part")
        .select(col("p_partkey").cast("long").as("gid"),
          array(col("p_retailprice").cast("double"),
            col("p_size").cast("double")).as("vals"))
      graft.cluster.Regionalize.run(v, queenWeights(s, dir),
        graft.cluster.Regionalize.Conf(k = 4,
          method = "fullorder-wardlinkage")).orderBy("gid")
    }),
    "q42_neighbor_match" -> ((s, dir) => {
      // 'raw' scale → the whole computation (two kNNs, intersection,
      // hypergeometric tail) is bit-replicable in DuckDB (integer-derived
      // doubles; lgamma differences absorbed by round)
      val v = SynthGeo.table(s, dir, "customer").select(
        col("c_custkey").cast("long").as("gid"),
        array(col("c_acctbal").cast("double"),
          ((col("c_custkey") * 17) % 1000).cast("double")).as("vals"))
      graft.stats.NeighborMatch.run(SynthGeo.customerPoints(s, dir), v,
        k = 6, scaleMethod = "raw", cellSize = Some(4.0))
        .select(col("gid"), col("card").cast("long").as("card"),
          round(col("p"), 8).as("p"))
        .orderBy("gid")
    }),

    // ---- weights serialization / codec parity (S1-S4, §1.3) ----
    "q61_codec_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val w = knnWeights4(s, dir)
      w.select(col("gid").cast("long"), col("nbrs"))
        .as[(Long, Seq[Long])]
        .map { case (g, nbrs) =>
          val bytes = graft.weights.WeightsCodec.encodeRecord(g, nbrs.toArray, None)
          val (g2, nbrs2, _) = graft.weights.WeightsCodec.decodeRecord(bytes)
          (g2, nbrs2.length.toLong, nbrs2.min)
        }.toDF("gid", "n_nbrs", "nbr_min").orderBy("gid")
    }),

    "q63_weights_astext" -> ((s, dir) => {
      graft.weights.WeightsCodec.asText(knnWeights4(s, dir))
        .orderBy("gid")
    }),
    "q63b_weights_astext_gwt" -> ((s, dir) => {
      // GWT-valued text: per-neighbor weights included (weights_cont.c
      // text format carries wts; inverse-distance kNN weights here)
      val w = KnnWeights.build(SynthGeo.customerPoints(s, dir),
        KnnWeights.Conf(k = 4, cellSize = Some(4.0), isInverse = true))
      graft.weights.WeightsCodec.asText(w, wtsDecimals = 4).orderBy("gid")
    }),
    "q44_weights_fids" -> ((s, dir) =>
      graft.weights.WeightsCodec.fids(knnWeights4(s, dir))
        .select(col("gid").cast("long").as("gid")).orderBy("gid")),
    "q45_weights_json" -> ((s, dir) => {
      import s.implicits._
      // S3 geoda_weights_tojson: single text value for the whole table
      val txt = graft.weights.WeightsCodec.toJsonText(knnWeights4(s, dir))
      Seq(txt).toDF("js")
    }),

    // ---- raster <-> vector (north-rule surface) ----
    "q64_rasterize" -> ((s, dir) => {
      graft.pipeline.Raster.rasterizePoints(
          SynthGeo.customerPoints(s, dir), 4.0, Some("x"))
        .select(col("cell"), col("n"), round(col("sum_val"), 4).as("sum_val"),
          round(col("avg_val"), 4).as("avg_val"))
        .orderBy("cell")
    }),
    "q65_vectorize" -> ((s, dir) => {
      val raster = graft.pipeline.Raster.rasterizePoints(
        SynthGeo.customerPoints(s, dir), 4.0)
      graft.pipeline.Raster.vectorize(raster, 4.0)
        .select("cell", "x0", "y0").orderBy("cell")
    }),
    "q66_zonal_stats" -> ((s, dir) => {
      val raster = graft.pipeline.Raster.rasterizePoints(
        SynthGeo.customerPoints(s, dir), 4.0)
      graft.pipeline.Raster.zonalStats(raster,
          SynthGeo.partPolygons(s, dir).withColumnRenamed("gid", "pid"), 4.0)
        .orderBy("pid")
    }),

    // ---- documents / training-data ops ----
    "q50_dedup_exact" -> ((s, dir) => {
      SynthGeo.table(s, dir, "documents")
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n"))
        .orderBy("h")
    }),
    "q51_token_count" -> ((s, dir) => {
      SynthGeo.table(s, dir, "documents")
        .select(col("doc_id"),
          (length(col("text")) -
            length(expr("replace(text, ' ', '')")) + 1)
            .cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),
    "q52_text_quality" -> ((s, dir) => {
      val d = SynthGeo.table(s, dir, "documents")
      d.select(col("doc_id"),
        length(col("text")).cast("long").as("len"),
        (length(col("text")) - length(expr("replace(text, ' ', '')")))
          .cast("long").as("n_spaces"),
        (length(col("text")) - length(expr("replace(text, '.', '')")))
          .cast("long").as("n_periods"),
        round((length(col("text")) - length(expr("replace(text, ' ', '')")))
          .cast("double") / length(col("text")).cast("double"), 6)
          .as("space_ratio"))
        .orderBy("doc_id")
    }),

    "q53_lang_id" -> ((s, dir) =>
      graft.pipeline.TextAnalysis.languageId(
        SynthGeo.table(s, dir, "documents"))
        .select(col("id"), col("lang_pred"),
          round(col("confidence"), 6).as("confidence"))
        .orderBy("id")),
    "q54_minhash_dedup" -> ((s, dir) =>
      graft.pipeline.Dedup.minhashLsh(SynthGeo.table(s, dir, "documents"),
        threshold = 0.5).orderBy("id_a", "id_b")),
    "q55_simhash_dup" -> ((s, dir) =>
      graft.pipeline.Dedup.simhashDup(SynthGeo.table(s, dir, "documents"),
        maxHamming = 8).orderBy("id_a", "id_b")),
    "q56_ngram_jaccard" -> ((s, dir) => {
      val docs = SynthGeo.table(s, dir, "documents")
      // candidate pairs: same source + adjacent ids (deterministic set)
      val pairs = docs.select(col("doc_id").as("id_a"))
        .withColumn("id_b", col("id_a") + 1)
        .join(docs.select(col("doc_id").as("id_b")), Seq("id_b"))
      graft.pipeline.Dedup.ngramJaccard(docs, pairs)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a")
    }),
    "q57_ann_brute" -> ((s, dir) => {
      val emb = SynthGeo.table(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      graft.pipeline.Similarity.bruteTopK(emb, queries, k = 10)
        .select(col("qid"), col("id"), col("rk").cast("long").as("rk"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("qid", "rk")
    }),
    "q57b_ann_ivf" -> ((s, dir) => {
      // deterministic IVF (id-ordered seeds, one Lloyd sweep, max_by
      // assignment, nprobe probing) → the whole pipeline replays in SQL
      val emb = SynthGeo.table(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      graft.pipeline.Similarity.ivfTopK(emb, queries, k = 10)
        .select(col("qid"), col("id"), col("rk").cast("long").as("rk"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("qid", "rk")
    }),
    "q68_embedding_neardup" -> ((s, dir) => {
      // hyperplane-LSH cosine near-dup: plant exact duplicates (vec_id +
      // 1e6) so the bucket-join provably recalls them; rows-only check
      val emb = SynthGeo.table(s, dir, "embeddings")
      val planted = emb.withColumn("vec_id", col("vec_id") + 1000000L)
      graft.pipeline.Dedup.embeddingNearDup(emb.unionByName(planted),
          threshold = 0.999)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }),
    "q104_semantic_dedup" -> ((s, dir) => {
      // SemDeDup: cluster-partitioned exact cosine at a LOW threshold
      // (0.85 — the regime hyperplane LSH can't reach without an
      // exploding table count), transitive groups via distributed CC,
      // one survivor per group by the paper's keep rule (lowest
      // similarity to own centroid). Planted exact duplicates
      // (vec_id + 1e6) guarantee non-trivial groups.
      val emb = SynthGeo.table(s, dir, "embeddings")
      val planted = emb.withColumn("vec_id", col("vec_id") + 1000000L)
      graft.pipeline.Dedup.semanticDedup(emb.unionByName(planted),
          threshold = 0.85, nClusters = 16)
        .orderBy("id")
    }),
    "q104b_semantic_dedup_twolevel" -> ((s, dir) => {
      // the SAME corpus and keep rule as q104, but the TWO-LEVEL
      // residual-quantization assignment forced at sf scale
      // (nClusters=16 > twoLevelK=9 → k1=4 coarse × 4 Euclidean
      // residual cells, top-2 multi-probe) — the regime a 10^9-vector
      // corpus runs in, exercised end-to-end through Verify. Golden-
      // only: the multi-probe top-2 tie surface has no SQL mirror
      // worth maintaining (q104's flat path carries the hard oracle).
      // The committed golden COINCIDES with q104's — planted groups
      // are exact duplicates, so both members share csim (identical
      // unit vectors) and the keep rule falls to tie-by-min-id under
      // either centroid set; recovering that equality end-to-end is
      // exactly the two-level path's recall+keep-rule invariant.
      val emb = SynthGeo.table(s, dir, "embeddings")
      val planted = emb.withColumn("vec_id", col("vec_id") + 1000000L)
      graft.pipeline.Dedup.semanticDedup(emb.unionByName(planted),
          threshold = 0.85, nClusters = 16, twoLevelK = 9)
        .orderBy("id")
    }),
    "q58_fingerprint" -> ((s, dir) =>
      graft.pipeline.TextAnalysis.fingerprint(
        SynthGeo.table(s, dir, "documents")).orderBy("id")),
    "q58b_quality" -> ((s, dir) =>
      graft.pipeline.TextAnalysis.qualityScore(
        SynthGeo.table(s, dir, "documents"))
        .select(col("id"), col("n_chars"), col("n_tokens"),
          round(col("alpha_ratio"), 6).as("alpha_ratio"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"),
          col("quality"))
        .orderBy("id")),
    "q105_image_resize" -> ((s, dir) => {
      // decode + bilinear resize to a fixed 8x8 luma — the
      // normalize-before-featurize step of a vision preprocessing
      // pipeline; variable-sized real PNGs in (incl. corrupt rows),
      // fixed-shape binary out. Golden-checked (no SQL mirror for the
      // JDK PNG decode + interpolation).
      import s.implicits._
      val media = SynthGeo.table(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
        .as[Long]
        .map { id =>
          val bytes =
            if (id % 7 == 0) Array[Byte](0x42, 0x41, 0x44, 0x21, 0, 1, 2, 3)
            else graft.pipeline.Multimodal.synthPng(
              4 + (id % 13).toInt, 3 + (id % 7).toInt, id * 2654435761L)
          (id, bytes)
        }.toDF("id", "bytes")
      graft.pipeline.Multimodal.resize(media, 8, 8,
          decoder = graft.pipeline.Multimodal.ImageIoDecoder)
        .orderBy("id")
    }),
    "q106_image_resize_rgb" -> ((s, dir) => {
      // channel-aware twin of q105: decode to interleaved RGB + the
      // same bilinear half-pixel kernel per channel, fixed 8x8x3 out —
      // the actual input shape of a CLIP-style featurizer (q105's luma
      // is the hashing/dedup shape). Same corrupt rows survive as
      // empty-rgb rows. Golden-checked (no SQL mirror for the decode).
      import s.implicits._
      val media = SynthGeo.table(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
        .as[Long]
        .map { id =>
          val bytes =
            if (id % 7 == 0) Array[Byte](0x42, 0x41, 0x44, 0x21, 0, 1, 2, 3)
            else graft.pipeline.Multimodal.synthPng(
              4 + (id % 13).toInt, 3 + (id % 7).toInt, id * 2654435761L)
          (id, bytes)
        }.toDF("id", "bytes")
      graft.pipeline.Multimodal.resizeRGB(media, 8, 8,
          decoder = graft.pipeline.Multimodal.ImageIoDecoder)
        .orderBy("id")
    }),
    "q59b_multimodal_rgb" -> ((s, dir) => {
      // per-channel mean/sd over the real interleaved-RGB decode — the
      // color-aware featurizer companion to q59's luma stats; same
      // corpus, same corrupt rows (zeroed meta, 0-stats). Golden-
      // checked (no SQL mirror for the JDK decode).
      import s.implicits._
      val media = SynthGeo.table(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
        .as[Long]
        .map { id =>
          val bytes =
            if (id % 7 == 0) Array[Byte](0x42, 0x41, 0x44, 0x21, 0, 1, 2, 3)
            else graft.pipeline.Multimodal.synthPng(
              4 + (id % 13).toInt, 3 + (id % 7).toInt, id * 2654435761L)
          (id, bytes)
        }.toDF("id", "bytes")
      graft.pipeline.Multimodal.imageFeaturesRGB(media,
          graft.pipeline.Multimodal.ImageIoDecoder)
        .select(col("id"), col("width"), col("height"), col("channels"),
          col("format"),
          round(col("r_mean"), 6).as("r_mean"),
          round(col("g_mean"), 6).as("g_mean"),
          round(col("b_mean"), 6).as("b_mean"),
          round(col("r_sd"), 6).as("r_sd"),
          round(col("g_sd"), 6).as("g_sd"),
          round(col("b_sd"), 6).as("b_sd"))
        .orderBy("id")
    }),
    "q59_multimodal_image" -> ((s, dir) => {
      // REAL decode path: deterministic PNGs synthesized per doc through
      // the JDK PNG writer (distributed, one image per row), decoded back
      // via javax.imageio — dims/channels/luma are pixel-pattern-exact.
      // Every 7th row gets corrupt bytes to prove undecodables stay rows.
      import s.implicits._
      val media = SynthGeo.table(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"))
        .as[Long]
        .map { id =>
          val bytes =
            if (id % 7 == 0) Array[Byte](0x42, 0x41, 0x44, 0x21, 0, 1, 2, 3)
            else graft.pipeline.Multimodal.synthPng(
              4 + (id % 13).toInt, 3 + (id % 7).toInt, id * 2654435761L)
          (id, bytes)
        }.toDF("id", "bytes")
      graft.pipeline.Multimodal.imageFeatures(media,
          graft.pipeline.Multimodal.ImageIoDecoder)
        .select(col("id"), col("width"), col("height"), col("channels"),
          col("format"), round(col("pixel_mean"), 6).as("pixel_mean"))
        .orderBy("id")
    }),
    "q67_tile_moran" -> ((s, dir) => {
      // per-tile LISA (beyond-broadcast scale mode, window-trim
      // semantics); the per-tile standardize + in-tile-trimmed lag is
      // plain SQL → oracle-checked
      val pts = SynthGeo.customerPoints(s, dir)
      graft.stats.TileLisa.run(graft.stats.TileLisa.Moran, pts,
          SynthGeo.customerValues(s, dir), knnWeights4(s, dir),
          tileSize = 40.0)
        .select(col("gid"), col("tile"), round(col("stat"), 4).as("stat"))
        .orderBy("gid")
    }),
    "q95_tile_bimoran" -> ((s, dir) => {
      // per-tile bivariate Moran: z_x × in-tile-trimmed lag(z_y), both
      // standardized per window
      val pts = SynthGeo.customerPoints(s, dir)
      val vals = SynthGeo.customerValues(s, dir)
      val mv = vals.select(col("gid"), array(col("value"),
        ((col("gid") * 7) % 30 + 1).cast("double")).as("vals"))
      graft.stats.TileLisa.runMulti(graft.stats.TileLisa.BiMoran, pts, mv,
          knnWeights4(s, dir), tileSize = 40.0)
        .select(col("gid"), col("tile"), round(col("stat"), 4).as("stat"))
        .orderBy("gid")
    }),
    "q69_tile_joincount" -> ((s, dir) => {
      // per-tile join count: integer-exact statistic + trimmed neighbor
      // count + deterministic p-defined flag → full oracle
      val pts = SynthGeo.customerPoints(s, dir)
      graft.stats.TileLisa.run(graft.stats.TileLisa.JoinCount, pts,
          binaryVar(s, dir), knnWeights4(s, dir), tileSize = 40.0)
        .select(col("gid"), col("tile"),
          col("stat").cast("long").as("jc"),
          col("c").cast("long").as("nn"),
          (col("p") >= 0).cast("long").as("sig_def"))
        .orderBy("gid")
    }),
    "q70_tile_multigeary" -> ((s, dir) => {
      // per-tile multivariate Geary: per-tile per-variable standardize +
      // in-tile-trimmed neighbor average — plain SQL → oracle-checked
      val pts = SynthGeo.customerPoints(s, dir)
      val v = SynthGeo.table(s, dir, "customer").select(
        col("c_custkey").cast("long").as("gid"),
        array(col("c_acctbal").cast("double"),
          ((col("c_custkey") * 17) % 1000).cast("double")).as("vals"))
      graft.stats.TileLisa.runMulti(graft.stats.TileLisa.MultiGeary, pts, v,
          knnWeights4(s, dir), tileSize = 40.0)
        .select(col("gid"), col("tile"), round(col("stat"), 4).as("mgeary"))
        .orderBy("gid")
    }),
    "q71_tile_quantile" -> ((s, dir) => {
      // per-tile quantile LISA: per-WINDOW quantile breaks (GeoDa
      // plotting-position percentiles over the tile's values), indicator
      // join count with in-tile-trimmed neighbors — integer-exact
      val pts = SynthGeo.customerPoints(s, dir)
      graft.stats.TileLisa.run(graft.stats.TileLisa.Quantile(5, 5), pts,
          SynthGeo.customerValues(s, dir), knnWeights4(s, dir),
          tileSize = 40.0)
        .select(col("gid"), col("tile"),
          col("stat").cast("long").as("qjc"),
          col("c").cast("long").as("nn"),
          (col("p") >= 0).cast("long").as("sig_def"))
        .orderBy("gid")
    }),
    "q72_tile_bijoincount" -> ((s, dir) => {
      // per-tile bivariate join count (complementary indicators — never
      // co-located, satisfying the joincount.c:193-197 validation)
      val pts = SynthGeo.customerPoints(s, dir)
      val v = binaryVar(s, dir)
        .select(col("gid"),
          array(col("value"), lit(1.0) - col("value")).as("vals"))
      graft.stats.TileLisa.runMulti(graft.stats.TileLisa.BiJoinCount, pts, v,
          knnWeights4(s, dir), tileSize = 40.0)
        .select(col("gid"), col("tile"),
          col("stat").cast("long").as("bjc"),
          col("c").cast("long").as("nn"),
          (col("p") >= 0).cast("long").as("sig_def"))
        .orderBy("gid")
    }),
    "q73_tile_multijoincount" -> ((s, dir) => {
      // per-tile co-location join count over two binary indicators
      val pts = SynthGeo.customerPoints(s, dir)
      val v = SynthGeo.table(s, dir, "customer").select(
        col("c_custkey").cast("long").as("gid"),
        array(((col("c_custkey") * 13) % 7 < 3).cast("double"),
          ((col("c_custkey") * 11) % 5 < 2).cast("double")).as("vals"))
      graft.stats.TileLisa.runMulti(graft.stats.TileLisa.MultiJoinCount,
          pts, v, knnWeights4(s, dir), tileSize = 40.0)
        .select(col("gid"), col("tile"),
          col("stat").cast("long").as("mjc"),
          col("c").cast("long").as("nn"),
          (col("p") >= 0).cast("long").as("sig_def"))
        .orderBy("gid")
    }),
    "q74_tile_multiquantile" -> ((s, dir) => {
      // per-tile multivariate quantile LISA: AND of per-window
      // per-variable bin indicators (v1 in top quartile, v2 in bottom
      // quartile of its tile), then join count
      val pts = SynthGeo.customerPoints(s, dir)
      val v = SynthGeo.table(s, dir, "customer").select(
        col("c_custkey").cast("long").as("gid"),
        array(col("c_acctbal").cast("double"),
          ((col("c_custkey") * 17) % 1000).cast("double")).as("vals"))
      graft.stats.TileLisa.runMulti(
          graft.stats.TileLisa.MultiQuantile(Seq(4, 4), Seq(4, 1)),
          pts, v, knnWeights4(s, dir), tileSize = 40.0)
        .select(col("gid"), col("tile"),
          col("stat").cast("long").as("mqjc"),
          col("c").cast("long").as("nn"),
          (col("p") >= 0).cast("long").as("sig_def"))
        .orderBy("gid")
    }),
    "q75_tile_g" -> ((s, dir) => {
      // per-tile Getis-Ord G_i: sum of in-tile-trimmed neighbor values
      // over (tile sum − x_i) — plain SQL → oracle-checked
      val pts = SynthGeo.customerPoints(s, dir)
      graft.stats.TileLisa.run(graft.stats.TileLisa.G, pts,
          SynthGeo.customerValues(s, dir), knnWeights4(s, dir),
          tileSize = 40.0)
        .select(col("gid"), col("tile"), round(col("stat"), 8).as("g"))
        .orderBy("gid")
    }),
    "q76_tile_gstar" -> ((s, dir) => {
      val pts = SynthGeo.customerPoints(s, dir)
      graft.stats.TileLisa.run(graft.stats.TileLisa.GStar, pts,
          SynthGeo.customerValues(s, dir), knnWeights4(s, dir),
          tileSize = 40.0)
        .select(col("gid"), col("tile"), round(col("stat"), 8).as("gstar"))
        .orderBy("gid")
    }),
    "q77_tile_geary" -> ((s, dir) => {
      val pts = SynthGeo.customerPoints(s, dir)
      graft.stats.TileLisa.run(graft.stats.TileLisa.Geary, pts,
          SynthGeo.customerValues(s, dir), knnWeights4(s, dir),
          tileSize = 40.0)
        .select(col("gid"), col("tile"), round(col("stat"), 4).as("geary"))
        .orderBy("gid")
    }),
    "q62_webtext_moran" -> ((s, dir) => {
      // north-rule pipeline, hermetic (no checkpoint dir): webpages →
      // geocode (md5 slices → SQL-replicable) → kNN weights → local
      // Moran over text length; oracle replays the whole chain in DuckDB
      val pages = graft.pipeline.Webtext.synthWebpages(s, dir)
      val geo = graft.pipeline.Webtext.geocode(pages).cache()
      val w = KnnWeights.build(geo.select("gid", "x", "y"),
        KnnWeights.Conf(k = 4, cellSize = Some(SynthGeo.CellW)))
      val vals = geo.select(col("gid"),
        length(col("text")).cast("double").as("value"))
      Lisa.localMoran(vals, w)
        .select(col("gid"), round(col("stat"), 4).as("moran_i"))
        .orderBy("gid")
    }),

    "q80_repetition" -> ((s, dir) =>
      graft.pipeline.TextAnalysis.repetitionStats(
        SynthGeo.table(s, dir, "documents"))
        .orderBy("id")),

    // ---- corpus curation: deterministic sampling + domain mixing ----
    "q78_stratified_sample" -> ((s, dir) =>
      graft.pipeline.Curation.stratifiedSample(
        SynthGeo.table(s, dir, "documents"), Seq("lang", "source"),
        quota = 5, idCol = "doc_id")
        .orderBy("lang", "source", "rk")),
    "q79_domain_stats" -> ((s, dir) =>
      graft.pipeline.Webtext.domainStats(
        graft.pipeline.Webtext.synthWebpages(s, dir))
        .orderBy("host")),
    "q82_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: distinct-trigram overlap of every
      // document against a deterministic "benchmark" slice of the
      // corpus (doc_id % 37 == 0); bench side broadcast, corpus side
      // never shuffles by n-gram
      val docs = SynthGeo.table(s, dir, "documents")
      graft.pipeline.Curation.decontaminate(docs,
          docs.filter(col("doc_id") % 37 === 0))
        .orderBy("id")
    }),
    "q83_url_dedup" -> ((s, dir) =>
      graft.pipeline.Webtext.urlDedup(
        graft.pipeline.Webtext.synthMessyPages(s, dir))
        .orderBy("curl")),
    "q84_vocab_topk" -> ((s, dir) =>
      graft.pipeline.Curation.vocabTopK(
        SynthGeo.table(s, dir, "documents"), k = 100)
        .orderBy(col("n").desc, col("token"))),
    "q112_vocab_sketch_by_lang" -> ((s, dir) =>
      // grouped MG sketches: one live sketch per language under
      // ObjectHashAggregate — exact at this vocabulary, so the grouped
      // token-count oracle replays it (the grouped regime's hard
      // per-query signal; global q107 covers the ungrouped one)
      SynthGeo.table(s, dir, "documents")
        .select(col("lang"),
          explode(split(coalesce(col("text"), lit("")), " ")).as("token"))
        .groupBy("lang")
        .agg(graft.catalyst.HeavyHittersAgg.heavyHitters(4096)(
          col("token")).as("hh"))
        .select(col("lang"), explode(col("hh.entries")).as("e"))
        .select(col("lang"), col("e.token").as("token"),
          col("e.count").as("n"))
        .orderBy(col("lang"), col("n").desc, col("token"))),
    "q108_pq_encode" -> ((s, dir) => {
      // product quantization over the embeddings table: 4 subspaces ×
      // 8 centroids, id-order seeds + one Lloyd sweep per subspace
      // (the q57b seeding/sweep conventions, so DuckDB replays the
      // whole train+encode). Output exploded to scalar rows.
      val emb = SynthGeo.table(s, dir, "embeddings")
      val cb = graft.pipeline.Similarity.pqTrain(emb, m = 4, ksub = 8)
      // materialize the encode scan once before the declared ordering:
      // a range sort SAMPLES its child, so without this the literal-
      // codebook scoring expressions evaluate twice per run (r8 probe:
      // 2 × ~0.7 s of a 2.7 s query; with the checkpoint 0.9 s total).
      // pqEncode itself stays a pure lazy scan for composed consumers
      // (IVFADC builds its index from it without materializing).
      graft.pipeline.Similarity.pqEncode(emb, cb).localCheckpoint(true)
        .select(col("id"), posexplode(col("codes")))
        .select(col("id"), col("pos").cast("int").as("sub"),
          col("col").as("code"))
        .orderBy("id", "sub")
    }),
    "q108b_pq_adc" -> ((s, dir) => {
      // asymmetric-distance top-10 in the compressed domain: per-query
      // LUT over the literal codebooks, score = sum of m lookups
      val emb = SynthGeo.table(s, dir, "embeddings")
      val cb = graft.pipeline.Similarity.pqTrain(emb, m = 4, ksub = 8)
      val codes = graft.pipeline.Similarity.pqEncode(emb, cb)
      graft.pipeline.Similarity.pqTopK(codes,
          emb.filter(col("vec_id") < 5), cb, k = 10)
        .select(col("qid"), col("id"), col("rk").cast("long").as("rk"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("qid", "rk")
    }),
    "q110_host_bytes_sketch" -> ((s, dir) =>
      // top hosts by total text bytes through the WEIGHTED MG sketch;
      // 97 distinct hosts << capacity 256, so the sketch is exact and
      // the q79-style groupBy-sum oracle replays it verbatim
      graft.pipeline.Curation.heavyKeysSketch(
        graft.pipeline.Webtext.synthWebpages(s, dir)
          .select(graft.pipeline.Webtext.hostOf(col("url")).as("host"),
            length(col("text")).as("len")),
        keyCol = "host", weightCol = "len", k = 50, capacity = 256)
        .orderBy(col("total").desc, col("host"))),
    "q111_ivfadc_rerank" -> ((s, dir) => {
      // two-stage retrieval: q109's compressed-domain search shortlists
      // 30 candidates per query, exact cosine re-scores ONLY those and
      // re-ranks the top 10 — quantization error confined to candidate
      // generation, final scores exact
      val emb = SynthGeo.table(s, dir, "embeddings")
      val idx = graft.pipeline.Similarity.ivfAdcIndex(emb,
        nCells = 8, m = 4, ksub = 8)
      val out = graft.pipeline.Similarity.ivfAdcRerank(idx, emb,
          emb.filter(col("vec_id") < 5), k = 10, shortlist = 30,
          nprobe = 2)
        .select(col("qid"), col("id"), col("rk").cast("long").as("rk"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("qid", "rk")
      val res = graft.core.Materialize.releasing(out, Nil)
      idx.release()
      res
    }),
    "q109_ivfadc" -> ((s, dir) => {
      // the composed billion-scale index: coarse IVF cells + PQ on
      // residuals + in-cell ADC scoring — coarse sweep, residual
      // codebooks, probes, LUTs, and the qc + sum-of-lookups score all
      // replayed in the oracle
      val emb = SynthGeo.table(s, dir, "embeddings")
      graft.pipeline.Similarity.ivfAdcTopK(emb,
          emb.filter(col("vec_id") < 5),
          k = 10, nCells = 8, nprobe = 2, m = 4, ksub = 8)
        .select(col("qid"), col("id"), col("rk").cast("long").as("rk"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("qid", "rk")
    }),
    "q107_vocab_sketch" -> ((s, dir) =>
      // q84 via the Misra-Gries heavy-hitters TypedImperativeAggregate:
      // bounded-memory single-sketch-per-partition exchange instead of
      // the token-keyed groupBy shuffle. At capacity >= distinct tokens
      // the sketch is exact, so the q84 oracle replays it verbatim —
      // the compressed (shedding) regime is spec-pinned in
      // HeavyHittersSpec where exactness provably cannot hold.
      graft.pipeline.Curation.vocabTopKSketch(
        SynthGeo.table(s, dir, "documents"), k = 100, capacity = 4096)
        .orderBy(col("n").desc, col("token"))),
    "q85_paragraph_dedup" -> ((s, dir) => {
      // C4-style corpus-wide paragraph dedup over paragraph-structured
      // pages minted from the documents table: a header shared by every
      // page, the doc's own text, one of 7 rotating footers — dedup
      // must keep the header once, each footer once, bodies where
      // first seen
      val docs = SynthGeo.table(s, dir, "documents").select(col("doc_id"),
        concat(lit("shared header paragraph\n"),
          coalesce(col("text"), lit("")),
          lit("\nfooter "), (col("doc_id") % 7).cast("string")).as("text"))
      graft.pipeline.Dedup.paragraphDedup(docs).orderBy("id")
    }),
    "q86_pii_redact" -> ((s, dir) => {
      // PII scrub over pages decorated with deterministic emails,
      // phones and dotted-quad IPs minted from doc_id
      val docs = SynthGeo.table(s, dir, "documents").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or +1 555-000-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" at 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7")).as("text"))
      graft.pipeline.TextAnalysis.redactPii(docs).orderBy("id")
    }),
    "q99_curation_full_chain" -> ((s, dir) => {
      // the full modern-pretraining curation chain in one plan:
      // Gopher repetition gate → fastText-style model gate →
      // benchmark decontamination (bench docs excluded) →
      // per-language token-budget training-mix draw. Every stage is a
      // scan/broadcast/partial-agg shape; the only corpus-keyed
      // exchanges are per-doc re-aggs and the boundary-bucket window
      val docs = SynthGeo.table(s, dir, "documents")
      val rep = graft.pipeline.TextAnalysis.repetitionStats(docs)
        .select(col("id").as("doc_id"), col("dup_trigram_frac"))
      val w = s.range(1024).select(col("id").as("bucket"),
        (col("id") * 2654435761L % 2000 / lit(1000.0) - 1.0).as("weight"))
      val model = graft.pipeline.Curation.hashedLinearScore(docs, w,
          dim = 1024, bias = 0.1)
        .select(col("id").as("doc_id"), col("score"))
      val decon = graft.pipeline.Curation.decontaminate(docs,
          docs.filter(col("doc_id") % 37 === 0))
        .select(col("id").as("doc_id"), col("contamination_frac"))
      val keep = docs.join(rep, "doc_id").join(model, "doc_id")
        .join(decon, "doc_id")
        .filter(col("dup_trigram_frac") <= 0.2 && col("score") >= 0.0 &&
          col("contamination_frac") < 0.5 && col("doc_id") % 37 =!= 0)
      graft.pipeline.Curation.tokenBudgetSample(keep, Seq("lang"),
          budgetTokens = 1500, idCol = "doc_id")
        .orderBy("lang", "sample_id")
    }),
    "q81_curation_pipeline" -> ((s, dir) => {
      // composed curation: repetition gate + length gate, then a
      // deterministic per-language quota — the end-to-end shape of a
      // training-mix draw (filter stages are scans; the draw is the
      // window-free partial top-k aggregate)
      val docs = SynthGeo.table(s, dir, "documents")
      val rep = graft.pipeline.TextAnalysis.repetitionStats(docs)
        .select(col("id").as("doc_id"), col("dup_trigram_frac"))
      val keep = docs.join(rep, "doc_id")
        .filter(col("dup_trigram_frac") <= 0.2 && col("n_chars") >= 100)
      graft.pipeline.Curation.stratifiedSample(keep, Seq("lang"),
          quota = 3, idCol = "doc_id")
        .orderBy("lang", "rk")
    }),
    "q103_image_neardup" -> ((s, dir) => {
      // image near-duplicate pairs over minted PNGs (REAL imageio
      // decode → perceptual aHash → shared Hamming buckets): every
      // 10th image is a +4-brightness re-encode of its predecessor —
      // the "slightly edited re-upload" the filter must catch
      val spark2 = s
      import spark2.implicits._
      // the PNG mint + decode is per-row compute behind a kilobyte id
      // scan — widen to the session width (ids only: no payload moves;
      // no-op at real scale, graft.core.Parallelism)
      val media = graft.core.Parallelism.widen(
          SynthGeo.table(s, dir, "documents")
            .select(col("doc_id").cast("long").as("id")), col("id"))
        .as[Long]
        .map { id =>
          val bytes =
            if (id % 10 == 9)
              graft.pipeline.Multimodal.shiftPng(
                graft.pipeline.Multimodal.synthPng(32, 24, 7L + 97L * (id - 1)), 4)
            else graft.pipeline.Multimodal.synthPng(32, 24, 7L + 97L * id)
          (id, bytes)
        }.toDF("id", "bytes")
      // maxHamming 2: the +4-shift re-encode drifts ≤2 bits
      // (PipelineSpec); the synthetic gradient corpus is deliberately
      // collision-prone at wider radii
      graft.pipeline.Multimodal.imageNearDup(media, maxHamming = 2)
        .orderBy("id_a", "id_b")
    }),
    "q87_dup_clusters" -> ((s, dir) => {
      // near-dup cluster resolution: distributed connected components
      // (large-star/small-star) over a minted Lehmer pair graph — the
      // transitive-closure step that turns LSH pair output into
      // deletable duplicate groups (mix of chains, trees, cycles,
      // isolates; 175 components at sf0.01)
      val docs = SynthGeo.table(s, dir, "documents")
      val n = docs.count()
      val pairs = docs.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") * 48271 % 2147483647L % n).as("id_b"))
      graft.pipeline.Dedup.dupClusters(docs, pairs).orderBy("id")
    }),
    "q97_unigram_logprob" -> ((s, dir) =>
      // CCNet-style perplexity-proxy gate: mean ln p(token) under the
      // corpus's own unigram distribution, top-50 vocab broadcast, OOV
      // at the 1/total floor
      graft.pipeline.Curation.unigramLogProb(
        SynthGeo.table(s, dir, "documents"), vocabK = 50)
        .orderBy("id")),
    "q90_quality_model" -> ((s, dir) => {
      // model-based quality filter: hashed bag-of-words linear scorer
      // (fastText-style classifier gate) with deterministically minted
      // coefficients standing in for a trained model
      val docs = SynthGeo.table(s, dir, "documents")
      val w = s.range(1024).select(col("id").as("bucket"),
        (col("id") * 2654435761L % 2000 / lit(1000.0) - 1.0).as("weight"))
      graft.pipeline.Curation.hashedLinearScore(docs, w,
          dim = 1024, bias = 0.1)
        .orderBy("id")
    }),
    "q88_dedup_survivors" -> ((s, dir) => {
      // composed dedup end-to-end: pairs -> clusters -> keep the
      // canonical (min-id) doc per group, reporting how many were
      // dropped with it
      val docs = SynthGeo.table(s, dir, "documents")
      val n = docs.count()
      val pairs = docs.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") * 48271 % 2147483647L % n).as("id_b"))
      graft.pipeline.Dedup.dropNearDuplicates(docs, pairs)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("n_dupes_removed"))
        .orderBy("doc_id")
    }),

    // ---- events: windowed aggregation (micro-batch equivalent of the
    // Structured Streaming pipeline in graft.streaming) ----
    "q60_event_hourly" -> ((s, dir) => {
      SynthGeo.table(s, dir, "events")
        .groupBy(col("event_type"),
          floor(unix_timestamp(col("ts")) / 3600.0).cast("long").as("hr"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_val"))
        .orderBy("event_type", "hr")
    })
  )

  private def binaryVar(s: SparkSession, dir: String): DataFrame =
    SynthGeo.table(s, dir, "customer").select(
      col("c_custkey").cast("long").as("gid"),
      ((col("c_custkey") * 13) % 7 < 3).cast("double").as("value"))

  private def breaksDf(s: SparkSession, brks: Seq[Double]): DataFrame = {
    import s.implicits._
    brks.zipWithIndex
      .map { case (b, i) =>
        ((i + 1).toLong, BigDecimal(b).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .toDF("bidx", "brk")
  }

  def oracleSql: Map[String, String] = OracleSql.all
}
