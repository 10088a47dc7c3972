package graft.weights

import graft.core.{Dist, Parallelism, Tiling}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distance-band and kernel-distance spatial weights.
  *
  * Reference: `distance_weights(fid, geom, dist_thres [, power,
  * is_inverse, is_arc, is_mile])` and `kernel_weights(fid, geom,
  * bandwidth, kernel, ...)` (`postgeoda/src/weights_dist.c:57-335`,
  * `postgeoda/src/proxy.cpp:167-188`). Neighbors are all points within
  * the threshold (inclusive).
  *
  * Spark-first shape: grid cells of size = threshold, candidates from the
  * Chebyshev-radius-1 (3×3) block — with cellSize == threshold, any pair
  * at distance ≤ threshold has |Δx|,|Δy| ≤ cellSize, so the floor-cell
  * indices differ by at most 1 in each axis, INCLUDING pairs at exactly
  * d == threshold sitting on cell borders (x−t ≥ (cx−1)·s keeps the
  * neighbor inside cell cx−1). Equi-join on cell, filter by true
  * distance. One shuffle keyed by cell; skewed dense cells are handled by
  * AQE (and can be salted — SURVEY §7.3).
  */
object DistanceWeights {

  case class Conf(
      threshold: Double,
      power: Double = 1.0,
      isInverse: Boolean = false,
      isArc: Boolean = false,
      isMile: Boolean = true,
      kernel: Option[String] = None,
      useKernelDiagonals: Boolean = false)

  private def planarDist(ax: Column, ay: Column, bx: Column, by: Column): Column =
    sqrt((ax - bx) * (ax - bx) + (ay - by) * (ay - by))

  private def arcDist(mile: Boolean)(ax: Column, ay: Column, bx: Column, by: Column): Column = {
    val r = lit(if (mile) Dist.EarthMiles else Dist.EarthKm)
    val la1 = radians(ay); val la2 = radians(by)
    val a = pow(sin((la2 - la1) / 2), 2) +
      cos(la1) * cos(la2) * pow(sin(radians(bx - ax) / 2), 2)
    lit(2.0) * r * asin(least(lit(1.0), sqrt(a)))
  }

  /** Exploded `(gid, nbr, dist)` pairs within threshold.
    *
    * Arc mode: the cell grid runs over degrees, with the cell edge sized
    * from the LATITUDE degree length (constant on the sphere). Latitude
    * coverage therefore needs only the fixed ±1-cell band (a true
    * neighbor's latitude differs by ≤ cellSize degrees), but one
    * degree of LONGITUDE shrinks by cos(lat), so the longitudinal
    * candidate radius is widened per row by 1/cos(φ_worst) (φ_worst =
    * |lat| + the band's own latitude extent, clamped below the pole), and
    * candidate columns wrap across the antimeridian modulo the number of
    * longitude cells. Near-pole rows (cos → 0) degenerate to probing the
    * full longitude ring — correct, and cheap because such rings hold few
    * points.
    */
  def pairs(points: DataFrame, conf: Conf): DataFrame = {
    if (!conf.isArc) {
      // Cell edge strictly > threshold (relative 1e-9 slack): the 3×3
      // block is provably complete when cell >= threshold in EXACT
      // arithmetic, but at cell == threshold a pair at distance exactly
      // == threshold sits in a sub-ulp window where fl(x/cell) can round
      // across an integer boundary and put the endpoints 2 cells apart.
      // The slack (~1e-9 rel, >> the ~1e-10 worst-case fp index error at
      // the Tiling index range) restores a real margin for the inclusive
      // boundary without the 5×5 fanout.
      val cellSize = conf.threshold * (1 + 1e-9)
      val pts = points.select(col("gid"), col("x"), col("y"))
        .withColumn("cell", Tiling.cellIdCol(col("x"), col("y"), cellSize))
      val deltas = (for (dx <- -1 to 1; dy <- -1 to 1)
        yield dx.toLong * Tiling.Mul + dy).toArray
      // both join inputs cell-hashed at one width (graft.core.Parallelism)
      val cand = pts
        .withColumn("__delta", explode(typedLit(deltas)))
        .withColumn("__ccell", col("cell") + col("__delta"))
      val ptsB = pts.select(col("gid").as("bgid"), col("x").as("bx"),
        col("y").as("by"), col("cell").as("bcell"))
      Parallelism.spread(cand, col("__ccell"))
        .join(Parallelism.spread(ptsB, col("bcell")),
          col("__ccell") === col("bcell"))
        .filter(col("gid") =!= col("bgid"))
        .withColumn("dist",
          planarDist(col("x"), col("y"), col("bx"), col("by")))
        .filter(col("dist") <= conf.threshold)
        .select(col("gid"), col("bgid").as("nbr"), col("dist"))
    } else {
      val degLen = (if (conf.isMile) Dist.EarthMiles else Dist.EarthKm) *
        math.Pi / 180.0 // one degree of latitude (or of a great circle)
      // same 1e-9 inclusive-boundary slack as the planar grid above
      val cellSize = math.max(conf.threshold / degLen, 1e-9) * (1 + 1e-9)
      // number of longitude cells in the full ring (antimeridian wrap)
      val nLonCells = math.max(1L, math.ceil(360.0 / cellSize).toLong)
      val latExtent = cellSize // the band spans ≤ cellSize degrees of lat
      val pts = points.select(col("gid"), col("x"), col("y"))
        .withColumn("cx", floor(col("x") / cellSize).cast("long"))
        .withColumn("cy", floor(col("y") / cellSize).cast("long"))
      // per-row longitudinal radius: ceil(1/cos(φ_worst)) + 1 cells,
      // capped at the half-ring (beyond that the wrap covers everything)
      val phiWorst = least(radians(abs(col("y")) + lit(2.0 * latExtent)),
        lit(math.Pi / 2 - 1e-6))
      val dxMax = least(
        (ceil(lit(1.0) / cos(phiWorst)) + lit(1.0)).cast("long"),
        lit(nLonCells / 2 + 1L))
      val cand = pts
        .withColumn("__dy", explode(typedLit((-1L to 1L).toArray)))
        .withColumn("__dx",
          explode(sequence(-dxMax, dxMax)))
        // wrap the candidate column index into [0, nLonCells)
        .withColumn("__ccx",
          pmod(col("cx") + col("__dx"), lit(nLonCells)))
        .withColumn("__ccy", col("cy") + col("__dy"))
      val ptsB = pts.select(col("gid").as("bgid"), col("x").as("bx"),
          col("y").as("by"),
          pmod(col("cx"), lit(nLonCells)).as("bcx"), col("cy").as("bcy"))
      cand
        .join(ptsB, col("__ccx") === col("bcx") && col("__ccy") === col("bcy"))
        .filter(col("gid") =!= col("bgid"))
        .withColumn("dist",
          arcDist(conf.isMile)(col("x"), col("y"), col("bx"), col("by")))
        .filter(col("dist") <= conf.threshold)
        .select(col("gid"), col("bgid").as("nbr"), col("dist"))
        .distinct() // a neighbor can enter via two wrapped columns
    }
  }

  /** Per-row weights; binary (wts null) unless inverse/power/kernel.
    * Kernel variants include the diagonal (self) entry — weight kernel(0)
    * when `useKernelDiagonals`, else 1.0 (`proxy.cpp:167-188`
    * use_kernel_diagonal semantics).
    */
  def build(points: DataFrame, conf: Conf): DataFrame = {
    val p0 = pairs(points, conf)
    val p = conf.kernel match {
      case Some(_) =>
        // self entry at distance 0 → sorts first within each gid group
        p0.unionByName(points.select(col("gid"), col("gid").as("nbr"),
          lit(0.0).as("dist")))
      case None => p0
    }
    val valued = conf.kernel.isDefined || conf.isInverse || conf.power != 1.0
    if (!valued) {
      p.groupBy("gid").agg(sort_array(collect_list(col("nbr"))).as("nbrs"))
        .select(col("gid"), col("nbrs"),
          lit(null).cast("array<double>").as("wts"))
    } else {
      val w = conf.kernel match {
        case Some(kname) =>
          val u = col("dist") / conf.threshold
          val kv = kname match {
            case "triangular"   => when(u >= 1, 0.0).otherwise(lit(1.0) - u)
            case "uniform"      => when(u >= 1, 0.0).otherwise(lit(0.5))
            case "epanechnikov" => when(u >= 1, 0.0).otherwise(lit(0.75) * (lit(1.0) - u * u))
            case "quartic"      => when(u >= 1, 0.0).otherwise(lit(15.0 / 16.0) * pow(lit(1.0) - u * u, 2))
            case "gaussian"     => exp(lit(-0.5) * u * u) / math.sqrt(2.0 * math.Pi)
            case other          => throw new IllegalArgumentException(s"kernel $other")
          }
          // diagonal: kernel(0) if useKernelDiagonals, else flat 1.0
          if (conf.useKernelDiagonals) kv
          else when(col("nbr") === col("gid"), 1.0).otherwise(kv)
        case None =>
          val pw = if (conf.power == 1.0) col("dist") else pow(col("dist"), conf.power)
          if (conf.isInverse) when(pw === 0.0, 0.0).otherwise(lit(1.0) / pw) else pw
      }
      p.withColumn("w", w)
        .groupBy("gid")
        .agg(sort_array(collect_list(struct(col("nbr"), col("w")))).as("__s"))
        .select(col("gid"), col("__s.nbr").as("nbrs"), col("__s.w").as("wts"))
    }
  }

  /** `min_distthreshold` aggregate (`postgeoda/src/weights_dist.c`,
    * `sql/weights_dist.sql:33-43`): the max over observations of each
    * observation's 1-NN distance — the smallest band with no isolates.
    * Two-stage agg over the kNN machinery (k=1); replaces the reference's
    * quadratic PostGIS query (`notes.md:180-200`).
    */
  def minDistThreshold(points: DataFrame, isArc: Boolean = false,
                       isMile: Boolean = true): Double = {
    // cells sized for ~4 candidates per 3×3 block, not ~1: with the
    // k=1 auto size most points find a 1-NN but can't certify
    // (kth < cellSize fails), so the completion pass takes many
    // stragglers. A 2× cell edge certifies nearly everything in round
    // one; the max-over-1-NN result is identical under any cell size
    // (the certification rule is exact).
    val p1 = KnnWeights.pairs(points,
      KnnWeights.Conf(k = 1, isArc = isArc, isMile = isMile,
        cellSize = Some(KnnWeights.autoCellSize(points, 4))))
    p1.agg(max("dist")).head().getDouble(0)
  }
}
