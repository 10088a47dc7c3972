package graft.stats

import graft.core.Tiling
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-tile LISA — the 10^12-row execution mode (SURVEY §7.5 option i).
  *
  * Broadcast-mode LISA ([[Lisa]]) needs the full value vector on every
  * executor, which caps out around ~10^8 rows. Beyond that the engine
  * partitions space into super-tiles and makes each tile a window of the
  * reference's own window-trim semantics (`binweight.cpp:128-207`, SURVEY
  * §1.4): LISA over a sub-window DROPS neighbors outside the window,
  * RENUMBERS observations to window positions 0..N-1, and derives
  * everything over the window — so per-tile output is reference-defined
  * behavior (each tile IS a window), not an approximation of the global
  * statistic. Each window runs the same `LisaEngine.prepare` that
  * broadcast mode runs once over the whole table (standardize,
  * multivariate scaling, G sums, binary and co-location checks, quantile
  * binning), so one tile covering every point reproduces broadcast mode
  * bit for bit. Two differences are deliberate: a neighbor gid outside
  * the window is trimmed here (broadcast mode rejects one missing from
  * the value table), and a weights row with no value row is dropped by
  * the inner join below (broadcast mode fails on it).
  *
  * Shape: one shuffle keyed by tile; tiles are independent → no
  * broadcast, no global state, arbitrarily many tiles.
  *
  * All 12 reference LISA statistics are supported (the univariate five
  * — moran, g, g-star, geary, joincount — via [[run]]; the multivariate
  * and quantile families via [[runMulti]]).
  */
object TileLisa {

  sealed trait Stat extends Serializable
  case object Moran extends Stat
  case object G extends Stat
  case object GStar extends Stat
  case object Geary extends Stat
  case object JoinCount extends Stat
  /** Multivariate Geary over `vals: array<double>` (q39 semantics). */
  case object MultiGeary extends Stat
  /** Bivariate Moran over vals = [x, y]: z_x × lag(z_y), both
    * standardized per window (window-trim semantics).
    */
  case object BiMoran extends Stat
  /** Bivariate join count over vals = [x1, x2]; errors on co-location
    * per window row (`postgeoda/src/joincount.c:193-197`).
    */
  case object BiJoinCount extends Stat
  /** Co-location join count over `vals: array<double>` of binary vars. */
  case object MultiJoinCount extends Stat
  /** Quantile LISA: per-WINDOW quantile binning (breaks at percentiles
    * 100*i/k over the window's values — the window-trim analogue of
    * `quantilelisa.c:37-140`), then local join count.
    */
  final case class Quantile(k: Int, q: Int) extends Stat
  /** Multivariate quantile LISA: AND of per-variable per-window bin
    * indicators, then join count (`quantilelisa.c:143-300`).
    */
  final case class MultiQuantile(ks: Seq[Int], qs: Seq[Int]) extends Stat

  /** Tiles per window target, used when `tileSize <= 0`. */
  val DefaultTileRows = 100000L

  /** Derive a tile edge from point density: square tiles sized so a
    * tile holds ~`targetRows` points under uniform density —
    * `s = sqrt(w·h·target/n)` over the bounding box, the same density
    * rule `KnnWeights.autoCellSize` uses for its candidate cells.
    * 100k rows/window keeps the per-window kernel (O(rows × k × perms))
    * and its lookup table comfortably inside one task while leaving
    * ~n/100k tiles of parallelism; callers with strong window-semantics
    * opinions (each tile IS a reference window) should pass an explicit
    * `tileSize` instead.
    */
  def autoTileSize(points: DataFrame,
                   targetRows: Long = DefaultTileRows): Double = {
    val b = points.agg(min(col("x")), max(col("x")),
      min(col("y")), max(col("y")), count(lit(1))).head()
    require(!b.isNullAt(0), "autoTileSize over empty points")
    val w = math.max(b.getDouble(1) - b.getDouble(0), 1e-9)
    val h = math.max(b.getDouble(3) - b.getDouble(2), 1e-9)
    val n = b.getLong(4)
    math.max(math.sqrt(w * h * targetRows.toDouble / math.max(1L, n)), 1e-9)
  }

  /** Per-tile LISA for any univariate statistic.
    * points:  (gid, x, y) — tile assignment source
    * values:  (gid, value)
    * weights: (gid, nbrs)
    * tileSize: super-tile edge length (in coordinate units);
    *           <= 0 auto-sizes from point density ([[autoTileSize]]).
    * Output: (gid, tile, stat, p, c).
    */
  def run(stat: Stat, points: DataFrame, values: DataFrame,
          weights: DataFrame, tileSize: Double,
          conf: Lisa.Conf = Lisa.Conf()): DataFrame =
    runMulti(stat, points, LisaEngine.univariate(values), weights, tileSize,
      conf)

  /** Per-tile LISA over a multivariate value frame (gid, vals:
    * array<double>). Univariate statistics read vals(0).
    *
    * Execution: ONE shuffle — `repartition(tile)` +
    * `sortWithinPartitions(tile, gid)` — then a raw InternalRow pass
    * that slices consecutive same-tile runs into windows (arrays read
    * straight out of UnsafeRows; no boxed Seq encoders on the
    * 10^12-row path). Window order is gid-ascending by the sort, which
    * is exactly the order the kernels' per-row seed stream requires, so
    * output is bit-identical under any partitioning.
    */
  def runMulti(stat: Stat, points: DataFrame, values: DataFrame,
               weights: DataFrame, tileSize: Double,
               conf: Lisa.Conf = Lisa.Conf()): DataFrame = {
    val spark = points.sparkSession
    val ts = if (tileSize > 0) tileSize else autoTileSize(points)
    val tiles = points.select(col("gid").cast("long"),
      Tiling.cellIdCol(col("x"), col("y"), ts).as("tile"))
    val keyed = tiles
      .join(values.select(col("gid").cast("long"),
        col("vals").cast("array<double>").as("vals")), Seq("gid"))
      .join(weights.select(col("gid").cast("long"), col("nbrs")), Seq("gid"))
      .select(col("tile"), col("gid").cast("long").as("gid"), col("vals"),
        col("nbrs"))
    val joined = graft.core.Parallelism.spread(keyed, col("tile"))
      .sortWithinPartitions("tile", "gid")

    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val outRdd = org.apache.spark.sql.graftshim.ColumnShim
      .toInternalRdd(joined)
      .mapPartitions { it =>
        val rowsIt = it.buffered
        // consume one consecutive same-tile run into a window at a time
        Iterator.continually(rowsIt).takeWhile(_.hasNext).flatMap { _ =>
          val tile = rowsIt.head.getLong(0)
          val rows = new LisaEngine.RowsBuilder
          val nbrsB = Array.newBuilder[Array[Long]]
          while (rowsIt.hasNext && rowsIt.head.getLong(0) == tile) {
            val row = rowsIt.next()
            // the raw pass reads tile with getLong, which would silently
            // decode a null slot as 0 and contaminate tile 0
            require(!row.isNullAt(0),
              "null tile in TileLisa input (null x/y in points?)")
            rows.add(row, 1)
            nbrsB += LisaEngine.nbrGids(row, 3)
          }
          // the window is prepared exactly as broadcast mode prepares the
          // whole table; rows are gid-sorted by the shuffle, so row i is
          // window position i, and neighbors outside the window are trimmed
          val (gids, mat) = LisaEngine.window(rows.result())
          val kernel = LisaEngine.prepare(stat, gids, mat, conf)
          val trimmed =
            nbrsB.result().map(LisaEngine.positions(gids, _, trim = true))
          val scratch = LisaEngine.scratch(gids.length,
            trimmed.iterator.map(_.length).maxOption.getOrElse(0), conf)
          Iterator.range(0, gids.length).map { idx =>
            val t = kernel(idx, trimmed(idx), scratch)
            new GenericInternalRow(
              Array[Any](gids(idx), tile, t.stat, t.p, t.c)): InternalRow
          }
        }
      }
    // broadcast mode's (gid, stat, p, c) with the tile after the gid
    val schema = StructType(Lisa.outSchema.fields.head +:
      StructField("tile", LongType) +: Lisa.outSchema.fields.tail)
    val out = org.apache.spark.sql.graftshim.ColumnShim
      .internalDf(spark, outRdd, schema)
    // materialize the kernel output ONCE (5 fixed-width columns per
    // row — tiny next to the permutation work that produced it): every
    // caller of this 10^12-row path sorts or joins the result, and a
    // range-partitioned sort SAMPLES its child first — without this the
    // O(rows × k × permutations) kernel executes twice per query (the
    // r8 job-listener probe measured 2 × ~0.85 s of an ~2.1 s tile
    // query inside the duplicated kernel jobs; guide §1.4/§2.4)
    graft.core.Materialize.releasing(out, Nil)
  }

  /** Local Moran per tile (back-compat entry point). */
  def localMoran(points: DataFrame, values: DataFrame, weights: DataFrame,
                 tileSize: Double, conf: Lisa.Conf = Lisa.Conf()): DataFrame =
    run(Moran, points, values, weights, tileSize, conf)
}
