package graft.stats

import graft.core.Stat0
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed LISA execution — broadcast mode, the one-window case of
  * the engine ([[LisaEngine]]).
  *
  * The whole value table is the window: it is gathered to the driver in
  * gid order and the statistic is prepared once (`LisaEngine.prepare`).
  * The prepared vectors and the gid index are then shipped to executors
  * (the permutation step must read values of uniformly drawn ids, so each
  * task needs the full vector), and a shuffle-free `mapPartitions` over
  * the weights rows runs the per-row seeded kernel. Output is
  * bit-identical under any partitioning because each row's permutation
  * stream depends only on (seed, idx).
  *
  * Broadcast mode holds 16 bytes/row (gid + z) on the driver and on
  * every executor — fine to ~100M rows. Nothing here switches mode by
  * size: a gather past the driver budget fails, and a larger table calls
  * per-tile windows ([[TileLisa]]) itself, whose doc names the two
  * deliberate differences between the modes.
  *
  * Driver reads: one job gathers the values (and, in 'lookup' mode, the
  * longest neighbor list, from the same collect); one more runs the
  * kernel into a serialized checkpoint (`Materialize.releasing`).
  */
object Lisa {

  case class Conf(
      permutations: Int = 999,
      seed: Int = 123456789,
      cutoff: Double = 0.05,
      /** scale method for multivariate stats (lisa.h:139-159) */
      scaleMethod: String = "standardize",
      /** 'complete' (per-row stream, bit-reproducible parity default) or
        * 'lookup' (shared draw table — the reference's own default,
        * `proxy.cpp:315-316`; ~numObs× less RNG work, statistically
        * equivalent p-values). Both are deterministic and
        * partitioning-invariant.
        */
      permMethod: String = "complete") {
    require(permMethod == "complete" || permMethod == "lookup",
      "Permutation method has to be one of: complete, lookup (lisa.h:216-263)")
  }

  val outSchema: StructType = StructType(Seq(
    StructField("gid", LongType), StructField("stat", DoubleType),
    StructField("p", DoubleType), StructField("c", DoubleType)))

  /** Collect (gid asc) → (gids, values): the broadcast build step over a
    * `(gid, value)` table. Deterministic: gid-sorted order.
    */
  def gather(values: DataFrame): (Array[Long], Array[Double]) = {
    val (gids, mat, _) = LisaEngine.gather(LisaEngine.univariate(values))
    (gids, mat.headOption.getOrElse(Array.emptyDoubleArray))
  }

  /** Broadcast mode: the whole value table is the one window, prepared
    * once on the driver; the kernel then runs in a distributed pass over
    * the weights rows `(gid, nbrs array<long>)`. Output (gid, stat, p, c).
    */
  private def run(stat: TileLisa.Stat, values: DataFrame, weights: DataFrame,
                  conf: Conf): DataFrame = {
    val spark = weights.sparkSession
    // 'lookup' sizes its shared draw table by the GLOBAL max neighbor
    // count (`LisaEngine.scratch`): the gather's job reads it too
    val (gids, mat, maxK) = LisaEngine.gather(values,
      if (conf.permMethod == "lookup") Some(weights) else None)
    // an empty value table has no window to prepare; every weights row
    // then fails its gid lookup, and no weights rows give no output
    val kernel =
      if (gids.isEmpty) null else LisaEngine.prepare(stat, gids, mat, conf)
    val bGids = spark.sparkContext.broadcast(gids)
    val numObs = gids.length
    // raw InternalRow pass (as in the kNN group stage): neighbor arrays
    // read straight out of UnsafeRows into primitive buffers — no boxed
    // Seq[Long] per row on the permutation hot path
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val src = weights.select(col("gid").cast("long"), col("nbrs"))
    val outRdd = org.apache.spark.sql.graftshim.ColumnShim
      .toInternalRdd(src)
      .mapPartitions { it =>
        val g = bGids.value
        val scratch = LisaEngine.scratch(numObs, maxK, conf)
        it.map { row: InternalRow =>
          val gid = row.getLong(0)
          val idx = java.util.Arrays.binarySearch(g, gid)
          require(idx >= 0, s"gid $gid not present in value table")
          val nbrs = LisaEngine.positions(g, LisaEngine.nbrGids(row, 1),
            trim = false)
          val t = kernel(idx, nbrs, scratch)
          new GenericInternalRow(
            Array[Any](gid, t.stat, t.p, t.c)): InternalRow
        }
      }
    // materialize the kernel output once (4 fixed-width columns per
    // row): every declared consumer sorts the result, and a range-
    // partitioned sort SAMPLES its child — without this the
    // O(rows × k × permutations) kernel executes twice per query
    // (the same double-execution TileLisa.runMulti fixes; guide §1.4)
    graft.core.Materialize.releasing(
      org.apache.spark.sql.graftshim.ColumnShim
        .internalDf(spark, outRdd, outSchema), Nil)
  }

  /** `local_moran_fast` parity (`postgeoda/src/localmoran.c:149-221`,
    * `proxy.cpp:350-458`): the statistic + p for ONE observation given
    * the full value vector — the reference's only distribution-ready
    * operator, and the per-row kernel the distributed path runs. Values
    * must be the complete vector in gid order.
    */
  def localMoranFast(idx: Int, nbrIdxs: Array[Int], values: Array[Double],
                     conf: Conf = Conf()): (Double, Double) = {
    val z = values.clone()
    Stat0.standardize(z)
    val scratch = new LisaKernels.Scratch(z.length,
      math.max(1, nbrIdxs.length))
    val t = LisaKernels.moran(idx, nbrIdxs, z, conf.permutations, conf.seed,
      conf.cutoff, scratch)
    (t.stat, t.p)
  }

  /** Local Moran's I → (gid, stat=I, p, c=cluster). */
  def localMoran(values: DataFrame, weights: DataFrame, conf: Conf = Conf()): DataFrame =
    run(TileLisa.Moran, LisaEngine.univariate(values), weights, conf)

  /** `local_moran_b` (`moran.sql:36-43`; the reference marks it
    * to-be-deprecated but it is still part of its SQL surface): local
    * Moran with the spatial weights passed as ONE whole GAL/GWT blob
    * instead of a per-row weights table. Spark-side this is pure
    * composition — decode the blob (`WeightsCodec.decodeWhole`) into
    * the standard weights frame and run the normal kernel; output is
    * identical to `localMoran` over the same graph.
    */
  def localMoranB(values: DataFrame, wholeBlob: Array[Byte],
                  conf: Conf = Conf()): DataFrame = {
    val spark = values.sparkSession
    import spark.implicits._
    val recs = graft.weights.WeightsCodec.decodeWhole(wholeBlob)._2
    val weights = recs.map { case (g, nbrs, w) =>
      (g, nbrs.toSeq, w.map(_.map(_.toDouble).toSeq)) }
      .toDF("gid", "nbrs", "wts")
    localMoran(values, weights, conf)
  }

  /** Bivariate local Moran over `(gid, value, value2)` — z_x(i) times
    * the neighbor lag of z_y, conditional permutation over z_y (GeoDa's
    * bivariate LISA; a GeoDa-surface companion beyond postgeoda's SQL
    * exports). `value2 == value` reduces bit-identically to
    * [[localMoran]].
    */
  def localBiMoran(values: DataFrame, weights: DataFrame,
                   conf: Conf = Conf()): DataFrame =
    run(TileLisa.BiMoran, LisaEngine.bivariate(values), weights, conf)

  /** Getis-Ord G_i / G_i* → (gid, stat, p, c). */
  def localG(values: DataFrame, weights: DataFrame, star: Boolean,
             conf: Conf = Conf()): DataFrame =
    run(if (star) TileLisa.GStar else TileLisa.G, LisaEngine.univariate(values),
      weights, conf)

  def localGeary(values: DataFrame, weights: DataFrame, conf: Conf = Conf()): DataFrame =
    run(TileLisa.Geary, LisaEngine.univariate(values), weights, conf)

  /** Multivariate Geary over `vals: array<double>` column. */
  def localMultiGeary(values: DataFrame, weights: DataFrame,
                      conf: Conf = Conf()): DataFrame =
    run(TileLisa.MultiGeary, values, weights, conf)

  def localJoinCount(values: DataFrame, weights: DataFrame,
                     conf: Conf = Conf()): DataFrame =
    run(TileLisa.JoinCount, LisaEngine.univariate(values), weights, conf)

  /** Bivariate join count; errors on co-location, replicating
    * `postgeoda/src/joincount.c:193-197`.
    */
  def localBiJoinCount(values: DataFrame /* gid, value, value2 */,
                       weights: DataFrame, conf: Conf = Conf()): DataFrame =
    run(TileLisa.BiJoinCount, LisaEngine.bivariate(values), weights, conf)

  /** Co-location join count over `vals: array<double>` of binary vars. */
  def localMultiJoinCount(values: DataFrame, weights: DataFrame,
                          conf: Conf = Conf()): DataFrame =
    run(TileLisa.MultiJoinCount, values, weights, conf)

  /** Quantile-bin membership indicator per GeoDa quantile classification:
    * breaks at percentiles 100*i/k (i=1..k-1), bin = 1 + #{breaks <= x}.
    */
  def quantileIndicator(vals: Array[Double], k: Int, q: Int): Array[Double] = {
    require(k >= 2 && q >= 1 && q <= k, s"quantile_lisa needs 1<=q<=k, k>=2")
    val sorted = vals.clone(); java.util.Arrays.sort(sorted)
    val breaks = (1 until k).map(i =>
      Stat0.percentileSorted(100.0 * i / k, sorted)).toArray
    vals.map { x =>
      var bin = 1
      var b = 0
      while (b < breaks.length && x >= breaks(b)) { bin += 1; b += 1 }
      if (bin == q) 1.0 else 0.0
    }
  }

  /** Quantile LISA (`postgeoda/src/quantilelisa.c:37-140`): binarize by
    * quantile-bin membership, then local join count.
    */
  def quantileLisa(k: Int, q: Int, values: DataFrame, weights: DataFrame,
                   conf: Conf = Conf()): DataFrame =
    run(TileLisa.Quantile(k, q), LisaEngine.univariate(values), weights, conf)

  /** Multivariate quantile LISA: AND of per-variable bin indicators, then
    * join count (`quantilelisa.c:143-300` / proxy_quantilelisa.cpp:61-115).
    */
  def multiQuantileLisa(ks: Array[Int], qs: Array[Int], values: DataFrame,
                        weights: DataFrame, conf: Conf = Conf()): DataFrame =
    run(TileLisa.MultiQuantile(ks.toSeq, qs.toSeq), values, weights, conf)
}
