package graft.stats

import graft.core.Stat0
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuilder

/** The one LISA engine behind both execution modes. The reference
  * computes every local statistic over one window of rows
  * (`postgeoda/src/localmoran.c:43-131`), and its window-trim rule
  * (`binweight.cpp:128-207`, SURVEY §1.4) makes whole-table LISA the
  * one-window case of per-tile LISA. So [[prepare]] is the one place a
  * statistic is derived over a window: broadcast mode ([[Lisa]]) runs it
  * once over the whole value table, tile mode ([[TileLisa]]) once per
  * tile. Both modes read, check and size windows with the helpers here,
  * so bad input fails with the same message, naming the gid.
  */
private[stats] object LisaEngine {

  /** Rows as read, in any order: gids, per-row widths, row-major values. */
  final case class Rows(gids: Array[Long], widths: Array[Int], flat: Array[Double])

  /** `(gid, value)` as the `(gid, vals)` shape every statistic reads. */
  def univariate(values: DataFrame): DataFrame =
    values.select(col("gid"), array(col("value").cast("double")).as("vals"))

  /** `(gid, value, value2)` as `(gid, vals = [value, value2])`. */
  def bivariate(values: DataFrame): DataFrame =
    values.select(col("gid"), array(col("value").cast("double"),
      col("value2").cast("double")).as("vals"))

  /** Accumulates `(gid, vals: array<double>)` rows read straight out of
    * InternalRows (no boxed Seq decoding on the hot path). The raw read
    * would decode a null slot as 0, so null gids, null arrays and null
    * elements are rejected here, naming the gid.
    */
  final class RowsBuilder {
    private val gids = new ArrayBuilder.ofLong
    private val widths = new ArrayBuilder.ofInt
    private val flat = new ArrayBuilder.ofDouble

    /** Appends the row whose gid is at ordinal `g` and vals at `g + 1`. */
    def add(row: InternalRow, g: Int): Unit = {
      require(!row.isNullAt(g), "null gid in LISA input")
      val gid = row.getLong(g)
      require(!row.isNullAt(g + 1), s"null vals array at gid $gid")
      val arr = row.getArray(g + 1)
      val m = arr.numElements()
      var k = 0
      while (k < m) {
        require(!arr.isNullAt(k), s"null element in vals array at gid $gid")
        flat += arr.getDouble(k)
        k += 1
      }
      gids += gid
      widths += m
    }

    def result(): Rows = Rows(gids.result(), widths.result(), flat.result())
  }

  /** Broadcast mode's gather of `(gid, vals)`: each partition packs its
    * rows into primitive arrays on the executor (no driver-side Row
    * boxing), and the driver makes them the one whole-table window with
    * one primitive sort by gid — ~10x faster than orderBy().collect() for
    * broadcast-vector builds. Given `weights` rows `(.., nbrs, ..)`, the
    * same job (one collect over both) also returns the longest neighbor
    * list's length, else 0.
    */
  def gather(values: DataFrame, weights: Option[DataFrame] = None)
      : (Array[Long], Array[Array[Double]], Int) = {
    import org.apache.spark.sql.graftshim.ColumnShim
    val src = values.select(col("gid").cast("long"),
      col("vals").cast("array<double>"))
    val rows: RDD[Either[Rows, Int]] = ColumnShim.toInternalRdd(src)
      .mapPartitions { it =>
        val b = new RowsBuilder
        it.foreach(b.add(_, 0))
        Iterator.single(Left(b.result()))
      }
    val degrees = weights.map(w => ColumnShim.toInternalRdd(w.select(col("nbrs")))
      .mapPartitions { it =>
        var most = 0
        it.foreach(r => if (!r.isNullAt(0)) most = math.max(most, r.getArray(0).numElements()))
        Iterator.single(Right(most): Either[Rows, Int])
      })
    // a task per partition of the wider input: the job is no wider than
    // the kernel pass over the weights
    val parts = degrees.fold(rows)(d => rows.union(d)
      .coalesce(math.max(1, math.max(rows.getNumPartitions, d.getNumPartitions)))).collect()
    val packed = parts.collect { case Left(r) => r }
    val (gids, mat) = window(Rows(packed.flatMap(_.gids), packed.flatMap(_.widths),
      packed.flatMap(_.flat)))
    (gids, mat, parts.collect { case Right(d) => d }.foldLeft(0)(math.max))
  }

  /** A window's gids in ascending order and its column-major value matrix
    * (one array per variable, in gid order). Duplicate gids, empty arrays
    * and ragged arrays are rejected in gid order — the width is the
    * lowest gid's — so the named gid does not depend on partitioning.
    */
  def window(rows: Rows): (Array[Long], Array[Array[Double]]) = {
    val n = rows.gids.length
    // primitive sort + binary-search permutation: no boxed comparator
    val gids = rows.gids.clone()
    java.util.Arrays.sort(gids)
    var i = 1
    while (i < n) {
      require(gids(i) != gids(i - 1), s"duplicate gid ${gids(i)} in value table")
      i += 1
    }
    val order = new Array[Int](n) // the input row at each gid position
    i = 0
    while (i < n) {
      order(java.util.Arrays.binarySearch(gids, rows.gids(i))) = i
      i += 1
    }
    val nv = if (n == 0) 0 else rows.widths(order(0))
    i = 0
    while (i < n) {
      val w = rows.widths(order(i))
      require(w > 0, s"empty vals array at gid ${gids(i)}")
      require(w == nv, s"ragged vals array at gid ${gids(i)} ($nv vs $w)")
      i += 1
    }
    val mat = Array.ofDim[Double](nv, n)
    i = 0
    while (i < n) {
      var v = 0
      while (v < nv) { mat(v)(i) = rows.flat(order(i) * nv + v); v += 1 }
      i += 1
    }
    (gids, mat)
  }

  /** The neighbor gids at ordinal `o` of a weights row; null is none. */
  def nbrGids(row: InternalRow, o: Int): Array[Long] =
    if (row.isNullAt(o)) Array.emptyLongArray else row.getArray(o).toLongArray()

  /** Window positions of one row's neighbor gids. A neighbor outside the
    * window is dropped in tile mode (`trim`, binweight.cpp:153-183
    * semantics) and an error in broadcast mode, whose window is the whole
    * value table.
    */
  def positions(gids: Array[Long], nbrs: Array[Long], trim: Boolean): Array[Int] = {
    val out = new Array[Int](nbrs.length)
    var k = 0
    var i = 0
    while (i < nbrs.length) {
      val j = java.util.Arrays.binarySearch(gids, nbrs(i))
      require(j >= 0 || trim, s"neighbor gid ${nbrs(i)} not in value table")
      if (j >= 0) { out(k) = j; k += 1 }
      i += 1
    }
    if (k == out.length) out else java.util.Arrays.copyOf(out, k)
  }

  /** One task's kernel scratch for a window of `numObs` rows whose longest
    * neighbor list has `maxK` entries. 'lookup' mode sizes its shared draw
    * table by that max degree (the stream a permutation consumes depends
    * on it), and every task rebuilds the identical table from (seed,
    * numObs, maxK): no broadcast, still partitioning-invariant. The shift
    * trick needs maxK < numObs-1; beyond that it falls back to 'complete'.
    */
  def scratch(numObs: Int, maxK: Int, conf: Lisa.Conf): LisaKernels.Scratch = {
    val lt =
      if (conf.permMethod == "lookup" && maxK > 0 && maxK < numObs - 1)
        new LisaKernels.LookupTable(numObs, maxK, conf.permutations, conf.seed)
      else null
    new LisaKernels.Scratch(numObs, 65536, lt)
  }

  /** Everything `stat` derives over its window, done once; returns the
    * per-row kernel over window positions. `gids` is ascending and `mat`
    * the column-major values in that order (see [[window]]); both must be
    * non-empty.
    */
  def prepare(stat: TileLisa.Stat, gids: Array[Long], mat: Array[Array[Double]],
      conf: Lisa.Conf): (Int, Array[Int], LisaKernels.Scratch) => LisaKernels.Triple = {
    import TileLisa.{BiJoinCount, BiMoran, G, GStar, Geary, JoinCount, Moran,
      MultiGeary, MultiJoinCount, MultiQuantile, Quantile}
    val n = gids.length
    val nv = mat.length
    val perms = conf.permutations
    val seed = conf.seed
    val cutoff = conf.cutoff
    def standardized(x: Array[Double]): Array[Double] = {
      val z = x.clone(); Stat0.standardize(z); z
    }
    // gid-sorted order → deterministic sum
    def sum(x: Array[Double]): Double = { var s = 0.0; x.foreach(s += _); s }
    def requireBinary(x: Array[Double], what: String): Unit = {
      var j = 0
      while (j < n) {
        require(x(j) == 0.0 || x(j) == 1.0,
          s"$what must be binary 0/1 (joincount.c semantics); " +
            s"found ${x(j)} at gid ${gids(j)}")
        j += 1
      }
    }
    def product(xs: Array[Array[Double]]): Array[Double] = {
      val prods = new Array[Double](n)
      var j = 0
      while (j < n) {
        var p = 1.0; var v = 0
        while (v < xs.length) { p *= xs(v)(j); v += 1 }
        prods(j) = p; j += 1
      }
      prods
    }
    stat match {
      case Moran =>
        val z = standardized(mat(0))
        (idx, nbrs, s) => LisaKernels.moran(idx, nbrs, z, perms, seed, cutoff, s)
      case Geary =>
        val z = standardized(mat(0))
        (idx, nbrs, s) => LisaKernels.geary(idx, nbrs, z, perms, seed, cutoff, s)
      case G =>
        val x = mat(0); val sumAll = sum(x)
        (idx, nbrs, s) => LisaKernels.localG(idx, nbrs, x, sumAll, perms, seed,
          cutoff, s)
      case GStar =>
        val x = mat(0); val sumAll = sum(x)
        (idx, nbrs, s) => LisaKernels.localGStar(idx, nbrs, x, sumAll, perms,
          seed, cutoff, s)
      case JoinCount =>
        val x = mat(0)
        requireBinary(x, "local_joincount variable")
        (idx, nbrs, s) => LisaKernels.joinCount(idx, nbrs, x, perms, seed, s)
      case MultiGeary =>
        val zs = mat.map(v => Stat0.scale(v, conf.scaleMethod))
        (idx, nbrs, s) => LisaKernels.multiGeary(idx, nbrs, zs, perms, seed,
          cutoff, s)
      case BiMoran =>
        require(nv == 2, s"bimoran needs 2 variables, got $nv")
        val zx = standardized(mat(0)); val zy = standardized(mat(1))
        (idx, nbrs, s) => LisaKernels.biMoran(idx, nbrs, zx, zy, perms, seed,
          cutoff, s)
      case BiJoinCount =>
        require(nv == 2, s"bijoincount needs 2 variables, got $nv")
        val x1 = mat(0); val x2 = mat(1)
        requireBinary(x1, "local_bijoincount first variable")
        requireBinary(x2, "local_bijoincount second variable")
        var j = 0
        while (j < n) {
          // strict reference parity: joincount.c:193-197 errors whenever
          // r1[i] == r2[i] — including both-zero, not just co-located ones
          require(x1(j) != x2(j),
            "local bivariate join count works only when two events cannot " +
              "happen in the same location (joincount.c:193-197); x1 == x2 " +
              s"at gid ${gids(j)}")
          j += 1
        }
        (idx, nbrs, s) => LisaKernels.biJoinCount(idx, nbrs, x1, x2, perms,
          seed, s)
      case MultiJoinCount =>
        mat.zipWithIndex.foreach { case (v, vi) =>
          requireBinary(v, s"local_multijoincount variable $vi") }
        val prods = product(mat)
        (idx, nbrs, s) => LisaKernels.multiJoinCount(idx, nbrs, prods, perms,
          seed, s)
      case Quantile(k, q) =>
        val x = Lisa.quantileIndicator(mat(0), k, q)
        (idx, nbrs, s) => LisaKernels.joinCount(idx, nbrs, x, perms, seed, s)
      case MultiQuantile(ks, qs) =>
        require(ks.length == nv && qs.length == nv, "ks/qs/vars arity mismatch")
        val prods = product(mat.indices.map(v =>
          Lisa.quantileIndicator(mat(v), ks(v), qs(v))).toArray)
        (idx, nbrs, s) => LisaKernels.joinCount(idx, nbrs, prods, perms, seed, s)
    }
  }
}
