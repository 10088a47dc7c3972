package graft.stats

import graft.core.{Idx, Stat0}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Map-classification breaks (`postgeoda/src/breaks.c`,
  * `proxy_breaks.cpp:20-183`). True aggregates in the reference; here
  * computed from exact order statistics obtained scalably:
  * the value column is given a dense rank by global sort (range
  * partitioner + per-partition offsets — no single-partition window),
  * then only the handful of ranks a break formula needs are fetched.
  * Driver never sees more than O(#breaks) rows, so the same code path
  * holds at 10^12 rows. Jenks natural breaks is the exception: the DP is
  * inherently sequential, so it runs on a bounded sample collected to the
  * driver (exact when n <= cap), mirroring SURVEY §2.1 B6.
  *
  * Percentile convention: GeoDa `GenUtils::percentile` plotting positions
  * (see Stat0.percentileSorted) — NOT SQL percentile_cont/disc.
  */
object Breaks {

  /** Fetch values at the given 0-based ranks of `values.value` asc.
    * Scoped Idx use → the internal sort cache is released after the
    * O(#breaks) collect (no cached-DF growth across a Verify run).
    */
  private def valuesAtRanks(values: DataFrame, ranks: Seq[Long]): Map[Long, Double] = {
    val want = ranks.distinct
    Idx.withAttached(
      values.select(col("value").cast("double"), col("gid")), "rk",
      "value", "gid") { ranked =>
      ranked.filter(col("rk").isin(want: _*))
        .select(col("rk"), col("value")).collect() // driver: bounded, O(#ranks)
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
  }

  /** GeoDa percentile over a value column using only 2 order statistics
    * per requested percentile.
    */
  def percentiles(values: DataFrame, pcts: Seq[Double]): Seq[Double] = {
    val n = values.count()
    require(n > 0, "breaks over empty input")
    val nd = n.toDouble
    // which ranks does each percentile need?
    case class Need(p: Double, lo: Long, hi: Long, frac: Double)
    val needs = pcts.map { x =>
      val p0 = (100.0 / nd) * 0.5
      val pN = (100.0 / nd) * (nd - 0.5)
      if (x <= p0) Need(x, 0L, 0L, 0.0)
      else if (x >= pN) Need(x, n - 1, n - 1, 0.0)
      else {
        val idx = x * nd / 100.0 - 0.5
        val i = math.floor(idx).toLong
        if (i >= n - 1) Need(x, n - 1, n - 1, 0.0)
        else Need(x, i, i + 1, idx - i)
      }
    }
    val fetched = valuesAtRanks(values,
      needs.flatMap(nd0 => Seq(nd0.lo, nd0.hi)))
    needs.map(nd0 =>
      fetched(nd0.lo) + nd0.frac * (fetched(nd0.hi) - fetched(nd0.lo)))
  }

  /** Exact median of `values.value` (array-median convention of
    * `Stat0.medianSorted`: middle element for odd n, mean of the two
    * middle elements for even n — NOT the GeoDa plotting-position
    * percentile). Distributed: fetches only the ≤2 middle order
    * statistics, so the driver sees O(1) rows at any scale; bit-exact
    * vs sorting the column in memory (odd n averages the same value
    * with itself).
    */
  def medianExact(values: DataFrame): Double =
    medianExact(values, values.count())

  /** [[medianExact]] with the row count already known — callers running
    * several medians over same-sized frames (e.g. per-variable 'mad'
    * scaling) count once instead of once per median.
    */
  def medianExact(values: DataFrame, n: Long): Double = {
    require(n > 0, "median over empty input")
    val lo = (n - 1) / 2
    val hi = n / 2
    val m = valuesAtRanks(values, Seq(lo, hi))
    if (lo == hi) m(lo) else (m(lo) + m(hi)) / 2.0
  }

  /** hinge15/hinge30 box-map breaks (5 values): [q1 - h*iqr, q1, median,
    * q3, q3 + h*iqr] (`breaks.c:118-194`, GeoDa box-map [public]).
    */
  def hingeBreaks(values: DataFrame, hinge: Double): Seq[Double] = {
    val Seq(q1, med, q3) = percentiles(values, Seq(25.0, 50.0, 75.0))
    val iqr = q3 - q1
    Seq(q1 - hinge * iqr, q1, med, q3, q3 + hinge * iqr)
  }

  /** percentile_breaks: 1, 10, 50, 90, 99 (`breaks.c:196-233`). */
  def percentileBreaks(values: DataFrame): Seq[Double] =
    percentiles(values, Seq(1.0, 10.0, 50.0, 90.0, 99.0))

  /** Equal-interval classification — the GeoDa map-classification
    * family member postgeoda's exported breaks set omits: k-1 interior
    * cut points `min + i*(max-min)/k`. One min/max aggregate, O(1)
    * driver rows at any scale.
    */
  def equalIntervalBreaks(values: DataFrame, k: Int): Seq[Double] = {
    require(k >= 2, "equal intervals need k >= 2")
    val r = values.agg(
      org.apache.spark.sql.functions.min(col("value").cast("double")),
      org.apache.spark.sql.functions.max(col("value").cast("double")))
      .head() // driver: one row
    val lo = r.getDouble(0); val hi = r.getDouble(1)
    (1 until k).map(i => lo + i * (hi - lo) / k)
  }

  /** stddev_breaks: mean-2sd, mean-sd, mean, mean+sd, mean+2sd
    * (`breaks.c:236-273`; sample sd).
    */
  def stddevBreaks(values: DataFrame): Seq[Double] = {
    val r = values.agg(avg(col("value")).as("m"),
      stddev_samp(col("value")).as("s")).head() // driver: one row
    val m = r.getDouble(0); val s = r.getDouble(1)
    Seq(m - 2 * s, m - s, m, m + s, m + 2 * s)
  }

  /** quantile_breaks: k-1 breaks at percentiles 100*i/k (`breaks.c:276`). */
  def quantileBreaks(values: DataFrame, k: Int): Seq[Double] =
    percentiles(values, (1 until k).map(i => 100.0 * i / k))

  /** Jenks natural breaks via Fisher-Jenks DP on the driver
    * (`breaks.c:315-352` → gda_naturalbreaks [public]). Exact when
    * n <= sampleCap; above that, computed on a deterministic sorted
    * sample of sampleCap ranks (documented approximation for scale).
    */
  def naturalBreaks(values: DataFrame, k: Int, sampleCap: Int = 100000): Seq[Double] = {
    val n = values.count()
    val vals: Array[Double] =
      if (n <= sampleCap) {
        values.select(col("value").cast("double")).orderBy("value")
          .collect().map(_.getDouble(0)) // driver: bounded, n <= sampleCap
      } else {
        val step = n.toDouble / sampleCap
        val ranks = (0 until sampleCap).map(i => (i * step).toLong)
        val m = valuesAtRanks(values, ranks)
        ranks.map(m).toArray
      }
    jenks(vals, k)
  }

  /** Fisher-Jenks exact DP over sorted values, O(k n^2). Returns k-1
    * lower break values (GeoDa convention: break = first value of the
    * next class).
    */
  def jenks(sorted: Array[Double], k: Int): Seq[Double] = {
    val n = sorted.length
    require(n > 0 && k >= 2)
    if (k >= n) return sorted.drop(1).take(k - 1).toSeq
    // prefix sums for O(1) class variance
    val ps = new Array[Double](n + 1)
    val ps2 = new Array[Double](n + 1)
    var i = 0
    while (i < n) {
      ps(i + 1) = ps(i) + sorted(i)
      ps2(i + 1) = ps2(i) + sorted(i) * sorted(i)
      i += 1
    }
    @inline def ssd(a: Int, b: Int): Double = { // [a,b) sum sq deviation
      val cnt = b - a
      val s = ps(b) - ps(a)
      (ps2(b) - ps2(a)) - s * s / cnt
    }
    // dp(c)(i) = min total ssd splitting first i values into c classes
    var prev = Array.tabulate(n + 1)(i => if (i == 0) 0.0 else ssd(0, i))
    val split = Array.ofDim[Int](k + 1, n + 1)
    var c = 2
    while (c <= k) {
      val cur = new Array[Double](n + 1)
      java.util.Arrays.fill(cur, Double.MaxValue)
      // each iEnd's minimization reads only `prev` and the prefix sums,
      // and writes its own cur/split slots — the layer parallelizes with
      // bit-identical results in any visit order (serial below 4096:
      // fork/join overhead exceeds the layer's work there)
      val cc = c; val pv = prev
      def layerAt(iEnd: Int): Unit = {
        var j = cc - 1
        var best = Double.MaxValue
        var bestJ = cc - 1
        while (j < iEnd) {
          val v = pv(j) + ssd(j, iEnd)
          if (v < best) { best = v; bestJ = j }
          j += 1
        }
        cur(iEnd) = best
        split(cc)(iEnd) = bestJ
      }
      if (n >= 4096)
        java.util.stream.IntStream.rangeClosed(c, n).parallel()
          .forEach(layerAt(_))
      else {
        var iEnd = c
        while (iEnd <= n) { layerAt(iEnd); iEnd += 1 }
      }
      prev = cur
      c += 1
    }
    // backtrack split points
    val cuts = new Array[Int](k - 1)
    var end = n
    c = k
    while (c > 1) {
      val j = split(c)(end)
      cuts(c - 2) = j
      end = j
      c -= 1
    }
    cuts.map(j => sorted(j)).toSeq
  }
}
