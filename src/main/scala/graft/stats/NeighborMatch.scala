package graft.stats

import graft.core.Stat0
import graft.weights.KnnWeights
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Local neighbor match test (`postgeoda/src/neighbor_match.c:46-230`,
  * `proxy.cpp:502-565` → gda_neighbor_match_test [public]).
  *
  * Builds TWO k-nearest-neighbor structures — spatial (geometry) and
  * attribute-space (scaled variables, euclidean or manhattan) — and
  * reports per observation the overlap cardinality v and the
  * hypergeometric tail probability P(X >= v), X ~ Hypergeom(N-1, k, k).
  *
  * Spark shape: BOTH kNN sides run the one kNN engine (`KnnWeights`):
  * the spatial side over (x, y), the attribute side over the scaled
  * vectors with euclidean or manhattan distance over all dims, gridded
  * by their first two — no cross join and no O(N²) stage at ANY
  * dimensionality; scaling moments come from one aggregation, not a
  * driver collect. The hypergeometric p depends only on the overlap
  * cardinality v ∈ [0, k], so it's a k+1-element literal lookup — no
  * UDF.
  */
object NeighborMatch {

  /** Upper-tail hypergeometric P(X >= v) with population N, K successes,
    * n draws. Exact summation in log space via lgamma.
    */
  def hypergeomUpperTail(v: Int, n: Int, k: Int, bigN: Int): Double = {
    if (v <= 0) return 1.0
    def lchoose(a: Int, b: Int): Double =
      if (b < 0 || b > a) Double.NegativeInfinity
      else lgammaD(a + 1.0) - lgammaD(b + 1.0) - lgammaD(a - b + 1.0)
    val denom = lchoose(bigN, n)
    var p = 0.0
    var x = v
    val hi = math.min(k, n)
    while (x <= hi) {
      val l = lchoose(k, x) + lchoose(bigN - k, n - x) - denom
      p += math.exp(l)
      x += 1
    }
    math.min(1.0, p)
  }

  private def lgammaD(x: Double): Double = {
    // Lanczos approximation (g=7, n=9) — standard public coefficients
    val c = Array(0.99999999999980993, 676.5203681218851, -1259.1392167224028,
      771.32342877765313, -176.61502916214059, 12.507343278686905,
      -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
    if (x < 0.5)
      math.log(math.Pi / math.sin(math.Pi * x)) - lgammaD(1.0 - x)
    else {
      val x2 = x - 1.0
      var a = c(0)
      val t = x2 + 7.5
      var i = 1
      while (i < 9) { a += c(i) / (x2 + i); i += 1 }
      0.5 * math.log(2 * math.Pi) + (x2 + 0.5) * math.log(t) - t + math.log(a)
    }
  }

  /** Scale the `vals` array column per variable, distributively: moments
    * from ONE global aggregation, application as a codegen'd projection.
    * Methods per lisa.h:139-159; 'mad' needs exact medians and keeps a
    * driver-side path (rarely used).
    */
  private[stats] def scaleVals(values: DataFrame, nv: Int,
                               method: String): DataFrame = {
    val v = col("vals")
    method match {
      case "raw" =>
        values.select(col("gid").cast("long").as("gid"), v.as("sv"))
      case "standardize" | "demean" =>
        val aggs = (0 until nv).flatMap(i => Seq(
          avg(v(i)).as(s"m$i"), stddev_samp(v(i)).as(s"s$i")))
        val m = values.agg(aggs.head, aggs.tail: _*).head() // driver: one row
        val cols = (0 until nv).map { i =>
          val mu = m.getDouble(2 * i)
          val sd = if (method == "demean") 0.0 else m.getDouble(2 * i + 1)
          // GeoDa semantics (Stat0.standardize): sd == 0 → deviations
          if (sd != 0.0 && !sd.isNaN) (v(i) - mu) / sd else v(i) - mu
        }
        values.select(col("gid").cast("long").as("gid"),
          array(cols: _*).as("sv"))
      case "range_standardize" | "range_adjust" =>
        val aggs = (0 until nv).flatMap(i => Seq(
          min(v(i)).as(s"mn$i"), max(v(i)).as(s"mx$i")))
        val m = values.agg(aggs.head, aggs.tail: _*).head() // driver: one row
        val cols = (0 until nv).map { i =>
          val mn = m.getDouble(2 * i); val mx = m.getDouble(2 * i + 1)
          val r = mx - mn
          if (method == "range_standardize")
            (if (r == 0.0) v(i) - mn else (v(i) - mn) / r)
          else (if (r == 0.0) v(i) else v(i) / r)
        }
        values.select(col("gid").cast("long").as("gid"),
          array(cols: _*).as("sv"))
      case "mad" =>
        // exact per-variable median-absolute-deviation, DISTRIBUTED:
        // two exact-median passes per variable through the engine's
        // order-statistic machinery (Breaks.medianExact fetches only
        // the middle ranks — driver sees O(1) rows, never the value
        // matrix), then a codegen'd projection. Bit-exact vs
        // Stat0.madScale: same median convention, same |v-med| and
        // (v-med)/mad double arithmetic (MadScaleSpec pins it).
        val pre = values.select(col("gid").cast("long").as("gid"),
          col("vals"))
        val vb = col("vals")
        // one count serves all 2*nv medians; null elements must fail
        // loudly (nulls sort first in the rank machinery and would
        // silently shift every median — the driver path this replaced
        // threw on them). Validation runs BEFORE the cache so the
        // throwing path cannot leave a pinned DataFrame behind.
        val counts = pre.agg(count(lit(1)),
          count(when(col("vals").isNull ||
            exists(col("vals"), x => x.isNull), 1))).head() // driver: one row
        val n = counts.getLong(0)
        require(counts.getLong(1) == 0,
          "null element in vals — 'mad' scaling needs complete rows")
        if (n == 0) {
          pre.select(col("gid"), col("vals").as("sv"))
        } else {
          val base = pre.cache()
          val meds = (0 until nv).map { i =>
            Breaks.medianExact(base.select(
              vb(i).cast("double").as("value"), col("gid")), n)
          }
          val mads = (0 until nv).map { i =>
            Breaks.medianExact(base.select(
              abs(vb(i) - meds(i)).cast("double").as("value"), col("gid")), n)
          }
          val cols = (0 until nv).map { i =>
            if (mads(i) == 0.0) vb(i) - meds(i)
            else (vb(i) - meds(i)) / mads(i)
          }
          graft.core.Materialize.releasing(
            base.select(col("gid"), array(cols: _*).as("sv")), Seq(base))
        }
      case other => throw new IllegalArgumentException(
        s"unknown scale method '$other' (lisa.h:139-159)")
    }
  }

  /** Exact attribute-space kNN pairs (gid, anbr) over the scaled
    * vectors `sv` of `nv` values, euclidean or manhattan: the kNN
    * engine's vector metrics (`KnnWeights`), for every dimension.
    */
  private[stats] def attrKnn(scaled: DataFrame, nv: Int, k: Int,
                             distType: String): DataFrame =
    KnnWeights.vectorRows(scaled.select(col("gid"), col("sv").as("v")), k, nv,
        distType == "manhattan")
      .select(col("gid"), explode(col("nbrs")).as("anbr"))

  /** points: (gid, x, y); values: (gid, vals array<double>).
    * Returns (gid, card, p). scaleMethod per lisa.h:139-159; distType
    * euclidean|manhattan per lisa.h:161-173.
    */
  def run(points: DataFrame, values: DataFrame, k: Int,
          scaleMethod: String = "standardize",
          distType: String = "euclidean",
          cellSize: Option[Double] = None): DataFrame = {
    // one pass over values: the row count, and the vector length from
    // its min and max; rows whose lengths differ are named here, any
    // other bad vector by the row check below, which runs before the
    // scaling moments could spread one NaN to every row
    val len = when(col("vals").isNotNull, size(col("vals")))
    val m = values.agg(count(lit(1)), min(len), max(len),
      min_by(col("gid"), len), max_by(col("gid"), len)).head() // driver: one row
    val n = m.getLong(0)
    if (n == 0) {
      require(points.isEmpty, "neighbor match: values has no rows but points has")
      return points.select(col("gid").cast("long").as("gid"),
        lit(0.0).as("card"), lit(1.0).as("p"))
    }
    val nv = if (m.isNullAt(2)) 0 else m.getInt(2)
    require(m.isNullAt(1) || m.getInt(1) == nv, s"neighbor match: gid ${m.get(3)} " +
      s"has ${m.getInt(1)} values but gid ${m.get(4)} has $nv; every vector must " +
      "have the same length")
    require(nv > 0 || m.isNullAt(2), "neighbor match needs at least one value per row")
    val gid = col("gid").cast("long")
    val checked = values.select(gid.as("gid"),
      KnnWeights.checkedVector(gid, col("vals").cast("array<double>"), nv).as("vals"))

    // spatial kNN via the cell-ring engine
    val spatial = KnnWeights.pairs(points, KnnWeights.Conf(k = k,
        cellSize = cellSize))
      .select(col("gid"), col("nbr"))

    val scaled = scaleVals(checked, nv, scaleMethod)
    val aknn = attrKnn(scaled, nv, k, distType)

    // overlap cardinality by inner join of the two neighbor sets
    val card = spatial.join(aknn,
        spatial("gid") === aknn("gid") && spatial("nbr") === aknn("anbr"))
      .groupBy(spatial("gid").as("gid")).agg(count(lit(1)).as("card"))
    // p depends only on card ∈ [0, k] → literal lookup, no UDF
    val bigN = (n - 1).toInt
    val pTable = (0 to k).map(v => hypergeomUpperTail(v, k, k, bigN))
    points.select(col("gid").cast("long"))
      .join(card, Seq("gid"), "left")
      .select(col("gid"),
        coalesce(col("card"), lit(0L)).cast("double").as("card"))
      .withColumn("p",
        element_at(typedlit(pTable), col("card").cast("int") + 1))
  }
}
