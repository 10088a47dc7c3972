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
  * Spark shape: BOTH kNN sides run the cell-ring engine — ≤2-dim
  * euclidean attribute spaces reuse the planar engine directly
  * (attribute values become coordinates); 3+ dims and manhattan run the
  * same discipline with full-dimensional exact distances over a 2-d
  * projection grid ([[attrKnnHighDim]]) — no cross join and no O(N²)
  * stage at ANY dimensionality; scaling moments come from one
  * aggregation, not a driver collect. The hypergeometric p depends only
  * on the overlap cardinality v ∈ [0, k], so it's a k+1-element literal
  * lookup — no UDF.
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
        val m = values.agg(aggs.head, aggs.tail: _*).head()
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
        val m = values.agg(aggs.head, aggs.tail: _*).head()
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
            exists(col("vals"), x => x.isNull), 1))).head()
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

  /** Exact attribute-space kNN pairs (gid, anbr) — no cross join at ANY
    * dimensionality. ≤2-dim euclidean (and 1-dim manhattan, which is the
    * same metric) maps attributes to coordinates and runs the planar
    * cell-ring engine directly; everything else runs
    * [[attrKnnHighDim]] — the same cell-ring discipline over the first
    * two scaled dims with exact full-dimensional distances.
    */
  private[stats] def attrKnn(scaled: DataFrame, nv: Int, k: Int,
                             distType: String): DataFrame = {
    if (nv == 1 || (distType == "euclidean" && nv <= 2)) {
      val pts = scaled.select(col("gid"), col("sv")(0).as("x"),
        (if (nv == 2) col("sv")(1) else lit(0.0)).as("y"))
      KnnWeights.pairs(pts, KnnWeights.Conf(k = k))
        .select(col("gid"), col("nbr").as("anbr"))
    } else attrKnnHighDim(scaled, nv, k, distType == "manhattan")
  }

  /** Exact d-dimensional kNN via the cell-ring discipline: grid cells
    * over the FIRST TWO scaled dims (sized for ~k candidates per 3×3
    * block), candidates from the ±r Chebyshev block, full-dimensional
    * exact distance per candidate. Certification transfers from the
    * planar engine because both L2 and L1 full-space distances dominate
    * the 2-d projection distance: a point outside the ±r block differs
    * by ≥ r·cellSize in the projection, so `kth < r·cellSize` proves the
    * top-k complete. Uncertified stragglers re-run at doubled radius,
    * ending in a broadcast completion of the (few) leftovers — never an
    * N×N cross join. This is its own copy of the expanding-radius join
    * loop that `KnnWeights.knnRows` has replaced with a broadcast
    * completion pass; porting it onto that pass is a ROADMAP item.
    * Replaces the reference's single-node kd-tree
    * (`neighbor_match.c:46-230`) at any dimensionality.
    */
  private def attrKnnHighDim(scaled: DataFrame, nv: Int, k: Int,
                             manhattan: Boolean): DataFrame = {
    val spark = scaled.sparkSession
    import spark.implicits._
    val b = scaled.agg(min(col("sv")(0)), max(col("sv")(0)),
      min(col("sv")(1)), max(col("sv")(1)), count(lit(1))).head()
    val (mnx, mxx, mny, mxy, n) = (b.getDouble(0), b.getDouble(1),
      b.getDouble(2), b.getDouble(3), b.getLong(4))
    val w = math.max(mxx - mnx, 1e-9); val h = math.max(mxy - mny, 1e-9)
    val s = math.max(
      math.sqrt(w * h * math.max(1, k) / math.max(1L, n)), 1e-9)

    val pts = scaled.select(col("gid").cast("long").as("gid"), col("sv"))
      .withColumn("cell",
        graft.core.Tiling.cellIdCol(col("sv")(0), col("sv")(1), s))
      .cache()
    val ptsB = pts.select(col("gid").as("bgid"), col("sv").as("bsv"),
      col("cell").as("bcell"))

    val dims = nv // stable capture for the closure
    def dist(a: Seq[Double], c: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < dims) {
        val d = a(i) - c(i)
        acc += (if (manhattan) math.abs(d) else d * d)
        i += 1
      }
      if (manhattan) acc else math.sqrt(acc)
    }

    val loopCaches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var done: DataFrame = null
    var unresolved = pts
    var r = 1
    var exhausted = false
    var remaining = true
    while (remaining) {
      val cand =
        if (!exhausted) {
          val blockDeltas = (for (dx <- -r to r; dy <- -r to r)
            yield dx.toLong * graft.core.Tiling.Mul + dy).toArray
          unresolved
            .withColumn("__delta", explode(typedLit(blockDeltas)))
            .withColumn("__ccell", col("cell") + col("__delta"))
            .join(ptsB, col("__ccell") === col("bcell"))
            .filter(col("gid") =!= col("bgid"))
        } else {
          broadcast(unresolved).crossJoin(ptsB)
            .filter(col("gid") =!= col("bgid"))
        }
      val rr = r; val ex = exhausted
      val topk = cand.select(col("gid"), col("sv"), col("bgid"), col("bsv"))
        .as[(Long, Seq[Double], Long, Seq[Double])]
        .groupByKey(_._1)
        .mapGroups { (gid, it) =>
          // deterministic insertion top-k on (dist, gid) asc, k small
          val ds = Array.fill(k)(Double.PositiveInfinity)
          val gs = new Array[Long](k)
          var sz = 0
          it.foreach { c =>
            val d = dist(c._2, c._4); val g = c._3
            if (sz < k || d < ds(k - 1) || (d == ds(k - 1) && g < gs(k - 1))) {
              var i = math.min(sz, k - 1)
              while (i > 0 &&
                     (ds(i - 1) > d || (ds(i - 1) == d && gs(i - 1) > g))) {
                ds(i) = ds(i - 1); gs(i) = gs(i - 1); i -= 1
              }
              ds(i) = d; gs(i) = g
              if (sz < k) sz += 1
            }
          }
          val certified = ex || (sz == k && ds(k - 1) < rr * s)
          (gid, gs.take(sz).toSeq, certified)
        }.toDF("gid", "anbrs", "certified").cache()
      loopCaches += topk
      val good = topk.filter(col("certified")).select("gid", "anbrs")
      done = if (done == null) good else done.unionByName(good)
      if (exhausted) remaining = false
      else {
        unresolved = unresolved.join(
          topk.filter(col("certified")).select("gid"), Seq("gid"), "left_anti")
        remaining = unresolved.limit(1).count() > 0
        r *= 2
        if (r > 64) exhausted = true
      }
    }
    // scoped release of the per-round caches (graft.core.Materialize)
    val out = graft.core.Materialize.releasing(done, pts +: loopCaches.toSeq)
    out.select(col("gid"), explode(col("anbrs")).as("anbr"))
  }

  /** points: (gid, x, y); values: (gid, vals array<double>).
    * Returns (gid, card, p). scaleMethod per lisa.h:139-159; distType
    * euclidean|manhattan per lisa.h:161-173.
    */
  def run(points: DataFrame, values: DataFrame, k: Int,
          scaleMethod: String = "standardize",
          distType: String = "euclidean",
          cellSize: Option[Double] = None): DataFrame = {
    // spatial kNN via the cell-ring engine
    val spatial = KnnWeights.pairs(points, KnnWeights.Conf(k = k,
        cellSize = cellSize))
      .select(col("gid"), col("nbr"))

    val nv = values.select(size(col("vals"))).head().getInt(0)
    val n = values.count()
    val scaled = scaleVals(values, nv, scaleMethod)
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
