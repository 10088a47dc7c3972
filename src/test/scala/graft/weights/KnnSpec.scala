package graft.weights

import graft.SparkFixture
import graft.core.{Dist, Tiling}
import graft.stats.Lisa
import org.apache.spark.graftshim.BusShim
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** kNN completion of the points round 1 cannot certify (stragglers):
  * exact against brute force for every kind of straggler, in a fixed
  * number of jobs, beyond the driver bound, and loud on bad input.
  */
class KnnSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  type Pt = (Long, Double, Double)
  /** (gid, nbrs, raw bits of dists), as the engine orders them. */
  type Out = (Long, Seq[Long], Seq[Long])

  private def bits(ds: Seq[Double]): Seq[Long] =
    ds.map(java.lang.Double.doubleToRawLongBits)

  /** Brute force with the engine's distance (home first) and its
    * (dist, gid) order.
    */
  private def brute(pts: Seq[Pt], k: Int, arc: Boolean = false): Map[Long, Out] =
    pts.map { case (g, x, y) =>
      val top = pts.filter(_._1 != g).map { case (g2, x2, y2) =>
        (if (arc) Dist.arc(x, y, x2, y2, mile = true) else Dist.euclidean(x, y, x2, y2), g2)
      }.sorted.take(k)
      g -> ((g, top.map(_._2), bits(top.map(_._1))))
    }.toMap

  private def rows(df: DataFrame): Map[Long, Out] =
    df.select("gid", "nbrs", "dists").as[(Long, Seq[Long], Seq[Double])].collect()
      .map { case (g, n, d) => g -> ((g, n, bits(d))) }.toMap

  private def assertExact(got: Map[Long, Out], want: Map[Long, Out]): Unit = {
    assert(got.keySet == want.keySet)
    want.foreach { case (g, w) => assert(got(g) == w, s"gid $g") }
  }

  /** Other points in the ±r cell block of `p`. */
  private def inBlock(pts: Seq[Pt], p: Pt, s: Double, r: Int): Int = {
    val (hx, hy) = (Tiling.ix(p._2, s), Tiling.ix(p._3, s))
    pts.count(q => q._1 != p._1 && math.abs(Tiling.ix(q._2, s) - hx) <= r &&
      math.abs(Tiling.ix(q._3, s) - hy) <= r)
  }

  private def kth(pts: Seq[Pt], p: Pt, k: Int): Double =
    pts.filter(_._1 != p._1).map(q => Dist.euclidean(p._2, p._3, q._2, q._3)).sorted.apply(k - 1)

  /** `n` seeded uniform points in [0, side)², minus the disks `holes`. */
  private def uniform(n: Int, side: Double, seed: Long,
                      holes: Seq[(Double, Double, Double)] = Nil): Seq[Pt] = {
    val r = new scala.util.Random(seed)
    Iterator.continually((r.nextDouble() * side, r.nextDouble() * side))
      .filterNot { case (x, y) => holes.exists { case (hx, hy, hr) =>
        math.hypot(x - hx, y - hy) < hr } }
      .take(n).zipWithIndex.map { case ((x, y), i) => (i + 1L, x, y) }.toSeq
  }

  // 1600 points in [0, 20)² at cell size 1 (most certify in round 1),
  // plus three planted stragglers: the centre of an empty disk (full
  // round-1 heap, kth ≥ cell size), a point 10 units off the edge (its
  // ±4 block is empty: rings 2 and 4 stay under-filled), and a point 180
  // units off (its ±64 block is empty: it takes every point).
  private val k = 4
  private val cell = 1.0
  private val hole: Pt = (5001L, 10.5, 10.5)
  private val isolated: Pt = (5002L, 30.5, 10.5)
  private val far: Pt = (5003L, 200.5, 10.5)
  private lazy val planted: Seq[Pt] =
    uniform(1600, 20.0, 11L, Seq((10.5, 10.5, 1.3))) ++ Seq(hole, isolated, far)

  test("kNN straggler kinds: full boundary heap, doubling, past ring 64 - exact") {
    val pts = planted
    assert(inBlock(pts, hole, cell, 1) >= k && kth(pts, hole, k) >= cell,
      "the disk centre must have a full but uncertified round-1 heap")
    assert(inBlock(pts, isolated, cell, 4) < k, "rings 2 and 4 must stay under-filled")
    assert(inBlock(pts, far, cell, KnnWeights.MaxRing) < k, "ring 64 must stay under-filled")
    val got = rows(KnnWeights.knnRows(pts.toDF("gid", "x", "y"),
      KnnWeights.Conf(k = k, cellSize = Some(cell))))
    assertExact(got, brute(pts, k))
  }

  test("kNN straggler completion honours buildSub's home filter") {
    val pts = planted
    val got = KnnWeights.buildSub(pts.toDF("gid", "x", "y"),
        KnnWeights.Conf(k = k, cellSize = Some(cell)), 1500L, 6000L)
      .select("gid", "nbrs").as[(Long, Seq[Long])].collect().toMap
    val want = brute(pts, k).filter(_._1 >= 1500L)
    assert(got.keySet == want.keySet)
    want.foreach { case (g, w) => assert(got(g) == w._2, s"gid $g") }
  }

  test("arc kNN stragglers at high latitude equal brute force") {
    // a lon-stretched band at lat 78..82 with one point 40 degrees of
    // longitude away: its round-1 block is empty, so it doubles
    val band = uniform(300, 4.0, 12L).map { case (g, x, y) => (g, x * 5.0, 78.0 + y) }
    val pts = band :+ ((9001L, 60.0, 80.5))
    assert(inBlock(pts, pts.last, 1.0, 1) < 3)
    val got = rows(KnnWeights.knnRows(pts.toDF("gid", "x", "y"),
      KnnWeights.Conf(k = 3, isArc = true, isMile = true, cellSize = Some(1.0))))
    assertExact(got, brute(pts, 3, arc = true))
  }

  test("kNN with k >= n returns every other point") {
    val pts = Seq[Pt]((1L, 0.0, 0.0), (2L, 3.0, 1.0), (3L, 0.5, 7.0),
      (4L, 90.0, 2.0), (5L, 0.25, 0.25))
    val got = rows(KnnWeights.knnRows(pts.toDF("gid", "x", "y"),
      KnnWeights.Conf(k = 7, cellSize = Some(1.0))))
    assertExact(got, brute(pts, 7))
    assert(got.values.forall(_._2.length == 4))
  }

  test("kNN rows and dists bits are identical at 1 and 7 shuffle partitions") {
    val pts = planted
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    def at(p: Int): Map[Long, Out] = {
      spark.conf.set(key, p.toString)
      try rows(KnnWeights.knnRows(pts.toDF("gid", "x", "y").repartition(p),
        KnnWeights.Conf(k = k, cellSize = Some(cell))))
      finally spark.conf.set(key, before)
    }
    val one = at(1)
    assertExact(at(7), one)
    assertExact(one, brute(pts, k))
  }

  test("kNN runs a fixed number of jobs at the auto cell size") {
    // uniform points with two empty disks whose centres are stragglers
    // with full round-1 heaps: one completion pass finishes them
    // (auto cell size here ~5, so the disks' radius 6 leaves the centres'
    // round-1 heaps full but uncertified)
    val holes = Seq((30.0, 30.0, 6.0), (70.0, 55.0, 6.0))
    val pts = uniform(4000, 100.0, 13L, holes) ++
      holes.zipWithIndex.map { case ((x, y, _), i) => (9000L + i, x, y) }
    val df = pts.toDF("gid", "x", "y").cache()
    df.count()
    val s = KnnWeights.autoCellSize(df, 10)
    pts.takeRight(2).foreach(p => assert(kth(pts, p, 10) >= s, s"gid ${p._1} must straggle"))
    val (got, ran) = BusShim.counted(spark.sparkContext, "knn-job-count")(
      KnnWeights.build(df, KnnWeights.Conf(k = 10)))
    assert(ran.jobs <= 4, s"kNN build ran ${ran.jobs} jobs")
    val want = brute(pts, 10)
    got.select("gid", "nbrs").as[(Long, Seq[Long])].collect()
      .foreach { case (g, n) => assert(n == want(g)._2, s"gid $g") }
    df.unpersist()
  }

  test("kNN weights come out at the session's shuffle width, as does a LISA kernel over them") {
    // width + 1 partitions: the group pass's width plus one for the
    // stragglers the completion pass finished (planted has three); the
    // LISA kernel runs one task per weights partition (its values sit in
    // one partition, so no stage of the call may be wider)
    val pts = planted
    val df = pts.toDF("gid", "x", "y")
    val values = pts.map { case (g, x, y) => (g, x * y) }.toDF("gid", "value").coalesce(1)
    val conf = KnnWeights.Conf(k = k, cellSize = Some(cell))
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    def at(width: Int): Map[Long, Out] = {
      spark.conf.set(key, width.toString)
      try {
        val weights = KnnWeights.build(df, conf)
        val parts = weights.rdd.getNumPartitions
        assert(parts <= width + 1, s"weights at width $width have $parts partitions")
        val (moran, ran) = BusShim.counted(spark.sparkContext, "lisa-width")(
          Lisa.localMoran(values, weights, Lisa.Conf(permutations = 99, permMethod = "lookup")))
        assert(moran.count() == pts.length)
        assert(ran.stageTasks.nonEmpty && ran.stageTasks.max <= width + 1,
          s"local Moran at width $width ran stages of ${ran.stageTasks} tasks")
        val knn = KnnWeights.knnRows(df, conf)
        assert(knn.rdd.getNumPartitions <= width + 1)
        rows(knn)
      } finally spark.conf.set(key, before)
    }
    assertExact(at(3), at(1))
  }

  test("kNN over an empty input gives 0 rows at the auto cell size") {
    val empty = Seq.empty[Pt].toDF("gid", "x", "y")
    val conf = KnnWeights.Conf(k = 4)
    assert(KnnWeights.build(empty, conf).count() == 0)
    assert(KnnWeights.knnRows(empty, conf).count() == 0)
    assert(KnnWeights.pairs(empty, conf).count() == 0)
  }

  test("kernel kNN with a fixed bandwidth reads the bandwidth in one job") {
    val df = uniform(2000, 100.0, 21L).toDF("gid", "x", "y").cache()
    df.count()
    val conf = KnnWeights.Conf(k = 4, kernel = Some("triangular"), adaptiveBandwidth = false)
    val (w, ran) = BusShim.counted(spark.sparkContext, "knn-fixed-bandwidth")(
      KnnWeights.build(df, conf))
    // the adaptive build's 4 jobs and one fold for the bandwidth
    assert(ran.jobs <= 5, s"fixed-bandwidth kernel kNN ran ${ran.jobs} jobs")
    // the bandwidth is the longest k-th neighbor distance: that neighbor's
    // triangular weight is 0, and no weight is negative
    val wts = w.select("wts").as[Seq[Double]].collect()
    assert(wts.length == 2000 && wts.forall(_.forall(_ >= 0.0)))
    assert(wts.count(_.last == 0.0) >= 1)
    df.unpersist()
  }

  test("kernel kNN with a fixed bandwidth over an empty input gives 0 rows") {
    val empty = Seq.empty[Pt].toDF("gid", "x", "y")
    val conf = KnnWeights.Conf(k = 4, kernel = Some("triangular"), adaptiveBandwidth = false)
    assert(KnnWeights.build(empty, conf).count() == 0)
  }

  test("kNN stragglers beyond the per-pass driver bound complete exactly") {
    // 120 points per unit² and k = 600: every point's round-1 heap is
    // full or under-filled with kth ≥ the cell size, so all 1920 straggle
    // and need more entries than one pass (or one fetch) may hold
    val kk = 600
    val pts = uniform(1920, 4.0, 14L)
    assert(pts.length.toLong * (kk + 1) > KnnWeights.MaxPassEntries)
    assert(pts.forall(p => kth(pts, p, kk) >= 1.0))
    val got = rows(KnnWeights.knnRows(pts.toDF("gid", "x", "y"),
      KnnWeights.Conf(k = kk, cellSize = Some(1.0))))
    assertExact(got, brute(pts, kk))
  }

  test("kNN fails loudly on null or non-finite coordinates and null gids") {
    val schema = StructType(Seq(StructField("gid", LongType), StructField("x", DoubleType),
      StructField("y", DoubleType)))
    val good = (1 to 30).map(i => Row(i.toLong, (i % 6).toDouble, (i / 6).toDouble))
    def fails(bad: Row, cellSize: Option[Double]): String = {
      val df = spark.createDataFrame(java.util.Arrays.asList(good :+ bad: _*), schema)
      val e = intercept[Exception](KnnWeights.build(df, KnnWeights.Conf(k = 3, cellSize = cellSize)))
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    }
    for (cs <- Seq(Some(1.0), None)) {
      assert(fails(Row(77L, Double.NaN, 1.0), cs).contains("gid 77"), s"NaN x, cell $cs")
      assert(fails(Row(78L, 1.0, Double.PositiveInfinity), cs).contains("gid 78"), s"inf y, cell $cs")
      assert(fails(Row(79L, null, 1.0), cs).contains("gid 79"), s"null x, cell $cs")
      assert(fails(Row(80L, 2.0, null), cs).contains("gid 80"), s"null y, cell $cs")
      assert(fails(Row(null, 2.0, 1.0), cs).contains("gid null"), s"null gid, cell $cs")
    }
  }
}
