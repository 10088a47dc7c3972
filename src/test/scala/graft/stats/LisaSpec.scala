package graft.stats

import graft.SparkFixture
import graft.weights.KnnWeights
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LisaSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  private def points(n: Int) = {
    import spark.implicits._
    (1 to n).map { i =>
      ((i.toLong), (i * 193 % 997) * 0.13, (i * 499 % 991) * 0.17)
    }.toDF("gid", "x", "y")
  }
  private def values(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, (i * 37 % 101).toDouble)).toDF("gid", "value")
  }

  test("localMoran output is identical under any repartitioning") {
    val pts = points(100)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
    val v = values(100)
    val base = Lisa.localMoran(v, w).orderBy("gid").collect()
    for (parts <- Seq(1, 7)) {
      val got = Lisa.localMoran(v.repartition(parts), w.repartition(parts))
        .orderBy("gid").collect()
      assert(got.sameElements(base), s"parts=$parts")
    }
  }

  test("localMoran matches direct kernel computation") {
    import spark.implicits._
    val pts = points(60)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 3, cellSize = Some(4.0)))
    val v = values(60)
    val got = Lisa.localMoran(v, w).orderBy("gid")
      .as[(Long, Double, Double, Double)].collect()
    // reference computation: collect, standardize, kernel per row
    val vals = v.orderBy("gid").as[(Long, Double)].collect()
    val z = vals.map(_._2)
    graft.core.Stat0.standardize(z)
    val nbrMap = w.select("gid", "nbrs").as[(Long, Seq[Long])].collect().toMap
    val s = new LisaKernels.Scratch(60, 16)
    got.foreach { case (gid, stat, p, c) =>
      val idx = (gid - 1).toInt
      val nbrs = nbrMap(gid).map(n => (n - 1).toInt).toArray
      val t = LisaKernels.moran(idx, nbrs, z, 999, 123456789, 0.05, s)
      assert(stat == t.stat && p == t.p && c == t.c, s"gid $gid")
    }
  }

  test("localMoranB (whole-blob weights, moran.sql:36-43) equals localMoran") {
    import spark.implicits._
    val pts = points(80)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
    val v = values(80)
    val blob = graft.weights.WeightsCodec.encodeWhole(
      w.select(col("gid").cast("long"), col("nbrs"))
        .as[(Long, Seq[Long])].collect().toSeq
        .map { case (g, n) => (g, n.toArray, None) },
      valued = false)
    val direct = Lisa.localMoran(v, w).orderBy("gid").collect()
    val viaBlob = Lisa.localMoranB(v, blob).orderBy("gid").collect()
    assert(viaBlob.sameElements(direct) && direct.length == 80)
  }

  test("p-values bounded in [1/(perms+1), 0.5]") {
    import spark.implicits._
    val pts = points(80)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
    val r = Lisa.localMoran(values(80), w, Lisa.Conf(permutations = 199))
      .as[(Long, Double, Double, Double)].collect()
    r.foreach { case (_, _, p, _) =>
      assert(p >= 1.0 / 200 && p <= 0.5 + 1e-12)
    }
  }

  test("bi join count rejects co-location") {
    import spark.implicits._
    val pts = points(20)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 2, cellSize = Some(8.0)))
    val bad = (1 to 20).map(i => (i.toLong, 1.0, 1.0))
      .toDF("gid", "value", "value2")
    val ex = intercept[Exception] {
      Lisa.localBiJoinCount(bad, w).collect()
    }
    assert(ex.getMessage.contains("same location"))
    // strict parity (joincount.c:193-197): both-ZERO is rejected too
    val bothZero = (1 to 20).map(i =>
      (i.toLong, if (i % 2 == 0) 1.0 else 0.0, if (i % 2 == 0) 0.0 else 0.0))
      .toDF("gid", "value", "value2") // gid 1: x1=0, x2=0 → equal
    val ex2 = intercept[Exception] {
      Lisa.localBiJoinCount(bothZero, w).collect()
    }
    assert(ex2.getMessage.contains("same location"))
  }

  test("join count validates binary input") {
    import spark.implicits._
    val pts = points(20)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 2, cellSize = Some(8.0)))
    val bad = (1 to 20).map(i => (i.toLong, i.toDouble)).toDF("gid", "value")
    val ex = intercept[Exception] { Lisa.localJoinCount(bad, w).collect() }
    assert(ex.getMessage.contains("binary"))
  }

  test("quantile indicator: GeoDa bin assignment") {
    val vals = Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0)
    val top = Lisa.quantileIndicator(vals, 4, 4)
    assert(top.count(_ == 1.0) == 2) // top quartile of 8 values
    assert(top(7) == 1.0 && top(6) == 1.0)
    val bottom = Lisa.quantileIndicator(vals, 4, 1)
    assert(bottom(0) == 1.0 && bottom(1) == 1.0 && bottom.count(_ == 1.0) == 2)
  }

  test("spatial lag: binary row-standardized = neighbor mean") {
    import spark.implicits._
    val w = Seq((1L, Seq(2L, 3L), null.asInstanceOf[Seq[Double]]),
      (2L, Seq(1L, 3L), null.asInstanceOf[Seq[Double]]),
      (3L, Seq(1L, 2L), null.asInstanceOf[Seq[Double]]))
      .toDF("gid", "nbrs", "wts")
    val v = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("gid", "value")
    val got = SpatialLag.lag(v, w).orderBy("gid").as[(Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 25.0), (2L, 20.0), (3L, 15.0)))
    // sum variant
    val sums = SpatialLag.lag(v, w, rowStandardize = false).orderBy("gid")
      .as[(Long, Double)].collect()
    assert(sums.toSeq == Seq((1L, 50.0), (2L, 40.0), (3L, 30.0)))
    // include diagonal
    val diag = SpatialLag.lag(v, w, includeDiagonal = true).orderBy("gid")
      .as[(Long, Double)].collect()
    assert(diag.toSeq == Seq((1L, 20.0), (2L, 20.0), (3L, 20.0)))
  }

  test("local Moran runs two jobs in either permutation mode, into a serialized checkpoint") {
    import org.apache.spark.graftshim.BusShim
    // one job gathers the values ('lookup' reads the longest neighbor
    // list in the same collect), one runs the kernel into the checkpoint
    val w = KnnWeights.build(points(200), KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
    val v = values(200)
    for (mode <- Seq("lookup", "complete")) {
      val (out, ran) = BusShim.counted(spark.sparkContext, s"moran-$mode")(
        Lisa.localMoran(v, w, Lisa.Conf(permutations = 99, permMethod = mode)))
      assert(ran.jobs == 2, s"$mode local Moran ran ${ran.jobs} jobs")
      val levels = out.queryExecution.analyzed.collectLeaves().collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.getStorageLevel
      }
      assert(levels.nonEmpty && levels.forall(l => l.isValid && !l.deserialized),
        s"$mode local Moran's checkpoint is stored as $levels")
      assert(out.count() == 200)
    }
  }

  test("lookup permutation mode: same stats, agreeing significance calls") {
    import spark.implicits._
    val pts = points(200)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
    val v = values(200)
    val comp = Lisa.localMoran(v, w).orderBy("gid")
      .as[(Long, Double, Double, Double)].collect()
    val look = Lisa.localMoran(v, w, Lisa.Conf(permMethod = "lookup"))
      .orderBy("gid").as[(Long, Double, Double, Double)].collect()
    assert(comp.length == look.length)
    // the observed statistic is permutation-free → bit-identical
    comp.zip(look).foreach { case ((g1, s1, _, _), (g2, s2, _, _)) =>
      assert(g1 == g2 && s1 == s2)
    }
    // significance calls at 0.05 agree except borderline rows (both are
    // valid 999-draw estimates of the same p)
    val agree = comp.zip(look).count { case ((_, _, p1, _), (_, _, p2, _)) =>
      (p1 <= 0.05) == (p2 <= 0.05)
    }
    assert(agree >= (comp.length * 0.95).toInt,
      s"significance agreement $agree/${comp.length}")
    // lookup mode is partitioning-invariant too
    val look2 = Lisa.localMoran(v.repartition(7), w.repartition(3),
      Lisa.Conf(permMethod = "lookup")).orderBy("gid")
      .as[(Long, Double, Double, Double)].collect()
    assert(look.sameElements(look2))
  }
}
