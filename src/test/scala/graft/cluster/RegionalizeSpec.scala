package graft.cluster

import graft.SparkFixture
import graft.core.Wkb
import graft.weights.ContiguityWeights
import org.scalatest.funsuite.AnyFunSuite

class RegionalizeSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  /** 6x1 strip of squares with a sharp value break between cells 3 and 4:
    * skater k=2 must cut exactly there.
    */
  test("skater: first cut lands on the value discontinuity") {
    import spark.implicits._
    val polys = (0 until 6).map { cx =>
      ((cx + 1).toLong, Wkb.writePolygon(Array((cx * 1.0, 0.0),
        (cx + 1.0, 0.0), (cx + 1.0, 1.0), (cx * 1.0, 1.0))))
    }.toDF("gid", "geom")
    val w = ContiguityWeights.build(polys, ContiguityWeights.Conf(queen = true))
    val vals = Seq((1L, Seq(1.0)), (2L, Seq(1.1)), (3L, Seq(0.9)),
      (4L, Seq(10.0)), (5L, Seq(10.2)), (6L, Seq(9.8)))
      .toDF("gid", "vals")
    val r = Regionalize.run(vals, w, Regionalize.Conf(k = 2))
      .orderBy("gid").as[(Long, Int)].collect()
    val c1 = r.take(3).map(_._2).toSet
    val c2 = r.drop(3).map(_._2).toSet
    assert(c1.size == 1 && c2.size == 1 && c1 != c2)
    assert(r.map(_._2).toSet == Set(1, 2))
  }

  test("distributed-MST skater path is bit-identical to the driver path") {
    import spark.implicits._
    // 12x12 grid, 2 pseudo-random variables — big enough that the edge
    // sort order actually matters, with duplicate values to exercise the
    // (d, a, b) tie-break both paths must share
    val polys = (for (cy <- 0 until 12; cx <- 0 until 12) yield {
      ((cy * 12 + cx + 1).toLong, Wkb.writePolygon(Array((cx * 1.0, cy * 1.0),
        (cx + 1.0, cy * 1.0), (cx + 1.0, cy + 1.0), (cx * 1.0, cy + 1.0))))
    }).toDF("gid", "geom")
    val w = ContiguityWeights.build(polys, ContiguityWeights.Conf(queen = true))
    val vals = (1 to 144).map(i => (i.toLong,
      Seq((i * 37 % 11).toDouble, (i * 13 % 7).toDouble))).toDF("gid", "vals")
    for (k <- Seq(3, 6)) {
      val conf = Regionalize.Conf(k = k)
      val drv = Regionalize.run(vals, w, conf)
        .orderBy("gid").as[(Long, Int)].collect()
      // the values (144 rows at 28 bytes) fit 8192 bytes, the edges
      // (1012 at 16) do not: the tree builds distributed
      val dist = SparkFixture.withBudget(8192L)(Regionalize.run(vals, w, conf)
        .orderBy("gid").as[(Long, Int)].collect())
      assert(drv.sameElements(dist), s"k=$k")
    }
    // disconnected graph must raise through the streamed path too
    val wBad = Seq((1L, Seq(2L)), (2L, Seq(1L)), (3L, Seq.empty[Long]))
      .toDF("gid", "nbrs")
    val vBad = Seq((1L, Seq(1.0)), (2L, Seq(2.0)), (3L, Seq(3.0)))
      .toDF("gid", "vals")
    // values 3 × 20 bytes fit 80, edges 2 × 16 do not
    val e = intercept[Exception] {
      SparkFixture.withBudget(80L)(Regionalize.run(vBad, wBad,
        Regionalize.Conf(k = 2)).collect())
    }
    assert(e.getMessage.contains("disconnected"))
  }

  test("all fullorder linkages produce k contiguous regions") {
    import spark.implicits._
    val polys = (for (cy <- 0 until 4; cx <- 0 until 4) yield {
      ((cy * 4 + cx + 1).toLong, Wkb.writePolygon(Array((cx * 1.0, cy * 1.0),
        (cx + 1.0, cy * 1.0), (cx + 1.0, cy + 1.0), (cx * 1.0, cy + 1.0))))
    }).toDF("gid", "geom")
    val w = ContiguityWeights.build(polys, ContiguityWeights.Conf(queen = true))
    val vals = (1 to 16).map(i => (i.toLong,
      Seq((i % 4).toDouble, (i * 7 % 5).toDouble))).toDF("gid", "vals")
    for (m <- Seq("firstorder-singlelinkage", "fullorder-singlelinkage",
        "fullorder-completelinkage", "fullorder-averagelinkage",
        "fullorder-wardlinkage")) {
      val r = Regionalize.run(vals, w,
        Regionalize.Conf(k = 3, method = m)).as[(Long, Int)].collect()
      assert(r.map(_._2).toSet == Set(1, 2, 3), s"method $m")
      // labels ordered by region size descending
      val sizes = r.groupBy(_._2).view.mapValues(_.length).toMap
      assert(sizes(1) >= sizes(2) && sizes(2) >= sizes(3), s"method $m sizes")
    }
  }

  test("disconnected weights raise (skater.c:165-168 parity)") {
    import spark.implicits._
    val w = Seq((1L, Seq(2L), null.asInstanceOf[Seq[Double]]),
      (2L, Seq(1L), null.asInstanceOf[Seq[Double]]),
      (3L, Seq.empty[Long], null.asInstanceOf[Seq[Double]]))
      .toDF("gid", "nbrs", "wts")
    val vals = Seq((1L, Seq(1.0)), (2L, Seq(2.0)), (3L, Seq(3.0)))
      .toDF("gid", "vals")
    val ex = intercept[Exception] {
      Regionalize.run(vals, w, Regionalize.Conf(k = 2)).collect()
    }
    assert(ex.getMessage.contains("disconnected"))
  }

  test("min-bound spatial constraint overrides the value-optimal cut") {
    import spark.implicits._
    val polys = (0 until 6).map { cx =>
      ((cx + 1).toLong, Wkb.writePolygon(Array((cx * 1.0, 0.0),
        (cx + 1.0, 0.0), (cx + 1.0, 1.0), (cx * 1.0, 1.0))))
    }.toDF("gid", "geom")
    val w = ContiguityWeights.build(polys, ContiguityWeights.Conf(queen = true))
    // values want the cut between gid 3 and 4 (sharp break)…
    val vals = Seq((1L, Seq(1.0)), (2L, Seq(1.1)), (3L, Seq(0.9)),
      (4L, Seq(10.0)), (5L, Seq(10.2)), (6L, Seq(9.8)))
      .toDF("gid", "vals")
    // …but the bound (e.g. population) makes that side too small:
    // left of 3|4 sums to 3 < 12, so the only feasible cut is 4|5
    val bound = Seq((1L, 1.0), (2L, 1.0), (3L, 1.0),
      (4L, 10.0), (5L, 10.0), (6L, 10.0)).toDF("gid", "value")
    val r = Regionalize.run(vals, w,
        Regionalize.Conf(k = 2, minBound = 12.0), Some(bound))
      .orderBy("gid").as[(Long, Int)].collect()
    val left = r.take(4).map(_._2).toSet
    val right = r.drop(4).map(_._2).toSet
    assert(left.size == 1 && right.size == 1 && left != right,
      s"expected cut at 4|5, got ${r.mkString(",")}")
    // sanity: without the bound the cut lands on the value break 3|4
    val r0 = Regionalize.run(vals, w, Regionalize.Conf(k = 2))
      .orderBy("gid").as[(Long, Int)].collect()
    val l0 = r0.take(3).map(_._2).toSet
    val r0s = r0.drop(3).map(_._2).toSet
    assert(l0.size == 1 && r0s.size == 1 && l0 != r0s)
  }

  test("min region size constraint respected") {
    import spark.implicits._
    val polys = (0 until 8).map { cx =>
      ((cx + 1).toLong, Wkb.writePolygon(Array((cx * 1.0, 0.0),
        (cx + 1.0, 0.0), (cx + 1.0, 1.0), (cx * 1.0, 1.0))))
    }.toDF("gid", "geom")
    val w = ContiguityWeights.build(polys, ContiguityWeights.Conf(queen = true))
    // outlier at one end would tempt a size-1 cut
    val vals = Seq((1L, Seq(100.0)), (2L, Seq(1.0)), (3L, Seq(1.1)),
      (4L, Seq(0.9)), (5L, Seq(1.0)), (6L, Seq(1.2)), (7L, Seq(0.8)),
      (8L, Seq(1.0))).toDF("gid", "vals")
    val r = Regionalize.run(vals, w,
      Regionalize.Conf(k = 2, minRegionSize = 3)).as[(Long, Int)].collect()
    val sizes = r.groupBy(_._2).view.mapValues(_.length).toMap
    assert(sizes.values.forall(_ >= 3))
  }

  test("Lance-Williams full-order tree equals direct member-list linkage") {
    // brute reference: recompute linkage from member lists at every merge
    // (the pre-optimization algorithm) — exact for any pair, any order
    def bruteTree(n: Int, scaled: Array[Array[Double]],
                  edges: Array[(Int, Int)], linkage: String): Array[(Int, Int)] = {
      def dist(i: Int, j: Int): Double = {
        var s = 0.0
        for (v <- scaled.indices) { val d = scaled(v)(i) - scaled(v)(j); s += d * d }
        math.sqrt(s)
      }
      val uf = new Regionalize.UnionFind(n)
      val members = scala.collection.mutable.Map(
        (0 until n).map(i => i -> scala.collection.mutable.ArrayBuffer(i)): _*)
      def linkDist(ra: Int, rb: Int): Double = {
        val ma = members(ra); val mb = members(rb)
        linkage match {
          case "singlelinkage" =>
            (for (i <- ma; j <- mb) yield dist(i, j)).min
          case "completelinkage" =>
            (for (i <- ma; j <- mb) yield dist(i, j)).max
          case "averagelinkage" =>
            (for (i <- ma; j <- mb) yield dist(i, j)).sum /
              (ma.length.toLong * mb.length)
          case "wardlinkage" =>
            var ss = 0.0
            for (v <- scaled.indices) {
              val ca = ma.map(scaled(v)).sum / ma.length
              val cb = mb.map(scaled(v)).sum / mb.length
              ss += (ca - cb) * (ca - cb)
            }
            ma.length.toDouble * mb.length / (ma.length + mb.length) * ss
        }
      }
      val tree = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var nc = n
      while (nc > 1) {
        var bestPair: (Int, Int) = null; var bestD = Double.MaxValue
        edges.foreach { case (a, b) =>
          val ra = uf.find(a); val rb = uf.find(b)
          if (ra != rb) {
            val kk = if (ra < rb) (ra, rb) else (rb, ra)
            val d = linkDist(kk._1, kk._2)
            if (d < bestD || (d == bestD && (bestPair == null ||
                kk._1 < bestPair._1 ||
                (kk._1 == bestPair._1 && kk._2 < bestPair._2))))
              { bestD = d; bestPair = kk }
          }
        }
        var bestEdge: (Int, Int) = null; var bestED = Double.MaxValue
        edges.foreach { case (a, b) =>
          val kk = { val ra = uf.find(a); val rb = uf.find(b)
            if (ra < rb) (ra, rb) else (rb, ra) }
          if (kk == bestPair) {
            val d = dist(a, b)
            if (d < bestED) { bestED = d; bestEdge = (a, b) }
          }
        }
        tree += bestEdge
        val m = members(bestPair._1) ++ members(bestPair._2)
        uf.union(bestPair._1, bestPair._2)
        members(uf.find(bestPair._1)) = m
        nc -= 1
      }
      tree.toArray
    }

    // 8x8 queen grid with chain-inducing gradient values + ties — the
    // shape where a contiguous-only LW update would read stale distances
    val side = 8; val n = side * side
    val scaled = Array.tabulate(2)(v => Array.tabulate(n)(i =>
      if (v == 0) (i % 13).toDouble else (i / side).toDouble))
    val edges = (for {
      y <- 0 until side; x <- 0 until side
      (dx, dy) <- Seq((1, 0), (0, 1), (1, 1), (1, -1))
      if x + dx < side && y + dy >= 0 && y + dy < side
    } yield (y * side + x, (y + dy) * side + (x + dx))).toArray
    for (lk <- Seq("singlelinkage", "completelinkage", "averagelinkage",
      "wardlinkage")) {
      val got = Regionalize.solve(n, scaled, edges, Array.fill(n)(0.0),
        Regionalize.Conf(k = 5, method = s"fullorder-$lk"))
      val brute = {
        val t = bruteTree(n, scaled, edges, lk)
        // same partitioning step on the brute tree
        val labels = Regionalize.partitionForTest(n, scaled, t,
          Array.fill(n)(0.0), Regionalize.Conf(k = 5,
            method = s"fullorder-$lk"))
        labels
      }
      assert(got.sameElements(brute), s"linkage $lk diverges from brute")
    }
  }

  test("full-order condensed index stays exact up to the size guard (n = 65536)") {
    // no matrix: the index alone, at the largest n whose n(n-1)/2 fits Int
    val n = 65536
    def idx(i: Int, j: Int): Int = Regionalize.condensedIndex(n, i, j)
    assert(idx(0, 1) == 0 && idx(1, 0) == 0)
    assert(idx(n - 2, n - 1).toLong == n.toLong * (n - 1) / 2 - 1)
    // row a = 46341 is the first whose a(a+1) overflows Int
    val a = 46341
    assert(idx(a, a + 1).toLong == a.toLong * n - a.toLong * (a + 1) / 2)
    assert(idx(a + 1, a) == idx(a, a + 1))
    // consecutive pairs map to consecutive indices across that row boundary
    assert(idx(a - 1, n - 1) + 1 == idx(a, a + 1))
    assert(idx(a, a + 1) + 1 == idx(a, a + 2))
    assert(idx(a, n - 1) + 1 == idx(a + 1, a + 2))
  }

  /** r8: the per-merge Lance-Williams sweep runs on a fixed worker pool
    * once the live set exceeds 4096 roots. The equivalence test above
    * stays below that threshold, so this probe runs the POOLED path
    * (n = 4800 > 4096) twice and demands bit-identical labels — the
    * failure mode a data race would produce is nondeterminism across
    * runs, never a deterministic wrong answer (each x-slot update is a
    * pure function of the frozen pre-merge state).
    */
  test("pooled LW sweep (n > parallel threshold) is deterministic") {
    val side = 80; val rows = 60
    val n = side * rows // 4800 > 4096 -> pool engaged
    val scaled = Array.tabulate(2)(v =>
      Array.tabulate(n)(i =>
        if (v == 0) ((i * 31) % 1200).toDouble else (i % 50).toDouble))
    val edges = (for {
      y <- 0 until rows; x <- 0 until side
      (dx, dy) <- Seq((1, 0), (0, 1), (1, 1), (1, -1))
      if x + dx < side && y + dy >= 0 && y + dy < rows
    } yield (y * side + x, (y + dy) * side + (x + dx))).toArray
    val conf = Regionalize.Conf(k = 6, method = "fullorder-wardlinkage")
    val a = Regionalize.solve(n, scaled, edges, Array.fill(n)(0.0), conf)
    val b = Regionalize.solve(n, scaled, edges, Array.fill(n)(0.0), conf)
    assert(a.sameElements(b), "pooled sweep produced nondeterministic labels")
    assert(a.toSet == (1 to 6).toSet)
  }
}
