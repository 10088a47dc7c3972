package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives the same bytes; another seed gives another input") {
    assert(Gen.fingerprint(Gen.uniformPages(2000, 7)) == Gen.fingerprint(Gen.uniformPages(2000, 7)))
    assert(Gen.fingerprint(Gen.uniformPages(2000, 7)) != Gen.fingerprint(Gen.uniformPages(2000, 8)))
    assert(Gen.fingerprint(Gen.metroPoints(2000, 7)) == Gen.fingerprint(Gen.metroPoints(2000, 7)))
    assert(Gen.fingerprint(Gen.metroPoints(2000, 7)) != Gen.fingerprint(Gen.metroPoints(2000, 8)))
    assert(Gen.fingerprint(Gen.uniformPoints(2000, 7)) == Gen.fingerprint(Gen.uniformPoints(2000, 7)))
    assert(Gen.fingerprint(Gen.uniformPoints(2000, 7)) != Gen.fingerprint(Gen.uniformPoints(2000, 8)))
  }

  test("a smaller input is a prefix of the larger one from the same seed") {
    val small = Gen.metroPoints(500, 3)
    val large = Gen.metroPoints(5000, 3)
    assert(small.x.toSeq == large.x.take(500).toSeq && small.y.toSeq == large.y.take(500).toSeq)
  }

  test("pages have distinct urls") {
    val p = Gen.uniformPages(5000, 1)
    assert(p.url.distinct.length == p.size)
  }

  test("metro points are Zipf-skewed, in the domain and off every polygon edge") {
    val p = Gen.metroPoints(20000, 5)
    assert(p.x.forall(x => x > 0 && x < Gen.Extent) && p.y.forall(y => y > 0 && y < Gen.Extent))
    // centres of the 0.01 grid: never within 5e-4 of a multiple of 0.01
    assert(p.x.forall(x => math.abs(x * 100 - math.floor(x * 100) - 0.5) < 1e-6))
    // the busiest 1x1 cell holds far more than a uniform share
    val cells = p.x.indices.groupBy(i => (p.x(i).toInt, p.y(i).toInt)).values.map(_.size)
    assert(cells.max > 50 * p.size / (Gen.Extent * Gen.Extent))
  }

  test("polygon layers: the metro layer is too large to broadcast, the admin layer is not") {
    val metroBytes = Gen.metroPolygons().map(_._2.length.toLong).sum
    val adminBytes = Gen.adminPolygons().map(_._2.length.toLong).sum
    assert(metroBytes * 3 > graft.pipeline.SpatialJoin.DefaultBroadcastLimit)
    assert(adminBytes * 3 <= graft.pipeline.SpatialJoin.DefaultBroadcastLimit)
  }

  test("every geocoded point falls in exactly one admin square") {
    val squares = Gen.adminPolygons().map { case (_, wkb) =>
      graft.core.Wkb.read(wkb).get.asInstanceOf[graft.core.GPolygon]
    }
    val r = Gen.rng(9, 0)
    (0 until 300).foreach { _ =>
      val x = r.nextInt(18000) / 100.0
      val y = r.nextInt(18000) / 100.0
      assert(squares.count(_.contains(x, y)) == 1, s"($x, $y)")
    }
  }
}

class StatsSpec extends AnyFunSuite {

  test("median and nearest-rank percentiles") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 1) == 1.0)
    assert(Stats.percentile(xs, 100) == 100.0)
  }

  test("the tail percentile keeps at least ten samples above it") {
    // 114 suite calls: p90 is rank 103, with 11 samples above
    assert(Stats.tailPercentile(114) == 90)
    assert(Stats.tailPercentile(100) == 90)
    assert(Stats.tailPercentile(50) == 80)
    assert(Stats.tailPercentile(30) == 66)
    // too few samples for anything above the median
    assert(Stats.tailPercentile(12) == 50)
    for (n <- 20 to 300) {
      val p = Stats.tailPercentile(n)
      val rank = math.ceil(p / 100.0 * n).toInt
      assert(n - rank >= 10 && p <= 90, s"n=$n p=$p")
    }
  }

  test("tail returns the value at the tail percentile") {
    val xs = (1 to 114).map(_.toDouble)
    assert(Stats.tail(xs) == (90, 103.0))
  }
}

class SuiteLayersSpec extends AnyFunSuite {

  test("every suite query belongs to one named layer, and every layer has a query") {
    val byLayer = graft.SparkEntry.queries.keys.groupBy(Suite.layerOf)
    assert(byLayer.keySet.subsetOf(Trace.layers.toSet))
    Seq("q_weights", "q_stats", "q_cluster", "q_spatial", "q_corpus", "q_relational")
      .foreach(l => assert(byLayer.get(l).exists(_.nonEmpty), l))
    assert(Suite.lisaLayer.keySet.subsetOf(graft.SparkEntry.queries.keySet))
  }

  test("the timed sweep touches every layer it reports") {
    val covered = new Suite(null, "", "", allQueries = false).queries.map(Suite.layerOf).toSet
    assert(covered == Trace.layers.filter(l => l.startsWith("q_") || Suite.lisaLayer.values.exists(_ == l)).toSet)
  }
}
