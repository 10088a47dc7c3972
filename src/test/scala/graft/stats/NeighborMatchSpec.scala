package graft.stats

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

class NeighborMatchSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  test("hypergeometric tail: exact small cases") {
    // N=4, K=2 draws... P(X>=1) with n=2,k=2,N=4: 1 - C(2,0)C(2,2)/C(4,2)
    // = 1 - 1/6
    val p = NeighborMatch.hypergeomUpperTail(1, 2, 2, 4)
    assert(math.abs(p - (1.0 - 1.0 / 6.0)) < 1e-12)
    // P(X>=2) = C(2,2)C(2,0)/C(4,2) = 1/6
    val p2 = NeighborMatch.hypergeomUpperTail(2, 2, 2, 4)
    assert(math.abs(p2 - 1.0 / 6.0) < 1e-12)
    assert(NeighborMatch.hypergeomUpperTail(0, 2, 2, 4) == 1.0)
  }

  test("mad scaling: distributed path bit-equals driver Stat0.madScale") {
    import spark.implicits._
    // odd and even n exercise both median conventions; the distributed
    // path (two Breaks.medianExact passes per variable + a projection —
    // the value matrix never reaches the driver) must reproduce
    // Stat0.madScale bit-for-bit (lisa.h:139-159 'mad' semantics)
    val rnd = new scala.util.Random(17)
    for (n <- Seq(101, 500)) {
      val nv = 3
      val rows = (0 until n).map(i =>
        (i.toLong, Seq.fill(nv)(rnd.nextDouble() * 100 - 50)))
      val got = NeighborMatch.scaleVals(rows.toDF("gid", "vals"), nv, "mad")
        .as[(Long, Seq[Double])].collect().toMap
      val mat = Array.tabulate(nv, n)((v, i) => rows(i)._2(v))
      val want = mat.map(graft.core.Stat0.madScale)
      rows.indices.foreach { i =>
        val g = got(i.toLong)
        (0 until nv).foreach { v =>
          assert(g(v) == want(v)(i), s"n=$n gid=$i var=$v")
        }
      }
    }
    // constant variable: mad == 0 → deviations only (madScale contract)
    val const = (0 until 20).map(i => (i.toLong, Seq(7.0)))
    val gotC = NeighborMatch.scaleVals(const.toDF("gid", "vals"), 1, "mad")
      .as[(Long, Seq[Double])].collect()
    assert(gotC.forall(_._2 == Seq(0.0)))
    // null elements fail LOUDLY (nulls would silently shift the ranked
    // medians; the driver path this replaced threw on them too)
    val withNull = Seq((1L, Seq[java.lang.Double](1.0, 2.0)),
      (2L, Seq[java.lang.Double](null, 3.0)))
      .toDF("gid", "vals")
    val e = intercept[Exception] {
      NeighborMatch.scaleVals(withNull, 2, "mad").collect()
    }
    assert(e.getMessage.contains("null element"), e.getMessage)
    // empty input → empty output (not a throw), matching the old path
    val empty = Seq.empty[(Long, Seq[Double])].toDF("gid", "vals")
    assert(NeighborMatch.scaleVals(empty, 2, "mad").count() == 0)
  }

  test("neighbor match: identical attribute = coordinates → full overlap") {
    import spark.implicits._
    val pts = (1 to 30).map { i =>
      (i.toLong, (i * 193 % 97) * 0.5, (i * 499 % 89) * 0.5)
    }.toDF("gid", "x", "y")
    // attributes ARE the coordinates → attribute kNN == spatial kNN
    val vals = (1 to 30).map { i =>
      (i.toLong, Seq((i * 193 % 97) * 0.5, (i * 499 % 89) * 0.5))
    }.toDF("gid", "vals")
    val r = NeighborMatch.run(pts, vals, k = 4, scaleMethod = "raw")
      .as[(Long, Double, Double)].collect()
    assert(r.length == 30)
    r.foreach { case (g, card, p) =>
      assert(card == 4.0, s"gid $g card $card")
      assert(p < 0.01, s"gid $g p $p") // full overlap is highly significant
    }
  }

  test("neighbor match: unrelated attributes → low overlap on average") {
    import spark.implicits._
    val pts = (1 to 60).map { i =>
      (i.toLong, (i * 193 % 97) * 0.5, (i * 499 % 89) * 0.5)
    }.toDF("gid", "x", "y")
    val vals = (1 to 60).map { i =>
      (i.toLong, Seq((i * 37 % 101).toDouble, (i * 53 % 97).toDouble))
    }.toDF("gid", "vals")
    val r = NeighborMatch.run(pts, vals, k = 4)
      .as[(Long, Double, Double)].collect()
    val meanCard = r.map(_._2).sum / r.length
    // expected overlap under independence ≈ k*k/(N-1) = 16/59 ≈ 0.27
    assert(meanCard < 1.5, s"mean overlap $meanCard")
  }

  /** Driver-side exact kNN pairs (gid, nbr), with the engine's sum
    * order (0.0 first, home minus candidate) and (dist, gid) order.
    */
  private def bruteAttrKnn(rows: Seq[(Long, Seq[Double])], k: Int,
                           manhattan: Boolean): Set[(Long, Long)] = {
    val gs = rows.map(_._1).toArray
    val vs = rows.map(_._2.toArray).toArray
    val kk = math.min(k, gs.length - 1)
    gs.indices.flatMap { i =>
      val ds = Array.fill(kk)(Double.PositiveInfinity)
      val ns = Array.fill(kk)(Long.MaxValue)
      var j = 0
      while (j < gs.length) {
        if (j != i) {
          var acc = 0.0; var c = 0
          while (c < vs(i).length) {
            val t = vs(i)(c) - vs(j)(c)
            acc += (if (manhattan) math.abs(t) else t * t); c += 1
          }
          val d = if (manhattan) acc else math.sqrt(acc)
          var p = kk
          while (p > 0 && (d < ds(p - 1) || (d == ds(p - 1) && gs(j) < ns(p - 1)))) p -= 1
          if (p < kk) {
            System.arraycopy(ds, p, ds, p + 1, kk - p - 1)
            System.arraycopy(ns, p, ns, p + 1, kk - p - 1)
            ds(p) = d; ns(p) = gs(j)
          }
        }
        j += 1
      }
      ns.map(n => (gs(i), n))
    }.toSet
  }

  /** `n` rows of `nv` values from `value(row, dim)`. */
  private def valsDf(n: Int, nv: Int)(value: (Int, Int) => Double) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, Seq.tabulate(nv)(d => value(i, d)))).toDF("gid", "vals")
  }

  private def assertExact(scaled: org.apache.spark.sql.DataFrame, nv: Int, k: Int,
                          distType: String, clue: String): Set[(Long, Long)] = {
    import spark.implicits._
    val got = NeighborMatch.attrKnn(scaled, nv, k, distType)
      .select("gid", "anbr").as[(Long, Long)].collect()
    val local = scaled.select("gid", "sv").as[(Long, Seq[Double])].collect().toSeq
    val want = bruteAttrKnn(local, k, distType == "manhattan")
    assert(got.length == got.toSet.size, s"$clue: duplicate pairs")
    assert(got.toSet == want,
      s"$clue: ${(got.toSet diff want).take(5)} / ${(want diff got.toSet).take(5)}")
    want
  }

  test("attribute kNN is exact for every metric and dimension") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    for ((nv, distType) <- Seq((1, "euclidean"), (1, "manhattan"), (2, "euclidean"),
        (2, "manhattan"), (3, "euclidean"), (5, "manhattan"))) {
      val clue = s"$nv-dim $distType"
      // spread values, standardized; the same pairs at 1 and 7 partitions
      val rnd = new scala.util.Random(nv * 31 + distType.length)
      val spread = NeighborMatch.scaleVals(valsDf(1500, nv)((_, _) => rnd.nextGaussian() * 50),
        nv, "standardize").cache()
      val byParts = Seq(1, 7).map { p =>
        spark.conf.set(key, p.toString)
        try assertExact(spread.repartition(p), nv, 6, distType, s"$clue spread at $p partitions")
        finally spark.conf.set(key, before)
      }
      assert(byParts(0) == byParts(1), clue)
      spread.unpersist()
      // integer values over a few levels: most neighbors tie on distance
      assertExact(NeighborMatch.scaleVals(valsDf(400, nv)((i, d) => ((i * (7 + d)) % 5).toDouble),
        nv, "raw"), nv, 6, distType, s"$clue ties")
      // the first two dims, the grid projection, are constant
      assertExact(NeighborMatch.scaleVals(valsDf(200, nv)((i, d) =>
          if (d < 2) d + 1.0 else ((i * 13 + d) % 17).toDouble), nv, "raw"),
        nv, 6, distType, s"$clue degenerate projection")
      // k >= n: every other row
      val few = assertExact(NeighborMatch.scaleVals(valsDf(5, nv)((i, d) => i * (d + 1.5)),
        nv, "raw"), nv, 7, distType, s"$clue k >= n")
      assert(few.size == 20, clue)
    }
  }

  test("attribute kNN runs a fixed number of jobs at 10k rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val vals = valsDf(10000, 3)((i, d) => Seq(i * 7919 % 10007, i * 104729 % 9973, i * 31 % 89)(d).toDouble)
    val scaled3 = NeighborMatch.scaleVals(vals, 3, "standardize").cache()
    val scaled2 = NeighborMatch.scaleVals(vals.select($"gid", slice($"vals", 1, 2).as("vals")),
      2, "standardize").cache()
    val scaled1 = NeighborMatch.scaleVals(vals.select($"gid", slice($"vals", 1, 1).as("vals")),
      1, "standardize").cache()
    Seq(scaled3, scaled2, scaled1).foreach(_.count())
    for ((scaled, nv, distType) <- Seq((scaled3, 3, "euclidean"), (scaled2, 2, "manhattan"),
        (scaled1, 1, "euclidean"))) {
      val (got, ran) = org.apache.spark.graftshim.BusShim.counted(spark.sparkContext,
          "attr-knn-job-count") {
        val out = NeighborMatch.attrKnn(scaled, nv, 6, distType)
        assert(out.count() == 60000)
        out
      }
      assert(ran.jobs <= 8, s"$nv-dim $distType attribute kNN ran ${ran.jobs} jobs")
      val local = scaled.select("gid", "sv").as[(Long, Seq[Double])].collect().toSeq
      val want = bruteAttrKnn(local, 6, distType == "manhattan")
      val have = got.select("gid", "anbr").as[(Long, Long)].collect().toSet
      assert(have == want,
        s"$nv-dim $distType: ${(have diff want).take(5)} / ${(want diff have).take(5)}")
    }
    Seq(scaled3, scaled2, scaled1).foreach(_.unpersist())
  }

  test("neighbor match fails loudly on bad attribute input, naming the gid") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import spark.implicits._
    val pts = (1 to 40).map(i => (i.toLong, (i % 7).toDouble, (i / 7).toDouble))
      .toDF("gid", "x", "y")
    val schema = StructType(Seq(StructField("gid", LongType),
      StructField("vals", ArrayType(DoubleType, containsNull = true))))
    def values(bad: Seq[java.lang.Double]): org.apache.spark.sql.DataFrame = {
      val rows = (1 to 40).map { i =>
        Row(i.toLong, if (i == 17) bad else Seq[java.lang.Double](i * 1.0, (i * 7 % 11) * 1.0, (i % 5) * 1.0))
      }
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    }
    def message(bad: Seq[java.lang.Double], scale: String): String = {
      val e = intercept[Exception](NeighborMatch.run(pts, values(bad), k = 4, scaleMethod = scale).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    }
    val cases = Seq[(String, Seq[java.lang.Double])](
      "NaN value" -> Seq(1.0, Double.NaN, 2.0),
      "infinite value" -> Seq(1.0, 2.0, Double.NegativeInfinity),
      "null value" -> Seq(1.0, null, 2.0),
      "short vector" -> Seq(1.0, 2.0),
      "long vector" -> Seq(1.0, 2.0, 3.0, 4.0),
      "null vector" -> null)
    for ((name, bad) <- cases; scale <- Seq("raw", "standardize"))
      assert(message(bad, scale).contains("gid 17 "), s"$name, $scale: ${message(bad, scale)}")
    // an empty points and values pair gives no rows
    val none = NeighborMatch.run(pts.limit(0), values(Nil).limit(0), k = 4)
    assert(none.count() == 0)
    assert(none.columns.toSeq == Seq("gid", "card", "p"))
  }
}
