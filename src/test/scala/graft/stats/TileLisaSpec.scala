package graft.stats

import graft.SparkFixture
import graft.weights.KnnWeights
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{array, col}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

class TileLisaSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  private def points(n: Int) = {
    import spark.implicits._
    (1 to n).map { i =>
      (i.toLong, (i * 193 % 997) * 0.13, (i * 499 % 991) * 0.17)
    }.toDF("gid", "x", "y")
  }
  private def values(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, (i * 37 % 101).toDouble)).toDF("gid", "value")
  }

  test("lookup mode: single tile equals broadcast lookup; multi-tile deterministic") {
    import spark.implicits._
    val pts = points(120)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
    val v = values(120)
    val conf = Lisa.Conf(permMethod = "lookup")
    val broadcastMode = Lisa.localMoran(v, w, conf).orderBy("gid")
      .as[(Long, Double, Double, Double)].collect()
    val tiled = TileLisa.localMoran(pts, v, w, tileSize = 1e6, conf)
      .orderBy("gid").select("gid", "stat", "p", "c")
      .as[(Long, Double, Double, Double)].collect()
    assert(tiled.sameElements(broadcastMode),
      "one-window tile lookup must equal broadcast lookup bit-exactly")
    // multi-tile: per-window tables must be deterministic across runs
    // and across input partitioning
    val a = TileLisa.localMoran(pts, v, w, tileSize = 40.0, conf)
      .orderBy("gid").collect()
    val b = TileLisa.localMoran(pts.repartition(7), v.repartition(3), w,
        tileSize = 40.0, conf)
      .orderBy("gid").collect()
    assert(a.sameElements(b))
  }

  test("tileSize <= 0 auto-sizes from density and reproduces explicit-size output") {
    import spark.implicits._
    val pts = points(300)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
    val v = values(300)
    // targetRows larger than n → one tile; the helper must agree with the
    // density formula and the auto run must equal the explicit-size run
    val s = TileLisa.autoTileSize(pts)
    assert(s > 0)
    val auto = TileLisa.localMoran(pts, v, w, tileSize = 0.0)
      .orderBy("gid").collect()
    val explicit = TileLisa.localMoran(pts, v, w, tileSize = s)
      .orderBy("gid").collect()
    assert(auto.sameElements(explicit))
    // a small row target yields genuinely smaller tiles (more windows)
    val sSmall = TileLisa.autoTileSize(pts, targetRows = 10)
    assert(sSmall < s)
    val nTiles = TileLisa.localMoran(pts, v, w, tileSize = sSmall)
      .select("tile").distinct().count()
    assert(nTiles > 1)
  }

  /** Value frames for every statistic over the gids of `pts`: `v`
    * (gid, value), binary `bin`, bivariate `bm` (gid, value, value2),
    * never co-located binary `bi`, multivariate `mv` (gid, vals) and
    * binary `mvBin`.
    */
  private case class Inputs(pts: DataFrame, w: DataFrame, v: DataFrame,
      bin: DataFrame, bm: DataFrame, bi: DataFrame, mv: DataFrame,
      mvBin: DataFrame) {
    def limit0: Inputs = Inputs(pts.limit(0), w.limit(0), v.limit(0),
      bin.limit(0), bm.limit(0), bi.limit(0), mv.limit(0), mvBin.limit(0))
  }

  private def inputs(n: Int): Inputs = {
    import spark.implicits._
    val pts = points(n)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
    def b(i: Int, m: Int, r: Int) = if ((i * m) % r < r / 2) 1.0 else 0.0
    Inputs(pts, w, values(n),
      (1 to n).map(i => (i.toLong, b(i, 13, 7))).toDF("gid", "value"),
      (1 to n).map(i => (i.toLong, (i * 37 % 101).toDouble,
        (i * 17 % 1000).toDouble)).toDF("gid", "value", "value2"),
      (1 to n).map(i => (i.toLong, b(i, 13, 7), 1.0 - b(i, 13, 7)))
        .toDF("gid", "value", "value2"),
      (1 to n).map(i => (i.toLong, Seq((i * 37 % 101).toDouble,
        (i * 17 % 1000).toDouble))).toDF("gid", "vals"),
      (1 to n).map(i => (i.toLong, Seq(b(i, 13, 7), b(i, 11, 5))))
        .toDF("gid", "vals"))
  }

  /** Every statistic, by its reference name. */
  private val stats: Seq[(String, TileLisa.Stat)] = {
    import TileLisa._
    Seq("moran" -> Moran, "g" -> G, "gstar" -> GStar, "geary" -> Geary,
      "joincount" -> JoinCount, "multigeary" -> MultiGeary,
      "bimoran" -> BiMoran, "bijoincount" -> BiJoinCount,
      "multijoincount" -> MultiJoinCount, "quantile" -> Quantile(5, 5),
      "multiquantile" -> MultiQuantile(Seq(4, 4), Seq(4, 1)))
  }

  /** `stat` as (broadcast-mode call, one-tile call), both giving
    * (gid, stat, p, c).
    */
  private def modes(stat: TileLisa.Stat, in: Inputs)
      : (Lisa.Conf => DataFrame, Lisa.Conf => DataFrame) = {
    import TileLisa._
    def tile(vals: DataFrame)(conf: Lisa.Conf) =
      TileLisa.runMulti(stat, in.pts, vals, in.w, tileSize = 1e6, conf)
        .select("gid", "stat", "p", "c")
    def tile1(v: DataFrame)(conf: Lisa.Conf) =
      TileLisa.run(stat, in.pts, v, in.w, tileSize = 1e6, conf)
        .select("gid", "stat", "p", "c")
    stat match {
      case Moran => (Lisa.localMoran(in.v, in.w, _), tile1(in.v) _)
      case G => (Lisa.localG(in.v, in.w, star = false, _), tile1(in.v) _)
      case GStar => (Lisa.localG(in.v, in.w, star = true, _), tile1(in.v) _)
      case Geary => (Lisa.localGeary(in.v, in.w, _), tile1(in.v) _)
      case JoinCount => (Lisa.localJoinCount(in.bin, in.w, _), tile1(in.bin) _)
      case MultiGeary => (Lisa.localMultiGeary(in.mv, in.w, _), tile(in.mv) _)
      case BiMoran => (Lisa.localBiMoran(in.bm, in.w, _), tile(pair(in.bm)) _)
      case BiJoinCount =>
        (Lisa.localBiJoinCount(in.bi, in.w, _), tile(pair(in.bi)) _)
      case MultiJoinCount =>
        (Lisa.localMultiJoinCount(in.mvBin, in.w, _), tile(in.mvBin) _)
      case Quantile(k, q) =>
        (Lisa.quantileLisa(k, q, in.v, in.w, _), tile1(in.v) _)
      case MultiQuantile(ks, qs) => (Lisa.multiQuantileLisa(ks.toArray,
        qs.toArray, in.mv, in.w, _), tile(in.mv) _)
    }
  }

  private val permMethods = Seq("complete", "lookup")

  private def one(df: DataFrame) =
    df.select(col("gid"), array(col("value")).as("vals"))
  private def pair(df: DataFrame) =
    df.select(col("gid"), array(col("value"), col("value2")).as("vals"))

  private lazy val in100 = inputs(100)

  // one table: every statistic in both permutation methods
  for ((name, stat) <- stats)
    test(s"single window equals broadcast: $name, complete and lookup") {
      import spark.implicits._
      val (broadcastMode, oneTile) = modes(stat, in100)
      for (pm <- permMethods) {
        val conf = Lisa.Conf(permMethod = pm)
        val b = broadcastMode(conf).orderBy("gid")
          .as[(Long, Double, Double, Double)].collect()
        val t = oneTile(conf).orderBy("gid")
          .as[(Long, Double, Double, Double)].collect()
        assert(b.length == 100, s"$pm row count")
        assert(t.sameElements(b), s"$pm: one tile differs from broadcast")
      }
    }

  test("empty input gives empty output in both modes and permutation methods") {
    val in = inputs(20).limit0
    for ((name, stat) <- stats; pm <- permMethods) {
      val (broadcastMode, oneTile) = modes(stat, in)
      val conf = Lisa.Conf(permMethod = pm)
      assert(broadcastMode(conf).count() == 0, s"broadcast $name $pm")
      assert(oneTile(conf).count() == 0, s"tile $name $pm")
    }
  }

  /** The `require` reason of a failure, whether it was raised on the
    * driver or inside a task (where Spark wraps it in a stage failure).
    */
  private def reason(body: => Any): String = {
    val e = intercept[Exception](body)
    val m = "requirement failed: ([^\\n]*)".r
      .findFirstMatchIn(e.toString + "\n" + e.getMessage)
    assert(m.isDefined, s"not a require failure: $e")
    m.get.group(1)
  }

  test("bad input fails in both modes with the same message naming the gid") {
    val n = 20
    val pts = points(n)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 2, cellSize = Some(8.0)))
    def frame(schema: String, rows: Seq[Row]) = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), StructType.fromDDL(schema))
    def uni(f: Int => Any) =
      frame("gid BIGINT, value DOUBLE", (1 to n).map(i => Row(i.toLong, f(i))))
    def multi(f: Int => Seq[Any]) = frame("gid BIGINT, vals ARRAY<DOUBLE>",
      (1 to n).map(i => Row(i.toLong, f(i))))
    def two(f: Int => (Double, Double)) =
      frame("gid BIGINT, value DOUBLE, value2 DOUBLE",
        (1 to n).map { i => val (a, b) = f(i); Row(i.toLong, a, b) })
    def both(stat: TileLisa.Stat, broadcastMode: => DataFrame, vals: DataFrame,
             want: String): Unit = {
      val b = reason(broadcastMode.collect())
      val t = reason(TileLisa.runMulti(stat, pts, vals, w, tileSize = 1e6)
        .collect())
      assert(b == t && b.contains(want), s"$stat: broadcast '$b', tile '$t'")
    }
    val nullValue = uni(i => if (i == 6) null else i.toDouble)
    both(TileLisa.Moran, Lisa.localMoran(nullValue, w),
      one(nullValue), "null element in vals array at gid 6")
    val nullElem = multi(i => Seq(i.toDouble, if (i == 6) null else 1.0 * i))
    both(TileLisa.MultiGeary, Lisa.localMultiGeary(nullElem, w), nullElem,
      "null element in vals array at gid 6")
    val nullArray = multi(i => if (i == 6) null else Seq(i.toDouble, 2.0 * i))
    both(TileLisa.MultiGeary, Lisa.localMultiGeary(nullArray, w), nullArray,
      "null vals array at gid 6")
    val ragged = multi(i => Seq.fill(if (i == 7) 3 else 2)(i.toDouble))
    both(TileLisa.MultiGeary, Lisa.localMultiGeary(ragged, w), ragged,
      "ragged vals array at gid 7 (2 vs 3)")
    val nonBinary = uni(i => if (i == 9) 2.0 else (i % 2).toDouble)
    both(TileLisa.JoinCount, Lisa.localJoinCount(nonBinary, w),
      one(nonBinary), "found 2.0 at gid 9")
    val coLocated = two(i => if (i == 4) (1.0, 1.0) else
      ((i % 2).toDouble, 1.0 - i % 2))
    both(TileLisa.BiJoinCount, Lisa.localBiJoinCount(coLocated, w),
      pair(coLocated), "x1 == x2 at gid 4")
  }

  test("multi-tile multivariate/quantile runs are partitioning-invariant") {
    import spark.implicits._
    val n = 200
    val pts = points(n)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
    val mv = (1 to n).map(i => (i.toLong,
      Seq((i * 37 % 101).toDouble, (i * 17 % 1000).toDouble)))
      .toDF("gid", "vals")
    for (stat <- Seq[TileLisa.Stat](TileLisa.MultiGeary,
        TileLisa.MultiQuantile(Seq(4, 4), Seq(4, 1)))) {
      val a = TileLisa.runMulti(stat, pts, mv, w, tileSize = 40.0)
        .orderBy("gid").collect()
      val b = TileLisa.runMulti(stat, pts.repartition(7), mv.repartition(3),
          w.repartition(5), tileSize = 40.0)
        .orderBy("gid").collect()
      assert(a.sameElements(b), s"$stat not partitioning-invariant")
      assert(a.length == n)
      // several tiles actually exist at this tile size
      assert(a.map(_.getLong(1)).distinct.length > 1)
    }
  }

  test("degenerate windows: tiny tiles make every point its own window") {
    import spark.implicits._
    val n = 80
    val pts = points(n)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
    val v = values(n)
    // tileSize far below point spacing → all neighbors trimmed, every
    // statistic must degrade to its neighborless row shape, one row per
    // gid, no crashes in per-window standardize/quantile machinery
    for (stat <- Seq[TileLisa.Stat](TileLisa.Moran, TileLisa.G,
        TileLisa.GStar, TileLisa.Geary, TileLisa.Quantile(5, 5))) {
      val r = TileLisa.run(stat, pts, v, w, tileSize = 1e-6)
        .select("gid", "stat", "p", "c")
        .as[(Long, Double, Double, Double)].collect()
      assert(r.length == n, s"$stat row count")
      stat match {
        case TileLisa.Quantile(_, _) =>
          // neighborless join count: stat 0, p undefined (-1), nn 0
          assert(r.forall(t => t._2 == 0.0 && t._3 == -1.0 && t._4 == 0.0),
            s"$stat neighborless shape")
        case _ =>
          // neighborless LISA: stat 0, p 0, cluster 5
          assert(r.forall(t => t._2 == 0.0 && t._3 == 0.0 && t._4 == 5.0),
            s"$stat neighborless shape")
      }
    }
    val mv = (1 to n).map(i => (i.toLong,
      Seq((i * 37 % 101).toDouble, (i * 17 % 1000).toDouble)))
      .toDF("gid", "vals")
    val mg = TileLisa.runMulti(TileLisa.MultiGeary, pts, mv, w,
        tileSize = 1e-6)
      .select("gid", "stat", "p", "c")
      .as[(Long, Double, Double, Double)].collect()
    assert(mg.length == n && mg.forall(t => t._2 == 0.0 && t._4 == 5.0))
  }

  test("per-tile mode: window-trim drops cross-tile neighbors") {
    import spark.implicits._
    val pts = points(200)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
    val v = values(200)
    val tiled = TileLisa.localMoran(pts, v, w, tileSize = 40.0)
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(tiled.length == 200)
    // multiple tiles actually exist
    assert(tiled.map(_._2).distinct.length > 1)
    // rows with all neighbors trimmed are Neighborless (c=5), p=0
    tiled.filter(_._5 == 5.0).foreach { r =>
      assert(r._3 == 0.0 && r._4 == 0.0)
    }
    // deterministic under repartitioning
    val again = TileLisa.localMoran(pts.repartition(7), v.repartition(3),
      w.repartition(5), tileSize = 40.0)
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(tiled.sortBy(_._1).sameElements(again.sortBy(_._1)))
  }
}
