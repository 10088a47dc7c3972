package perfbench

import scala.util.control.NonFatal

import graft.pipeline.{SpatialJoin, Webtext}
import graft.stats.{Lisa, TileLisa}
import graft.weights.KnnWeights
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One public call as the benchmark saw it: its wall seconds and the CPU
  * seconds the JVM's threads spent in it (see `ThreadCpu`).
  */
final case class Call(layer: String, name: String, seconds: Double, cpuS: Double, ok: Boolean)

/** One pass over a workload's calls. `digests` and `release` run after the
  * pass's timer has stopped.
  */
final case class Pass(calls: Seq[Call], wallS: Double, stealS: Double,
                      digests: () => Map[String, String], release: () => Unit)

/** A workload: inputs built from a seed, then passes of public calls, each
  * issued after the previous one returns. `check` runs outside any timer
  * on the first timed pass's outputs and returns one line per failed call.
  */
trait Workload {
  /** Input rows one pass processes; the numerator of rows_per_cpu_s. */
  def rowsPerPass: Long
  /** Whether a pass's calls are alike enough for their median to be
    * call_cpu_p50_s (and call_p50_s); otherwise those are the pass's CPU
    * (wall) time over its calls.
    */
  def comparableCalls: Boolean = false
  /** Untimed passes over the full input before the timed ones. The point
    * workloads' first pass after one warm-up is still about a fifth slower
    * than the passes after it, so they make two.
    */
  def warmupPasses: Int = 2
  /** Fewest timed passes. When it, not `--seconds`, sets the count, every
    * run times the same stretch of the JVM's warm-up, which goes on for
    * several passes more; the timed passes of a run then fill about 20 s.
    */
  def minTimedPasses: Int = 3
  def setupInputs(): Unit
  def pass(tr: Tracer, no: Int): Pass
  def check(): Seq[String]
  def info: Seq[(String, String)]
}

object Workload {
  val Names = Seq("pipeline", "metro", "lisa", "suite")

  /** Warm-up passes are numbered 0; pass 1, the first timed one, is
    * checked.
    */
  val CheckedPass = 1

  def apply(name: String, spark: SparkSession, a: Args): Workload = name match {
    case "pipeline" => new Pipeline(spark, a.seed, 10000)
    case "metro" => new Metro(spark, a.seed, 20000)
    case "lisa" => new LisaSet(spark, a.seed, 6000)
    case "suite" => new Suite(spark, a.data, a.golden, a.allQueries)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Cache and count: the call's whole output, every column, is computed
    * inside the caller's timer.
    */
  def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_ONLY)
    p.count()
    p
  }

  /** Order-insensitive digest of every column of every row. */
  def digest(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*))).head()
    s"${r.getLong(0)}:${r.getLong(1)}"
  }

  /** Run `calls` in order inside spans. In a `chained` pass a call that
    * throws fails the rest, since each consumes what the one before made.
    */
  def runPass(tr: Tracer, no: Int, calls: Seq[(String, String, () => Unit)],
              chained: Boolean = true): (Seq[Call], Double, Double) = {
    val steal0 = ThreadCpu.hostStealS()
    val t0 = System.nanoTime()
    var broken = false
    val out = calls.map { case (layer, name, body) =>
      if (broken) Call(layer, name, 0.0, 0.0, ok = false)
      else try {
        val (_, s, cpu) = tr.span(layer, name, no)(body())
        Call(layer, name, s, cpu, ok = true)
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          broken = chained
          Call(layer, name, 0.0, 0.0, ok = false)
      }
    }
    (out, (System.nanoTime() - t0) / 1e9, ThreadCpu.hostStealS() - steal0)
  }
}

/** Shared by the point workloads: brute-force kNN and `localMoranFast`
  * on a seeded sample of rows, compared with the distributed answers.
  */
object PointChecks {
  val Sample = 48

  /** One failure line per sampled point whose kNN row differs from a
    * brute-force scan with the engine's (distance, gid) order.
    */
  def knn(points: DataFrame, weights: DataFrame, k: Int, seed: Long): Seq[String] = {
    val pts = points.select(col("gid").cast("long"), col("x"), col("y")).collect()
    val gid = pts.map(_.getLong(0)); val xs = pts.map(_.getDouble(1)); val ys = pts.map(_.getDouble(2))
    val r = Gen.rng(seed, 100)
    val picks = Array.fill(Sample)(r.nextInt(pts.length)).distinct
    val want = picks.map { i =>
      // insertion into a k-long (distance, gid)-sorted buffer
      val ds = Array.fill(k)(Double.PositiveInfinity)
      val gs = Array.fill(k)(Long.MaxValue)
      var j = 0
      while (j < gid.length) {
        if (j != i) {
          val d = graft.core.Dist.euclidean(xs(i), ys(i), xs(j), ys(j))
          if (d < ds(k - 1) || (d == ds(k - 1) && gid(j) < gs(k - 1))) {
            var m = k - 1
            while (m > 0 && (d < ds(m - 1) || (d == ds(m - 1) && gid(j) < gs(m - 1)))) {
              ds(m) = ds(m - 1); gs(m) = gs(m - 1); m -= 1
            }
            ds(m) = d; gs(m) = gid(j)
          }
        }
        j += 1
      }
      gid(i) -> gs.toIndexedSeq
    }.toMap
    val got = weights.where(col("gid").isin(want.keys.toSeq: _*))
      .select(col("gid"), col("nbrs")).collect()
      .map(row => row.getLong(0) -> row.getSeq[Long](1).toIndexedSeq).toMap
    want.toSeq.collect {
      case (g, w) if !got.get(g).contains(w) =>
        s"knn row of gid $g: got ${got.get(g).map(_.mkString(",")).getOrElse("none")}, " +
          s"brute force ${w.mkString(",")}"
    }
  }

  /** One failure line per sampled row whose (stat[, p]) differs from
    * `Lisa.localMoranFast`; p is compared only in 'complete' mode, where
    * both draw the same per-row stream.
    */
  def moran(values: DataFrame, weights: DataFrame, out: DataFrame, conf: Lisa.Conf,
            seed: Long): Seq[String] = {
    val (gids, vals) = Lisa.gather(values)
    val r = Gen.rng(seed, 101)
    val picks = Array.fill(Sample)(gids(r.nextInt(gids.length))).distinct
    val nbrs = weights.where(col("gid").isin(picks.toSeq: _*)).select("gid", "nbrs").collect()
      .map(row => row.getLong(0) -> row.getSeq[Long](1).toArray).toMap
    val got = out.where(col("gid").isin(picks.toSeq: _*)).select("gid", "stat", "p").collect()
      .map(row => row.getLong(0) -> (row.getDouble(1), row.getDouble(2))).toMap
    val compareP = conf.permMethod == "complete"
    picks.toSeq.flatMap { g =>
      val idx = java.util.Arrays.binarySearch(gids, g)
      val nIdx = nbrs(g).map(n => java.util.Arrays.binarySearch(gids, n))
      val (stat, p) = Lisa.localMoranFast(idx, nIdx, vals, conf)
      got.get(g) match {
        case Some((s, q)) if s == stat && (!compareP || q == p) => None
        case other => Some(s"moran of gid $g: got $other, localMoranFast ($stat, $p)")
      }
    }
  }
}

/** A workload whose calls each cache one DataFrame that later calls of
  * the pass may read. The first timed pass's outputs stay cached for
  * `check`; every other pass's are dropped once digested.
  */
abstract class FrameWorkload extends Workload {
  protected var kept: Map[String, DataFrame] = Map.empty

  /** One pass; each call is named by its layer and builds its output from
    * the outputs of the calls before it.
    */
  protected def framePass(tr: Tracer, no: Int,
                          calls: Seq[(String, Map[String, DataFrame] => DataFrame)]): Pass = {
    var out = Map.empty[String, DataFrame]
    val (done, wall, steal) = Workload.runPass(tr, no, calls.map { case (layer, build) =>
      (layer, layer, () => out += layer -> Workload.materialize(build(out)))
    })
    if (no == Workload.CheckedPass) kept = out
    Pass(done, wall, steal, () => out.map { case (k, df) => k -> Workload.digest(df) },
      () => if (no != Workload.CheckedPass) out.values.foreach(_.unpersist(blocking = true)))
  }

  /** Runs `checks` on the kept outputs, then drops them. */
  protected def checkKept(checks: Map[String, DataFrame] => Seq[String]): Seq[String] =
    try checks(kept) finally { kept.values.foreach(_.unpersist(blocking = true)); kept = Map.empty }

  protected def onePolygonEach(joined: DataFrame, n: Int): Seq[String] = {
    val r = joined.agg(count(lit(1)), countDistinct(col("gid"))).head()
    if (r.getLong(0) == n && r.getLong(1) == n) Nil
    else Seq(s"pip: ${r.getLong(0)} rows over ${r.getLong(1)} points, want one polygon for each of $n")
  }
}

/** The north-rule chain on seeded uniform pages: geocode, PIP against the
  * 100 x 100 admin grid (broadcast path), kNN(10) at the engine's auto
  * cell size, local Moran 999 permutations in 'lookup' mode.
  */
final class Pipeline(spark: SparkSession, seed: Long, n: Int) extends FrameWorkload {
  import spark.implicits._
  val rowsPerPass: Long = n
  override def minTimedPasses: Int = 5
  private val conf = Lisa.Conf(permMethod = "lookup")
  private var pages, polys: DataFrame = _
  private var inputPrint = ""

  def setupInputs(): Unit = {
    val p = Gen.uniformPages(n, seed)
    inputPrint = Gen.fingerprint(p)
    pages = Workload.materialize(p.url.zip(p.text).toSeq.toDF("url", "text"))
    polys = Workload.materialize(Gen.adminPolygons().toSeq.toDF("pid", "geom"))
  }

  private def values(geo: DataFrame): DataFrame =
    geo.select(col("gid"), length(col("text")).cast("double").as("value"))

  def pass(tr: Tracer, no: Int): Pass = framePass(tr, no, Seq(
    "geocode" -> (_ => Webtext.geocode(pages)),
    "pip" -> (o => SpatialJoin.pip(o("geocode"), polys, Gen.Extent / 100)),
    "knn" -> (o => KnnWeights.build(o("geocode").select("gid", "x", "y"), KnnWeights.Conf(k = 10))),
    "moran_lookup" -> (o => Lisa.localMoran(values(o("geocode")), o("knn"), conf))))

  def check(): Seq[String] = checkKept { o =>
    onePolygonEach(o("pip"), n) ++
      PointChecks.knn(o("geocode"), o("knn"), 10, seed) ++
      PointChecks.moran(values(o("geocode")), o("knn"), o("moran_lookup"), conf, seed)
  }

  def info: Seq[(String, String)] = Seq("pages" -> n.toString, "admin_polygons" -> "10000",
    "input_sha256" -> inputPrint)
}

/** The same PIP, kNN and Moran-lookup calls over Zipf(1.1) metro points.
  * The polygon layer is large enough that the engine itself takes the
  * partitioned PIP path, so hot cells become straggler partitions.
  */
final class Metro(spark: SparkSession, seed: Long, n: Int) extends FrameWorkload {
  import spark.implicits._
  val rowsPerPass: Long = n
  private val conf = Lisa.Conf(permMethod = "lookup")
  private var points, polys: DataFrame = _
  private var polyBytes = 0L
  private var inputPrint = ""

  def setupInputs(): Unit = {
    val p = Gen.metroPoints(n, seed)
    inputPrint = Gen.fingerprint(p)
    points = Workload.materialize(p.gid.indices.map(i => (p.gid(i), p.x(i), p.y(i), p.value(i)))
      .toDF("gid", "x", "y", "value"))
    val layer = Gen.metroPolygons()
    polyBytes = layer.map(_._2.length.toLong).sum
    require(polyBytes * 3 > SpatialJoin.DefaultBroadcastLimit,
      s"metro polygon layer of $polyBytes bytes would take the broadcast path")
    polys = Workload.materialize(layer.toSeq.toDF("pid", "geom"))
  }

  def pass(tr: Tracer, no: Int): Pass = framePass(tr, no, Seq(
    "pip" -> (_ => SpatialJoin.pip(points.select("gid", "x", "y"), polys, Gen.MetroCell)),
    "knn" -> (_ => KnnWeights.build(points.select("gid", "x", "y"), KnnWeights.Conf(k = 10))),
    "moran_lookup" -> (o => Lisa.localMoran(points.select("gid", "value"), o("knn"), conf))))

  def check(): Seq[String] = checkKept { o =>
    onePolygonEach(o("pip"), n) ++
      PointChecks.knn(points, o("knn"), 10, seed) ++
      PointChecks.moran(points.select("gid", "value"), o("knn"), o("moran_lookup"), conf, seed)
  }

  def info: Seq[(String, String)] = Seq("points" -> n.toString, "metro_polygons" -> "40000",
    "metro_polygon_wkb_bytes" -> polyBytes.toString, "input_sha256" -> inputPrint)
}

/** kNN(10) weights built once in set-up and cached, then every pass runs
  * five LISA statistics in 'complete' mode and the tiled local Moran.
  */
final class LisaSet(spark: SparkSession, seed: Long, n: Int) extends FrameWorkload {
  import spark.implicits._
  /** Points times the six statistic calls of a pass. */
  val rowsPerPass: Long = n.toLong * 6
  private var points, weights: DataFrame = _
  private var inputPrint = ""

  def setupInputs(): Unit = {
    val p = Gen.uniformPoints(n, seed)
    inputPrint = Gen.fingerprint(p)
    points = Workload.materialize(p.gid.indices
      .map(i => (p.gid(i), p.x(i), p.y(i), p.value(i), p.value2(i), p.bin(i)))
      .toDF("gid", "x", "y", "value", "value2", "bin"))
    weights = Workload.materialize(
      KnnWeights.build(points.select("gid", "x", "y"), KnnWeights.Conf(k = 10)))
  }

  private def value = points.select("gid", "value")

  def pass(tr: Tracer, no: Int): Pass = framePass(tr, no, Seq(
    "moran" -> (_ => Lisa.localMoran(value, weights)),
    "geary" -> (_ => Lisa.localGeary(value, weights)),
    "joincount" -> (_ => Lisa.localJoinCount(points.select(col("gid"), col("bin").as("value")), weights)),
    "multigeary" -> (_ => Lisa.localMultiGeary(
      points.select(col("gid"), array(col("value"), col("value2")).as("vals")), weights)),
    "quantile" -> (_ => Lisa.quantileLisa(4, 4, value, weights)),
    "tile_moran" -> (_ => TileLisa.localMoran(points.select("gid", "x", "y"), value, weights,
      Gen.PointExtent / 4))))

  def check(): Seq[String] = checkKept { o =>
    PointChecks.knn(points, weights, 10, seed) ++
      PointChecks.moran(value, weights, o("moran"), Lisa.Conf(), seed)
  }

  def info: Seq[(String, String)] = Seq("points" -> n.toString, "tiles" -> "16",
    "input_sha256" -> inputPrint)
}

/** A sweep of `SparkEntry.queries` over the committed sf0.01 tables, each
  * query collected to the driver. The input is fixed, so the seed does
  * not apply; golden-only queries are compared with the repo's goldens.
  * The sweep also makes the LISA family's public calls at GeoDa size (the
  * queries in `Suite.lisaLayer`), so their layers are measured here too.
  */
final class Suite(spark: SparkSession, dataDir: String, goldenFile: String,
                  allQueries: Boolean) extends Workload {

  /** The timed sweep: one cheap query per module layer, golden-pinned
    * where a golden exists, and one query per LISA layer;
    * `--suite-queries all` sweeps all 114.
    */
  val BenchQueries = Seq(
    "q01_pricing_agg", "q16_queen_pairs", "q27_natural_breaks", "q41_redcap_ward",
    "q19_pip_join", "q58_fingerprint") ++ Suite.lisaLayer.keys.toSeq.sorted

  private val all = graft.SparkEntry.queries
  val queries: Seq[String] = if (allQueries) all.keys.toSeq.sorted else BenchQueries
  private lazy val golden: Map[String, (Long, String)] = {
    val f = new java.io.File(goldenFile)
    require(f.isFile, s"no golden file $goldenFile")
    scala.io.Source.fromFile(f, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val Array(q, rows, md5) = l.split("\t"); q -> (rows.toLong, md5)
    }.toMap
  }
  /** Result rows of one sweep, counted on the first timed sweep. */
  def rowsPerPass: Long = resultRows
  override def comparableCalls: Boolean = true
  /** After one warm-up sweep the next two take about the same time. */
  override def warmupPasses: Int = 1
  private var resultRows = 0L
  private var kept: Map[String, (Array[Row], org.apache.spark.sql.types.StructType)] = Map.empty

  def setupInputs(): Unit = {
    val tables = Option(new java.io.File(dataDir).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet"))
    require(tables.nonEmpty, s"no parquet tables under $dataDir")
    tables.foreach(t => spark.read.parquet(t.getPath).schema)
  }

  private def canon(rows: Array[Row], schema: org.apache.spark.sql.types.StructType) =
    graft.Verify.canon(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))

  def pass(tr: Tracer, no: Int): Pass = {
    var out = Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
    val (calls, wall, steal) = Workload.runPass(tr, no, queries.map { q =>
      (Suite.layerOf(q), q, () => {
        val df = all(q)(spark, dataDir)
        out += q -> (df.collect(), df.schema)
      })
    }, chained = false)
    if (no == Workload.CheckedPass) { kept = out; resultRows = out.values.map(_._1.length.toLong).sum }
    Pass(calls, wall, steal, () => out.map { case (q, (rows, schema)) =>
      q -> canon(rows, schema).productIterator.mkString(":") }, () => ())
  }

  def check(): Seq[String] = {
    val out = kept.toSeq.collect {
      case (q, (rows, schema)) if graft.Verify.goldenQueries.contains(q) &&
          !golden.get(q).contains(canon(rows, schema)) =>
        s"$q: got ${canon(rows, schema)}, golden ${golden.get(q)}"
    }
    kept = Map.empty
    out
  }

  def info: Seq[(String, String)] = Seq("queries" -> queries.length.toString,
    "input_sha256" -> java.security.MessageDigest.getInstance("SHA-256")
      .digest(queries.mkString(",").getBytes("UTF-8")).map("%02x".format(_)).mkString,
    "golden_checked" -> queries.count(graft.Verify.goldenQueries.contains).toString,
    "result_rows_per_sweep" -> resultRows.toString)
}

object Suite {
  private val weights = Set("q11", "q11k", "q12", "q12k", "q13", "q16", "q17", "q18", "q43",
    "q44", "q45", "q61", "q63", "q63b", "q89")
  private val stats = Set("q14", "q15", "q20", "q21", "q22", "q23", "q24", "q24b", "q25",
    "q26", "q26b", "q27", "q96", "q30", "q30f", "q31", "q32", "q33", "q34", "q35", "q36",
    "q37", "q38", "q39", "q42", "q67", "q69", "q70", "q71", "q72", "q73", "q74", "q75",
    "q76", "q77", "q91", "q92", "q93", "q95", "q98", "q100", "q101", "q102")
  private val cluster = Set("q40", "q41")
  private val spatial = Set("q10", "q19", "q19s", "q62", "q64", "q65", "q66")
  private val relational = Set("q01", "q02", "q03", "q04", "q05", "q60")

  /** The LISA-family queries, each the one public call of its layer. */
  val lisaLayer = Map(
    "q30f_local_moran_full" -> "moran", "q33_local_geary" -> "geary",
    "q34_local_joincount" -> "joincount", "q39_local_multigeary" -> "multigeary",
    "q37_quantile_lisa" -> "quantile", "q67_tile_moran" -> "tile_moran")

  /** The layer of a query is its LISA layer, or else the engine module it
    * calls: weights, stats
    * (LISA, rates, breaks, global statistics), cluster (regionalization),
    * spatial (PIP, tiling, raster), relational (plain SQL); everything
    * else is a corpus chain.
    */
  def layerOf(query: String): String = {
    val id = query.takeWhile(_ != '_')
    if (lisaLayer.contains(query)) lisaLayer(query)
    else if (weights(id)) "q_weights"
    else if (stats(id)) "q_stats"
    else if (cluster(id)) "q_cluster"
    else if (spatial(id)) "q_spatial"
    else if (relational(id)) "q_relational"
    else "q_corpus"
  }
}
