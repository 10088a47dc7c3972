package graft.core

import graft.SparkFixture
import graft.SparkFixture.withBudget
import graft.cluster.{Components, Regionalize}
import graft.pipeline.SpatialJoin
import graft.stats.Lisa
import graft.weights.{ContiguityWeights, WeightsCodec}
import org.apache.spark.graftshim.BusShim
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.scalatest.funsuite.AnyFunSuite

/** Every driver fetch behind [[DriverBudget]], at a tiny budget and at the
  * default: a site with a distributed form gives the same rows past the
  * budget, and a site without one fails naming the bound and the
  * alternative.
  */
class DriverBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  /** An 8x8 grid of unit squares, gids 1..64, with two variables. */
  private lazy val polys = (for (cy <- 0 until 8; cx <- 0 until 8) yield {
    ((cy * 8 + cx + 1).toLong, Wkb.writePolygon(Array((cx * 1.0, cy * 1.0),
      (cx + 1.0, cy * 1.0), (cx + 1.0, cy + 1.0), (cx * 1.0, cy + 1.0))))
  }).toDF("gid", "geom")
  private lazy val weights = ContiguityWeights.build(polys, ContiguityWeights.Conf(queen = true))
    .cache()
  private lazy val vals = (1 to 64).map(i => (i.toLong,
    Seq((i * 37 % 11).toDouble, (i * 13 % 7).toDouble))).toDF("gid", "vals")
  private lazy val points = {
    val r = new scala.util.Random(7L)
    (1 to 500).map(i => (i.toLong, r.nextDouble() * 8, r.nextDouble() * 8)).toDF("gid", "x", "y")
  }
  private lazy val pairs = {
    val r = new scala.util.Random(11L)
    Seq.fill(400)((r.nextInt(300).toLong, r.nextInt(300).toLong)).toDF("id_a", "id_b")
  }

  // values are 64 rows at 12 + 16 bytes (1792), bounds 64 at 12 + 8
  // (1280) and the queen edges 420 at 16 (6720): at 3000 bytes the
  // values and the bounds fit and the edges do not, at 2500 the values
  // fit and the bounds do not
  private val valuesFit = 3000L
  private val boundsOver = 2500L

  private def skater(method: String) =
    Regionalize.run(vals, weights, Regionalize.Conf(k = 4, method = method))
      .orderBy("gid").as[(Long, Int)].collect().toSeq

  private def message(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")

  /** Sites with a distributed form: (name, tiny budget, rows). */
  private val distributed: Seq[(String, Long, () => Any)] = Seq(
    ("PIP partitioned", 0L, () => SpatialJoin.pip(points, polys.withColumnRenamed("gid", "pid"),
      0.5).as[(Long, Long)].collect().toSet),
    ("CC rounds", 0L, () => Components.connected(pairs).as[(Long, Long)].collect().toSet),
    ("SKATER's distributed tree", valuesFit, () => skater("firstorder-singlelinkage")))

  /** Sites without one: (name, tiny budget, body, what the message names). */
  private val failing: Seq[(String, Long, () => Any, Seq[String])] = Seq(
    ("broadcast LISA's gather", 64L,
      () => Lisa.localMoran(vals.select($"gid", $"vals"(0).as("value")), weights).collect(),
      Seq("broadcast LISA's value table", "TileLisa")),
    ("Regionalize's values", 64L, () => skater("firstorder-singlelinkage"),
      Seq("Regionalize's value table", "raise the budget")),
    ("Regionalize's bounds", boundsOver, () => Regionalize.run(vals, weights,
        Regionalize.Conf(k = 4),
        Some(vals.select($"gid", $"vals"(0).as("value")))).collect(),
      Seq("Regionalize's bound values", "raise the budget")),
    ("full-order linkage edges", valuesFit, () => skater("fullorder-wardlinkage"),
      Seq("weights edges for fullorder-wardlinkage", "firstorder-singlelinkage")),
    ("toJsonText", 64L, () => WeightsCodec.toJsonText(weights),
      Seq("toJsonText's weights", "asText")),
    ("writeGal", 64L, () => WeightsCodec.writeGal(weights, tmp("w.gal")),
      Seq("writeGal's lines", "galLines")),
    ("writeGwt", 64L, () => WeightsCodec.writeGwt(weights, tmp("w.gwt")),
      Seq("writeGwt's lines", "gwtLines")))

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory("budget")
    d.toFile.deleteOnExit()
    d.resolve(name).toString
  }

  for ((site, tiny, body) <- distributed)
    test(s"$site: past the budget the rows are the same") {
      // the distributed form runs more jobs than the driver-held one (the
      // first call also fills the cached weights)
      body()
      val (want, driver) = BusShim.counted(spark.sparkContext, s"$site-default")(body())
      assert(want != Nil && want != Set.empty)
      val (got, ran) = BusShim.counted(spark.sparkContext, s"$site-tiny")(withBudget(tiny)(body()))
      assert(got == want)
      assert(ran.jobs > driver.jobs, s"$site: $ran jobs past the budget, $driver within it")
    }

  for ((site, tiny, body, names) <- failing)
    test(s"$site: past the budget it fails naming the bound and the alternative") {
      body() // the default budget holds it
      val e = intercept[Exception](withBudget(tiny)(body()))
      val m = message(e)
      (s"bytes (${DriverBudget.Key})" +: "over its budget of" +: names)
        .foreach(n => assert(m.contains(n), s"$site: '$n' not in: $m"))
    }

  private def longs(df: DataFrame, budget: Long) =
    BusShim.counted(spark.sparkContext, s"fetch-$budget")(
      DriverBudget.fetch(df, budget)(() => new DriverBudgetSpec.Longs))

  test("a fetch reads once within every share, twice when a share overflows, and " +
      "measures what it does not hold") {
    // 4 partitions of 10, 10, 10 and 70 rows: 800 bytes in all
    val skewed = spark.range(0, 400, 1, 4)
      .filter($"id" % 100 < org.apache.spark.sql.functions.when($"id" >= 300, 70).otherwise(10)).toDF()
    val all = (0 until 4).flatMap(p => (0 until (if (p == 3) 70 else 10)).map(i => p * 100L + i))
    val (fits, ranFits) = longs(skewed, 4 * 70 * 8L)
    val (whole, ranWhole) = longs(skewed, 800L)
    val (over, _) = longs(skewed, 799L)
    for (f <- Seq[DriverBudget.Fetched[Array[Long]]](fits, whole)) f match {
      case DriverBudget.Held(parts, bytes) => assert(parts.flatten == all && bytes == 800L)
      case o => fail(s"got $o")
    }
    assert(over == DriverBudget.Over(800L, 799L))
    assert(ranFits.jobs == 1 && ranWhole.jobs == 2, s"$ranFits then $ranWhole")
  }
}

object DriverBudgetSpec {
  /** Long rows; a row costs 8 bytes. */
  final class Longs extends DriverBudget.Holder[Array[Long]] {
    private val b = new scala.collection.mutable.ArrayBuilder.ofLong
    def size(row: InternalRow): Long = 8L
    def add(row: InternalRow): Unit = b += row.getLong(0)
    def result(): Array[Long] = b.result()
  }
}
