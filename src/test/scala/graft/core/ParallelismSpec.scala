package graft.core

import graft.SparkFixture
import graft.pipeline.{Dedup, SynthGeo, TextAnalysis}
import graft.stats.TileLisa
import graft.weights.{DistanceWeights, KnnWeights}
import org.apache.spark.graftshim.BusShim
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ParallelismSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  val dir = "/root/testdata/sf0.001"

  private def docs = SynthGeo.table(spark, dir, "documents").select("doc_id", "text")

  private def atWidth[A](width: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, width.toString)
    try body finally spark.conf.set(key, before)
  }

  test("widen returns a frame with an exchange below as it is, running its upstream once") {
    // a shuffled join: under AQE its partition count is only known after
    // its stages run, so probing it would run them a second time
    def joined = docs.join(
      SynthGeo.table(spark, dir, "documents").select("doc_id", "lang").hint("shuffle_hash"),
      "doc_id")
    val (plain, ranPlain) = BusShim.counted(spark.sparkContext, "widen-plain")(
      joined.collect())
    val ((same, widened), ranWidened) = BusShim.counted(spark.sparkContext, "widen-joined") {
      val j = joined
      val w = Parallelism.widen(j, col("doc_id"))
      (w eq j, w.collect())
    }
    assert(ranWidened.jobs == ranPlain.jobs,
      s"widened join ran ${ranWidened.jobs} jobs, the join alone ${ranPlain.jobs}")
    assert(same)
    assert(widened.sortBy(_.getLong(0)).sameElements(plain.sortBy(_.getLong(0))))
  }

  test("widen spreads a single-file scan to the session width and keeps a wide scan as is") {
    assert(docs.rdd.getNumPartitions == 1)
    for (width <- Seq(3, 4)) atWidth(width) {
      assert(Parallelism.widen(docs, col("doc_id")).rdd.getNumPartitions == width)
      val wide = spark.range(0, 100, 1, width).toDF("id")
      assert(Parallelism.widen(wide, col("id")) eq wide)
    }
  }

  test("every spread site's output is the same at shuffle widths 1, 3 and 4") {
    import spark.implicits._
    val n = 240
    val pts = (1 to n).map { i =>
      (i.toLong, (i * 193 % 997) * 0.13, (i * 499 % 991) * 0.17)
    }.toDF("gid", "x", "y")
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 4, cellSize = Some(4.0))).cache()
    val mv = (1 to n).map(i => (i.toLong,
      Seq((i * 37 % 101).toDouble, (i * 17 % 1000).toDouble))).toDF("gid", "vals")
    val emb = SynthGeo.table(spark, dir, "embeddings")
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)
    def outputs(): Map[String, Seq[Any]] = Map(
      "tile moran" -> TileLisa.runMulti(TileLisa.Moran, pts, mv, w, tileSize = 40.0)
        .as[(Long, Long, Double, Double, Double)].collect().toSeq
        .map { case (g, t, s, p, c) => (g, t, bits(s), bits(p), bits(c)) }.sortBy(_._1),
      "tile multigeary" -> TileLisa.runMulti(TileLisa.MultiGeary, pts, mv, w, tileSize = 40.0)
        .as[(Long, Long, Double, Double, Double)].collect().toSeq
        .map { case (g, t, s, p, c) => (g, t, bits(s), bits(p), bits(c)) }.sortBy(_._1),
      "distance pairs" -> DistanceWeights.pairs(pts, DistanceWeights.Conf(threshold = 12.0))
        .as[(Long, Long, Double)].collect().toSeq
        .map { case (g, b, d) => (g, b, bits(d)) }.sorted,
      "semantic dedup" -> sorted(Dedup.semanticDedup(
        emb.unionByName(emb.withColumn("vec_id", col("vec_id") + 1000000L)),
        threshold = 0.85, nClusters = 16)),
      "quality score" -> sorted(TextAnalysis.qualityScore(docs)))
    val one = atWidth(1)(outputs())
    assert(one.values.forall(_.nonEmpty))
    for (width <- Seq(3, 4)) {
      val at = atWidth(width)(outputs())
      for ((name, rows) <- one) assert(at(name) == rows, s"$name at width $width")
    }
    w.unpersist()
  }
}
