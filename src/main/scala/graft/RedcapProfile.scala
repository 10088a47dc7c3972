package graft

import graft.cluster.Regionalize

/** Driver-only profiler for the full-order REDCAP solve (no Spark):
  * 50x40 rook grid (2000 nodes), 2 variables, every linkage timed.
  * Run: sbt "runMain graft.RedcapProfile [n]"
  * With arg "q41": times the real q41 stages (Spark assembly vs solve).
  */
object RedcapProfile {
  def main(args: Array[String]): Unit = {
    println(s"procs=${Runtime.getRuntime.availableProcessors} " +
      s"fjp=${java.util.concurrent.ForkJoinPool.commonPool().getParallelism}")
    if (args.headOption.contains("q41")) { profileQ41(); return }
    if (args.headOption.contains("fill")) {
      val n = 20000
      val nv = 2
      val scaled = Array.tabulate(nv)(v => Array.tabulate(n)(i => (i * (v + 1) % 977).toDouble))
      def fill(n: Int, d: Array[Double], par: Boolean): Unit = {
        val s = java.util.stream.IntStream.range(0, n)
        val s2 = if (par) s.parallel() else s
        s2.forEach { i =>
          val base = i.toLong * n - i.toLong * (i + 1) / 2 - i - 1
          var j = i + 1
          while (j < n) {
            var ss = 0.0; var v = 0
            while (v < nv) { val dv = scaled(v)(i) - scaled(v)(j); ss += dv * dv; v += 1 }
            d((base + j).toInt) = ss / 2.0
            j += 1
          }
        }
      }
      val m = n.toLong * (n - 1) / 2
      // warm the lambda's code path on a small n first
      val t0w = System.nanoTime()
      fill(2000, new Array[Double](2000 * 1999 / 2), par = false)
      println(f"warmup(serial n=2000)=${(System.nanoTime() - t0w) / 1e9}%.2f s")
      for (round <- 1 to 3) {
        val ta = System.nanoTime()
        val d = new Array[Double](m.toInt)
        println(f"round $round alloc=${(System.nanoTime() - ta) / 1e9}%.2f s")
        val t0 = System.nanoTime()
        fill(n, d, par = true)
        println(f"round $round fill=${(System.nanoTime() - t0) / 1e9}%.2f s (sum=${d(0) + d(m.toInt - 1)})")
      }
      return
    }
    val n0 = if (args.nonEmpty) args(0).toInt else 2000
    val side = math.max(2, math.sqrt(n0 * 2.0).toInt)
    val rows = math.max(2, n0 / side)
    val n = side * rows
    // heavily tied integer-derived values + queen adjacency — the q41
    // shape (ties are the hard case for the lazy-deletion heap)
    val scaled = Array.tabulate(2)(v =>
      Array.tabulate(n)(i =>
        if (v == 0) ((i * 31) % 1200).toDouble else (i % 50).toDouble))
    val edges = (for {
      y <- 0 until rows; x <- 0 until side
      (dx, dy) <- Seq((1, 0), (0, 1), (1, 1), (1, -1))
      if x + dx < side && y + dy >= 0 && y + dy < rows
    } yield (y * side + x, (y + dy) * side + (x + dx))).toArray
    val bounds = Array.fill(n)(0.0)
    // optional args: [n] [linkage-substring]
    val methods = Seq("firstorder-singlelinkage", "fullorder-singlelinkage",
      "fullorder-completelinkage", "fullorder-averagelinkage",
      "fullorder-wardlinkage")
      .filter(m => args.lift(1).forall(m.contains))
    for (m <- methods) {
      val t0 = System.nanoTime()
      val labels = Regionalize.solve(n, scaled, edges, bounds,
        Regionalize.Conf(k = 6, method = m))
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"$m%-28s n=$n sec=$sec%.3f clusters=${labels.max}")
    }
  }

  private def profileQ41(): Unit = {
    import graft.pipeline.SynthGeo
    import graft.weights.ContiguityWeights
    import org.apache.spark.sql.functions._
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]").config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.1"
    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"$tag%-14s ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val g = SynthGeo.partPolygons(spark, dir)
    val w = time("weights") {
      val wdf = ContiguityWeights.build(g,
        ContiguityWeights.Conf(queen = true)).cache()
      wdf.count(); wdf
    }
    val v = SynthGeo.table(spark, dir, "part")
      .select(col("p_partkey").cast("long").as("gid"),
        array(col("p_retailprice").cast("double"),
          col("p_size").cast("double")).as("vals"))
    val out = time("solve+assemble") {
      Regionalize.run(v, w, Regionalize.Conf(k = 4,
        method = "fullorder-wardlinkage")).count()
    }
    println(s"rows $out")
    spark.stop()
  }
}
