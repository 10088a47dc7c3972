package graft.pipeline

import graft.SparkFixture
import graft.stats.Breaks
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  val dir = "/root/testdata/sf0.001"

  /** Exact cosine for fixture cross-checks (shared by the LSH and
    * semantic-dedup tests).
    */
  private def cos(a: Seq[Float], b: Seq[Float]): Double = {
    var dp = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i =>
      dp += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i)
    }
    dp / math.sqrt(na * nb)
  }

  /** Planted-semantic-group fixture: 12 tight groups of 5 (within-group
    * cosine ~0.9) + 400 noise vectors at dim 32 (random-pair cosine
    * ±0.18). Returns (rows, byId).
    */
  private def semanticFixture(seed: Int)
      : (Seq[(Long, Seq[Float])], Map[Long, Seq[Float]]) = {
    val dim = 32
    val rnd = new scala.util.Random(seed)
    def unitv(): Array[Double] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val groups = (0 until 12).map { g =>
      val c = unitv()
      (0 until 5).map { m =>
        val v = c.zip(unitv()).map { case (a, b) => a + 0.22 * b }
        (g * 100L + m, v.map(_.toFloat).toSeq)
      }
    }
    val noise = (0 until 400).map(i =>
      (10000L + i, unitv().map(_.toFloat).toSeq))
    val rows = groups.flatten ++ noise
    (rows, rows.toMap)
  }

  test("exact dedup finds planted duplicates") {
    import spark.implicits._
    val docs = Seq((1L, "hello world"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    val r = Dedup.exact(docs).as[(String, Long, Long)].collect()
      .map(t => (t._2, t._3)).toMap
    assert(r(1L) == 2L && r(3L) == 1L)
  }

  test("minhash LSH finds near-duplicates, skips dissimilar") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 60).map(i => if (i == 30) "CHANGED" else s"word$i")
      .mkString(" ")
    val different = (1 to 60).map(i => s"other$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, different))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash band keys are full 64-bit: distinct slices never collide") {
    val rnd = new scala.util.Random(3)
    val sigs = (1 to 50000).map(_ => Seq.fill(8)(rnd.nextLong()))
    // 2 bands of 4 rows per signature → 100k keys; under the old 32-bit
    // Seq.hashCode key, 100k draws from 2^32 collide w.p. ~69% — under a
    // full-avalanche 64-bit key, w.p. ~3e-10
    val keys = sigs.flatMap(s =>
      Seq(Dedup.bandKey(s, 0, 4), Dedup.bandKey(s, 1, 4)))
    assert(keys.distinct.length == keys.length,
      "accidental band-bucket co-residency")
    // keys populate the high 32 bits (not a widened 32-bit image)
    assert(keys.count(k => (k >>> 32) != 0 && (k >>> 32) != 0xffffffffL) >
      keys.length / 2)
    // equal slices agree regardless of the rest of the signature
    assert(Dedup.bandKey(Seq(1L, 2L, 3L, 4L, 9L, 9L, 9L, 9L), 0, 4) ==
      Dedup.bandKey(Seq(1L, 2L, 3L, 4L, 0L, 0L, 0L, 0L), 0, 4))
    // same slice content in a different band → different bucket
    assert(Dedup.bandKey(Seq(1L, 2L, 3L, 4L, 1L, 2L, 3L, 4L), 0, 4) !=
      Dedup.bandKey(Seq(1L, 2L, 3L, 4L, 1L, 2L, 3L, 4L), 1, 4))
  }

  test("embedding LSH auto-sizing: occupancy-bounded bands, recall-holding tables") {
    // band bits track corpus size: 2^bits >= n/(2*targetBucket) at ANY
    // n — including the 10^9-10^13 regime the old 24-bit cap silently
    // degraded (occupancy would have grown past target with only a warn)
    for (n <- Seq(1000L, 100000L, 10000000L, 1000000000L,
        2000000000L, 100000000000L, 10000000000000L)) {
      val (bits, tabs) = Dedup.embeddingLshParams(n, 0.95, 0, 0, 64)
      assert(bits >= 4 && bits <= 48 && tabs >= 1 && tabs <= 128)
      assert(n.toDouble / math.pow(2.0, bits) <= 2 * 64, s"n=$n bits=$bits")
    }
    // longer bands cost per-band recall; the table count must rise so
    // >= 95% recall holds at the threshold itself — checked into the
    // beyond-24-bit regime (n=10^12 wants 34 bits; previously warn-capped)
    val rho = 1.0 - math.acos(0.95) / math.Pi
    for (n <- Seq(1000L, 10000000L, 2000000000L, 1000000000000L)) {
      val (bits, tabs) = Dedup.embeddingLshParams(n, 0.95, 0, 0, 64)
      val recall = 1.0 - math.pow(1.0 - math.pow(rho, bits), tabs)
      assert(recall >= 0.95, s"n=$n bits=$bits tabs=$tabs recall=$recall")
    }
    // explicit parameters pass through untouched
    assert(Dedup.embeddingLshParams(1000L, 0.95, 12, 1, 64) == ((12, 1)))
  }

  test("embedding LSH beyond 24 band bits: signatures, banding and join work end-to-end") {
    import spark.implicits._
    // the occupancy regime a 10^9+ corpus demands, exercised mechanically
    // at small n by forcing 30-bit bands: wide sign signatures must
    // build, bucket and self-join correctly (old code could never reach
    // bits > 24), and planted near-dups must still surface given tables
    // sized by the same GW bound the auto-sizer uses
    val dim = 32
    val rnd = new scala.util.Random(7)
    val base = (0 until 1500).map { i =>
      (i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat))
    }
    val planted = base.take(30).map { case (id, v) =>
      (id + 1000000L, v.map(x => x + (rnd.nextGaussian() * 0.10).toFloat))
    }
    val emb = (base ++ planted).toDF("vec_id", "embedding")
    val rho = 1.0 - math.acos(0.95) / math.Pi
    val tabs = math.ceil(
      math.log(0.05) / math.log(1.0 - math.pow(rho, 30))).toInt
    val found = Dedup.embeddingNearDup(emb, threshold = 0.95,
        bandBits = 30, tables = tabs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val eligible = planted.filter { case (pid, pv) =>
      cos(base((pid - 1000000L).toInt)._2, pv) >= 0.95 }
    val recalled = eligible.count { case (pid, _) =>
      found.contains(((pid - 1000000L), pid)) }
    assert(eligible.length >= 20, s"degenerate fixture: ${eligible.length}")
    assert(recalled.toDouble / eligible.length >= 0.95,
      s"recall $recalled/${eligible.length} at 30-bit bands")
    // 30-bit buckets over 1530 vectors: occupancy collapses to ~1 —
    // random-pair collisions are gone, so every found pair is verified
    // >= threshold (exactness is the verifier's, not the buckets')
    assert(found.forall { case (a, b) => a < b })
  }

  test("semantic dedup (SemDeDup): low-threshold planted groups, paper keep rule") {
    import spark.implicits._
    val (rows, all) = semanticFixture(11)
    val emb = rows.toDF("vec_id", "embedding")
    val tau = 0.8
    val truePairs = (for {
      (ia, va) <- all.toSeq; (ib, vb) <- all.toSeq
      if ia < ib && cos(va, vb) >= tau
    } yield (ia, ib)).toSet

    val found = Dedup.semanticNearDup(emb, threshold = tau, nClusters = 24)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // precision is exact by construction (pairs are verified dot
    // products); recall is SemDeDup's cluster-local guarantee — tight
    // groups co-cluster, so the bulk of true pairs must surface
    assert(found.subsetOf(truePairs), s"false positives: ${found -- truePairs}")
    assert(found.size.toDouble / truePairs.size >= 0.85,
      s"recall ${found.size}/${truePairs.size}")

    // full resolution: every row labeled, exactly one keeper per
    // component, components are the transitive closure of found pairs
    val res = Dedup.semanticDedup(emb, threshold = tau, nClusters = 24)
      .select("id", "component", "keep").as[(Long, Long, Boolean)]
      .collect()
    assert(res.length == all.size)
    val byComp = res.groupBy(_._2)
    assert(byComp.values.forall(_.count(_._3) == 1),
      "exactly one keeper per component")
    val compOf = res.map(r => r._1 -> r._2).toMap
    assert(found.forall { case (a, b) => compOf(a) == compOf(b) })
    // noise vectors in no pair stay singleton keepers
    val paired = found.flatMap(p => Seq(p._1, p._2))
    res.filter(r => !paired.contains(r._1)).foreach { r =>
      assert(r._2 == r._1 && r._3, s"singleton ${r._1} not kept")
    }
  }

  test("semantic dedup two-level residual path: same guarantees as flat") {
    import spark.implicits._
    // same fixture shape as the flat test, but the two-level (coarse +
    // Euclidean-residual, top-2 probes) cells forced on by a low
    // twoLevelK — the regime a 10^9-vector corpus runs in, exercised
    // mechanically at small n
    val (rows, all) = semanticFixture(13)
    val emb = rows.toDF("vec_id", "embedding")
    val tau = 0.8
    val truePairs = (for {
      (ia, va) <- all.toSeq; (ib, vb) <- all.toSeq
      if ia < ib && cos(va, vb) >= tau
    } yield (ia, ib)).toSet
    // nClusters=25 > twoLevelK=9 forces two-level with k1=5 coarse x 5
    // residual cells
    val found = Dedup.semanticNearDup(emb, threshold = tau,
        nClusters = 25, twoLevelK = 9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(found.subsetOf(truePairs), s"false positives: ${found -- truePairs}")
    assert(found.size.toDouble / truePairs.size >= 0.8,
      s"two-level recall ${found.size}/${truePairs.size}")
    val res = Dedup.semanticDedup(emb, threshold = tau,
        nClusters = 25, twoLevelK = 9)
      .select("id", "component", "keep").as[(Long, Long, Boolean)]
      .collect()
    assert(res.length == all.size)
    assert(res.groupBy(_._2).values.forall(_.count(_._3) == 1))
    val compOf = res.map(r => r._1 -> r._2).toMap
    assert(found.forall { case (a, b) => compOf(a) == compOf(b) })
  }

  private def euclidFixture() = {
    import spark.implicits._
    val f = (0 until 60).map(i => (i.toLong,
        Seq((i % 5).toDouble, (i % 3).toDouble, (i % 7 - 3).toDouble)))
      .toDF("id", "vec")
    def cents(cells: Seq[(Int, Seq[Double])]) = cells.map { case (c, v) =>
      (c, v, v.foldLeft(0.0)((a, x) => a + x * x)) }.toDF("cid", "cvec", "cn2")
    (f, cents _)
  }

  test("multi-probe Euclidean assignment over one local centroid emits " +
      "one row per id") {
    import spark.implicits._
    val (f, cents) = euclidFixture()
    val one = Similarity.assignNearestEuclid(f,
      cents(Seq(4 -> Seq(1.0, 0.0, 0.0))), probes = 2).as[(Long, Int)].collect()
    assert(one.sorted.toSeq == (0 until 60).map(i => (i.toLong, 4)))
  }

  test("multi-probe Euclidean assignment: probes = 3 on a local codebook " +
      "equals the distributed top-k") {
    import spark.implicits._
    val (f, cents) = euclidFixture()
    // integer cells, two of them equal: planted exact score ties
    val cs = cents(Seq(0 -> Seq(0, 0, 0), 2 -> Seq(1, 1, 0), 3 -> Seq(1, 1, 0),
      5 -> Seq(4, 2, 3), 6 -> Seq(2, 0, -3), 9 -> Seq(0, 2, 1))
      .map { case (c, v) => (c, v.map(_.toDouble)) })
    val local = Similarity.assignNearestEuclid(f, cs, probes = 3)
    val dist = Similarity.assignNearestEuclid(f, cs.repartition(2), probes = 3)
    assert(local.queryExecution.executedPlan.toString.contains("nearest_cids"))
    assert(!dist.queryExecution.executedPlan.toString.contains("nearest_cids"))
    val l = local.as[(Long, Int)].collect().sorted.toSeq
    assert(l.size == 180 && l.distinct.size == 180)
    assert(l == dist.as[(Long, Int)].collect().sorted.toSeq)
  }

  test("a null embedding fails semantic dedup and IVF with a message " +
      "naming its id") {
    import spark.implicits._
    val (rows, _) = semanticFixture(11)
    // the null row first: the dimension probe must not read it
    val emb = ((99999L, None: Option[Seq[Float]]) +:
      rows.map { case (i, v) => (i, Some(v)) }).toDF("vec_id", "embedding")
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    for ((name, run) <- Seq[(String, () => Any)](
        "flat" -> (() => Dedup.semanticDedup(emb, nClusters = 8).collect()),
        "two-level" -> (() => Dedup.semanticNearDup(emb, nClusters = 25,
          twoLevelK = 9).collect()),
        "ivf" -> (() => Similarity.ivfTopK(emb, emb.limit(3), k = 5,
          nCentroids = 8).collect()),
        "lsh" -> (() => Dedup.embeddingNearDup(emb).collect()))) {
      val ex = intercept[Exception](run())
      // not the dimension probe's null read (an NPE, or Spark's
      // ROW_VALUE_IS_NULL for Row.getInt on a null)
      assert(!causes(ex).exists(e => e.isInstanceOf[NullPointerException] ||
        Option(e.getMessage).exists(_.contains("ROW_VALUE_IS_NULL"))), s"$name: $ex")
      assert(causes(ex).exists(e => Option(e.getMessage).exists(
        _.contains("vector input id 99999 has a null embedding"))), s"$name: $ex")
    }
  }

  test("a ragged embedding fails assignment with one message, local or broadcast codebook") {
    import spark.implicits._
    val (rows, _) = semanticFixture(13)
    // last, so the dimension probe reads a 32-element vector
    val emb = (rows :+ ((77777L, Seq(0.5f, 0.5f)))).toDF("vec_id", "embedding")
    val local = Similarity.scatteredCentroids(rows.toDF("vec_id", "embedding"), 4)
    assert(local.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    def message(run: => Any): String = {
      val ex = intercept[Exception](run)
      Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .flatMap(e => Option(e.getMessage)).find(_.contains("vector input id"))
        .getOrElse(fail(s"no message naming the id: $ex"))
    }
    val want = "vector input id 77777 has a length other than 32"
    val units = Similarity.normalized(emb, dim = 32)
    // a codebook past centroidsFitDriver is a frame that is not a
    // driver-local relation, assigned by the broadcast max_by form
    for ((name, cents) <- Seq("local" -> local, "broadcast" -> local.repartition(2)))
      assert(message(Similarity.assignNearest(units, cents).collect()).contains(want), name)
    assert(message(Dedup.semanticNearDup(emb, nClusters = 4).collect()).contains(want))
    assert(message(Similarity.ivfTopK(emb, emb.limit(3), k = 5, nCentroids = 4)
      .collect()).contains(want))
  }

  test("semantic dedup occupancy telemetry + opt-in oversized-cell split") {
    import spark.implicits._
    // planted MEGA-CELL: 800 diffuse random unit vectors forced into
    // nClusters=4 cells (~200 each, far past the 8x warn bound at
    // targetCluster=16), with 10 tight dup pairs (cos ~0.999) hidden in
    // the diffuse mass. This is the silent-skew regime the telemetry
    // exists for: without the split every hot cell pays ~occ^2/2 pairs.
    val dim = 32
    val rnd = new scala.util.Random(29)
    def unitv(): Array[Double] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val diffuse = (0 until 800).map(i =>
      (i.toLong, unitv().map(_.toFloat).toSeq))
    val planted = (0 until 10).flatMap { p =>
      val b = unitv()
      val d = b.zip(unitv()).map { case (a, e) => a + 0.02 * e }
      Seq((2000L + 2 * p, b.map(_.toFloat).toSeq),
        (2000L + 2 * p + 1, d.map(_.toFloat).toSeq))
    }
    val rows = diffuse ++ planted
    val all = rows.toMap
    val emb = rows.toDF("vec_id", "embedding")
    val tau = 0.9
    val truePairs = (for {
      (ia, va) <- all.toSeq; (ib, vb) <- all.toSeq
      if ia < ib && cos(va, vb) >= tau
    } yield (ia, ib)).toSet
    assert(truePairs.size >= 10, "fixture sanity: planted pairs are true")

    val target = 16
    // 1) telemetry: the assignment reports the hot cells — maxOcc past
    //    the warn bound (occWarnFactor default 8 x targetCluster = 128),
    //    which is exactly the condition that fires the log warning
    val sa = Dedup.semanticAssign(emb, target, 4, 4096,
      "vec_id", "embedding")
    assert(sa.occ.cells == 4)
    assert(sa.occ.maxOcc > 8L * target,
      s"fixture must trip the warn bound, maxOcc=${sa.occ.maxOcc}")

    // 2) opt-in split: oversized cells re-cluster to ~targetCluster
    //    occupancy (loose bound — sub-cells are uneven)
    val split = Dedup.splitCells(sa.assigned, target, 8)
    val occAfter = Dedup.occupancyOf(split)
    assert(occAfter.maxOcc < sa.occ.maxOcc / 2,
      s"split must break the mega-cells: ${sa.occ.maxOcc} -> ${occAfter.maxOcc}")
    assert(split.count() == rows.size, "split reassigns, never drops")

    // 3) end-to-end with the opt-in: near-identical planted pairs share
    //    their nearest sub-seed (the documented trade risks only
    //    borderline-tau pairs), precision stays exact by construction
    val found = Dedup.semanticNearDup(emb, threshold = tau,
        targetCluster = target, nClusters = 4, splitOversized = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(found.subsetOf(truePairs), s"false positives: ${found -- truePairs}")
    val plantedPairs = (0 until 10)
      .map(p => (2000L + 2 * p, 2000L + 2 * p + 1)).toSet
    assert(plantedPairs.subsetOf(found),
      s"planted dups lost by split: ${plantedPairs -- found}")

    // 4) full resolution under the split keeps the output contract:
    //    every row labeled once, one keeper per component
    val res = Dedup.semanticDedup(emb, threshold = tau,
        targetCluster = target, nClusters = 4, splitOversized = 8)
      .select("id", "component", "keep").as[(Long, Long, Boolean)]
      .collect()
    assert(res.length == rows.size)
    assert(res.groupBy(_._2).values.forall(_.count(_._3) == 1))
    val compOf = res.map(r => r._1 -> r._2).toMap
    assert(found.forall { case (a, b) => compOf(a) == compOf(b) })

    // 5) EXACT duplicates can never be separated by the split: identical
    //    vectors score identically against every sub-seed, so the
    //    deterministic tie rule (max score, then min sub) sends the whole
    //    group to ONE sub-cell — the duplicate-mass hot cell (the primary
    //    dedup workload) keeps its full pair connectivity under the
    //    mitigation. 60 exact copies planted into the diffuse mass, split
    //    forced: one component, one keeper, 59 dropped.
    val copies = (0 until 60).map(i => (5000L + i, rows.head._2))
    val emb2 = (rows ++ copies).toDF("vec_id", "embedding")
    val res2 = Dedup.semanticDedup(emb2, threshold = tau,
        targetCluster = target, nClusters = 4, splitOversized = 8)
      .select("id", "component", "keep").as[(Long, Long, Boolean)]
      .collect()
    val copyIds = copies.map(_._1).toSet + rows.head._1
    val copyRows = res2.filter(r => copyIds.contains(r._1))
    assert(copyRows.map(_._2).distinct.length == 1,
      "exact-dup group split across components")
    assert(copyRows.count(_._3) == 1, "exactly one exact-dup survivor")
  }

  test("embedding near-dup: planted recall >= 95% at two corpus sizes") {
    import spark.implicits._
    val dim = 32
    for ((n, seed) <- Seq((400, 1), (4000, 2))) {
      val rnd = new scala.util.Random(seed)
      val base = (0 until n).map { i =>
        (i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat))
      }
      // plant 40 near-duplicates at cosine ~0.99 (above the threshold)
      val planted = base.take(40).map { case (id, v) =>
        (id + 1000000L,
          v.map(x => x + (rnd.nextGaussian() * 0.12).toFloat))
      }
      val emb = (base ++ planted).toDF("vec_id", "embedding")
      val found = Dedup.embeddingNearDup(emb, threshold = 0.95)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val eligible = planted.filter { case (pid, pv) =>
        cos(base((pid - 1000000L).toInt)._2, pv) >= 0.95 }
      val recalled = eligible.count { case (pid, pv) =>
        found.contains(((pid - 1000000L), pid)) }
      assert(eligible.length >= 30, s"degenerate fixture: ${eligible.length}")
      assert(recalled.toDouble / eligible.length >= 0.95,
        s"n=$n recall $recalled/${eligible.length}")
      // bucket occupancy stays bounded under the auto parameters — the
      // in-bucket self-join never regresses toward all-pairs
      val (bits, tabs) = Dedup.embeddingLshParams(emb.count(), 0.95, 0, 0, 64)
      val sigs = Dedup.embeddingSigs(emb, bits, tabs)
      val occ = sigs.select(posexplode(col("sigs")))
        .groupBy(col("pos"), col("col")).count()
        .agg(max("count")).head().getLong(0)
      sigs.unpersist()
      assert(occ <= 20L * 64, s"n=$n max bucket occupancy $occ")
    }
    // empty corpus → empty pairs frame, not a head()-on-nothing throw
    val none = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Dedup.embeddingNearDup(none).count() == 0)
  }

  test("repetition stats: exact fractions on planted boilerplate") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),              // all distinct: every frac 0
      (2L, "a a a a"),              // 4 words 1 distinct; 3 bigrams 1 distinct
      (3L, "x y x y x"),            // 5w/2d; bigrams: xy yx xy yx → 4/2
      (4L, "solo"),                 // 1 word, no bigrams/trigrams → 0
      (5L, "")).toDF("doc_id", "text") // split("") = [""] → 1 token
    val r = TextAnalysis.repetitionStats(docs)
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(t => t._1 -> t).toMap
    // fractions are round(·, 6)
    assert(r(1L) == ((1L, 4L, 0.0, 0.0, 0.0)))
    assert(r(2L) == ((2L, 4L, 0.75, 0.666667, 0.5)))
    assert(r(3L) == ((3L, 5L, 0.6, 0.5, 0.333333)))
    assert(r(4L) == ((4L, 1L, 0.0, 0.0, 0.0)))
    assert(r(5L) == ((5L, 1L, 0.0, 0.0, 0.0)))
  }

  test("repetition stats: typed fast path ≡ SQL-shape formulation " +
      "bit-for-bit on random corpora") {
    import spark.implicits._
    val rng = new java.util.Random(13)
    // adversarial token pool: repeats, empties (double spaces),
    // single-char and multi-char tokens, short and long docs
    val docs = (0 until 400).map { i =>
      val len = rng.nextInt(12) // 0..11 tokens → includes "" docs
      (i.toLong, (0 until len).map(_ => rng.nextInt(6) match {
        case 0 => ""
        case 1 => "a"
        case k => s"w${rng.nextInt(4)}$k"
      }).mkString(" "))
    }.toDF("doc_id", "text")
    val fast = TextAnalysis.repetitionStats(docs)
      .as[(Long, Long, Double, Double, Double)].collect().sortBy(_._1)
    val sql = TextAnalysis.repetitionStatsSql(docs)
      .as[(Long, Long, Double, Double, Double)].collect().sortBy(_._1)
    assert(fast.length == sql.length)
    fast.zip(sql).foreach { case (f, s) =>
      assert(f._1 == s._1 && f._2 == s._2)
      Seq((f._3, s._3), (f._4, s._4), (f._5, s._5)).foreach { case (a, b) =>
        assert(java.lang.Double.doubleToLongBits(a) ==
          java.lang.Double.doubleToLongBits(b), s"doc ${f._1}: $a vs $b")
      }
    }
  }

  test("stratified sample: partial top-k agg ≡ window formulation, deterministic") {
    import spark.implicits._
    val docs = SynthGeo.table(spark, dir, "documents")
    val got = Curation.stratifiedSample(docs, Seq("lang", "source"), 5, "doc_id")
      .select("lang", "source", "sample_id", "rk")
      .as[(String, String, Long, Long)].collect().sorted.toSeq
    // reference: explicit window over the same deterministic key
    val want = docs.select(col("lang"), col("source"),
        col("doc_id").cast("long").as("sample_id"),
        Curation.sampleKey(col("doc_id")).as("h"))
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("lang", "source").orderBy(col("h"), col("sample_id")))
        .cast("long"))
      .filter(col("rk") <= 5).select("lang", "source", "sample_id", "rk")
      .as[(String, String, Long, Long)].collect().sorted.toSeq
    assert(got == want)
    // reproducible across partitionings (the curation contract)
    val again = Curation.stratifiedSample(docs.repartition(7),
        Seq("lang", "source"), 5, "doc_id")
      .select("lang", "source", "sample_id", "rk")
      .as[(String, String, Long, Long)].collect().sorted.toSeq
    assert(again == got)
    // quota respected per stratum
    assert(got.groupBy(t => (t._1, t._2)).values.forall(_.size <= 5))
  }

  test("domain stats: per-host aggregates over minted urls") {
    import spark.implicits._
    val pages = Webtext.synthWebpages(spark, dir)
    val stats = Webtext.domainStats(pages)
      .as[(String, Long, Long, Long)].collect()
    assert(stats.forall(_._1.matches("site-\\d+\\.example")))
    val nDocs = SynthGeo.table(spark, dir, "documents").count()
    assert(stats.map(_._2).sum == nDocs) // every page lands in one host
    assert(stats.forall { case (_, n, chars, langs) =>
      n > 0 && chars > 0 && langs >= 1 })
  }

  test("simhash near-dup: hamming small for near-identical docs") {
    import spark.implicits._
    val base = (1 to 80).map(i => s"tok$i").mkString(" ")
    val nearDup = base + " extra"
    val docs = Seq((1L, base), (2L, nearDup),
      (3L, (1 to 80).map(i => s"zzz$i").mkString(" "))).toDF("doc_id", "text")
    val pairs = Dedup.simhashDup(docs, maxHamming = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("ngram jaccard exact values") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w v"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val r = Dedup.ngramJaccard(docs, pairs)
      .as[(Long, Long, Double)].collect().map(t => ((t._1, t._2), t._3)).toMap
    assert(r((1L, 2L)) == 1.0)
    assert(r((1L, 3L)) == 0.0)
  }

  test("brute-force ANN self-similarity sanity + IVF recall") {
    val emb = SynthGeo.table(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
    val brute = Similarity.bruteTopK(emb, queries, k = 5)
    val rows = brute.collect()
    assert(rows.length == 15)
    // cosine sorted descending per query
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val cs = rs.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    val ivf = Similarity.ivfTopK(emb, queries, k = 5, nCentroids = 8,
      nprobe = 4).collect()
    val bruteSet = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfSet = ivf.map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall of the approximate path against exact top-5
    val recall = ivfSet.intersect(bruteSet).size.toDouble / bruteSet.size
    assert(recall >= 0.5, s"IVF recall $recall")
  }

  test("language id picks the stopword-matching profile") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat and the dog sat in the garden and that is that"),
      (2L, "der Hund und die Katze sind nicht in das Haus und der Garten"),
      (3L, "zzzz qqqq")).toDF("doc_id", "text")
    val r = TextAnalysis.languageId(docs).as[(Long, String, Double)]
      .collect().map(t => t._1 -> t._2).toMap
    assert(r(1L) == "en" && r(2L) == "de" && r(3L) == "und")
  }

  test("fingerprint stable and edit-robust-ish") {
    import spark.implicits._
    val t = (1 to 50).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, t), (2L, t)).toDF("doc_id", "text")
    val r = TextAnalysis.fingerprint(docs).as[(Long, Long)].collect().toMap
    assert(r(1L) == r(2L))
  }

  test("multimodal fake decode: deterministic schema + batch shape") {
    import spark.implicits._
    val media = Seq((1L, "abc".getBytes("UTF-8")), (2L, "xyzw".getBytes("UTF-8")))
      .toDF("id", "bytes")
    val f = Multimodal.imageFeatures(media).orderBy("id").collect()
    assert(f.length == 2)
    assert(f(0).getInt(1) == 8 && f(0).getInt(2) == 8)
    val again = Multimodal.imageFeatures(media.repartition(3)).orderBy("id").collect()
    assert(f.sameElements(again))
    val frames = Multimodal.frameSample(media).collect()
    assert(frames.nonEmpty)
  }

  test("multimodal real decode: PNG roundtrip exact, corrupt bytes survive") {
    import spark.implicits._
    // 2x1 image with known colors: pure red and pure white →
    // BT.601 integer luma 76 and 255
    val img = new java.awt.image.BufferedImage(2, 1,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xFF0000); img.setRGB(1, 0, 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val media = Seq(
      (1L, bos.toByteArray),
      (2L, Multimodal.synthPng(5, 4, 42L)),
      (3L, "definitely not an image".getBytes("UTF-8")),
      (4L, null.asInstanceOf[Array[Byte]])
    ).toDF("id", "bytes")
    val f = Multimodal.imageFeatures(media, Multimodal.ImageIoDecoder)
      .orderBy("id").collect()
    assert(f.length == 4)
    // row 1: 2x1, 3 channels, png, mean luma (76+255)/2 = 165.5
    assert(f(0).getInt(1) == 2 && f(0).getInt(2) == 1 && f(0).getInt(3) == 3)
    assert(f(0).getString(4) == "png")
    assert(math.abs(f(0).getDouble(5) - 165.5) < 1e-12)
    // row 2: synthPng dims round-trip
    assert(f(1).getInt(1) == 5 && f(1).getInt(2) == 4 && f(1).getString(4) == "png")
    // rows 3-4: undecodable stays a row with zeroed meta
    Seq(2, 3).foreach { i =>
      assert(f(i).getInt(1) == 0 && f(i).getString(4) == "undecodable")
    }
    // decode is partitioning-invariant
    val again = Multimodal.imageFeatures(media.repartition(3),
      Multimodal.ImageIoDecoder).orderBy("id").collect()
    assert(f.sameElements(again))
    // frame sampling over a real single-frame PNG: exactly one frame
    val fr = Multimodal.frameSample(media.filter($"id" === 2L), everyN = 1,
      Multimodal.ImageIoDecoder).collect()
    assert(fr.length == 1 && fr(0).getInt(2) == 5)
  }

  test("image near-dup: aHash brightness-invariant, planted edits found, distinct images not") {
    import spark.implicits._
    // 6 distinct 32x24 images; ids 100-102 are +4-brightness re-encodes
    // of ids 0-2 (the "slightly edited re-upload"); id 200 is corrupt
    val base = (0L until 6L).map(i => (i, Multimodal.synthPng(32, 24, 7L + 97L * i)))
    val edited = (0L until 3L).map(i =>
      (100L + i, Multimodal.shiftPng(base(i.toInt)._2, 4)))
    val media = (base ++ edited :+ (200L, "junk".getBytes("UTF-8")))
      .toDF("id", "bytes")
    // uniform brightness shift preserves block-vs-average ordering
    val d = Multimodal.ImageIoDecoder
    (0 until 3).foreach { i =>
      val h0 = Multimodal.aHash(d.decodeImage(base(i)._2))
      val h1 = Multimodal.aHash(d.decodeImage(edited(i)._2))
      assert(java.lang.Long.bitCount(h0 ^ h1) <= 2, s"img $i drifted")
    }
    val pairs = Multimodal.imageNearDup(media, maxHamming = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 3L).foreach(i => assert(pairs.contains((i, 100L + i))))
    // distinct base images never pair with each other
    assert(!pairs.exists { case (a, b) => a < 6L && b < 6L })
    // the corrupt blob (hash 0) pairs with nothing here
    assert(!pairs.exists { case (a, b) => a == 200L || b == 200L })
  }

  test("bilinear resize: identity exact, constant preserved, real PNG batch shape") {
    import spark.implicits._
    import Multimodal.{DecodedImage, ImageMeta}
    // identity resize returns the pixels bit-exactly (half-pixel sample
    // positions land on integer coordinates with zero weight)
    val grad = DecodedImage(ImageMeta(8, 4, 1, "gray"),
      Array.tabulate(32)(i => ((i * 7) % 256).toByte))
    val id8 = Multimodal.resizeImage(grad, 8, 4)
    assert(id8.pixels.toSeq == grad.pixels.toSeq && id8.meta.width == 8)
    // constant image stays constant at any scale (bilinear is an
    // interpolation — convex weights can't leave the value range)
    val const = DecodedImage(ImageMeta(5, 7, 1, "gray"),
      Array.fill(35)(128.toByte))
    for ((w, h) <- Seq((3, 2), (10, 14), (1, 1)))
      assert(Multimodal.resizeImage(const, w, h).pixels
        .forall(b => (b & 0xFF) == 128), s"$w x $h")
    // horizontal ramp stays monotone under downscale
    val ramp = DecodedImage(ImageMeta(16, 2, 1, "gray"),
      Array.tabulate(32)(i => ((i % 16) * 16).toByte))
    val down = Multimodal.resizeImage(ramp, 8, 2).pixels.take(8)
      .map(_ & 0xFF)
    assert(down.sliding(2).forall(p => p(0) <= p(1)), down.toSeq)
    // degenerate inputs -> empty undecodable, not a throw
    assert(Multimodal.resizeImage(
      DecodedImage(ImageMeta(0, 0, 0, "undecodable"),
        Array.emptyByteArray), 8, 8).meta.format == "undecodable")
    assert(Multimodal.resizeImage(grad, 0, 8).pixels.isEmpty)
    // DataFrame op over real PNG decodes: fixed output shape per row,
    // corrupt blob rows survive with empty luma
    val media = (0L until 12L).map { i =>
      (i, if (i == 5) Array[Byte](1, 2, 3)
          else Multimodal.synthPng(32, 24, 100 + i))
    }.toDF("id", "bytes")
    val out = Multimodal.resize(media, 8, 8,
        decoder = Multimodal.ImageIoDecoder)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getAs[Array[Byte]]("luma").length)).sortBy(_._1)
    assert(out.length == 12)
    out.foreach { case (id, w, h, n) =>
      if (id == 5) assert(w == 0 && n == 0)
      else assert(w == 8 && h == 8 && n == 64, s"id=$id")
    }
  }

  test("RGB decode + channel-aware resize: shared luma, per-channel kernel parity") {
    import spark.implicits._
    import Multimodal.{DecodedImage, ImageMeta}
    val png = Multimodal.synthPng(9, 6, 77L)
    // 1) the luma decode and lumaOf(rgb decode) share the BT.601
    //    integer derivation byte-for-byte — the invariant that keeps
    //    q59/q103/q105 goldens independent of the RGB path
    val gray = Multimodal.ImageIoDecoder.decodeImage(png)
    val rgb = Multimodal.ImageIoDecoder.decodeImageRGB(png)
    assert(rgb.pixels.length == 3 * rgb.meta.width * rgb.meta.height)
    assert(Multimodal.lumaOf(rgb).pixels.toSeq == gray.pixels.toSeq)
    // 2) per-channel resize == resizing each extracted plane with the
    //    gray kernel (the channel-strided loop is the same arithmetic)
    val resized = Multimodal.resizeImage(rgb, 4, 3)
    assert(resized.pixels.length == 3 * 4 * 3)
    for (c <- 0 until 3) {
      val plane = DecodedImage(ImageMeta(rgb.meta.width, rgb.meta.height,
        1, "gray"),
        Array.tabulate(rgb.meta.width * rgb.meta.height)(i =>
          rgb.pixels(3 * i + c)))
      val pr = Multimodal.resizeImage(plane, 4, 3).pixels
      assert((0 until 12).forall(i => pr(i) == resized.pixels(3 * i + c)),
        s"channel $c diverges from plane-wise resize")
    }
    // 3) identity RGB resize is bit-exact; constant color stays put
    val idr = Multimodal.resizeImage(rgb, 9, 6)
    assert(idr.pixels.toSeq == rgb.pixels.toSeq)
    val const = DecodedImage(ImageMeta(5, 4, 3, "gray"),
      Array.tabulate(60)(i => (i % 3 match {
        case 0 => 10; case 1 => 200; case _ => 55 }).toByte))
    val cr = Multimodal.resizeImage(const, 7, 9).pixels
    assert((0 until cr.length / 3).forall(i =>
      (cr(3 * i) & 0xFF) == 10 && (cr(3 * i + 1) & 0xFF) == 200 &&
        (cr(3 * i + 2) & 0xFF) == 55))
    // 4) DataFrame op: fixed 8x8x3 shape, corrupt rows survive empty
    val media = (0L until 10L).map { i =>
      (i, if (i == 3) Array[Byte](9, 9, 9)
          else Multimodal.synthPng(16, 12, 500 + i))
    }.toDF("id", "bytes")
    val out = Multimodal.resizeRGB(media, 8, 8,
        decoder = Multimodal.ImageIoDecoder)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getAs[Array[Byte]]("rgb").length)).sortBy(_._1)
    assert(out.length == 10)
    out.foreach { case (id, w, n) =>
      if (id == 3) assert(w == 0 && n == 0)
      else assert(w == 8 && n == 192, s"id=$id")
    }
    // 5) the default trait RGB derivation (FakeDecoder) is gray-as-RGB
    val fg = Multimodal.FakeDecoder.decodeImage(png)
    val fr = Multimodal.FakeDecoder.decodeImageRGB(png)
    assert(fr.pixels.length == 3 * fg.pixels.length &&
      (0 until fg.pixels.length).forall(i =>
        fr.pixels(3 * i) == fg.pixels(i) &&
        fr.pixels(3 * i + 1) == fg.pixels(i) &&
        fr.pixels(3 * i + 2) == fg.pixels(i)))
  }

  test("RGB image features: per-channel stats, luma cross-check, corrupt rows") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // constant-color PNG: channel means are the planted color, sds 0
    val img = new BufferedImage(6, 5, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 5; x <- 0 until 6)
      img.setRGB(x, y, (40 << 16) | (170 << 8) | 220)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val media = Seq(
      (1L, bos.toByteArray),
      (2L, Multimodal.synthPng(9, 7, 321L)),
      (3L, Array[Byte](1, 2, 3))).toDF("id", "bytes")
    val rows = Multimodal.imageFeaturesRGB(media,
        Multimodal.ImageIoDecoder)
      .collect().map(r => r.getLong(0) -> r).toMap
    val c = rows(1L)
    assert(c.getDouble(5) == 40.0 && c.getDouble(6) == 170.0 &&
      c.getDouble(7) == 220.0)
    assert(c.getDouble(8) == 0.0 && c.getDouble(9) == 0.0 &&
      c.getDouble(10) == 0.0)
    // gradient PNG: BT.601 of the channel means matches the luma-path
    // pixel_mean to within the per-pixel integer truncation (<1 gray
    // level) — the two feature families describe the same image
    val g = rows(2L)
    val bt601 = (299 * g.getDouble(5) + 587 * g.getDouble(6) +
      114 * g.getDouble(7)) / 1000
    val lumaMean = Multimodal.imageFeatures(
        media.filter(col("id") === 2), Multimodal.ImageIoDecoder)
      .head().getDouble(5)
    assert(math.abs(bt601 - lumaMean) < 1.0, s"$bt601 vs $lumaMean")
    // corrupt blob: zeroed meta, zero stats, row survives
    val bad = rows(3L)
    assert(bad.getInt(1) == 0 && bad.getString(4) == "undecodable" &&
      bad.getDouble(5) == 0.0 && bad.getDouble(8) == 0.0)
  }

  test("multimodal frame sampling: animated GIF yields every Nth frame") {
    import spark.implicits._
    // 4-frame animated GIF via the JDK gif writer; frame f is a flat
    // gray level f*60 → decoded luma mean identifies the frame exactly
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    (0 until 4).foreach { f =>
      val img = new java.awt.image.BufferedImage(4, 2,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val v = f * 60
      (0 until 4).foreach(x => (0 until 2).foreach(y =>
        img.setRGB(x, y, (v << 16) | (v << 8) | v)))
      writer.writeToSequence(
        new javax.imageio.IIOImage(img, null, null),
        writer.getDefaultWriteParam)
    }
    writer.endWriteSequence(); ios.close()
    val media = Seq((1L, bos.toByteArray)).toDF("id", "bytes")
    val frames = Multimodal.frameSample(media, everyN = 2,
      Multimodal.ImageIoDecoder).orderBy("frame").collect()
    // frames 0 and 2 of 4 → luma means 0 and 120 (gray luma is exact)
    assert(frames.length == 2, s"got ${frames.length} frames")
    assert(frames(0).getDouble(4) == 0.0 && frames(1).getDouble(4) == 120.0,
      s"got means ${frames.map(_.getDouble(4)).mkString(",")}")
  }

  test("webtext pipeline: checkpoint, resume, text byte-identity") {
    val root = Files.createTempDirectory("graft-ckpt").toString
    val t0 = System.nanoTime()
    val r1 = Webtext.runAll(spark, dir, root, permutations = 99)
    val moran1 = r1.moran.orderBy("gid").collect()
    assert(moran1.nonEmpty)
    // text invariant on join output
    val pages = Webtext.synthWebpages(spark, dir)
    assert(Webtext.verifyTextIdentity(pages, r1.joined))
    // all stages have lineage rows with counts
    val lin = Checkpoint.lineage(spark, root).get
    val stages = lin.select("stage").distinct().collect().map(_.getString(0)).toSet
    assert(stages == Set("pages", "geocoded", "polygons", "joined",
      "weights", "moran"))
    assert(lin.agg(sum("row_count")).head().getLong(0) > 0)
    // all stages have write metrics; rows reconcile with lineage and
    // bytes reconcile with the filesystem
    val met = Checkpoint.metrics(spark, root).get
    val metStages = met.select("stage").distinct().collect()
      .map(_.getString(0)).toSet
    assert(metStages == stages)
    assert(met.filter(col("bytes").isNull || col("bytes") <= 0 ||
      col("file").isNull).count() == 0)
    val moranRowsMet = met.filter(col("stage") === "moran")
      .agg(sum("row_count")).head().getLong(0)
    val moranRowsLin = lin.filter(col("stage") === "moran")
      .agg(sum("row_count")).head().getLong(0)
    assert(moranRowsMet == moranRowsLin && moranRowsMet == moran1.length)
    // metrics are self-healing: a crash between the lineage and metrics
    // writes leaves a complete stage without metrics — resume must
    // backfill them from the on-disk output, not skip them forever
    val weightsMet = new java.io.File(Checkpoint.metricsPath(root, "weights"))
    weightsMet.listFiles().foreach(_.delete()); weightsMet.delete()
    Checkpoint.stage(spark, root, "weights") {
      fail("complete stage must not recompute"); null }
    assert(new java.io.File(Checkpoint.metricsPath(root, "weights"),
      "_SUCCESS").exists(), "metrics not backfilled on resume")
    // resume: delete only the final stage, re-run — earlier stages reused
    // (their outputs unchanged on disk), final recomputed identically
    val moranDir = new java.io.File(Checkpoint.stagePath(root, "moran"))
    moranDir.listFiles().foreach(_.delete()); moranDir.delete()
    val r2 = Webtext.runAll(spark, dir, root, permutations = 99)
    val moran2 = r2.moran.orderBy("gid").collect()
    assert(moran1.sameElements(moran2))
    val _ = t0
  }

  test("pip: broadcast and partitioned paths agree") {
    import spark.implicits._
    val pts = SynthGeo.customerPoints(spark, dir)
    val polys = SynthGeo.partPolygons(spark, dir).withColumnRenamed("gid", "pid")
    val bcast = SpatialJoin.pip(pts, polys, SynthGeo.CellW)
      .as[(Long, Long)].collect().toSet
    // byte budget 0 → forces the partitioned (explode + equi-join) path
    val part = SpatialJoin.pip(pts, polys, SynthGeo.CellW,
      broadcastLimitBytes = 0L)
      .as[(Long, Long)].collect().toSet
    assert(bcast == part && bcast.nonEmpty)
  }

  test("pip: salted partitioned path agrees under a hot-cell skew") {
    import spark.implicits._
    // 4k points crammed into one tile (a metro hotspot) + a cold tail —
    // the shape where an unsalted cell-keyed shuffle makes one straggler
    val hot = (0 until 4000).map(i =>
      (i.toLong, 1.0 + (i % 50) * 0.01, 1.0 + (i / 50) * 0.01))
    val cold = (0 until 100).map(i => (4000L + i, 20.0 + i % 30, 20.0 + i % 30))
    val pts = (hot ++ cold).toDF("gid", "x", "y")
    val polys = Seq(
      (1L, graft.core.Wkb.writePolygon(
        Array((0.0, 0.0), (8.0, 0.0), (8.0, 8.0), (0.0, 8.0)))),
      (2L, graft.core.Wkb.writePolygon(
        Array((15.0, 15.0), (60.0, 15.0), (60.0, 60.0), (15.0, 60.0))))
    ).toDF("pid", "geom")
    val bcast = SpatialJoin.pip(pts, polys, SynthGeo.CellW)
      .as[(Long, Long)].collect().toSet
    val salted = SpatialJoin.pip(pts, polys, SynthGeo.CellW,
      broadcastLimitBytes = 0L, nSalt = 8)
    assert(salted.queryExecution.executedPlan.toString.contains("psalt"),
      "salted path must shuffle on the salted key")
    assert(salted.as[(Long, Long)].collect().toSet == bcast && bcast.nonEmpty)
  }

  test("pip: a bad point or a null pid fails either path with one message") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("gid", LongType), StructField("x", DoubleType),
      StructField("y", DoubleType)))
    val good = (1 to 30).map(i => Row(i.toLong, (i % 6).toDouble, (i / 6).toDouble))
    val square = graft.core.Wkb.writePolygon(
      Array((0.0, 0.0), (8.0, 0.0), (8.0, 8.0), (0.0, 8.0)))
    val polys = spark.createDataFrame(java.util.Arrays.asList(Row(1L, square)),
      StructType(Seq(StructField("pid", LongType), StructField("geom", BinaryType))))
    def fails(pts: Seq[Row], layer: org.apache.spark.sql.DataFrame, limit: Long): String = {
      val df = spark.createDataFrame(java.util.Arrays.asList(pts: _*), schema)
      val e = intercept[Exception](SpatialJoin.pip(df, layer, 1.0, limit).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    }
    // byte budget 0 → the partitioned path
    for (limit <- Seq(SpatialJoin.DefaultBroadcastLimit, 0L)) {
      assert(fails(good :+ Row(77L, null, 1.0), polys, limit).contains("PIP input gid 77"),
        s"null x, limit $limit")
      assert(fails(good :+ Row(78L, Double.NaN, 1.0), polys, limit).contains("gid 78"),
        s"NaN x, limit $limit")
      assert(fails(good :+ Row(79L, 1.0, Double.NegativeInfinity), polys, limit)
        .contains("gid 79"), s"infinite y, limit $limit")
      assert(fails(good :+ Row(null, 1.0, 1.0), polys, limit).contains("gid null"),
        s"null gid, limit $limit")
      val nullPid = spark.createDataFrame(java.util.Arrays.asList(Row(1L, square),
        Row(null, square)), polys.schema)
      assert(fails(good, nullPid, limit).contains("null pid"), s"null pid, limit $limit")
    }
  }

  test("pip: either path is planned by one job") {
    import org.apache.spark.graftshim.BusShim
    val pts = SynthGeo.customerPoints(spark, dir)
    val polys = SynthGeo.partPolygons(spark, dir).withColumnRenamed("gid", "pid")
    // one bounded collect both sizes and fetches the layer (broadcast
    // path) or finds it over budget (partitioned path, byte budget 0)
    for ((limit, path) <- Seq(SpatialJoin.DefaultBroadcastLimit -> "broadcast",
        0L -> "partitioned")) {
      val (joined, ran) = BusShim.counted(spark.sparkContext, s"pip-$path")(
        SpatialJoin.pip(pts, polys, SynthGeo.CellW, limit))
      assert(ran.jobs == 1, s"$path PIP ran ${ran.jobs} jobs before its first action")
      assert(joined.count() > 0)
    }
  }

  test("pip: a layer over one partition's share of the budget but within it in total " +
      "takes a second job and the broadcast path") {
    import org.apache.spark.graftshim.BusShim
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import spark.implicits._
    val ring = (0 until 64).map { i =>
      val a = 2 * math.Pi * i / 64
      (10.0 + 9.0 * math.cos(a), 10.0 + 9.0 * math.sin(a))
    }.toArray
    val big = graft.core.Wkb.writePolygon(ring)
    val small = graft.core.Wkb.writePolygon(
      Array((20.0, 0.0), (30.0, 0.0), (30.0, 10.0), (20.0, 10.0)))
    // two partitions: the 64-gon's bytes are over half the layer's
    val layer = spark.createDataFrame(spark.sparkContext.parallelize(
        Seq(Row(1L, big), Row(2L, small)), 2),
      StructType(Seq(StructField("pid", LongType), StructField("geom", BinaryType))))
    val total = (big.length + small.length).toLong
    val pts = (0 until 300).map(i => (i.toLong, (i % 30) + 0.5, (i / 30) + 0.5))
      .toDF("gid", "x", "y")
    val want = SpatialJoin.pip(pts, layer, 1.0).as[(Long, Long)].collect().toSet
    assert(want.map(_._2) == Set(1L, 2L))
    for ((limit, jobs) <- Seq(3 * total -> 2, 3 * total - 1 -> 1)) {
      val (joined, ran) = BusShim.counted(spark.sparkContext, s"pip-share-$limit")(
        SpatialJoin.pip(pts, layer, 1.0, limit))
      assert(ran.jobs == jobs, s"PIP at limit $limit ran ${ran.jobs} jobs")
      assert(joined.as[(Long, Long)].collect().toSet == want, s"limit $limit")
    }
  }

  test("breaks leave no cached DF behind (Idx scoped release)") {
    val vals = SynthGeo.customerValues(spark, dir)
    spark.sharedState.cacheManager.clearCache()
    Breaks.hingeBreaks(vals, 1.5)
    Breaks.quantileBreaks(vals, 6)
    assert(spark.sharedState.cacheManager.isEmpty,
      "Idx.withAttached must unpersist its sort cache")
  }

  test("kNN build leaves no cached DF behind (scoped cache release)") {
    val pts = SynthGeo.customerPoints(spark, dir)
    spark.sharedState.cacheManager.clearCache()
    // tiny cell size makes most points stragglers, so the completion
    // passes run after the round-1 cache is filled
    val w = graft.weights.KnnWeights.build(pts,
      graft.weights.KnnWeights.Conf(k = 3, cellSize = Some(0.05)))
    assert(w.count() > 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "knnRows must unpersist its round-1 cache")
  }

  test("dedup / IVF / contiguity builds leave no cached DF behind") {
    val docs = SynthGeo.table(spark, dir, "documents")
    val emb = SynthGeo.table(spark, dir, "embeddings")
    spark.sharedState.cacheManager.clearCache()
    assert(Dedup.minhashLsh(docs).count() >= 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "minhashLsh must release its signature cache")
    assert(Dedup.simhashDup(docs).count() >= 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "simhashDup must release its hash cache")
    assert(Dedup.embeddingNearDup(emb.limit(100)).count() >= 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "embeddingNearDup must release its signature cache")
    assert(graft.cluster.Components.connected(
      docs.limit(200).select(col("doc_id").as("id_a"),
        (col("doc_id") * 7 % 200).as("id_b"))).count() >= 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "Components rounds must not pin CacheManager entries")
    assert(Multimodal.imageNearDup(
      docs.limit(20).select(col("doc_id").as("id"),
        lit("x".getBytes("UTF-8")).as("bytes"))).count() >= 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "imageNearDup must release its hash cache")
    val q = emb.limit(5).select(col("vec_id"), col("embedding"))
    assert(Similarity.ivfTopK(emb.limit(200), q, k = 3).count() > 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "ivfTopK/ivfCentroids must release the corpus and centroid caches")
    val polys = SynthGeo.partPolygons(spark, dir)
    val adj = graft.weights.ContiguityWeights.build(polys,
      graft.weights.ContiguityWeights.Conf(queen = true, order = 2,
        includeLowerOrder = true))
    assert(adj.count() > 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "contiguity adjacency/orderedAdjacency must release vertex and " +
        "BFS-iteration caches")
  }

  test("decontaminate: trigram overlap vs a bench set, zero-gram docs kept") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d x"), // trigrams abc bcd cdx → 2 of 3 contaminated
      (2L, "p q r s"), // pqr qrs → clean
      (3L, "a b"), // too short for a trigram → 0-gram row
      (4L, null.asInstanceOf[String]), // null text ≡ empty → 0-gram row
      (5L, "a b c a b c d")) // distinct {abc,bca,cab,bcd}; hits abc,bcd
      .toDF("doc_id", "text")
    val bench = Seq((99L, "a b c d e")).toDF("doc_id", "text") // abc bcd cde
    val q = Curation.decontaminate(docs, bench)
    val r = q.as[(Long, Long, Long, Double)].collect().map(t => t._1 -> t).toMap
    assert(r(1L) == ((1L, 3L, 2L, 0.666667)))
    assert(r(2L) == ((2L, 2L, 0L, 0.0)))
    assert(r(3L) == ((3L, 0L, 0L, 0.0)))
    assert(r(4L) == ((4L, 0L, 0L, 0.0)))
    assert(r(5L) == ((5L, 4L, 2L, 0.5)))
    // the bench side must be the broadcast side — the corpus never
    // shuffles by n-gram
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("canonicalUrl: fragment/tracking/case/port/slash normalizations") {
    import spark.implicits._
    val cases = Seq(
      "https://Site-3.Example/page/7" -> "https://site-3.example/page/7",
      "HTTPS://SITE-3.EXAMPLE/page/7/" -> "https://site-3.example/page/7",
      "https://site-3.example:443/page/7#frag" ->
        "https://site-3.example/page/7",
      "https://site-3.example/page/7?utm_source=a&utm_campaign=b" ->
        "https://site-3.example/page/7",
      // tracking param first: its '?' goes with it, '&q=2' is promoted
      "http://host.example:80/a/b?utm_x=1&q=2" ->
        "http://host.example/a/b?q=2",
      "http://host.example/a/b?q=2" -> "http://host.example/a/b?q=2",
      // trailing slash inside a surviving query is payload, not path
      "https://h.example/p?q=a/" -> "https://h.example/p?q=a/")
    val got = cases.map(_._1).toDF("url")
      .select(col("url"), Webtext.canonicalUrl(col("url")).as("c"))
      .as[(String, String)].collect().toMap
    cases.foreach { case (raw, want) => assert(got(raw) == want, raw) }
  }

  test("urlDedup groups every messy variant under one canonical url") {
    import spark.implicits._
    val pages = Webtext.synthMessyPages(spark, dir)
    val rows = Webtext.urlDedup(pages)
      .as[(String, Long, Long, String, Long)].collect()
    assert(rows.forall(_._1.matches("https://site-\\d+\\.example/page/\\d+")),
      "canonical keys must be fully normalized")
    val nDocs = SynthGeo.table(spark, dir, "documents").count()
    assert(rows.map(_._2).sum == nDocs) // every page lands in one group
    assert(rows.exists(_._3 >= 2), "messy minting must create variant groups")
    // canonicalizing the kept representative reproduces the group key
    val keep = Webtext.urlDedup(pages).select(col("curl"),
        Webtext.canonicalUrl(col("keep_url")).as("c2"))
      .as[(String, String)].collect()
    assert(keep.forall(t => t._1 == t._2))
  }

  test("vocabTopK: global counts, deterministic tie-break, top-k plan") {
    import spark.implicits._
    val docs = Seq((1L, "b a a"), (2L, "c b"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val df = Curation.vocabTopK(docs, k = 3)
    // a=2 b=2 c=1 ""=1 (null text → one empty token); ties by token
    assert(df.as[(String, Long)].collect().toSeq ==
      Seq(("a", 2L), ("b", 2L), ("", 1L)))
    // orderBy+limit must compile to per-partition top-k heaps
    // (TakeOrderedAndProject), never a full sort of the vocabulary
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("paragraphDedup keeps only first corpus-wide occurrence, in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "A\nB\nC"),
      (2L, "B\nD"),   // B first seen in doc 1 → only D survives
      (3L, "A\nE\nB"), // A,B seen → only E survives
      (4L, "A\nB\nC")) // exact dup of doc 1 → loses everything
      .toDF("doc_id", "text")
    val r = Dedup.paragraphDedup(docs)
      .as[(Long, String, Long, Long)].collect().map(t => t._1 -> t).toMap
    assert(r(1L) == ((1L, "A\nB\nC", 3L, 3L)))
    assert(r(2L) == ((2L, "D", 1L, 2L)))
    assert(r(3L) == ((3L, "E", 1L, 3L)))
    assert(r(4L) == ((4L, "", 0L, 3L)))
    // winner selection must be partitioning-invariant (deterministic
    // min_by, not "whichever partition got there first")
    val again = Dedup.paragraphDedup(docs.repartition(5))
      .as[(Long, String, Long, Long)].collect().map(t => t._1 -> t).toMap
    assert(again == r)
  }

  test("redactPii: planted email/phone/ip scrubbed; redacted text is clean") {
    import spark.implicits._
    val docs = Seq(
      (1L, "write to bob.smith@corp.example.org or +44 20 7946 0958 now"),
      (2L, "server at 192.168.1.17 and 10.0.0.1"),
      (3L, "plain text, nothing to scrub"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val r = TextAnalysis.redactPii(docs)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(t => t._1 -> t).toMap
    assert(r(1L)._2 == 1L && r(1L)._3 == 1L && r(1L)._4 == 0L)
    assert(r(1L)._5 == "write to <EMAIL> or <PHONE> now")
    assert(r(2L)._4 == 2L &&
      r(2L)._5 == "server at <IP> and <IP>")
    assert(r(3L) == ((3L, 0L, 0L, 0L, "plain text, nothing to scrub")))
    assert(r(4L) == ((4L, 0L, 0L, 0L, "")))
    // idempotence: a second pass over redacted text finds nothing
    val second = TextAnalysis.redactPii(
      TextAnalysis.redactPii(docs).select(col("id").as("doc_id"),
        col("text_redacted").as("text")))
      .as[(Long, Long, Long, Long, String)].collect()
    assert(second.forall(t => t._2 == 0L && t._3 == 0L && t._4 == 0L))
  }

  test("reliable-checkpoint flag produces identical results") {
    val pts = SynthGeo.customerPoints(spark, dir)
    val base = graft.weights.KnnWeights.build(pts,
      graft.weights.KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
      .orderBy("gid").collect()
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ck").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    spark.conf.set(graft.core.Materialize.ReliableConfKey, "true")
    try {
      val reliable = graft.weights.KnnWeights.build(pts,
        graft.weights.KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
        .orderBy("gid").collect()
      assert(reliable.sameElements(base),
        "reliable-checkpoint mode must be result-identical")
    } finally spark.conf.set(graft.core.Materialize.ReliableConfKey, "false")
  }
}
