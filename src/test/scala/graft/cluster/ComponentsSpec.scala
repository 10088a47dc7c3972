package graft.cluster

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** Large-star/small-star connected components vs a brute-force
  * union-find, plus the topologies that stress the round bound:
  * long chains (diameter >> O(log^2 n) rounds — min-label propagation
  * would need ~n rounds), rings, stars, self-loops, duplicate and
  * reversed edges, isolates via the node-universe join.
  */
class ComponentsSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  private def brute(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // union-by-min above keeps roots minimal only per-merge; normalize
    // by taking the min member per root
    val byRoot = (0 until n).groupBy(find)
    byRoot.iterator.flatMap { case (_, ms) =>
      val m = ms.min.toLong; ms.iterator.map(_.toLong -> m)
    }.toMap
  }

  private def run(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val e = edges.toDF("id_a", "id_b")
    val univ = (0L until n.toLong).toDF("id")
    Components.connected(e, nodes = Some(univ))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Run at a driver budget of `edges` surviving edges (0 = pure
    * distributed).
    */
  private def withThreshold[T](edges: Long)(body: => T): T =
    SparkFixture.withBudget(edges * Components.EdgeBytes)(body)

  test("random graphs match brute-force union-find (both finish paths)") {
    val rnd = new scala.util.Random(20260817L)
    for (trial <- 0 until 5) {
      val n = 60 + trial * 50
      val nEdges = (n * (0.4 + 0.4 * trial)).toInt
      val edges = Seq.fill(nEdges)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val expect = brute(n, edges)
      assert(run(n, edges) === expect, s"trial $trial n=$n edges=$nEdges")
      assert(withThreshold(0L)(run(n, edges)) === expect,
        s"distributed trial $trial n=$n edges=$nEdges")
    }
  }

  test("driver finish is bit-identical to pure distributed alternation") {
    // dense random graph: starts above a mid-loop threshold, collapses
    // below it after the first star rounds — exercises the in-loop
    // trigger, not just the round-0 shortcut
    val rnd = new scala.util.Random(42L)
    val n = 200
    val edges = Seq.fill(3000)(
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val distributed = withThreshold(0L)(run(n, edges))
    val roundZero = run(n, edges) // default budget: immediate driver finish
    val midLoop = withThreshold(500L)(run(n, edges))
    assert(distributed === brute(n, edges))
    assert(roundZero === distributed)
    assert(midLoop === distributed)
  }

  test("chain of 400 (diameter >> rounds) converges to one component") {
    val edges = (0L until 399L).map(i => (i, i + 1))
    val got = run(400, edges)
    assert(got.size === 400 && got.values.forall(_ == 0L))
  }

  test("ring, star, reversed/duplicate edges, self-loops") {
    val ring = (0L until 50L).map(i => (i, (i + 1) % 50))
    assert(run(50, ring).values.forall(_ == 0L))
    val star = (1L until 30L).map(i => (i, 0L))
    assert(run(30, star).values.forall(_ == 0L))
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (4L, 5L))
    assert(run(6, messy) ===
      Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 4L))
  }

  test("100k-leaf hub: degree skew resolves without adjacency collection") {
    import spark.implicits._
    // one boilerplate-style hub with 100k leaves plus a chain grafted
    // on a leaf — the shape a shared paragraph induces at web scale; a
    // collect_list formulation would materialize the hub's adjacency
    // as one array row, the min+join formulation must not care
    val hub = (1L to 100000L).map(i => (0L, i))
    val chain = (100001L to 100050L).map(i => (i - 100000L + 99950L, i))
    // force the pure distributed path — this test is about the star
    // ops' degree independence, which the driver finish would bypass
    val got = withThreshold(0L)(Components.connected(
        (hub ++ chain).toDF("id_a", "id_b"), maxIter = 50))
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.max("component"),
        org.apache.spark.sql.functions.min("component")).head()
    assert(got.getLong(0) === 100051L)
    assert(got.getLong(1) === 0L && got.getLong(2) === 0L)
  }

  test("empty edge list: every node is its own singleton") {
    assert(run(5, Nil) === (0L until 5L).map(i => i -> i).toMap)
  }

  test("without a node universe, only edge endpoints are labeled") {
    import spark.implicits._
    val got = Components.connected(Seq((7L, 9L)).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(7L -> 7L, 9L -> 7L))
  }

  test("end-to-end: minhash LSH pairs -> clusters -> one survivor per planted near-dup chain") {
    import spark.implicits._
    def words(seed: Int, n: Int) = {
      val r = new scala.util.Random(seed)
      Array.fill(n)("w" + r.nextInt(5000))
    }
    val distinctDocs = (0L until 20L).map(i => (i, words(i.toInt, 40).mkString(" ")))
    val base = words(1000, 40)
    // chained near-dups: B edits A's last word, C edits A's first word —
    // the LSH emits A~B / A~C (and possibly B~C); only transitive
    // closure puts all three in one group
    val a = base.mkString(" ")
    val b = (base.dropRight(1) :+ "edited").mkString(" ")
    val c = ("edited2" +: base.drop(1)).mkString(" ")
    val docs = (distinctDocs ++ Seq((100L, a), (101L, b), (102L, c)))
      .toDF("doc_id", "text")
    val pairs = graft.pipeline.Dedup.minhashLsh(docs)
    // the chain must be connected through at least two pairs
    assert(pairs.count() >= 2)
    val kept = graft.pipeline.Dedup.dropNearDuplicates(docs, pairs)
      .select("doc_id", "n_dupes_removed")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept.keySet === (0L until 20L).toSet + 100L)
    assert(kept(100L) === 2L)
    assert((0L until 20L).forall(kept(_) == 0L))
  }

  test("dupClusters + dropNearDuplicates keep one canonical doc per group") {
    import spark.implicits._
    val docs = (0L until 10L).map(i => (i, s"text$i")).toDF("doc_id", "text")
    // pairs 0-1, 1-2 (transitive triple), 5-6; rest singletons
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val cl = graft.pipeline.Dedup.dupClusters(docs, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L, 9L -> 9L))
    val kept = graft.pipeline.Dedup.dropNearDuplicates(docs, pairs)
      .select("doc_id", "n_dupes_removed")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept === Map(0L -> 2L, 3L -> 0L, 4L -> 0L, 5L -> 1L,
      7L -> 0L, 8L -> 0L, 9L -> 0L))
  }
}
