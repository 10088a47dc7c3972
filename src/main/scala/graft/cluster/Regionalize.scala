package graft.cluster

import graft.core.Stat0
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** SKATER / REDCAP spatial regionalization
  * (`postgeoda/src/skater.c:36-508`, `redcap.c:36-538`,
  * `proxy_scc.cpp:19-144` → gda_redcap [public]).
  *
  * SKATER ≡ REDCAP "firstorder-singlelinkage" (`skater.c:156-157` routes
  * through redcap with the default method). The algorithms are inherently
  * sequential MST heuristics, so — exactly as SURVEY §7.5 prescribes —
  * the graph is collected per connected component to the driver and
  * solved exactly; Spark does the neighbor/value assembly. Disconnected
  * weights raise an error, matching `proxy_scc.cpp:27-31`.
  *
  * Methods (`postgeoda/src/lisa.h:119-137`): firstorder-singlelinkage,
  * fullorder-{single,complete,average,ward}linkage.
  * Cluster ids are 1-based ordered by region size descending (ties by
  * smallest member gid), GeoDa's flat_2dclusters convention.
  */
object Regionalize {

  case class Conf(
      k: Int,
      method: String = "firstorder-singlelinkage",
      scaleMethod: String = "standardize",
      distType: String = "euclidean",
      minRegionSize: Int = 0,
      /** optional (boundVals(i), minBound) spatial-constraint pair */
      minBound: Double = 0.0,
      /** SKATER scale path: compute + sort edge dissimilarities in Spark
        * and stream the sorted edges to the driver's union-find instead
        * of collecting all E edges (first-order single linkage only;
        * result is bit-identical — same (d, a, b) tie-break order). */
      distributedMst: Boolean = false,
      /** Below this many observations the collect-path MST runs even
        * when `distributedMst` is set: at toy N the Spark range-sort's
        * fixed stage latency (~1 s) dwarfs the O(E log E) driver sort it
        * replaces, and the two paths are bit-identical anyway (the
        * distributed sort key (d, a, b) IS the driver tie-break). Set 0
        * to force the distributed path (tests / benchmarking).
        */
      distributedMstMinRows: Int = 65536)

  /** values: (gid, vals array<double>); weights: (gid, nbrs). */
  def run(values: DataFrame, weights: DataFrame, conf: Conf,
          boundValues: Option[DataFrame] = None): DataFrame = {
    val spark = values.sparkSession
    import spark.implicits._
    val rows = values.select(col("gid").cast("long"), col("vals"))
      .orderBy("gid").collect()
    val n = rows.length
    val gids = rows.map(_.getLong(0))
    val gidIdx = gids.zipWithIndex.toMap
    val nv = rows.head.getSeq[Double](1).length
    val mat = Array.ofDim[Double](nv, n)
    for (i <- 0 until n; v <- 0 until nv)
      mat(v)(i) = rows(i).getSeq[Double](1)(v)
    val scaled = mat.map(v => Stat0.scale(v, conf.scaleMethod))

    val bounds: Array[Double] = boundValues match {
      case Some(bv) =>
        val m = bv.select(col("gid").cast("long"), col("value").cast("double"))
          .as[(Long, Double)].collect().toMap
        gids.map(m)
      case None => Array.fill(n)(0.0)
    }

    val labels =
      if (conf.distributedMst && n >= conf.distributedMstMinRows &&
          conf.method == "firstorder-singlelinkage") {
        val tree = firstOrderTreeDistributed(weights, scaled, gids,
          conf.distType == "manhattan")
        require(tree.length == n - 1,
          "The weights graph is disconnected (skater.c:165-168): regionalization requires one connected component")
        partitionTree(n, scaled, tree, bounds, conf)
      } else {
        val edges = weights.select(col("gid").cast("long"),
            explode(col("nbrs")).as("nbr"))
          .as[(Long, Long)].collect()
          .map { case (a, b) => (gidIdx(a), gidIdx(b)) }
          .filter { case (a, b) => a < b }.distinct
        solve(n, scaled, edges, bounds, conf)
      }
    spark.createDataset(gids.zip(labels).toIndexedSeq)
      .toDF("gid", "cluster")
  }

  /** SKATER's spanning-tree build as a Spark job (the scale path).
    *
    * The default path collects all E contiguity edges and sorts them on
    * the driver — fine at polygon-layer scale, but E ≈ avg-degree × N
    * dominates the driver footprint on web-scale graphs. Here every
    * edge's dissimilarity is computed executor-side against a broadcast
    * of the scaled value matrix, Spark range-sorts the (d, a, b) stream,
    * and the driver consumes it through `toLocalIterator`, holding only
    * the O(N) union-find plus the N-1 accepted tree edges. The sort key
    * (d, a, b) is exactly the driver path's tie-break, so the resulting
    * tree — and therefore the final labels — are bit-identical.
    * (The O(N·nv) value matrix itself still lives on the driver: the
    * tree-partitioning phase needs it; that bound is documented at
    * `solve`. This path removes the O(E) collect + local sort.)
    */
  private def firstOrderTreeDistributed(weights: DataFrame,
      scaled: Array[Array[Double]], gids: Array[Long],
      manhattan: Boolean): Array[(Int, Int)] = {
    val spark = weights.sparkSession
    import spark.implicits._
    val n = gids.length
    // gid→index via binarySearch over the sorted primitive gid array —
    // 8 B/entry to broadcast vs ~40-50 B/entry for a boxed Map (the same
    // pattern broadcast-mode Lisa uses for its gid lookups)
    val bScaled = spark.sparkContext.broadcast(scaled)
    val bGids = spark.sparkContext.broadcast(gids)
    try {
      val sorted = weights.select(col("gid").cast("long"),
          explode(col("nbrs")).as("nbr"))
        .select(col("gid"), col("nbr").cast("long").as("nbr"))
        .where(col("gid") < col("nbr")).distinct()
        .as[(Long, Long)]
        .map { case (ga, gb) =>
          val ia = java.util.Arrays.binarySearch(bGids.value, ga)
          val ib = java.util.Arrays.binarySearch(bGids.value, gb)
          val (a, b) = if (ia < ib) (ia, ib) else (ib, ia)
          (dist(bScaled.value, a, b, manhattan), a, b)
        }.toDF("d", "a", "b")
        .orderBy("d", "a", "b")
        .as[(Double, Int, Int)]
      import scala.jdk.CollectionConverters._
      kruskal(n, sorted.toLocalIterator().asScala)
    } finally { bScaled.destroy(); bGids.destroy() }
  }

  /** Streaming Kruskal accept loop — THE tie-break source of truth for
    * both SKATER tree builds (edges must arrive sorted by (d, a, b)).
    */
  private def kruskal(n: Int,
      it: Iterator[(Double, Int, Int)]): Array[(Int, Int)] = {
    val uf = new UnionFind(n)
    val out = mutable.ArrayBuffer.empty[(Int, Int)]
    while (it.hasNext && out.length < n - 1) {
      val (_, a, b) = it.next()
      if (uf.find(a) != uf.find(b)) { uf.union(a, b); out += ((a, b)) }
    }
    out.toArray
  }

  @inline private def dist(scaled: Array[Array[Double]], i: Int, j: Int,
                           manhattan: Boolean): Double = {
    var s = 0.0; var v = 0
    while (v < scaled.length) {
      val d = scaled(v)(i) - scaled(v)(j)
      s += (if (manhattan) math.abs(d) else d * d)
      v += 1
    }
    if (manhattan) s else math.sqrt(s)
  }

  /** Exact driver-side solve over one connected graph. */
  def solve(n: Int, scaled: Array[Array[Double]], edges: Array[(Int, Int)],
            bounds: Array[Double], conf: Conf): Array[Int] = {
    require(n > 0)
    val manhattan = conf.distType == "manhattan"
    // connectivity check (reference errors on disconnected weights)
    val uf = new UnionFind(n)
    edges.foreach { case (a, b) => uf.union(a, b) }
    require((0 until n).map(uf.find).distinct.size == 1,
      "The weights graph is disconnected (skater.c:165-168): regionalization requires one connected component")

    val treeEdges: Array[(Int, Int)] = conf.method match {
      case "firstorder-singlelinkage" =>
        // MST over first-order edges = single-linkage constrained tree
        val sorted = edges.map { case (a, b) =>
          (dist(scaled, a, b, manhattan), a, b) }.sortBy(t => (t._1, t._2, t._3))
        kruskal(n, sorted.iterator)
      case m if m.startsWith("fullorder-") =>
        fullOrderTree(n, scaled, edges, m.stripPrefix("fullorder-"), manhattan)
      case other => throw new IllegalArgumentException(
        s"unknown regionalization method '$other' (lisa.h:119-137)")
    }

    partitionTree(n, scaled, treeEdges, bounds, conf)
  }

  /** Index of the pair (i, j), i != j, in the condensed upper triangle of
    * an n×n matrix, where row a = min(i, j) starts at a·n − a(a+1)/2.
    * Computed in Long, since a(a+1) overflows Int from a = 46341, and
    * narrowed once: the index fits Int whenever n(n−1)/2 does.
    */
  private[cluster] def condensedIndex(n: Int, i: Int, j: Int): Int = {
    // no tuple: `val (a, b) = ...` here allocated a Tuple2 per access —
    // hundreds of millions of them across init + sweeps, which turned
    // the solve into a GC benchmark (13 s init for a 1.6 GB fill)
    val a = if (i < j) i else j
    val b = if (i < j) j else i
    (a.toLong * n - a.toLong * (a + 1) / 2 + (b - a - 1)).toInt
  }

  /** Full-order REDCAP: contiguity-constrained agglomerative clustering;
    * each merge contributes the cheapest first-order edge between the two
    * merging clusters to the spanning tree [public REDCAP, Guo 2008].
    *
    * Standard agglomerative machinery: a condensed pairwise dissimilarity
    * matrix updated by the Lance-Williams recurrences (exact for
    * single/complete/average/ward) plus a lazy-deletion min-heap over
    * CONTIGUOUS cluster pairs — O(N² log N) total instead of the naive
    * O(N²) member-scan per merge. Full-order linkage is O(N²) memory by
    * definition (it ranks all cross-cluster point pairs); that matches
    * the reference's own driver-side footprint (`redcap.c:36-538`).
    */
  private def fullOrderTree(n: Int, scaled: Array[Array[Double]],
      edges: Array[(Int, Int)], linkage: String,
      manhattan: Boolean): Array[(Int, Int)] = {
    require(Set("singlelinkage", "completelinkage", "averagelinkage",
      "wardlinkage").contains(linkage), s"unknown linkage '$linkage'")
    val ward = linkage == "wardlinkage"
    // Dissimilarity matrix, LW-updated in place: condensed upper
    // triangle, half the memory of a mirrored full layout, which timed
    // the same in an A/B at 20k.
    val nv = scaled.length
    val dCond = new Array[Double](n.toLong * (n - 1) / 2 match {
      case m if m <= Int.MaxValue => m.toInt
      case _ => throw new IllegalArgumentException(
        s"full-order linkage needs an O(N^2) matrix; N=$n too large")
    })
    @inline def dGet(i: Int, j: Int): Double = dCond(condensedIndex(n, i, j))
    @inline def dSet(i: Int, j: Int, v: Double): Unit = dCond(condensedIndex(n, i, j)) = v
    // O(N²) matrix fill, parallel by row: every (i, j) entry is an
    // independent pure function of the value matrix, so threading the
    // row loop is bit-identical to the serial fill. (The sweep below is
    // parallelized the same way; together they were the whole wall of
    // the 20k-polygon solve.)
    java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
      var j = i + 1
      while (j < n) {
        // ward's ESS-increase measure is squared-euclidean by definition
        // (the old direct-centroid form also ignored distType): singleton
        // d = ||xi-xj||^2 / 2. Other linkages use the configured metric.
        dSet(i, j, if (ward) {
          var ss = 0.0; var v = 0
          while (v < nv) {
            val dv = scaled(v)(i) - scaled(v)(j); ss += dv * dv; v += 1
          }
          ss / 2.0
        } else dist(scaled, i, j, manhattan))
        j += 1
      }
    }

    val uf = new UnionFind(n)
    val sizes = Array.fill(n)(1)
    @inline def pairKey(a: Int, b: Int): Long =
      if (a < b) a.toLong * n + b else b.toLong * n + a
    // contiguity sets per root + cheapest first-order edge per root pair
    // (primitive Long-keyed maps + a primitive heap: the merge loop runs
    // ~N·boundary times and boxed tuples dominated the wall before)
    val contig = Array.fill(n)(mutable.Set.empty[Int])
    val bestEdgeD = new mutable.LongMap[Double](4 * edges.length)
    val bestEdgeP = new mutable.LongMap[Long](4 * edges.length)
    edges.foreach { case (a, b) =>
      contig(a) += b; contig(b) += a
      val d = dist(scaled, a, b, manhattan)
      val k = pairKey(a, b)
      if (!bestEdgeD.contains(k) || bestEdgeD(k) > d) {
        bestEdgeD(k) = d
        bestEdgeP(k) = (a.toLong << 32) | (b.toLong & 0xFFFFFFFFL)
      }
    }
    val heap = new EdgeHeap(4 * edges.length + 16)
    edges.foreach { case (a, b) =>
      val lo = math.min(a, b); val hi = math.max(a, b)
      heap.push(dGet(lo, hi), lo, hi)
    }

    // compact live-root array for the full LW sweep: EVERY live
    // cluster's D(c, x) must be updated each merge (not just contiguous
    // ones — a pair can become contiguous later and must then read the
    // true full-order linkage, not a stale value). Swap-remove keeps
    // the live set contiguous so the sweep can be chunked across
    // threads: each x's update is an independent pure function of the
    // pre-merge matrix row pair, so the parallel sweep is bit-identical
    // to the serial one in any visit order.
    val liveArr = Array.tabulate(n)(identity)
    val livePos = Array.tabulate(n)(identity)
    var liveCnt = n
    @inline def unlink(x: Int): Unit = {
      val p = livePos(x); liveCnt -= 1
      val last = liveArr(liveCnt)
      liveArr(p) = last; livePos(last) = p
    }
    // threads only pay off once the per-merge sweep is long enough to
    // amortize the handoff; below this the serial loop wins
    val parThreshold = 4096

    val mode = linkage match {
      case "singlelinkage" => 0; case "completelinkage" => 1
      case "averagelinkage" => 2; case _ => 3
    }

    // Persistent worker pool for the per-merge LW sweep. A fork/join
    // submission per merge costs ~0.15 ms of coordination — at ~N
    // parallel merges that overhead DOMINATED the sweep (measured ~2.5 s
    // of the 3 s sweep at N=20k). Fixed threads + a Phaser handoff get
    // the per-merge cost down to the barrier latency. Each worker owns a
    // contiguous chunk of the live-root array; writes are disjoint
    // (dSet(c, x) for distinct x), reads are frozen for the phase, and
    // the Phaser's arrive/advance edges give the happens-before for the
    // plain shared fields below — values are bit-identical to the
    // serial sweep in any thread order.
    // ~16 workers saturate the sweep's memory bandwidth; beyond that the
    // barrier's unpark fan-out costs more than the extra threads earn
    // (A/B at 20k: 15 workers 1.2 s, 31 workers 2.3 s, 4 workers 2.7 s)
    val nw = math.max(1, math.min(Runtime.getRuntime.availableProcessors - 1, 16))
    val usePool = n >= parThreshold && nw > 1
    var mRa = 0; var mRb = 0; var mC = 0; var mCnt = 0
    var mD = 0.0; var mNAd = 0.0; var mNBd = 0.0; var mInvAB = 0.0
    @volatile var poolShutdown = false
    val phaser = if (usePool) new java.util.concurrent.Phaser(nw + 1) else null
    @inline def lwUpdateAt(x: Int, ra: Int, rb: Int, c: Int, d: Double,
                           nAd: Double, nBd: Double, invAB: Double): Unit =
      if (x != ra && x != rb) {
        val dAX = dGet(ra, x); val dBX = dGet(rb, x)
        val dCX =
          if (mode == 0) { if (dAX < dBX) dAX else dBX }
          else if (mode == 1) { if (dAX > dBX) dAX else dBX }
          else if (mode == 2) (nAd * dAX + nBd * dBX) * invAB
          else {
            val nX = sizes(x).toDouble
            ((nAd + nX) * dAX + (nBd + nX) * dBX - nX * d) /
              (nAd + nBd + nX)
          }
        dSet(c, x, dCX)
      }
    if (usePool) (0 until nw).foreach { t =>
      val th = new Thread(() => {
        while (!poolShutdown && !phaser.isTerminated) {
          phaser.arriveAndAwaitAdvance() // wait for a merge's go signal
          if (!poolShutdown && !phaser.isTerminated) {
            val cnt = mCnt; val ra = mRa; val rb = mRb; val c = mC
            val d = mD; val nAd = mNAd; val nBd = mNBd; val invAB = mInvAB
            val chunk = (cnt + nw - 1) / nw
            var i = t * chunk
            val end = math.min(cnt, i + chunk)
            while (i < end) {
              lwUpdateAt(liveArr(i), ra, rb, c, d, nAd, nBd, invAB); i += 1
            }
            phaser.arriveAndAwaitAdvance() // signal chunk done
          }
        }
      }, s"redcap-lw-$t")
      th.setDaemon(true)
      th.start()
    }

    val tree = mutable.ArrayBuffer.empty[(Int, Int)]
    var nClusters = n
    try {
    while (nClusters > 1 && heap.size > 0) {
      heap.pop()
      val d = heap.topD; val ra = heap.topA; val rb = heap.topB
      // valid iff both are live roots, still contiguous, and d is current
      val live = uf.find(ra) == ra && uf.find(rb) == rb &&
        contig(ra).contains(rb) && dGet(ra, rb) == d
      if (live) {
        val ep = bestEdgeP(pairKey(ra, rb))
        tree += (((ep >>> 32).toInt, ep.toInt))
        uf.union(ra, rb)
        val c = uf.find(ra) // min(ra, rb) by UnionFind convention
        val o = if (c == ra) rb else ra
        val nA = sizes(ra); val nB = sizes(rb)
        val nAd = nA.toDouble; val nBd = nB.toDouble
        val invAB = 1.0 / (nAd + nBd)
        val nbrs = (contig(ra) | contig(rb)) - ra - rb
        // full Lance-Williams sweep over all live roots (branch-free
        // dispatch: the string match was ~20x the arithmetic per step);
        // the worker pool takes over while the live set is large
        if (usePool && liveCnt >= parThreshold) {
          mRa = ra; mRb = rb; mC = c; mCnt = liveCnt
          mD = d; mNAd = nAd; mNBd = nBd; mInvAB = invAB
          phaser.arriveAndAwaitAdvance() // release workers
          phaser.arriveAndAwaitAdvance() // wait for every chunk
        } else {
          var p = 0
          while (p < liveCnt) {
            lwUpdateAt(liveArr(p), ra, rb, c, d, nAd, nBd, invAB); p += 1
          }
        }
        // contiguity bookkeeping + heap entries only for contiguous pairs
        nbrs.foreach { x2 =>
          val kc = pairKey(c, x2)
          val kax = pairKey(ra, x2); val kbx = pairKey(rb, x2)
          val hasA = bestEdgeD.contains(kax); val hasB = bestEdgeD.contains(kbx)
          if (hasA && (!hasB || bestEdgeD(kax) <= bestEdgeD(kbx))) {
            bestEdgeD(kc) = bestEdgeD(kax); bestEdgeP(kc) = bestEdgeP(kax)
          } else if (hasB) {
            bestEdgeD(kc) = bestEdgeD(kbx); bestEdgeP(kc) = bestEdgeP(kbx)
          }
          contig(x2) -= ra; contig(x2) -= rb; contig(x2) += c
          heap.push(dGet(c, x2), math.min(c, x2), math.max(c, x2))
        }
        unlink(o)
        contig(c) = nbrs
        contig(o) = null // free
        sizes(c) = nA + nB
        nClusters -= 1
      }
    }
    } finally {
      poolShutdown = true
      if (phaser != null) phaser.forceTermination()
    }
    require(nClusters == 1, "full-order tree did not converge (disconnected?)")
    tree.toArray
  }

  /** Primitive min-heap of (d, a, b) ordered by (d, a, b) asc — parallel
    * arrays, no boxing; the lazy-deletion store for fullOrderTree.
    */
  private final class EdgeHeap(initCap: Int) {
    private var ds = new Array[Double](math.max(16, initCap))
    private var as = new Array[Int](ds.length)
    private var bs = new Array[Int](ds.length)
    var size = 0
    var topD = 0.0; var topA = 0; var topB = 0
    @inline private def less(i: Int, j: Int): Boolean =
      ds(i) < ds(j) || (ds(i) == ds(j) &&
        (as(i) < as(j) || (as(i) == as(j) && bs(i) < bs(j))))
    @inline private def swap(i: Int, j: Int): Unit = {
      val d = ds(i); ds(i) = ds(j); ds(j) = d
      val a = as(i); as(i) = as(j); as(j) = a
      val b = bs(i); bs(i) = bs(j); bs(j) = b
    }
    def push(d: Double, a: Int, b: Int): Unit = {
      if (size == ds.length) {
        ds = java.util.Arrays.copyOf(ds, size * 2)
        as = java.util.Arrays.copyOf(as, size * 2)
        bs = java.util.Arrays.copyOf(bs, size * 2)
      }
      ds(size) = d; as(size) = a; bs(size) = b
      var i = size; size += 1
      while (i > 0 && less(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
    }
    /** Removes the min into topD/topA/topB. */
    def pop(): Unit = {
      topD = ds(0); topA = as(0); topB = bs(0)
      size -= 1
      if (size > 0) {
        ds(0) = ds(size); as(0) = as(size); bs(0) = bs(size)
        var i = 0
        var go = true
        while (go) {
          val l = 2 * i + 1; val r = 2 * i + 2
          var m = i
          if (l < size && less(l, m)) m = l
          if (r < size && less(r, m)) m = r
          if (m == i) go = false else { swap(i, m); i = m }
        }
      }
    }
  }

  /** Test hook: the tree-partitioning step alone (equivalence tests
    * partition a brute-force reference tree with the same rules).
    */
  private[cluster] def partitionForTest(n: Int, scaled: Array[Array[Double]],
      treeEdges: Array[(Int, Int)], bounds: Array[Double],
      conf: Conf): Array[Int] =
    partitionTree(n, scaled, treeEdges, bounds, conf)

  /** SKATER tree-partitioning: k-1 best splits by SSD gain under
    * min-size / min-bound constraints [public, Assunção 2006].
    *
    * Each sweep roots every current component and aggregates subtree
    * (count, sum, sumsq, bound) in one post-order pass, so every edge's
    * split gain is O(#vars) — O(N) total per split, not O(N·E).
    */
  private def partitionTree(n: Int, scaled: Array[Array[Double]],
      treeEdges: Array[(Int, Int)], bounds: Array[Double],
      conf: Conf): Array[Int] = {
    val nv = scaled.length
    val adj = Array.fill(n)(mutable.ArrayBuffer.empty[(Int, Int)])
    treeEdges.zipWithIndex.foreach { case ((a, b), e) =>
      adj(a) += ((b, e)); adj(b) += ((a, e))
    }
    val removed = Array.fill(treeEdges.length)(false)
    val comp = new Array[Int](n)

    def markComponents(): Int = {
      java.util.Arrays.fill(comp, -1)
      var c = 0
      for (s <- 0 until n if comp(s) == -1) {
        val stack = mutable.ArrayBuffer(s)
        comp(s) = c
        while (stack.nonEmpty) {
          val u = stack.remove(stack.length - 1)
          adj(u).foreach { case (w, e) =>
            if (!removed(e) && comp(w) == -1) { comp(w) = c; stack += w }
          }
        }
        c += 1
      }
      c
    }

    @inline def ssdFrom(cnt: Int, s: Array[Double], s2: Array[Double]): Double = {
      var t = 0.0; var v = 0
      while (v < nv) { t += s2(v) - s(v) * s(v) / cnt; v += 1 }
      t
    }

    var cuts = 0
    var continueSplitting = true
    while (cuts < conf.k - 1 && continueSplitting) {
      markComponents()
      var bestGain = Double.NegativeInfinity
      var bestEdge = -1
      val visited = Array.fill(n)(false)
      for (root <- 0 until n if !visited(root)) {
        // iterative post-order over this component from `root`
        val order = mutable.ArrayBuffer.empty[Int]
        val parent = new Array[Int](n)
        val parentEdge = mutable.HashMap.empty[Int, Int]
        val stack = mutable.ArrayBuffer(root)
        visited(root) = true; parent(root) = -1
        while (stack.nonEmpty) {
          val u = stack.remove(stack.length - 1)
          order += u
          adj(u).foreach { case (w, e) =>
            if (!removed(e) && !visited(w)) {
              visited(w) = true; parent(w) = u; parentEdge(w) = e
              stack += w
            }
          }
        }
        val cnt = Array.fill(n)(0)
        val sm = Array.ofDim[Double](nv, n)
        val sq = Array.ofDim[Double](nv, n)
        val bd = new Array[Double](n)
        // component totals
        var tc = 0
        val ts = new Array[Double](nv); val tq = new Array[Double](nv)
        var tb = 0.0
        order.foreach { u =>
          tc += 1; tb += bounds(u)
          var v = 0
          while (v < nv) {
            val x = scaled(v)(u); ts(v) += x; tq(v) += x * x; v += 1
          }
        }
        val compSsd = ssdFrom(tc, ts, tq)
        // post-order accumulate (reverse of pre-order works for trees)
        order.reverseIterator.foreach { u =>
          cnt(u) += 1; bd(u) += bounds(u)
          var v = 0
          while (v < nv) {
            val x = scaled(v)(u); sm(v)(u) += x; sq(v)(u) += x * x; v += 1
          }
          val p = parent(u)
          if (p >= 0) {
            cnt(p) += cnt(u); bd(p) += bd(u)
            v = 0
            while (v < nv) { sm(v)(p) += sm(v)(u); sq(v)(p) += sq(v)(u); v += 1 }
          }
        }
        // evaluate every tree edge of this component: split = subtree(u) | rest
        order.foreach { u =>
          val p = parent(u)
          if (p >= 0) {
            val cA = cnt(u); val cB = tc - cA
            val okSize = cA >= math.max(1, conf.minRegionSize) &&
              cB >= math.max(1, conf.minRegionSize)
            val okBound = conf.minBound <= 0.0 ||
              (bd(u) >= conf.minBound && (tb - bd(u)) >= conf.minBound)
            if (okSize && okBound && cA > 0 && cB > 0) {
              val sA = new Array[Double](nv); val qA = new Array[Double](nv)
              val sB = new Array[Double](nv); val qB = new Array[Double](nv)
              var v = 0
              while (v < nv) {
                sA(v) = sm(v)(u); qA(v) = sq(v)(u)
                sB(v) = ts(v) - sA(v); qB(v) = tq(v) - qA(v)
                v += 1
              }
              val gain = compSsd - ssdFrom(cA, sA, qA) - ssdFrom(cB, sB, qB)
              if (gain > bestGain) { bestGain = gain; bestEdge = parentEdge(u) }
            }
          }
        }
      }
      if (bestEdge < 0) continueSplitting = false
      else { removed(bestEdge) = true; cuts += 1 }
    }
    markComponents()
    // 1-based labels by size desc, tie min gid position
    val groups = (0 until n).groupBy(comp).values.toArray
      .sortBy(g => (-g.length, g.min))
    val label = new Array[Int](n)
    groups.zipWithIndex.foreach { case (g, li) =>
      g.foreach(i => label(i) = li + 1)
    }
    label
  }

  final class UnionFind(n: Int) {
    private val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
  }
}
