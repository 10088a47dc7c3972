package graft.cluster

import graft.core.DriverBudget
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list.
  *
  * Alternating large-star / small-star (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", ACM SoCC 2014), converging in
  * O(log^2 n) rounds — on a 10^12-node near-dup graph that is ~a dozen
  * rounds of node-keyed shuffles, versus O(diameter) rounds for naive
  * min-label propagation (a chain-shaped contiguity graph makes the
  * diameter O(sqrt n)).
  *
  * Both star operations are expressed as one `min` aggregation plus one
  * equi-join — NO adjacency list is ever collected, so per-task memory
  * is bounded regardless of degree skew: a boilerplate paragraph shared
  * by 10^8 pages yields one 10^8-degree node, which a
  * groupBy+collect_list formulation materializes as a single array row
  * (2 GB row limit / OOM) while the min+join formulation streams and
  * spills. Same hazard analysis as the LSH pair expansion in
  * [[graft.pipeline.Dedup.minhashLsh]].
  *
  * Hybrid finish: alternation rounds have fixed latency (4 node-keyed
  * shuffles + checkpoint + fingerprint), so once the shrinking edge set
  * fits the driver budget ([[graft.core.DriverBudget]]; at the default
  * 256 MB and 192 bytes an edge, 1,398,101 edges) the remaining rounds
  * are finished by an exact union-find — bit-identical labels, and the
  * tail rounds stop paying cluster-sized latency for megabyte-sized
  * data.
  *
  * Uses: resolving near-duplicate PAIRS (minhash / simhash / embedding
  * LSH output) into duplicate CLUSTERS with a canonical representative
  * (component = min member id) so the corpus can actually be deduped;
  * and GeoDa-style connectivity analysis of a spatial weights graph
  * (component and island detection — the Weights Manager summary the
  * reference's users read before trusting a LISA run).
  */
object Components {

  /** A surviving edge's cost on the driver, in bytes: its two ids as
    * fetched (16), at most two node slots of the union-find (2 × 12), and
    * at most one star row, boxed for the star frame and copied into its
    * local relation (~150). Star rows are the non-minimal nodes, which a
    * spanning forest of the edges has as many of as it has edges.
    */
  private[cluster] val EdgeBytes = 192L

  /** The edges of `e` within the driver budget, else None. */
  private def fetched(e: DataFrame, budget: Long): Option[Seq[DriverBudget.Pairs]] =
    DriverBudget.fetch(e.select(col("u"), col("v")), budget)(
        () => new DriverBudget.LongPairs(EdgeBytes, "CC edges")) match {
      case DriverBudget.Held(parts, _) => Some(parts)
      case _: DriverBudget.Over => None
    }

  /** Exact finish for a fetched edge set: union-find on the driver over
    * primitive arrays, returned as the SAME star-edge shape the
    * alternation converges to — (component-min u, member v), v > u,
    * deduped — so the downstream label fold is shared and the labels are
    * bit-identical to a pure distributed run (both define component = min
    * member id).
    *
    * @return (star frame, fetched edge count, star edge count) — the
    *         counts are free on the driver and feed the convergence log
    */
  private def driverFinish(spark: org.apache.spark.sql.SparkSession,
      parts: Seq[DriverBudget.Pairs]): (DataFrame, Int, Int) = {
    import spark.implicits._
    val us = Array.concat(parts.map(_.as): _*)
    val vs = Array.concat(parts.map(_.bs): _*)
    // the node table: sorted distinct endpoints, so index order is id order
    val ids = Array.concat(us, vs)
    java.util.Arrays.sort(ids)
    var n = 0
    ids.indices.foreach { i => if (i == 0 || ids(i) != ids(i - 1)) { ids(n) = ids(i); n += 1 } }
    def at(id: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, id)
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    // union by min: the smaller root becomes parent, so every root IS
    // its component's minimum id and no second min pass is needed
    us.indices.foreach { e =>
      val (ru, rv) = (find(at(us(e))), find(at(vs(e))))
      if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
    }
    // one star row per non-root node, in the order its id first appears
    val seen = new java.util.BitSet(n)
    val star = Array.newBuilder[(Long, Long)]
    def emit(id: Long): Unit = {
      val i = at(id)
      if (!seen.get(i)) {
        seen.set(i)
        val r = find(i)
        if (r != i) star += ((ids(r), id))
      }
    }
    us.indices.foreach { e => emit(us(e)); emit(vs(e)) }
    val rows = star.result()
    (spark.createDataset(rows.toSeq).toDF("u", "v"), us.length, rows.length)
  }

  /** Component label per node: `(id, component)` where `component` is
    * the minimum node id reachable from `id` (the canonical
    * representative). Edges are undirected; self-loops, duplicates and
    * either orientation are tolerated. `nodes`, when given, is the node
    * universe (one id column `nodeCol`) — ids absent from every edge
    * come back as singleton components of themselves (isolates).
    *
    * Each round materializes the shrinking edge set via the engine's
    * scoped-release checkpoint (local by default,
    * `spark.graft.checkpoint.reliable=true` for the cluster story), so
    * lineage stays O(1) across rounds and a killed job resumes from the
    * last round's blocks rather than round zero.
    */
  def connected(edges: DataFrame, aCol: String = "id_a",
                bCol: String = "id_b", nodes: Option[DataFrame] = None,
                nodeCol: String = "id", maxIter: Int = 50): DataFrame = {
    // canonical orientation (u < v), loops dropped, both inputs long
    var e = edges
      .select(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull &&
        col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("u"),
        greatest(col("x"), col("y")).as("v"))
      .distinct()
    e = graft.core.Materialize.releasing(e, Nil)

    // set fingerprint: count + xor of 64-bit edge hashes (edges are
    // distinct, so xor-of-set + count collides at ~2^-64; sum would
    // overflow under ANSI mode)
    def checksum(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))")).head() // driver: one row
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // Hybrid finish: each alternation round costs ~4 node-keyed
    // shuffles + a checkpoint + a fingerprint pass of FIXED latency, and
    // the edge set shrinks geometrically toward #nodes - #components —
    // so the tail rounds move megabytes through cluster-sized machinery
    // (measured: strong scaling 0.34 at 1M nodes, round-latency-bound).
    // Once the surviving set fits the driver budget ([[EdgeBytes]] an
    // edge), fetch it and finish with union-find: bit-identical labels
    // (component = min member id either way), ~half the rounds at small
    // n and the tail rounds at any n, while 100-TB inputs still do all
    // real volume distributed.
    val spark0 = edges.sparkSession
    val budget = DriverBudget.bytes(spark0)

    // Entry fold: ONE bounded fetch over the checkpointed edge blocks
    // decides small-vs-large AND, when small, already holds every edge —
    // the union-find runs on those rows directly.
    var it = 0
    var converged = false
    // (fetched edges, star edges) when the driver union-find finished —
    // the convergence log otherwise reports stale round-state (prev._1 is
    // the PRE-finish edge count and `it` can say 0 rounds)
    var driverFinished: Option[(Int, Int)] = None
    var prev = (-1L, 0L)

    fetched(e, budget) match {
      case Some(parts) if parts.forall(_.as.isEmpty) => converged = true
      case Some(parts) =>
        val (star, nIn, nStar) = driverFinish(spark0, parts)
        driverFinished = Some((nIn, nStar))
        graft.core.Materialize.release(e)
        e = star
        converged = true
      case None =>
        prev = checksum(e)
        converged = prev._1 == 0L
    }
    while (!converged && it < maxIter) {
      // large-star: every node attaches its LARGER neighbors to the
      // minimum of its closed neighborhood. Centered at u (< v), each
      // canonical edge contributes (v, m(u)); centers at the larger end
      // contribute nothing. m(u) <= u < v keeps orientation canonical.
      val bidir = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mLarge = bidir.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = e.join(mLarge, "u")
        .select(col("m").as("u"), col("v")).distinct()
      // small-star: every node attaches its SMALLER neighbors and
      // itself to the minimum of those neighbors. Centered at the
      // larger end v, m'(v) = min of its smaller neighbors (< v).
      val mSmall = large.groupBy("v").agg(min(col("u")).as("m"))
      val small = large.join(mSmall, "v")
        .select(col("m").as("nu"), col("u").as("nv"))
        .filter(col("nu") =!= col("nv"))
        .union(mSmall.select(col("m").as("nu"), col("v").as("nv")))
        .select(col("nu").as("u"), col("nv").as("v"))
        .distinct()
      val next = graft.core.Materialize.releasing(small, Nil)
      val cur = checksum(next)
      converged = cur == prev
      // the previous round's checkpoint blocks are dead the moment the
      // next round is materialized — release them explicitly instead of
      // waiting on GC + ContextCleaner (O(log^2 n) rounds would pool
      // every round's block set in the block manager otherwise)
      graft.core.Materialize.release(e)
      prev = cur
      e = next
      it += 1
      // the fingerprint's count says when the survivors fit
      if (!converged && cur._1 <= budget / EdgeBytes) fetched(e, budget).foreach { parts =>
        val (star, nIn, nStar) = driverFinish(spark0, parts)
        driverFinished = Some((nIn, nStar))
        graft.core.Materialize.release(e)
        e = star
        converged = true
      }
    }
    require(converged || it < maxIter,
      s"Components.connected did not converge in $maxIter rounds " +
        "(expected O(log^2 n) — raise maxIter for adversarial inputs)")
    val ccLog = org.slf4j.LoggerFactory.getLogger(getClass)
    driverFinished match {
      case Some((nIn, nStar)) => ccLog.info(
        s"Components.connected: $it distributed round(s), then driver " +
          s"union-find finished $nIn edges -> $nStar star edges")
      case None => ccLog.info(
        s"Components.connected converged in $it rounds " +
          s"(${prev._1} star edges)")
    }

    // converged edges are stars (component-min -> member); fold both
    // ends through a min-agg so the label read needs no star assumption
    val member = e.select(col("v").as(nodeCol), col("u").as("component"))
      .union(e.select(col("u").as(nodeCol), col("u").as("component")))
      .groupBy(nodeCol).agg(min(col("component")).as("component"))
    nodes match {
      case None => member.select(col(nodeCol), col("component"))
      case Some(univ) =>
        univ.select(col(nodeCol).cast("long").as(nodeCol)).distinct()
          .join(member, Seq(nodeCol), "left")
          .select(col(nodeCol),
            coalesce(col("component"), col(nodeCol)).as("component"))
    }
  }
}
