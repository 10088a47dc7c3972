package graft.weights

import graft.core.{GPolygon, Wkb}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Queen / rook contiguity weights over WKB polygons.
  *
  * Reference: `queen_weights(fid, geom [, order, inc_lower, precision])`
  * and `rook_weights(...)` (`postgeoda/src/weights_cont.c:59-329`,
  * `postgeoda/src/proxy.cpp:120-128`), computed there by a single-node
  * vertex hash in libgeoda. Spark-first rebuild: contiguity IS an
  * equi-join —
  *   queen: polygons sharing ≥1 (snapped) vertex → explode vertices,
  *          self-join on the vertex key;
  *   rook:  polygons sharing an edge → explode canonicalized edges,
  *          self-join on the edge key.
  * The shuffle is keyed by vertex/edge coordinates, so it spreads evenly
  * over the cluster regardless of polygon layout; no tile index is needed
  * at all for contiguity. The joins are hinted `shuffle_hash`: by size the
  * planner would broadcast the key table, and a broadcast hash relation
  * on coordinate keys takes a whole memory page, held until the
  * ContextCleaner drops it. Order-k neighbors (with `inc_lower`) are a BFS
  * of k-1 adjacency self-joins, exactly `create_cont_weights`' semantics.
  *
  * `precision` > 0 snaps coordinates to that grid before matching
  * (`weights_cont.c:122-128`); 0 means exact coordinate equality.
  */
object ContiguityWeights {

  case class Conf(
      queen: Boolean = true,
      order: Int = 1,
      includeLowerOrder: Boolean = false,
      precision: Double = 0.0)

  @inline private def snap(v: Double, prec: Double): Double =
    if (prec > 0.0) math.rint(v / prec) else v

  /** First-order adjacency pairs `(gid, nbr)`, both directions. */
  def adjacency(polys: DataFrame, conf: Conf): DataFrame =
    graft.core.Materialize.releasing(adjacencyLazy(polys, conf), Nil)

  /** Pre-materialization adjacency: the lazy pairs frame. Test seam —
    * plan-shape assertions must look at this frame, because [[adjacency]]
    * returns a checkpointed frame whose executed plan is just a scan of
    * the materialized blocks. The key frame is not cached: both sides of
    * the self-join read one reused exchange, so the polygons are decoded
    * once.
    */
  private[graft] def adjacencyLazy(polys: DataFrame, conf: Conf): DataFrame = {
    val spark = polys.sparkSession
    import spark.implicits._
    val prec = conf.precision
    val geoms: Dataset[(Long, Array[Byte])] =
      polys.select(col("gid").cast("long"), col("geom")).as[(Long, Array[Byte])]

    val pairs =
      if (conf.queen) {
        val verts = geoms.flatMap { case (gid, wkb) =>
          Wkb.read(wkb) match {
            case Some(p: GPolygon) =>
              // distinct vertices per polygon to avoid pair multiplicity
              val seen = scala.collection.mutable.HashSet.empty[(Double, Double)]
              val out = scala.collection.mutable.ArrayBuffer.empty[VKey]
              var i = 0
              while (i < p.xs.length) {
                val k = (snap(p.xs(i), prec), snap(p.ys(i), prec))
                if (seen.add(k)) out += VKey(gid, k._1, k._2)
                i += 1
              }
              out
            case _ => Nil
          }
        }.toDF("gid", "kx", "ky")
        verts.as("a").join(verts.as("b").hint("shuffle_hash"),
            $"a.kx" === $"b.kx" && $"a.ky" === $"b.ky" &&
              $"a.gid" =!= $"b.gid")
          .select($"a.gid".as("gid"), $"b.gid".as("nbr"))
      } else {
        val edges = geoms.flatMap { case (gid, wkb) =>
          Wkb.read(wkb) match {
            case Some(p: GPolygon) =>
              val out = scala.collection.mutable.ArrayBuffer.empty[EKey]
              var part = 0
              while (part < p.partStarts.length) {
                val s = p.partStarts(part)
                val e = if (part + 1 < p.partStarts.length) p.partStarts(part + 1)
                        else p.xs.length
                var i = s
                while (i < e) {
                  val j = if (i + 1 < e) i + 1 else s // closing edge
                  val x1 = snap(p.xs(i), prec); val y1 = snap(p.ys(i), prec)
                  val x2 = snap(p.xs(j), prec); val y2 = snap(p.ys(j), prec)
                  // canonical: lexicographically smaller endpoint first
                  if (x1 < x2 || (x1 == x2 && y1 <= y2))
                    out += EKey(gid, x1, y1, x2, y2)
                  else out += EKey(gid, x2, y2, x1, y1)
                  i += 1
                }
                part += 1
              }
              out.distinct
            case _ => Nil
          }
        }.toDF("gid", "ax", "ay", "bx", "by")
        edges.as("a").join(edges.as("b").hint("shuffle_hash"),
            $"a.ax" === $"b.ax" && $"a.ay" === $"b.ay" &&
              $"a.bx" === $"b.bx" && $"a.by" === $"b.by" &&
              $"a.gid" =!= $"b.gid")
          .select($"a.gid".as("gid"), $"b.gid".as("nbr"))
      }
    pairs.distinct()
  }

  /** Order-k adjacency with optional lower orders (BFS by self-joins). */
  def orderedAdjacency(polys: DataFrame, conf: Conf): DataFrame = {
    val adj1 = adjacency(polys, conf)
    if (conf.order <= 1) return adj1
    adj1.cache()
    val loopCaches = scala.collection.mutable.ArrayBuffer[Dataset[_]](adj1)
    val hop = adj1.select(col("gid").as("__m"), col("nbr").as("__n"))
    var frontier = adj1          // exactly order-o pairs
    var visited = adj1           // all pairs of order <= o
    var accum = adj1             // union of kept orders
    var o = 2
    while (o <= conf.order) {
      val next = frontier.join(hop, frontier("nbr") === col("__m"))
        .select(col("gid"), col("__n").as("nbr"))
        .filter(col("gid") =!= col("nbr"))
        .distinct()
        .join(visited.withColumnRenamed("nbr", "__vn")
          .withColumnRenamed("gid", "__vg"),
          col("gid") === col("__vg") && col("nbr") === col("__vn"),
          "left_anti")
        .cache()
      loopCaches += next
      visited = visited.unionByName(next)
      accum = if (conf.includeLowerOrder) accum.unionByName(next) else next
      frontier = next
      o += 1
    }
    // without lower orders, accum IS the last frontier — already
    // distinct by construction (every `next` ends in .distinct()); the
    // extra distinct was a full shuffle of the result for nothing.
    // With lower orders the union of per-order sets still needs it
    // (orders are disjoint by the anti-join, but union duplicates
    // nothing either — keep the defensive distinct only there, where
    // includeLowerOrder semantics already pay a union).
    val out = if (conf.includeLowerOrder) accum.distinct() else accum
    graft.core.Materialize.releasing(out, loopCaches.toSeq)
  }

  /** Per-row binary weights `(gid, nbrs array<long> sorted, wts=null)`.
    * Polygons with no neighbors still appear, with an empty list —
    * matching the reference's inclusion of isolates in the blob.
    */
  def build(polys: DataFrame, conf: Conf): DataFrame = {
    val adj = orderedAdjacency(polys, conf)
    polys.select(col("gid").cast("long"))
      .join(adj, Seq("gid"), "left")
      .groupBy("gid")
      .agg(sort_array(collect_list(col("nbr"))).as("nbrs"))
      .select(col("gid"), col("nbrs"),
        lit(null).cast("array<double>").as("wts"))
  }
}

/** Vertex / edge join keys. Top-level (not object-nested) so the
  * Catalyst encoder codegen compiles — nested case classes trip Janino
  * ("no applicable constructor") and silently fall back to interpreted
  * encoders on the hot explode path.
  */
private[weights] case class VKey(gid: Long, kx: Double, ky: Double)
private[weights] case class EKey(gid: Long, ax: Double, ay: Double,
                                 bx: Double, by: Double)
