package graft.pipeline

import graft.core.{GPolygon, Tiling, Wkb}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}

/** Point-in-polygon spatial join (SURVEY §7, BASELINE.json north rule).
  *
  * Two physical strategies, chosen by polygon-side size:
  *   - broadcast: one bounded collect brings the polygons to the driver,
  *     which lays them out as flat primitive arrays (sorted cell ids with
  *     offsets into the candidate polygons, polygon vertices end to end)
  *     and broadcasts them; points stream through a stateless `flatMap`
  *     — zero shuffle. The right plan for admin-boundary-sized layers.
  *   - partitioned: polygons explode to their bbox-overlapping cells,
  *     points carry their single cell, equi-join on cell, then exact
  *     ray-crossing refine. Shuffle is keyed by cell; dense cells are
  *     split by AQE, and for pathological hotspots (one metro cell
  *     holding a large share of all points) `nSalt > 1` salts the
  *     shuffle key explicitly: the polygon side replicates each
  *     cell row nSalt times, the point side hashes gid into a salt,
  *     and the join key becomes (cell, salt) — each point still meets
  *     each candidate polygon exactly once, but a hot cell now spreads
  *     over nSalt shuffle partitions instead of one straggler.
  * Matching the reference's semantics means edge-exact behavior is
  * undefined on boundaries (same as PostGIS GIST + ST_Contains refine
  * usage in `postgeoda/notes.md:174-200` — the candidate/refine split).
  *
  * Input: a null gid, a null, NaN or infinite x/y, or a null pid fails
  * the join on either path, naming the gid (`Tiling.checkedPoints`).
  */
object SpatialJoin {

  /** Default polygon-layer byte budget for the broadcast path — one
    * source of truth for every caller (batch + streaming wrappers). */
  val DefaultBroadcastLimit: Long = 256L * 1024 * 1024

  /** points(gid,x,y) × polys(pid, geom WKB) → (gid, pid).
    *
    * The broadcast/partitioned choice is BYTE-based: broadcast is taken
    * only while the layer's WKB (times 3, the decoded index's overhead)
    * fits a driver/executor-safe budget — a 2M-multiring layer is GBs
    * and must NOT collect, while 2M tiny boxes may be fine. Default
    * budget 256 MB ≈ Spark's own autoBroadcastJoinThreshold philosophy
    * scaled to a hash index. One collect both measures and fetches the
    * layer: each partition returns its rows while they fit its share of
    * the budget, else only its byte count, so the driver never holds
    * more than the budget. A layer that overflows some share but fits
    * in total is fetched whole by a second job.
    */
  def pip(points: DataFrame, polys: DataFrame, cellSize: Double,
          broadcastLimitBytes: Long = DefaultBroadcastLimit,
          nSalt: Int = 1): DataFrame = {
    require(nSalt >= 1, s"nSalt must be >= 1, got $nSalt")
    val spark = points.sparkSession
    import spark.implicits._
    val checked = Tiling.checkedPoints(points, "PIP")
    val pid = col("pid").cast("long")
    val layer = polys.select(
      when(pid.isNull, raise_error(lit("PIP polygon layer has a null pid")))
        .otherwise(pid).as("pid"), col("geom"))
    // decoded index ≈ WKB coords as doubles + per-cell fanout overhead 3x
    val budget = broadcastLimitBytes / 3
    val rows = org.apache.spark.sql.graftshim.ColumnShim.toInternalRdd(layer)
    val first = slices(rows, budget / math.max(1, rows.getNumPartitions))
    val total = first.map(_.bytes).sum
    if (total <= budget) {
      val fetched = if (first.forall(_.pids != null)) first else slices(rows, budget)
      // points stream through a stateless flatMap (a streaming frame of
      // points joins too): no shuffle
      val bIndex = spark.sparkContext.broadcast(PolyIndex(fetched, cellSize))
      checked.as[(Long, Double, Double)].flatMap { case (gid, x, y) =>
        val ix = bIndex.value
        val j = java.util.Arrays.binarySearch(ix.cells, Tiling.cellId(x, y, cellSize))
        if (j < 0) Iterator.empty
        else Iterator.range(ix.offs(j), ix.offs(j + 1)).map(ix.cands(_))
          .filter(ix.contains(_, x, y)).map(q => (gid, ix.pids(q)))
      }.toDF("gid", "pid")
    } else {
      // partitioned: explode polygons to cells, equi-join, exact refine
      val polyCells0 = layer.as[(Long, Array[Byte])]
        .flatMap { case (pid, wkb) =>
          Wkb.read(wkb) match {
            case Some(p: GPolygon) =>
              val (mnx, mny, mxx, mxy) = p.bbox
              Tiling.bboxCells(mnx, mny, mxx, mxy, cellSize)
                .map(c => (pid, c, wkb))
            case _ => Nil
          }
        }.toDF("pid", "pcell", "pgeom")
      // Explicit skew salt: replicate the (smaller) polygon-cell side
      // nSalt times; each point deterministically picks ONE salt from
      // its gid, so every (point, candidate-polygon) pair still meets
      // exactly once while a hot cell's points fan out over nSalt
      // shuffle partitions. nSalt == 1 keeps the original plan shape.
      val polyCells =
        if (nSalt == 1) polyCells0
        else polyCells0.withColumn("psalt",
          explode(sequence(lit(0), lit(nSalt - 1))))
      val pts0 = checked
        .withColumn("cell", Tiling.cellIdCol(col("x"), col("y"), cellSize))
      val pts =
        if (nSalt == 1) pts0
        else pts0.withColumn("salt", pmod(hash(col("gid")), lit(nSalt)))
      val joinCond =
        if (nSalt == 1) col("cell") === col("pcell")
        else col("cell") === col("pcell") && col("salt") === col("psalt")
      pts.join(polyCells, joinCond)
        .select(col("gid").cast("long"), col("x"), col("y"),
          col("pid"), col("pgeom"))
        .as[(Long, Double, Double, Long, Array[Byte])]
        .mapPartitions { it =>
          // memoize decodes per partition — polygons repeat across points
          val cache = new java.util.HashMap[Long, GPolygon]()
          it.flatMap { case (gid, x, y, pid, wkb) =>
            var poly = cache.get(pid)
            if (poly == null) {
              Wkb.read(wkb) match {
                case Some(p: GPolygon) => cache.put(pid, p); poly = p
                case _ =>
              }
            }
            if (poly != null && poly.contains(x, y)) Iterator.single((gid, pid))
            else Iterator.empty
          }
        }.toDF("gid", "pid")
    }
  }

  /** One partition of the polygon layer: its pids and WKBs (null for a
    * null geometry) in row order, or null for both when its `bytes` of
    * WKB exceed the share it was read with.
    */
  private final case class Slice(bytes: Long, pids: Array[Long], wkbs: Array[Array[Byte]])

  /** One job over the layer's `(pid, geom)` rows: a [[Slice]] per
    * partition, which keeps at most `share` bytes of WKB.
    */
  private def slices(rows: RDD[InternalRow], share: Long): Array[Slice] =
    rows.mapPartitions { it =>
      val pids = new ArrayBuilder.ofLong
      val wkbs = ArrayBuffer.empty[Array[Byte]]
      var bytes = 0L
      it.foreach { row =>
        val wkb = if (row.isNullAt(1)) null else row.getBinary(1)
        if (wkb != null) bytes += wkb.length
        if (bytes <= share) { pids += row.getLong(0); wkbs += wkb }
      }
      Iterator.single(
        if (bytes <= share) Slice(bytes, pids.result(), wkbs.toArray)
        else Slice(bytes, null, null))
    }.collect()

  /** The broadcast cell index: `cells` sorted, cell `cells(j)`'s
    * candidate polygons at `cands(offs(j))` until `cands(offs(j + 1))` in
    * layer order; polygon q is `pids(q)`, its rings `rings(q)` until
    * `rings(q + 1)` of `starts`, vertices stored end to end in xs/ys.
    */
  private final case class PolyIndex(cells: Array[Long], offs: Array[Int], cands: Array[Int],
                                     pids: Array[Long], rings: Array[Int], starts: Array[Int],
                                     xs: Array[Double], ys: Array[Double]) {
    def contains(q: Int, x: Double, y: Double): Boolean =
      GPolygon.evenOdd(starts, rings(q), rings(q + 1), xs, ys, x, y)
  }

  private object PolyIndex {
    /** Decodes the polygons of `fetched` in order (anything else is
      * skipped) and indexes each under every cell its bbox overlaps.
      */
    def apply(fetched: Array[Slice], cellSize: Double): PolyIndex = {
      val pids = new ArrayBuilder.ofLong
      val rings = new ArrayBuilder.ofInt
      val starts = new ArrayBuilder.ofInt
      val xs = new ArrayBuilder.ofDouble
      val ys = new ArrayBuilder.ofDouble
      val hitCells = new ArrayBuilder.ofLong // (cell, polygon) pairs in layer order
      val hitPolys = new ArrayBuilder.ofInt
      var nPolys = 0; var nRings = 0; var nVerts = 0
      rings += 0
      fetched.foreach { sl =>
        var i = 0
        while (i < sl.pids.length) {
          Wkb.read(sl.wkbs(i)) match {
            case Some(p: GPolygon) =>
              pids += sl.pids(i)
              p.partStarts.foreach(s => starts += nVerts + s)
              nRings += p.partStarts.length
              rings += nRings
              xs ++= p.xs; ys ++= p.ys
              nVerts += p.xs.length
              val (mnx, mny, mxx, mxy) = p.bbox
              Tiling.bboxCells(mnx, mny, mxx, mxy, cellSize).foreach { c =>
                hitCells += c; hitPolys += nPolys
              }
              nPolys += 1
            case _ =>
          }
          i += 1
        }
      }
      // a stable sort of the pairs by cell keeps each cell's polygons in
      // layer order
      val hc = hitCells.result(); val hp = hitPolys.result()
      val order = hc.indices.sortBy(hc(_)).toArray
      val runs = order.indices.filter(e => e == 0 || hc(order(e)) != hc(order(e - 1))).toArray
      val cells = runs.map(e => hc(order(e)))
      val offs = runs :+ order.length
      val cands = order.map(hp(_))
      PolyIndex(cells, offs, cands, pids.result(), rings.result(), starts.result(),
        xs.result(), ys.result())
    }
  }
}
