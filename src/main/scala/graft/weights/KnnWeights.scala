package graft.weights

import graft.core.{Dist, Parallelism, Tiling}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** k-nearest-neighbor spatial weights, rebuilt Spark-first, and the one
  * kNN engine of the repo: the attribute-space kNN of the neighbor match
  * test (`NeighborMatch`) runs on it too.
  *
  * Reference behavior: `knn_weights(gid, geom, k [, power, is_inverse,
  * is_arc, is_mile])` (`postgeoda/src/weights_knn.c:58-202`,
  * `postgeoda/src/proxy.cpp:130-139`) — a single-node kd-tree build.
  *
  * Metrics: a point is a gid and a coordinate vector whose first two
  * coordinates, (x, y), place it on the grid. Spatial points are just
  * (x, y), ranked by planar or arc (great-circle, miles or km) distance.
  * Attribute vectors `v` of d values are ranked by euclidean (L2) or
  * manhattan (L1) distance over all d, and projected to (v(0), v(1)),
  * with y = 0 for one dim. No metric is smaller than the projection's
  * gap, so the certification below holds for all four.
  *
  * Spark shape (SURVEY §7.4): grid cells sized for ~k points per
  * Chebyshev-1 block; every point is SHIPPED to the 9 cells of its block
  * (one shuffle keyed by cell), then a per-cell `flatMapGroups` computes
  * each home point's top-k with a bounded max-heap — no global sort, no
  * second aggregation shuffle: the group pass emits finished neighbor
  * arrays. A point's top-k is provably complete when its kth-neighbor
  * distance < cellSize (anything outside the block is ≥ cellSize away).
  * The rare uncertified points (stragglers, <<1% for any sane cell size)
  * are collected once and finished by a broadcast completion pass: each
  * straggler gets the smallest ring its round-1 heap proves is enough
  * (an under-filled heap doubles its ring per pass; past ring
  * [[MaxRing]] it takes every point), and one `mapPartitions` over the
  * points offers each point to the stragglers whose ring covers its
  * cell — one job per pass, no shuffle, no join. Deterministic: neighbor
  * order (distance, gid) asc.
  *
  * Driver bound: a completion pass holds at most [[MaxPassEntries]]
  * entries of straggler state (a straggler costs k heap slots plus one
  * slot per cell of its ring), and the driver holds at most one batch of
  * MaxPassEntries / (k + 1) stragglers and their finished rows; more
  * stragglers are fetched in gid order and finished by further passes of
  * the same code.
  *
  * Input: a null gid, a null, NaN or infinite x/y, or an attribute
  * vector that is null, holds a null, NaN or infinite value, or does not
  * hold d values, fails the build with a message naming the gid.
  *
  * Scale notes: shuffle volume is 9×|points| fixed-width rows; skewed
  * (dense) cells only grow the in-memory candidate buffer of their one
  * group — for pathological density add a salt level to the tiling (AQE
  * neither splits nor coalesces the group pass's explicitly sized
  * exchange). The reference's manual
  * `knn_weights_sub` sharding (`weights_knn.c:213-369`) is obsolete here.
  */
object KnnWeights {

  case class Conf(
      k: Int,
      power: Double = 1.0,
      isInverse: Boolean = false,
      isArc: Boolean = false,
      isMile: Boolean = true,
      kernel: Option[String] = None,
      adaptiveBandwidth: Boolean = true,
      useKernelDiagonals: Boolean = false,
      cellSize: Option[Double] = None)

  /** Widest Chebyshev ring a completion pass scans by cells; a straggler
    * no ring up to it can certify is offered every point.
    */
  val MaxRing = 64

  /** Driver bound on one completion pass's straggler state, in entries:
    * each straggler costs k heap slots plus one index slot per cell of
    * its ring (one when it takes every point). About 16 bytes an entry,
    * so a pass's broadcast index and merged heaps stay within ~16 MB
    * each; more stragglers wait for the next pass.
    */
  val MaxPassEntries: Int = 1 << 20

  /** Ring value of a straggler that is offered every point. */
  private val AllPoints = Int.MaxValue

  /** The distance a build ranks by (see the object doc): `kind` is one
    * of the constants in the companion; `dims` is the length of the
    * vector `v` that L2 and L1 points carry (0 for planar and arc, whose
    * points carry none); `mile` picks arc's unit.
    */
  private final case class Metric(kind: Int, dims: Int, mile: Boolean) {
    def vector: Boolean = dims > 0
  }
  private object Metric {
    val Planar = 0; val Arc = 1; val L2 = 2; val L1 = 3
  }

  /** Auto cell size targeting ~k candidates per 3x3 block. Points spread
    * along one axis only (the other extent under k/n of it, e.g. one-dim
    * attributes at y = 0) get ~k per cell along that axis instead of an
    * area rule that shrinks to a sliver of the 1e-9 floor.
    */
  def autoCellSize(points: DataFrame, k: Int): Double = {
    val e = Tiling.extent(points)
    // an empty frame has no extent: any positive cell size is exact
    if (e.n == 0L) return 1.0
    val w = math.max(e.maxX - e.minX, 1e-9)
    val h = math.max(e.maxY - e.minY, 1e-9)
    val perPoint = math.max(1, k).toDouble / e.n
    math.max(math.max(math.sqrt(w * h * perPoint), math.max(w, h) * perPoint), 1e-9)
  }

  /** Distance under `m` from point a to point b, given their grid
    * coordinates; L2 and L1 read `m.dims` values of each vector, a's from
    * `av` at `ai` and b's from `bv` at `bi`. The sum starts at 0.0, so
    * two-dim L2 is bit-equal to planar distance.
    */
  @inline private def dist(m: Metric, ax: Double, ay: Double, av: Array[Double], ai: Int,
                           bx: Double, by: Double, bv: Array[Double], bi: Int): Double =
    if (m.kind == Metric.Planar) Dist.euclidean(ax, ay, bx, by)
    else if (m.kind == Metric.Arc) Dist.arc(ax, ay, bx, by, m.mile)
    else {
      val l1 = m.kind == Metric.L1
      var acc = 0.0; var j = 0
      while (j < m.dims) {
        val d = av(ai + j) - bv(bi + j)
        acc += (if (l1) math.abs(d) else d * d)
        j += 1
      }
      if (l1) acc else math.sqrt(acc)
    }

  /** Certification bound: the minimum possible distance to any point
    * OUTSIDE the ±`cells` Chebyshev block of a home point at latitude
    * `y`, in the same units as `dist`. Planar: cells × cellSize. Arc:
    * the block guarantees ≥ cells×cellSize degrees of separation in lat
    * or lon; lat degrees are worth degLen, lon degrees shrink by cos at
    * the worst latitude the un-excluded band can reach (|y| + extent),
    * so the bound uses that cos — the unit fix for the old
    * kth(miles) < cellSize(degrees) comparison. L2 and L1: as planar.
    */
  @inline private def certBound(m: Metric, cellSizeDeg: Double,
                                cells: Int, y: Double): Double = {
    val span = cells * cellSizeDeg
    if (m.kind != Metric.Arc) span
    else {
      val degLen = (if (m.mile) Dist.EarthMiles else Dist.EarthKm) *
        math.Pi / 180.0
      val phi = math.min(math.abs(y) + span, 89.999)
      span * degLen * math.cos(math.toRadians(phi))
    }
  }

  /** The ring the next pass must scan for a home whose heap over its
    * ±`scanned` block holds `size` entries with kth distance `kth`, or 0
    * when that heap is already exact. A full heap is exact once some
    * r ≤ `scanned` has certBound(r) > kth: everything outside that block
    * is farther than the kth kept neighbor. Otherwise it needs the
    * smallest r that does (searched, not solved: the arc bound is not
    * monotone in r), or every point past [[MaxRing]]. An under-filled
    * heap doubles its ring.
    */
  private def nextRing(m: Metric, k: Int, cellSize: Double, scanned: Int,
                       size: Int, kth: Double, y: Double): Int =
    if (scanned == AllPoints) 0
    else if (size == k) {
      var r = 1
      while (r <= MaxRing && !(certBound(m, cellSize, r, y) > kth)) r += 1
      if (r <= scanned) 0 else if (r <= MaxRing) r else AllPoints
    } else if (2 * scanned <= MaxRing) 2 * scanned
    else AllPoints

  /** The attribute vector `v` (array<double>) of row `gid`, checked by
    * `Tiling.checkedPoints`' rule: a null gid, a null vector, a null, NaN or
    * infinite value, or a length other than `dims` fails with a message
    * naming the gid.
    */
  private[graft] def checkedVector(gid: Column, v: Column, dims: Int): Column = {
    val badRow = gid.isNull || v.isNull || size(v) =!= dims ||
      exists(v, e => e.isNull || isnan(e) || abs(e) === Double.PositiveInfinity)
    when(badRow, raise_error(concat(lit("kNN input gid "), Tiling.shown(gid), lit(" has values "),
      Tiling.shown(v), lit(s"; gid must be non-null and the vector hold $dims finite values"))))
      .otherwise(v)
  }

  /** Bounded max-heap of (dist, gid), capacity k, with deterministic
    * (dist, gid) ordering.
    */
  private final class TopK(k: Int) extends Serializable {
    val ds = new Array[Double](k)
    val gs = new Array[Long](k)
    var size = 0
    @inline private def worse(i: Int, j: Int): Boolean =
      ds(i) > ds(j) || (ds(i) == ds(j) && gs(i) > gs(j))
    @inline private def swap(i: Int, j: Int): Unit = {
      val d = ds(i); ds(i) = ds(j); ds(j) = d
      val g = gs(i); gs(i) = gs(j); gs(j) = g
    }
    def offer(d: Double, g: Long): Unit = {
      if (size < k) {
        ds(size) = d; gs(size) = g; size += 1
        var i = size - 1
        // sift up: root must hold the WORST (largest) kept entry
        while (i > 0 && worse(i, (i - 1) / 2)) { swap((i - 1) / 2, i); i = (i - 1) / 2 }
      } else if (d < ds(0) || (d == ds(0) && g < gs(0))) {
        ds(0) = d; gs(0) = g
        var i = 0
        var go = true
        while (go) {
          val l = 2 * i + 1; val r = 2 * i + 2
          var m = i
          if (l < size && worse(l, m)) m = l
          if (r < size && worse(r, m)) m = r
          if (m == i) go = false else { swap(i, m); i = m }
        }
      }
    }
    /** Offers every entry of `o`, a heap over disjoint candidates. */
    def merge(o: TopK): TopK = {
      var i = 0
      while (i < o.size) { offer(o.ds(i), o.gs(i)); i += 1 }
      this
    }
    /** kth (largest kept) distance, or +inf when under-filled. */
    def kth: Double = if (size == 0) Double.PositiveInfinity else ds(0)
    /** drain into (nbrs, dists) sorted by (dist, gid) asc. */
    def sortedOut(): (Array[Long], Array[Double]) = {
      val idx = (0 until size).sortBy(i => (ds(i), gs(i)))
      (idx.map(gs).toArray, idx.map(ds).toArray)
    }
  }

  /** Complete per-point result: (gid, x, y, nbrs sorted, dists sorted).
    * `homeFilter` restricts which points get RESULTS (all points remain
    * candidates) — the engine-side analogue of `knn_weights_sub`'s
    * [start, end) sharding: the group pass skips non-matching homes, so
    * compute is pruned to the requested slice, not post-filtered.
    */
  def knnRows(points: DataFrame, conf: Conf,
              homeFilter: Option[Column] = None): DataFrame =
    engine(Tiling.checkedPoints(points, "kNN"), conf.k,
      Metric(if (conf.isArc) Metric.Arc else Metric.Planar, 0, conf.isMile),
      conf.cellSize, homeFilter)

  /** kNN rows, as [[knnRows]], over attribute vectors `(gid, v)` of
    * `dims` values, ranked by euclidean or, when `manhattan`, manhattan
    * distance over all of them; x and y are the vectors' projection.
    */
  private[graft] def vectorRows(points: DataFrame, k: Int, dims: Int,
                                manhattan: Boolean): DataFrame = {
    require(dims > 0, "attribute kNN needs at least one value per vector")
    val gid = col("gid").cast("long"); val v = col("v")
    val checked = points.select(gid.as("gid"),
        checkedVector(gid, v.cast("array<double>"), dims).as("v"))
      .select(col("gid"), v(0).as("x"), (if (dims > 1) v(1) else lit(0.0)).as("y"), v)
    engine(checked, k, Metric(if (manhattan) Metric.L1 else Metric.L2, dims, mile = false),
      None, None)
  }

  /** The engine over `checked` points `(gid, x, y)`, plus `v` for a
    * vector metric: round 1's cell-keyed group pass, then the completion
    * passes for its stragglers. Returns `(gid, x, y, nbrs, dists)`.
    */
  private def engine(checked: DataFrame, k: Int, m: Metric, cellSize: Option[Double],
                     homeFilter: Option[Column]): DataFrame = {
    val spark = checked.sparkSession
    val s = cellSize.getOrElse(autoCellSize(checked, k))
    val stride = m.dims // vector values per point in the flat buffers below
    val vcol = if (m.vector) Seq(col("v")) else Nil

    val pts = checked.withColumn("cell", Tiling.cellIdCol(col("x"), col("y"), s))

    // ship every point to its 9-cell block; home flagged by delta==0.
    // Grouping is done by hash-repartition + in-partition sort on the
    // cell key — this stays in Tungsten binary rows through the whole
    // exchange (a Dataset groupByKey here deserializes all 9N rows into
    // JVM tuples before the shuffle and costs ~3x the entire kNN math).
    val deltas = (for (dx <- -1 to 1; dy <- -1 to 1)
      yield dx.toLong * Tiling.Mul + dy).toArray
    val homePred = homeFilter.getOrElse(lit(true))
    // the output keeps this partitioning, so every consumer of the
    // weights runs at the session width too (graft.core.Parallelism)
    val shippedDf = Parallelism.spread(pts
      .withColumn("__delta", explode(typedLit(deltas)))
      .select(Seq((col("cell") + col("__delta")).as("tcell"), col("gid"),
        col("x"), col("y"),
        ((col("__delta") === 0L) && homePred).as("home")) ++ vcol: _*),
        col("tcell"))
      .sortWithinPartitions("tcell")

    // one pass per cell-run over raw InternalRows: bounded-heap top-k per
    // home point. Fields read straight out of UnsafeRows into primitive
    // buffers — zero boxing for the 9N shipped rows, which keeps the hot
    // stage allocation-free (only the 2M output rows allocate).
    val rowSchema = StructType(Seq(
      StructField("gid", LongType, nullable = false),
      StructField("x", DoubleType, nullable = false),
      StructField("y", DoubleType, nullable = false),
      StructField("nbrs", ArrayType(LongType, containsNull = false)),
      StructField("dists", ArrayType(DoubleType, containsNull = false))))
    // ring: 0 when certified, else the ring the completion pass scans;
    // v: a vector metric's values, which a straggler takes along
    val ringSchema = rowSchema.add("ring", IntegerType, nullable = false)
    val outSchema =
      if (m.vector) ringSchema.add("v", ArrayType(DoubleType, containsNull = false))
      else ringSchema
    // round 1's rows are stored serialized and checkpointed by the first
    // straggler fetch, the first job that reads them (Materialize)
    val round1 = graft.core.Materialize.onFirstJob(spark, org.apache.spark.sql.graftshim.ColumnShim
      .toInternalRdd(shippedDf)
      .mapPartitions { it =>
        val unsafe = UnsafeProjection.create(outSchema)
        new Iterator[InternalRow] {
          private var gBuf = new Array[Long](256)
          private var xBuf = new Array[Double](256)
          private var yBuf = new Array[Double](256)
          private var hBuf = new Array[Boolean](256)
          private var vBuf = new Array[Double](256 * stride)
          private var n = 0
          private var nextRow: InternalRow = if (it.hasNext) it.next() else null
          private var pendingIdx = 0 // index into buffered homes
          private def grow(): Unit = {
            val cap = gBuf.length * 2
            gBuf = java.util.Arrays.copyOf(gBuf, cap)
            xBuf = java.util.Arrays.copyOf(xBuf, cap)
            yBuf = java.util.Arrays.copyOf(yBuf, cap)
            hBuf = java.util.Arrays.copyOf(hBuf, cap)
            vBuf = java.util.Arrays.copyOf(vBuf, cap * stride)
          }
          private def loadRun(): Unit = {
            n = 0
            pendingIdx = 0
            if (nextRow == null) return
            val cell = nextRow.getLong(0)
            var go = true
            while (go) {
              if (n == gBuf.length) grow()
              gBuf(n) = nextRow.getLong(1)
              xBuf(n) = nextRow.getDouble(2)
              yBuf(n) = nextRow.getDouble(3)
              hBuf(n) = nextRow.getBoolean(4)
              if (stride > 0) {
                val v = nextRow.getArray(5)
                var j = 0
                while (j < stride) { vBuf(n * stride + j) = v.getDouble(j); j += 1 }
              }
              n += 1
              if (it.hasNext) {
                nextRow = it.next()
                go = nextRow.getLong(0) == cell
              } else { nextRow = null; go = false }
            }
          }
          private def seekHome(): Boolean = {
            while (true) {
              while (pendingIdx < n && !hBuf(pendingIdx)) pendingIdx += 1
              if (pendingIdx < n) return true
              if (nextRow == null) return false
              loadRun()
            }
            false
          }
          def hasNext: Boolean = seekHome()
          def next(): InternalRow = {
            if (!seekHome()) throw new NoSuchElementException
            val i0 = pendingIdx
            pendingIdx += 1
            val gid = gBuf(i0); val x = xBuf(i0); val y = yBuf(i0)
            val heap = new TopK(k)
            var i = 0
            while (i < n) {
              if (gBuf(i) != gid)
                heap.offer(dist(m, x, y, vBuf, i0 * stride, xBuf(i), yBuf(i), vBuf, i * stride),
                  gBuf(i))
              i += 1
            }
            val (nbrs, dists) = heap.sortedOut()
            val ring = nextRing(m, k, s, 1, heap.size, heap.kth, y)
            val fields = Array[Any](gid, x, y,
              ArrayData.toArrayData(nbrs), ArrayData.toArrayData(dists), ring)
            unsafe(new GenericInternalRow(if (stride == 0) fields else fields :+
              ArrayData.toArrayData(java.util.Arrays.copyOfRange(vBuf, i0 * stride, (i0 + 1) * stride))))
              .copy() // a stored row must not share the projection's buffer
          }
        }
      })
    val parts = complete(round1, checked, k, m, s, rowSchema)
    // certified rows read the checkpoint; stragglers' rows are one
    // partition per batch, so the frame has width + 1 partitions
    (org.apache.spark.sql.graftshim.ColumnShim.internalDf(spark, round1, outSchema)
      .filter(col("ring") === 0).select("gid", "x", "y", "nbrs", "dists") +: parts)
      .reduce(_ unionByName _)
  }

  /** Finishes the stragglers among round 1's rows `(gid, x, y, nbrs,
    * dists, ring[, v])` by completion passes over the `checked` points;
    * returns their rows as frames of `schema`. Stragglers come to the
    * driver in gid order, at most `batch` at a time (the most one pass
    * could take): each partition sends its lowest `batch + 1` by gid,
    * the bound an `orderBy.limit` has. The first fetch also fills round
    * 1's cache: it is the first job over those rows. Each pass takes a
    * gid-order prefix of the pending ones within [[MaxPassEntries]] and
    * sends back those it could not finish with their next ring. A
    * batch's rows stay a driver-local relation only when no batch
    * follows; otherwise they are checkpointed off the driver, so it never
    * holds more than one batch of rows.
    */
  private def complete(round1: RDD[InternalRow], checked: DataFrame, k: Int, m: Metric,
                       s: Double, schema: StructType): Seq[DataFrame] = {
    val spark = checked.sparkSession
    val batch = math.max(1, MaxPassEntries / (k + 1))
    val stride = m.dims
    def fetch(after: Option[Long]): Array[Straggler] = {
      val from = after.getOrElse(Long.MinValue); val all = after.isEmpty
      round1.mapPartitions { it =>
        // max-heap by gid: the partition's lowest batch + 1 stay
        val low = new java.util.PriorityQueue[Straggler](
          (a: Straggler, b: Straggler) => java.lang.Long.compare(b.gid, a.gid))
        it.foreach { r =>
          val g = r.getLong(0); val ring = r.getInt(5)
          if (ring > 0 && (all || g > from) && (low.size <= batch || g < low.peek.gid)) {
            low.add(Straggler(g, r.getDouble(1), r.getDouble(2), ring,
              if (stride > 0) r.getArray(6).toDoubleArray() else Array.emptyDoubleArray))
            if (low.size > batch + 1) low.poll()
          }
        }
        Iterator.single(low.toArray(Array.empty[Straggler]))
      }.collect().flatten.sortBy(_.gid).take(batch + 1) // driver: bounded, batch + 1 a partition
    }
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var fetched = fetch(None)
    while (fetched.nonEmpty) {
      val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
      var pending = fetched.take(batch).toSeq
      while (pending.nonEmpty) {
        var cost = 0L
        val fit = pending.indexWhere { st =>
          cost += k + (if (st.ring == AllPoints) 1L
            else (2L * st.ring + 1) * (2L * st.ring + 1))
          cost > MaxPassEntries
        }
        val (now, later) = pending.splitAt(if (fit < 0) pending.length else math.max(1, fit))
        val heaps = completionPass(checked, k, m, s, now.toArray)
        val again = now.indices.flatMap { i =>
          val st = now(i); val h = heaps(i)
          val next = nextRing(m, k, s, st.ring, h.size, h.kth, st.y)
          if (next == 0) {
            val (nbrs, dists) = h.sortedOut()
            rows += Row(st.gid, st.x, st.y, nbrs, dists)
            None
          } else Some(st.copy(ring = next))
        }
        pending = again ++ later
      }
      val more = fetched.length > batch
      // one partition: a driver-local relation is otherwise sliced into
      // up to defaultParallelism partitions of a few rows each
      val part = spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), schema)
        .coalesce(1)
      parts += (if (more) graft.core.Materialize.releasing(part, Nil) else part)
      fetched = if (more) fetch(Some(fetched(batch - 1).gid)) else Array.empty
    }
    parts.toSeq
  }

  /** A home whose top-k round 1 could not certify, with the Chebyshev
    * ring (or [[AllPoints]]) its next completion pass scans and a vector
    * metric's values `v` (empty otherwise).
    */
  private final case class Straggler(gid: Long, x: Double, y: Double, ring: Int,
                                     v: Array[Double])

  /** What a completion pass broadcasts: the stragglers and a sorted index
    * of their ring cells. An index key packs (cell << 21 | straggler): a
    * valid cell id is < 2^42 and a pass has < 2^20 stragglers. `vs` holds
    * the stragglers' vectors end to end.
    */
  private final case class PassPlan(gids: Array[Long], xs: Array[Double],
                                    ys: Array[Double], vs: Array[Double],
                                    keys: Array[Long], everywhere: Array[Int])

  /** One job over the checked `points`: offer every point to each
    * straggler whose ring covers its cell, and to every straggler that
    * takes all points; per-partition heaps merge by `treeReduce`. Returns
    * one heap per straggler, in `todo` order, holding the top-k of its
    * ring's block (or of all points).
    */
  private def completionPass(points: DataFrame, k: Int, m: Metric, s: Double,
                             todo: Array[Straggler]): Array[TopK] = {
    val keys = todo.indices.iterator.filter(todo(_).ring != AllPoints).flatMap { i =>
      val st = todo(i)
      val home = Tiling.cellId(st.x, st.y, s)
      Tiling.block(home, st.ring).iterator.map(c => (c << 21) | i)
    }.toArray
    java.util.Arrays.sort(keys)
    val sc = points.sparkSession.sparkContext
    val plan = sc.broadcast(PassPlan(todo.map(_.gid), todo.map(_.x), todo.map(_.y),
      todo.flatMap(_.v), keys, todo.indices.filter(todo(_).ring == AllPoints).toArray))
    val n = todo.length
    val stride = m.dims
    try {
      org.apache.spark.sql.graftshim.ColumnShim
        .toInternalRdd(points)
        .mapPartitions { it =>
          val p = plan.value
          val heaps = Array.fill(n)(new TopK(k))
          val pv = new Array[Double](stride)
          it.foreach { row =>
            val g = row.getLong(0); val x = row.getDouble(1); val y = row.getDouble(2)
            if (stride > 0) {
              val v = row.getArray(3)
              var j = 0
              while (j < stride) { pv(j) = v.getDouble(j); j += 1 }
            }
            def offer(i: Int): Unit =
              if (g != p.gids(i))
                heaps(i).offer(dist(m, p.xs(i), p.ys(i), p.vs, i * stride, x, y, pv, 0), g)
            val cell = Tiling.cellId(x, y, s)
            var j = java.util.Arrays.binarySearch(p.keys, cell << 21)
            if (j < 0) j = -j - 1
            while (j < p.keys.length && (p.keys(j) >>> 21) == cell) {
              offer((p.keys(j) & ((1L << 21) - 1)).toInt)
              j += 1
            }
            p.everywhere.foreach(offer)
          }
          Iterator.single(heaps)
        }
        .treeReduce { (a, b) => a.indices.foreach(i => a(i).merge(b(i))); a }
    } finally plan.destroy()
  }

  /** The largest last distance of `rows`' `dists`, in one fold (a global
    * agg().head() runs two jobs under AQE); −∞ when no row has one, so
    * that no rows give no weights rather than a null bandwidth.
    */
  private def longestLastDist(rows: DataFrame): Double =
    org.apache.spark.sql.graftshim.ColumnShim.toInternalRdd(rows.select(col("dists")))
      .mapPartitions { it =>
        var most = Double.NegativeInfinity
        it.foreach { r =>
          val d = if (r.isNullAt(0)) null else r.getArray(0)
          if (d != null && d.numElements() > 0 && !d.isNullAt(d.numElements() - 1))
            most = math.max(most, d.getDouble(d.numElements() - 1))
        }
        Iterator.single(most)
      }.fold(Double.NegativeInfinity)(math.max)

  /** `knn_weights_sub(gid, geom, k, start, end)` parity
    * (`postgeoda/src/weights_knn.c:213-369`): kNN for gids in
    * [startGid, endGid) only — the reference's manual sharding device.
    * All points remain CANDIDATES but only the slice gets computed
    * (home-side pruning inside the group pass), so a 1% slice costs ~1%
    * of the heap work plus the fixed candidate shuffle.
    */
  def buildSub(points: DataFrame, conf: Conf, startGid: Long,
               endGid: Long): DataFrame =
    build(points, conf,
      Some(col("gid") >= startGid && col("gid") < endGid))

  /** Exploded `(gid, nbr, dist, rk)` pairs, rk 1..k by (dist, nbr) asc. */
  def pairs(points: DataFrame, conf: Conf): DataFrame =
    knnRows(points, conf)
      .select(col("gid"), posexplode(arrays_zip(col("nbrs"), col("dists"))))
      .select(col("gid"), col("col.nbrs").as("nbr"),
        col("col.dists").as("dist"), (col("pos") + 1).cast("int").as("rk"))

  /** Per-row weights `(gid, nbrs array<long>, wts array<double>)`;
    * `wts` null for plain binary kNN (GAL), populated for inverse-
    * distance / kernel variants (GWT). No extra shuffle — the arrays come
    * finished from the group pass.
    */
  def build(points: DataFrame, conf: Conf,
            homeFilter: Option[Column] = None): DataFrame = {
    val rows = knnRows(points, conf, homeFilter)
    val valued = conf.kernel.isDefined || conf.isInverse || conf.power != 1.0
    if (!valued)
      rows.select(col("gid"), col("nbrs"),
        lit(null).cast("array<double>").as("wts"))
    else conf.kernel match {
      case Some(kname) =>
        val bw =
          if (conf.adaptiveBandwidth) element_at(col("dists"), -1)
          else lit(longestLastDist(rows))
        val kv: Column => Column = { u =>
          kname match {
            case "triangular"   => when(u >= 1, 0.0).otherwise(lit(1.0) - u)
            case "uniform"      => when(u >= 1, 0.0).otherwise(lit(0.5))
            case "epanechnikov" => when(u >= 1, 0.0).otherwise(lit(0.75) * (lit(1.0) - u * u))
            case "quartic"      => when(u >= 1, 0.0).otherwise(lit(15.0 / 16.0) * pow(lit(1.0) - u * u, 2))
            case "gaussian"     => exp(lit(-0.5) * u * u) / math.sqrt(2.0 * math.Pi)
            case other          => throw new IllegalArgumentException(s"kernel $other")
          }
        }
        // kernel weights include the diagonal (self) entry, matching the
        // reference's kernel handling (`sql/weights_knn.sql:40-46`,
        // `proxy.cpp:156-161` use_kernel_diagonal): self weight is
        // kernel(0) when useKernelDiagonals, else 1.0. Self sits first
        // (distance 0 precedes every neighbor in the sorted order).
        val diagW: Column =
          if (conf.useKernelDiagonals) kv(lit(0.0)) else lit(1.0)
        rows.select(col("gid"),
          concat(array(col("gid")), col("nbrs")).as("nbrs"),
          concat(array(diagW),
            transform(col("dists"), d => kv(d / bw))).as("wts"))
      case None =>
        val wv: Column => Column = { d =>
          val p = if (conf.power == 1.0) d else pow(d, conf.power)
          if (conf.isInverse) when(p === 0.0, 0.0).otherwise(lit(1.0) / p)
          else p
        }
        rows.select(col("gid"), col("nbrs"),
          transform(col("dists"), wv).as("wts"))
    }
  }
}
