package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Planar grid tiling index. Replaces the reference's reliance on PostGIS
  * GIST indexes (`postgeoda/notes.md:174-200`) with an equi-joinable cell
  * id: points land in one cell, polygons explode to every bbox-overlapping
  * cell, and spatial joins become shuffles keyed by cell (SURVEY §7.3-7.4).
  *
  * The cell id formula is deliberately simple arithmetic —
  * `(ix + OFF) * 2^21 + (iy + OFF)` — so the same definition is
  * expressible in ANSI SQL for the DuckDB oracle, and so Iceberg/parquet
  * min-max stats on the cell column give partition pruning for free.
  * Valid for |ix|,|iy| < 2^20 (±10^6 cells per axis).
  */
object Tiling {
  val Off: Long = 1L << 20
  val Mul: Long = 1L << 21

  @inline def ix(x: Double, cellSize: Double): Long =
    math.floor(x / cellSize).toLong

  @inline def cellId(x: Double, y: Double, cellSize: Double): Long =
    (ix(x, cellSize) + Off) * Mul + (ix(y, cellSize) + Off)

  @inline def cellOf(ixv: Long, iyv: Long): Long = (ixv + Off) * Mul + (iyv + Off)

  @inline def cellIx(cell: Long): Long = cell / Mul - Off
  @inline def cellIy(cell: Long): Long = cell % Mul - Off

  /** Column form — pure `functions._` arithmetic, stays in codegen and
    * matches the oracle SQL `(CAST(floor(x/s) AS BIGINT)+1048576)*2097152
    * + CAST(floor(y/s) AS BIGINT)+1048576` exactly.
    */
  def cellIdCol(x: Column, y: Column, cellSize: Double): Column =
    (floor(x / cellSize).cast("long") + Off) * Mul +
      (floor(y / cellSize).cast("long") + Off)

  /** `(gid long, x, y)` with every row checked: a null gid, or a null,
    * NaN or infinite x/y, fails the query with a message that starts with
    * `what` (the operator reading the points) and names the gid. The
    * check wraps x and y themselves so it runs before the cell id
    * arithmetic; without it a raw read takes null as 0.0, and NaN falls
    * in no cell.
    */
  def checkedPoints(points: DataFrame, what: String): DataFrame = {
    val gid = col("gid").cast("long")
    def bad(c: Column): Column = c.isNull || isnan(c) || abs(c) === Double.PositiveInfinity
    val fail = raise_error(concat(lit(s"$what input gid "), shown(gid), lit(" has x="),
      shown(col("x")), lit(", y="), shown(col("y")),
      lit("; gid must be non-null and x, y finite")))
    val badRow = gid.isNull || bad(col("x")) || bad(col("y"))
    points.select(gid.as("gid"), when(badRow, fail).otherwise(col("x")).as("x"),
      when(badRow, fail).otherwise(col("y")).as("y"))
  }

  /** A value as an error message shows it: null as "null". */
  def shown(c: Column): Column = coalesce(c.cast("string"), lit("null"))

  /** All cells of the Chebyshev-radius-`r` block around a cell. */
  def block(cell: Long, r: Int): Array[Long] = {
    val cx = cellIx(cell); val cy = cellIy(cell)
    val out = new Array[Long]((2 * r + 1) * (2 * r + 1))
    var k = 0
    var dx = -r
    while (dx <= r) {
      var dy = -r
      while (dy <= r) { out(k) = cellOf(cx + dx, cy + dy); k += 1; dy += 1 }
      dx += 1
    }
    out
  }

  /** Only the ring at exact Chebyshev radius `r` (block minus interior). */
  def ring(cell: Long, r: Int): Array[Long] = {
    if (r == 0) return Array(cell)
    val cx = cellIx(cell); val cy = cellIy(cell)
    val out = new Array[Long](8 * r)
    var k = 0
    var dx = -r
    while (dx <= r) {
      var dy = -r
      while (dy <= r) {
        if (math.max(math.abs(dx), math.abs(dy)) == r) {
          out(k) = cellOf(cx + dx, cy + dy); k += 1
        }
        dy += 1
      }
      dx += 1
    }
    out
  }

  /** Cells overlapped by a bbox (for polygon tiling). */
  def bboxCells(minX: Double, minY: Double, maxX: Double, maxY: Double,
                cellSize: Double): Array[Long] = {
    val x0 = ix(minX, cellSize); val x1 = ix(maxX, cellSize)
    val y0 = ix(minY, cellSize); val y1 = ix(maxY, cellSize)
    val out = new Array[Long](((x1 - x0 + 1) * (y1 - y0 + 1)).toInt)
    var k = 0
    var cx = x0
    while (cx <= x1) {
      var cy = y0
      while (cy <= y1) { out(k) = cellOf(cx, cy); k += 1; cy += 1 }
      cx += 1
    }
    out
  }
}
