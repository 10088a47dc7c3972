package graft.core

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable.ArrayBuffer

/** Minimal WKB geometry model mirroring what the reference accepts:
  * Point / MultiPoint / Polygon / MultiPolygon, anything else → null
  * geometry (`postgeoda/src/proxy.cpp:83-102`). Two reference quirks are
  * reproduced on purpose (SURVEY §7.5):
  *   - MultiPoint keeps only its FIRST point (`postgeoda.cpp:102-117`);
  *   - MultiPolygon is flattened into one parts-list polygon
  *     (`postgeoda.cpp:184-261`).
  */
sealed trait Geom extends Serializable {
  def centroid: (Double, Double)
  def bbox: (Double, Double, Double, Double)
}

final case class GPoint(x: Double, y: Double) extends Geom {
  def centroid: (Double, Double) = (x, y)
  def bbox: (Double, Double, Double, Double) = (x, y, x, y)
}

/** Polygon with parts (ring start offsets into the flat coord arrays);
  * mirrors gda::PolygonContents (`postgeoda.cpp:130-181`). Holes are kept
  * as parts — contiguity only needs vertices/edges, PIP uses even-odd.
  */
final case class GPolygon(partStarts: Array[Int], xs: Array[Double],
                          ys: Array[Double]) extends Geom {
  def numPoints: Int = xs.length
  def centroid: (Double, Double) = {
    // area-weighted centroid of the outer shell set (even-odd signed areas)
    var cx = 0.0; var cy = 0.0; var a2 = 0.0
    var p = 0
    while (p < partStarts.length) {
      val s = partStarts(p)
      val e = if (p + 1 < partStarts.length) partStarts(p + 1) else xs.length
      var i = s
      while (i < e) {
        val j = if (i + 1 < e) i + 1 else s
        val cross = xs(i) * ys(j) - xs(j) * ys(i)
        a2 += cross
        cx += (xs(i) + xs(j)) * cross
        cy += (ys(i) + ys(j)) * cross
        i += 1
      }
      p += 1
    }
    if (a2 == 0.0) {
      // degenerate: mean of vertices
      var sx = 0.0; var sy = 0.0; var i = 0
      while (i < xs.length) { sx += xs(i); sy += ys(i); i += 1 }
      (sx / xs.length, sy / xs.length)
    } else (cx / (3.0 * a2), cy / (3.0 * a2))
  }
  def bbox: (Double, Double, Double, Double) = {
    var mnx = Double.MaxValue; var mny = Double.MaxValue
    var mxx = Double.MinValue; var mxy = Double.MinValue
    var i = 0
    while (i < xs.length) {
      if (xs(i) < mnx) mnx = xs(i); if (xs(i) > mxx) mxx = xs(i)
      if (ys(i) < mny) mny = ys(i); if (ys(i) > mxy) mxy = ys(i)
      i += 1
    }
    (mnx, mny, mxx, mxy)
  }

  /** Even-odd (ray crossing) point-in-polygon over all parts. */
  def contains(px: Double, py: Double): Boolean =
    GPolygon.evenOdd(partStarts, 0, partStarts.length, xs, ys, px, py)
}

object GPolygon {

  /** Even-odd (ray crossing) test of (px, py) against rings `r0` until
    * `r1` of `starts`: ring r holds vertices `starts(r)` until the next
    * ring's start, the last ring until the end of `xs`. One polygon's
    * parts, or one polygon's run of rings in a layer stored end to end.
    */
  def evenOdd(starts: Array[Int], r0: Int, r1: Int, xs: Array[Double],
              ys: Array[Double], px: Double, py: Double): Boolean = {
    var inside = false
    var p = r0
    while (p < r1) {
      val s = starts(p)
      val e = if (p + 1 < starts.length) starts(p + 1) else xs.length
      var i = s
      var j = e - 1
      while (i < e) {
        val xi = xs(i); val yi = ys(i); val xj = xs(j); val yj = ys(j)
        if (((yi > py) != (yj > py)) &&
            (px < (xj - xi) * (py - yi) / (yj - yi) + xi)) inside = !inside
        j = i; i += 1
      }
      p += 1
    }
    inside
  }
}

/** WKB (ISO, 2-D, no SRID) codec. Little- and big-endian reads; LE writes.
  * Supported type codes: 1 Point, 3 Polygon, 4 MultiPoint, 6 MultiPolygon
  * — the exact set the reference dispatches on (`proxy.cpp:83-102`).
  * EWKB SRID flag (0x20000000) is tolerated on read.
  */
object Wkb {
  private val SRID_FLAG = 0x20000000

  def read(bytes: Array[Byte]): Option[Geom] = {
    if (bytes == null || bytes.length < 5) return None
    try {
      val bb = ByteBuffer.wrap(bytes)
      readGeom(bb)
    } catch { case _: Exception => None }
  }

  private def readGeom(bb: ByteBuffer): Option[Geom] = {
    val byteOrder = bb.get()
    bb.order(if (byteOrder == 1) ByteOrder.LITTLE_ENDIAN
             else ByteOrder.BIG_ENDIAN)
    var tpe = bb.getInt()
    if ((tpe & SRID_FLAG) != 0) { bb.getInt(); tpe = tpe & ~SRID_FLAG }
    tpe & 0xFF match {
      case 1 => Some(GPoint(bb.getDouble(), bb.getDouble()))
      case 3 => Some(readPolygonBody(bb))
      case 4 => // MultiPoint: reference keeps first point only
        val n = bb.getInt()
        if (n <= 0) None
        else {
          // each sub-geom has its own byte-order header
          val sub = readGeom(bb)
          sub.collect { case p: GPoint => p }
        }
      case 6 => // MultiPolygon: flatten all parts into one polygon
        val n = bb.getInt()
        if (n <= 0) None
        else {
          val starts = ArrayBuffer.empty[Int]
          val xs = ArrayBuffer.empty[Double]
          val ys = ArrayBuffer.empty[Double]
          var g = 0
          while (g < n) {
            readGeom(bb) match {
              case Some(p: GPolygon) =>
                val off = xs.length
                p.partStarts.foreach(s => starts += (s + off))
                xs ++= p.xs; ys ++= p.ys
              case _ =>
            }
            g += 1
          }
          Some(GPolygon(starts.toArray, xs.toArray, ys.toArray))
        }
      case _ => None
    }
  }

  private def readPolygonBody(bb: ByteBuffer): GPolygon = {
    val nRings = bb.getInt()
    val starts = new Array[Int](nRings)
    val xs = ArrayBuffer.empty[Double]
    val ys = ArrayBuffer.empty[Double]
    var r = 0
    while (r < nRings) {
      starts(r) = xs.length
      val nPts = bb.getInt()
      var i = 0
      while (i < nPts) {
        val x = bb.getDouble(); val y = bb.getDouble()
        // drop the closing vertex if it repeats the ring start (WKB rings
        // are closed; the vertex model keeps each corner once)
        if (!(i == nPts - 1 && nPts > 1 &&
              x == xs(starts(r)) && y == ys(starts(r)))) {
          xs += x; ys += y
        }
        i += 1
      }
      r += 1
    }
    GPolygon(starts, xs.toArray, ys.toArray)
  }

  def writePoint(x: Double, y: Double): Array[Byte] = {
    val bb = ByteBuffer.allocate(21).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte); bb.putInt(1); bb.putDouble(x); bb.putDouble(y)
    bb.array()
  }

  /** Write a single-ring polygon; `coords` are the distinct corner
    * vertices in order (the closing vertex is appended).
    */
  def writePolygon(coords: Array[(Double, Double)]): Array[Byte] = {
    val n = coords.length + 1
    val bb = ByteBuffer.allocate(1 + 4 + 4 + 4 + 16 * n)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte); bb.putInt(3); bb.putInt(1); bb.putInt(n)
    coords.foreach { case (x, y) => bb.putDouble(x); bb.putDouble(y) }
    bb.putDouble(coords(0)._1); bb.putDouble(coords(0)._2)
    bb.array()
  }
}
