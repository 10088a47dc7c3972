package perfbench

import graft.core.Wkb

/** Seeded input generators. Each is a pure function of its arguments: the
  * same seed gives the same bytes on any machine, and the engine only ever
  * sees the generated rows, never the seed.
  */
object Gen {

  /** Geocode domain of `Webtext.geocode`: coordinates in [0, 180). */
  val Extent = 180.0

  final case class Pages(url: Array[String], text: Array[String]) {
    def size: Int = url.length
  }

  /** Points with one attribute per row; `value2` and `bin` feed the
    * multivariate and binary statistics.
    */
  final case class Points(gid: Array[Long], x: Array[Double], y: Array[Double],
                          value: Array[Double], value2: Array[Double],
                          bin: Array[Double]) {
    def size: Int = gid.length
  }

  /** One independent stream per (seed, purpose), so adding a draw to one
    * generator never shifts another's input.
    */
  def rng(seed: Long, stream: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** Box-Muller on the stream itself, so the draw sequence does not depend
    * on the JDK's `nextGaussian`.
    */
  private def gaussian(r: java.util.SplittableRandom): Double = {
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }

  /** Uniform pages: distinct urls (so the md5 geocode spreads them
    * uniformly over the domain) and texts of seeded length 8..263, whose
    * length is the Moran attribute.
    */
  def uniformPages(n: Int, seed: Long): Pages = {
    val r = rng(seed, 1)
    val url = new Array[String](n)
    val text = new Array[String](n)
    var i = 0
    while (i < n) {
      url(i) = s"https://site-${r.nextInt(9973)}.example/page/$seed-$i"
      text(i) = "content " + "ab" * r.nextInt(128)
      i += 1
    }
    Pages(url, text)
  }

  /** Metro mixture shape: 48 clusters, Zipf(1.1) shares, sigmas 1.5..3. */
  private val Metros = 48
  private val MetroAlpha = 1.1
  private val SigmaMin = 1.5
  private val SigmaMax = 3.0

  /** Zipf "dense metro" mixture: `Metros` Gaussian clusters whose shares
    * fall off as 1/rank^MetroAlpha, the densest (smallest sigma) ranked first.
    * Centres sit at seeded, jittered, distinct cells of an 8 x 8 lattice,
    * so clusters never merge and every seed has the same density profile.
    * Coordinates are snapped to the centre of a 0.01 grid, so no point is
    * on a grid-polygon edge. The attribute follows the metro plus noise,
    * so it is spatially autocorrelated.
    */
  def metroPoints(n: Int, seed: Long): Points = {
    val r = rng(seed, 2)
    val slots = (0 until 64).toArray
    var s = slots.length - 1
    while (s > 0) { val j = r.nextInt(s + 1); val t = slots(s); slots(s) = slots(j); slots(j) = t; s -= 1 }
    val pitch = (Extent - 20.0) / 8
    val cx = Array.tabulate(Metros)(m => 10.0 + (slots(m) % 8 + 0.5) * pitch + (r.nextDouble() - 0.5) * 6.0)
    val cy = Array.tabulate(Metros)(m => 10.0 + (slots(m) / 8 + 0.5) * pitch + (r.nextDouble() - 0.5) * 6.0)
    val sigma = Array.tabulate(Metros)(m => SigmaMin + (SigmaMax - SigmaMin) * m / (Metros - 1))
    val cdf = (1 to Metros).map(m => math.pow(m.toDouble, -MetroAlpha)).scanLeft(0.0)(_ + _).tail.toArray
    val total = cdf.last
    def snap(v: Double): Double =
      (math.floor(math.min(math.max(v, 0.0), Extent - 1e-9) * 100.0) + 0.5) / 100.0
    val p = Points(Array.tabulate(n)(_.toLong), new Array(n), new Array(n),
      new Array(n), new Array(n), new Array(n))
    var i = 0
    while (i < n) {
      val u = r.nextDouble() * total
      var m = java.util.Arrays.binarySearch(cdf, u)
      if (m < 0) m = -m - 1
      m = math.min(m, Metros - 1)
      p.x(i) = snap(cx(m) + sigma(m) * gaussian(r))
      p.y(i) = snap(cy(m) + sigma(m) * gaussian(r))
      p.value(i) = (m % 7).toDouble + gaussian(r)
      p.value2(i) = gaussian(r)
      p.bin(i) = if (p.value(i) > 3.0) 1.0 else 0.0
      i += 1
    }
    p
  }

  /** Domain edge of `uniformPoints`. */
  val PointExtent = 100.0

  /** Uniform points over [0, PointExtent)^2 with a smooth spatial trend plus
    * noise in `value`, an independent `value2`, and `bin = value > 0`.
    */
  def uniformPoints(n: Int, seed: Long): Points = {
    val r = rng(seed, 3)
    val p = Points(Array.tabulate(n)(_.toLong), new Array(n), new Array(n),
      new Array(n), new Array(n), new Array(n))
    var i = 0
    while (i < n) {
      val x = r.nextDouble() * PointExtent
      val y = r.nextDouble() * PointExtent
      p.x(i) = x; p.y(i) = y
      p.value(i) = math.sin(x / 8.0) + math.cos(y / 8.0) + 0.5 * gaussian(r)
      p.value2(i) = x / PointExtent + 0.5 * gaussian(r)
      p.bin(i) = if (p.value(i) > 0.0) 1.0 else 0.0
      i += 1
    }
    p
  }

  /** A `cells` x `cells` grid of square polygons of edge `width` over
    * [0, cells*width)^2 as (pid, WKB). Every square is moved by `shift`
    * and shrunk by `inset` on each side, and each edge carries
    * `vertsPerEdge` vertices, which sets the layer's WKB size.
    */
  def gridPolygons(cells: Int, width: Double, vertsPerEdge: Int = 1,
                   shift: Double = 0.0, inset: Double = 0.0): Array[(Long, Array[Byte])] =
    Array.tabulate(cells * cells) { id =>
      val x0 = (id % cells) * width + shift + inset
      val y0 = (id / cells) * width + shift + inset
      val w = width - 2 * inset
      val ring = new Array[(Double, Double)](4 * vertsPerEdge)
      var v = 0
      while (v < ring.length) {
        val t = w * (v % vertsPerEdge) / vertsPerEdge
        ring(v) = v / vertsPerEdge match {
          case 0 => (x0 + t, y0)
          case 1 => (x0 + w, y0 + t)
          case 2 => (x0 + w - t, y0 + w)
          case _ => (x0, y0 + w - t)
        }
        v += 1
      }
      (id.toLong, Wkb.writePolygon(ring))
    }

  /** The admin layer: 100 x 100 squares over the geocode domain, moved by
    * -5e-4 so no geocoded point (a multiple of 0.01) is on an edge. Small
    * enough for the broadcast path.
    */
  def adminPolygons(): Array[(Long, Array[Byte])] =
    gridPolygons(100, Extent / 100, shift = -5e-4)

  /** The metro layer: 200 x 200 squares of 144 vertices each, inset by
    * 5e-4 so each fits one 0.9-wide join cell. Its WKB exceeds a third of
    * `SpatialJoin.DefaultBroadcastLimit`, so the engine picks the
    * partitioned, cell-keyed path.
    */
  val MetroCell = Extent / 200

  def metroPolygons(): Array[(Long, Array[Byte])] =
    gridPolygons(200, MetroCell, vertsPerEdge = 36, inset = 5e-4)

  /** Stable bytes of an input, for the determinism tests and the stamp. */
  def fingerprint(p: Points): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(8 * 6)
    var i = 0
    while (i < p.size) {
      bb.clear()
      bb.putLong(p.gid(i)).putDouble(p.x(i)).putDouble(p.y(i))
        .putDouble(p.value(i)).putDouble(p.value2(i)).putDouble(p.bin(i))
      md.update(bb.array())
      i += 1
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def fingerprint(p: Pages): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var i = 0
    while (i < p.size) {
      md.update((p.url(i) + "\t" + p.text(i) + "\n").getBytes("UTF-8"))
      i += 1
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
