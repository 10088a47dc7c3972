package graft.weights

import graft.core.DriverBudget
import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.functions._

/** Binary-parity codec for the reference's weights blob formats, plus the
  * Spark renditions of the weights access functions (SURVEY §2.1 S1-S4).
  *
  * Whole-weights blob (`postgeoda/src/proxy.h:22-45`): little-endian
  *   char w_type ('a' GAL binary | 'w' GWT valued) · uint32 num_obs ·
  *   repeat num_obs × record
  * Per-row record (`postgeoda/src/weights.h:245-312`):
  *   uint32 idx · uint16 num_nbrs · uint32 nbrId[nn] · ['w'] float wt[nn]
  *
  * The uint16 cap (65,535 neighbors, `proxy.h:50`) and float32 weight
  * precision are reproduced for byte parity; the native Dataset schema
  * (`nbrs array<long>, wts array<double>`) has neither limit.
  */
object WeightsCodec {

  def encodeRecord(idx: Long, nbrs: Array[Long],
                   wts: Option[Array[Float]]): Array[Byte] = {
    require(nbrs.length <= 0xFFFF,
      s"num_nbrs ${nbrs.length} exceeds the uint16 format cap (proxy.h:50)")
    val size = 4 + 2 + 4 * nbrs.length + (if (wts.isDefined) 4 * nbrs.length else 0)
    val bb = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(idx.toInt)
    bb.putShort(nbrs.length.toShort)
    nbrs.foreach(n => bb.putInt(n.toInt))
    wts.foreach(_.foreach(bb.putFloat))
    bb.array()
  }

  def decodeRecord(bytes: Array[Byte]): (Long, Array[Long], Option[Array[Float]]) = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val idx = bb.getInt().toLong & 0xFFFFFFFFL
    val nn = bb.getShort().toInt & 0xFFFF
    val nbrs = Array.fill(nn)(bb.getInt().toLong & 0xFFFFFFFFL)
    val wts = if (bb.remaining() >= 4 * nn && nn > 0)
      Some(Array.fill(nn)(bb.getFloat())) else None
    (idx, nbrs, wts)
  }

  /** Whole-weights blob from a collected weights table (driver-side;
    * exists for format parity with `geoda_weights_cont/knn` aggregates —
    * the distributed engine never needs the monolithic form).
    */
  def encodeWhole(rows: Seq[(Long, Array[Long], Option[Array[Float]])],
                  valued: Boolean): Array[Byte] = {
    val body = rows.sortBy(_._1).map { case (g, nbrs, w) =>
      encodeRecord(g, nbrs, if (valued) Some(w.getOrElse(
        Array.fill(nbrs.length)(1.0f))) else None)
    }
    val total = 1 + 4 + body.map(_.length).sum
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.put((if (valued) 'w' else 'a').toByte)
    bb.putInt(rows.length)
    body.foreach(bb.put)
    bb.array()
  }

  def decodeWhole(bytes: Array[Byte]): (Boolean, Seq[(Long, Array[Long], Option[Array[Float]])]) = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val valued = bb.get() == 'w'.toByte
    val numObs = bb.getInt()
    val out = (0 until numObs).map { _ =>
      val idx = bb.getInt().toLong & 0xFFFFFFFFL
      val nn = bb.getShort().toInt & 0xFFFF
      val nbrs = Array.fill(nn)(bb.getInt().toLong & 0xFFFFFFFFL)
      val wts = if (valued) Some(Array.fill(nn)(bb.getFloat())) else None
      (idx, nbrs, wts)
    }
    (valued, out)
  }

  /** S5 `geoda_weights_at(fid, bytea)` (`weights_cont.c:950-1007`;
    * deprecated in the reference but still exported): slice ONE
    * observation's raw record bytes (idx + n_nbrs + nbrs [+ wts]) out
    * of a whole-weights blob; None when the fid is absent — the
    * reference returns SQL NULL there.
    */
  def at(blob: Array[Byte], fid: Long): Option[Array[Byte]] = {
    val bb = ByteBuffer.wrap(blob).order(ByteOrder.LITTLE_ENDIAN)
    val valued = bb.get() == 'w'.toByte
    val numObs = bb.getInt()
    var i = 0
    while (i < numObs) {
      val start = bb.position()
      val idx = bb.getInt().toLong & 0xFFFFFFFFL
      val nn = bb.getShort().toInt & 0xFFFF
      bb.position(bb.position() + 4 * nn + (if (valued) 4 * nn else 0))
      if (idx == fid)
        return Some(java.util.Arrays.copyOfRange(blob, start, bb.position()))
      i += 1
    }
    None
  }

  /** S5 `geoda_queenweights_set(bytea)` (`weights_cont.c:1020-1113`;
    * deprecated): explode a whole blob into (fid, per-row record blob)
    * pairs — byte-compatible with `encodeRecord`/`toRecords`.
    */
  def blobToSet(blob: Array[Byte]): Seq[(Long, Array[Byte])] = {
    val (valued, recs) = decodeWhole(blob)
    recs.map { case (g, nbrs, w) =>
      (g, encodeRecord(g, nbrs, if (valued) w else None))
    }
  }

  /** S1 `geoda_weights_toset`: per-row blob column from a weights table —
    * in Spark just a typed map (the explode the reference needs a SRF for
    * is the Dataset's natural row form already).
    */
  def toRecords(weights: DataFrame): DataFrame = {
    val spark = weights.sparkSession
    import spark.implicits._
    weights.select(col("gid").cast("long"), col("nbrs"), col("wts"))
      .as[(Long, Seq[Long], Option[Seq[Double]])]
      .map { case (g, nbrs, w) =>
        (g, encodeRecord(g, nbrs.toArray, w.map(_.map(_.toFloat).toArray)))
      }.toDF("gid", "w")
  }

  /** S2 `geoda_weights_getfids` ≙ select(gid). */
  def fids(weights: DataFrame): DataFrame = weights.select("gid")

  /** S3 `geoda_weights_tojson` (`weights_cont.c:765-891` format:
    * {"fid":[[nbrs],[wts]],...} as one text value).
    */
  def toJsonText(weights: DataFrame): String = {
    val spark = weights.sparkSession
    import spark.implicits._
    val entries = weights.select(col("gid").cast("long"), col("nbrs"), col("wts"))
      .orderBy("gid").as[(Long, Seq[Long], Option[Seq[Double]])]
      .map { case (g, nbrs, w) =>
        val ws = w.getOrElse(Seq.fill(nbrs.length)(1.0))
        s""""$g":[[${nbrs.mkString(",")}],[${ws.mkString(",")}]]"""
      }.toDF("line")
    lines(entries, "toJsonText's weights", "use asText for a distributed text form")
      .mkString("{", ",", "}")
  }

  /** S4 `weights_astext` — one text line per row. GAL (binary) weights
    * print `gid:[nbrs]`; GWT (valued) rows append `:[wts]` with weights
    * rounded to `wtsDecimals`, matching the reference's inclusion of
    * per-neighbor weights in its text dumps (`weights_cont.c:351-433`).
    */
  def asText(weights: DataFrame, wtsDecimals: Int = 4): DataFrame = {
    val base = concat(col("gid").cast("string"), lit(":["),
      concat_ws(",", col("nbrs")), lit("]"))
    weights.select(col("gid"),
      when(col("wts").isNull, base)
        .otherwise(concat(base, lit(":["),
          concat_ws(",", transform(col("wts"),
            w => round(w, wtsDecimals).cast("string"))), lit("]")))
        .as("txt"))
  }

  /** GeoDa .gal text lines [public format]: per observation a header
    * line "gid num_nbrs" then a neighbor-id line. Returned as
    * (gid, sub, line) — sort by (gid, sub) and prepend "0 num_obs" for
    * the file body; stays distributed until the (tiny) final write.
    */
  def galLines(weights: DataFrame): DataFrame =
    weights.select(col("gid").cast("long").as("gid"), col("nbrs"))
      .select(col("gid"), explode(array(
        struct(lit(0).as("sub"),
          concat(col("gid").cast("string"), lit(" "),
            coalesce(size(col("nbrs")), lit(0)).cast("string")).as("line")),
        struct(lit(1).as("sub"),
          concat_ws(" ", col("nbrs")).as("line")))).as("e"))
      .select(col("gid"), col("e.sub").as("sub"), col("e.line").as("line"))

  /** GeoDa .gwt text lines [public format]: "from to weight" per pair
    * (binary weights emit 1). (gid, nbr, line).
    */
  def gwtLines(weights: DataFrame, wtsDecimals: Int = 6): DataFrame =
    weights.select(col("gid").cast("long").as("gid"),
        posexplode(arrays_zip(col("nbrs"),
          coalesce(col("wts"),
            transform(col("nbrs"), _ => lit(1.0))).as("w2"))))
      .select(col("gid"), col("col.nbrs").as("nbr"),
        concat(col("gid").cast("string"), lit(" "),
          col("col.nbrs").cast("string"), lit(" "),
          round(col("col.w2"), wtsDecimals).cast("string")).as("line"))

  /** Driver-side .gal/.gwt file writers (weights exports are per-layer
    * artifacts, small relative to the data). Past the driver budget they
    * fail; write the `galLines`/`gwtLines` frame as partitioned text
    * instead.
    */
  def writeGal(weights: DataFrame, path: String): Unit =
    write(weights, galLines(weights).orderBy("gid", "sub"), "writeGal", "galLines", path)

  def writeGwt(weights: DataFrame, path: String): Unit =
    write(weights, gwtLines(weights).orderBy("gid", "nbr"), "writeGwt", "gwtLines", path)

  private def write(weights: DataFrame, sorted: DataFrame, what: String, frame: String,
                    path: String): Unit = {
    val n = weights.count()
    val body = lines(sorted.select("line"), s"$what's lines",
      s"write the $frame frame as partitioned text instead")
    val all = (s"0 $n" +: body).mkString("", "\n", "\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      all.getBytes("UTF-8"))
  }

  /** The one string column of `df`, in order, within the driver budget: a
    * line costs its UTF-8 bytes and a separator.
    */
  private def lines(df: DataFrame, what: String, instead: String): Seq[String] =
    DriverBudget.fetch(df, DriverBudget.bytes(df.sparkSession))(() => new LineHolder)
      .orFail(what, instead).flatten

  private final class LineHolder extends DriverBudget.Holder[Array[String]] {
    private val out = scala.collection.mutable.ArrayBuffer.empty[String]
    private var line: UTF8String = _ // the row `size` last read
    def size(row: InternalRow): Long = {
      line = row.getUTF8String(0)
      if (line == null) 5L else line.numBytes() + 1L
    }
    def add(row: InternalRow): Unit = out += (if (line == null) null else line.toString)
    def result(): Array[String] = out.toArray
  }
}
