package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import scala.collection.mutable.ArrayBuilder

/** The one bound on what a fetch may hold on the driver, and the one
  * fetch that enforces it.
  *
  * A fetch is one job over a frame's InternalRows. Each partition keeps
  * its rows, in the form the driver will hold them, only while they fit
  * its share of the budget (`budget / partitions`), and measures all of
  * them either way; so the driver never receives more than the budget.
  * The result is every partition's rows, or [[Over]] with the measured
  * size. A frame that fits in total but overflows some share is fetched
  * whole by a second job at a share of the whole budget.
  *
  * A site with a distributed form takes it on [[Over]] (PIP partitioned,
  * SKATER's distributed tree, CC's rounds); a site without one fails,
  * naming the bound and the alternative ([[Fetched.orFail]]).
  */
object DriverBudget {

  /** Session key for the budget in bytes; unset is [[DefaultBytes]]. */
  val Key = "spark.graft.driverBudgetBytes"

  val DefaultBytes: Long = 256L * 1024 * 1024

  def bytes(spark: SparkSession): Long = spark.conf.getOption(Key).fold(DefaultBytes)(_.toLong)

  /** How one partition's rows are held: `size` is what a row costs on the
    * driver in bytes, `add` keeps it (copying what it keeps: the row
    * object is reused) and `result` is what the driver receives. `add`,
    * when called, follows `size` of the same row, so a holder may keep
    * what `size` read.
    */
  trait Holder[A] {
    def size(row: InternalRow): Long
    def add(row: InternalRow): Unit
    def result(): A
  }

  /** One partition's measured bytes and, when they fit the share it was
    * read with, its rows; else null.
    */
  final case class Slice[A](bytes: Long, rows: A)

  sealed trait Fetched[+A] {
    /** The rows, or [[Over.fail]]. */
    def orFail(what: String, instead: String): Seq[A] = this match {
      case Held(parts, _) => parts
      case o: Over => o.fail(what, instead)
    }
  }
  /** Each partition's rows, in partition order, and their `bytes`. */
  final case class Held[A](parts: Seq[A], bytes: Long) extends Fetched[A]
  /** The rows measured `bytes`, more than `budget`. */
  final case class Over(bytes: Long, budget: Long) extends Fetched[Nothing] {
    /** Fails naming `what`, the bound and `instead`, the alternative. */
    def fail(what: String, instead: String): Nothing = throw new IllegalArgumentException(
      s"$what needs $bytes bytes on the driver, over its budget of $budget bytes ($Key); " +
        instead)
  }

  /** One job over `df`'s rows within `budget` bytes. */
  def fetch[A <: AnyRef](df: DataFrame, budget: Long)(holder: () => Holder[A]): Fetched[A] = {
    val rows = org.apache.spark.sql.graftshim.ColumnShim.toInternalRdd(df)
    def run(share: Long) = slices(rows, share, holder).collect() // driver: DriverBudget
    settle(run(share(budget, rows)), budget)(run(budget))
  }

  /** `budget`'s share for each partition of `rows`. */
  def share(budget: Long, rows: RDD[_]): Long = budget / math.max(1, rows.getNumPartitions)

  /** A [[Slice]] per partition of `rows`, each holding at most `share`
    * bytes: the lazy half of [[fetch]], for a site that collects it in
    * one job with other per-partition results.
    */
  def slices[A <: AnyRef](rows: RDD[InternalRow], share: Long,
                          holder: () => Holder[A]): RDD[Slice[A]] =
    rows.mapPartitions { it =>
      val h = holder()
      var bytes = 0L
      it.foreach { row =>
        bytes += h.size(row)
        if (bytes <= share) h.add(row)
      }
      Iterator.single(Slice(bytes, if (bytes <= share) h.result() else null.asInstanceOf[A]))
    }

  /** The driver half of [[fetch]]: `first` as read, and `whole`, the
    * slices read again at the whole budget, when some share overflowed
    * but the total fits.
    */
  def settle[A <: AnyRef](first: Array[Slice[A]], budget: Long)
                         (whole: => Array[Slice[A]]): Fetched[A] = {
    val total = first.iterator.map(_.bytes).sum
    if (total > budget) Over(total, budget)
    else Held((if (first.forall(_.rows != null)) first else whole).toSeq.map(_.rows), total)
  }

  /** Two long columns, as [[LongPairs]] holds them. */
  final case class Pairs(as: Array[Long], bs: Array[Long])

  /** Holds `(long, long)` rows, `cost` bytes a row; a null fails, naming `what`. */
  final class LongPairs(cost: Long, what: String) extends Holder[Pairs] {
    private val as = new ArrayBuilder.ofLong
    private val bs = new ArrayBuilder.ofLong
    def size(row: InternalRow): Long = cost
    def add(row: InternalRow): Unit = {
      require(!row.isNullAt(0) && !row.isNullAt(1), s"null in $what")
      as += row.getLong(0); bs += row.getLong(1)
    }
    def result(): Pairs = Pairs(as.result(), bs.result())
  }
}
