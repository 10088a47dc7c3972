package perfbench

import java.lang.management.ManagementFactory

/** CPU time of the JVM's Java threads: the driver, the local executor's
  * task threads and Spark's own service threads. The JIT compiler and GC
  * threads are not Java threads and are not counted. Unlike wall time,
  * this does not grow when other processes or guests on a shared host
  * take the CPU away, so a closed loop's CPU seconds per call stay put
  * where its wall seconds do not.
  */
object ThreadCpu {
  private val mx = ManagementFactory.getThreadMXBean

  /** Per live thread, its CPU nanoseconds so far. */
  def snapshot(): Map[Long, Long] =
    mx.getAllThreadIds.iterator.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** CPU seconds the live threads spent since `before`; a thread started
    * since then counts in full, one that has ended since then is lost.
    */
  def since(before: Map[Long, Long]): Double =
    snapshot().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }
      .filter(_ > 0).sum / 1e9

  /** Host steal time of all CPUs so far (0 where /proc/stat is absent):
    * time this machine's CPUs were runnable but given to other guests.
    */
  def hostStealS(): Double = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+")(8).toDouble / 100.0 finally src.close()
  } catch { case scala.util.control.NonFatal(_) => 0.0 }
}
