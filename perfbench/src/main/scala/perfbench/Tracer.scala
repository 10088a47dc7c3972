package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced public call: its wall-clock interval on the driver, GC time
  * over that interval, and what the listener saw of its jobs and tasks.
  */
final class Span(val id: Int, val layer: String, val call: String, val pass: Int) {
  var startMs = 0L
  var endMs = 0L
  var wallS = 0.0
  var cpuS = 0.0
  var gcS = 0.0
  var jobs = 0
  var stages = 0
  val taskDurMs = mutable.ArrayBuffer.empty[Long]
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var recordsIn = 0L

  /** Wall time inside the call during which no task of it ran. */
  def driverS: Double = {
    val iv = taskIntervals.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    math.max(0.0, wallS - busy / 1000.0)
  }

  /** Slowest task over the median task; 0 when the call ran no task. */
  def taskSkew: Double =
    if (taskDurMs.isEmpty) 0.0
    else taskDurMs.max.toDouble / math.max(1.0, Stats.median(taskDurMs.map(_.toDouble).toSeq))

  def metrics: Map[String, Double] = Map(
    "wall_s" -> wallS,
    "driver_s" -> driverS,
    "jobs" -> jobs.toDouble,
    "task_skew" -> taskSkew,
    "shuffle_write_mb" -> shuffleWriteBytes / 1e6,
    "cpu_s" -> cpuS,
    "gc_s" -> gcS,
    "result_mb" -> resultBytes / 1e6)

  def json: String = {
    val fields = Seq(
      "layer" -> Json.str(layer), "call" -> Json.str(call), "pass" -> pass.toString,
      "start_ms" -> startMs.toString, "end_ms" -> endMs.toString,
      "stages" -> stages.toString, "tasks" -> taskDurMs.length.toString,
      "task_max_s" -> Json.num(if (taskDurMs.isEmpty) 0.0 else taskDurMs.max / 1000.0),
      "task_median_s" -> Json.num(
        if (taskDurMs.isEmpty) 0.0 else Stats.median(taskDurMs.map(_.toDouble).toSeq) / 1000.0),
      "shuffle_read_mb" -> Json.num(shuffleReadBytes / 1e6),
      "spill_mb" -> Json.num(spillBytes / 1e6),
      "records_in" -> recordsIn.toString) ++
      metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }
    Json.obj(fields)
  }
}

/** Per-call tracing from outside the engine. Each public call runs inside
  * `span`, which tags the jobs it submits through a SparkContext local
  * property; a listener, registered only when tracing is on, folds the
  * tagged jobs' task metrics into the call's span. Spans stay in memory
  * until the run writes them out.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val Key = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      tag.flatMap(t => Option(byId.get(t.toInt))).foreach { s =>
        s.synchronized { s.jobs += 1; s.stages += e.stageIds.length }
        e.stageIds.foreach(id => stageSpan.put(id, s))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      if (s != null && e.taskInfo != null) s.synchronized {
        s.taskDurMs += e.taskInfo.duration
        s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        val m = e.taskMetrics
        if (m != null) {
          s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
          s.resultBytes += m.resultSize
          s.recordsIn += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `body` as one public call; returns its result, its wall seconds
    * and the CPU seconds the JVM's threads spent in it.
    */
  def span[A](layer: String, call: String, pass: Int)(body: => A): (A, Double, Double) = {
    val s = new Span(spans.length, layer, call, pass)
    if (enabled) {
      spans += s
      byId.put(s.id, s)
      sc.setLocalProperty(Key, s.id.toString)
    }
    val gc0 = if (enabled) gcMs else 0L
    val cpu0 = ThreadCpu.snapshot()
    s.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val out = body
      s.wallS = (System.nanoTime() - t0) / 1e9
      s.cpuS = ThreadCpu.since(cpu0)
      (out, s.wallS, s.cpuS)
    } finally {
      if (s.wallS == 0.0) s.wallS = (System.nanoTime() - t0) / 1e9
      s.endMs = System.currentTimeMillis()
      if (enabled) {
        s.gcS = (gcMs - gc0) / 1000.0
        sc.setLocalProperty(Key, null)
      }
    }
  }

  /** Every span, after the listener bus has delivered all events. */
  def finished(): Seq[Span] = {
    if (enabled) org.apache.spark.perfbench.BusShim.drain(sc)
    spans.toSeq
  }
}

/** Just enough JSON writing for the benchmark's own output. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")
}
