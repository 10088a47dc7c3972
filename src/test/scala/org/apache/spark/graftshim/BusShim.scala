package org.apache.spark.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}

/** Test access to the listener bus's drain, which Spark keeps
  * package-private: after it returns, every event posted so far has
  * reached every listener.
  */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** What `body` ran under job group `group`: its job count and the task
    * count of each stage it submitted, in submission order.
    */
  final case class Counts(jobs: Int, stageTasks: Seq[Int])

  /** Runs `body` in job group `group` with a listener counting its jobs
    * and stages; the bus is drained on both sides, so only `body`'s
    * events are counted.
    */
  def counted[A](sc: SparkContext, group: String)(body: => A): (A, Counts) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    def mine(p: java.util.Properties): Boolean =
      Option(p).exists(_.getProperty("spark.jobGroup.id") == group)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (mine(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (mine(e.properties)) stages.add(e.stageInfo.numTasks)
    }
    drain(sc)
    sc.addSparkListener(listener)
    val out = try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    } finally {
      drain(sc)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    (out, Counts(jobs.get(), stages.asScala.toSeq.map(_.intValue)))
  }
}
