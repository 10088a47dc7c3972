package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (JVM-wide). */
object SparkFixture {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` at a driver budget of `bytes` ([[graft.core.DriverBudget]]). */
  def withBudget[T](bytes: Long)(body: => T): T = {
    spark.conf.set(graft.core.DriverBudget.Key, bytes.toString)
    try body finally spark.conf.unset(graft.core.DriverBudget.Key)
  }
}
