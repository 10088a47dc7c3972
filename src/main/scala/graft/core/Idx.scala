package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dense 0-based index assignment by global sort order, without a
  * single-partition window. The reference keys everything by window
  * position (`postgeoda/src/proxy.cpp:361-363`); our analogue is
  * "rank of gid ascending", computed scalably:
  *
  *   1. range-repartition by the sort key,
  *   2. sort within partitions,
  *   3. count rows per partition (one tiny job),
  *   4. per-partition cumulative offsets broadcast, then a
  *      `mapPartitionsWithIndex`-style pass assigns offsets+position.
  *
  * Two narrow jobs + one shuffle; no driver materialization of data rows.
  * This is the standard scalable zipWithIndex pattern re-expressed on the
  * DataFrame API (`monotonically_increasing_id` is per-partition-prefixed,
  * `spark_partition_id` keys the offset join — both codegen'd; the offset
  * join is a broadcast of numPartitions rows).
  */
object Idx {

  /** Returns `df` with an extra `idxCol` long column = dense rank of
    * `sortCols` ascending (ties impossible iff key unique — caller's
    * responsibility; order among ties is still deterministic because the
    * range partitioner + intra-partition sort see identical keys).
    */
  private def attachCore(df: DataFrame, idxCol: String,
                         sortCols: Seq[String]): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    val sorted = df
      .repartitionByRange(df.sparkSession.sessionState.conf.numShufflePartitions,
        sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id())
    sorted.cache()
    val counts = sorted.groupBy("__pid").agg(count(lit(1)).as("__cnt"),
        min("__mid").as("__base"))
      .orderBy("__pid").collect() // driver: bounded, a row a partition
    var off = 0L
    val offsets = counts.map { r =>
      val pid = r.getInt(0); val cnt = r.getLong(1); val base = r.getLong(2)
      val o = (pid, off - base); off += cnt; o
    }.toMap
    val offDf = spark.createDataFrame(offsets.toSeq.map(t => OffRow(t._1, t._2)))
    val ranked = sorted
      .join(broadcast(offDf.toDF("__pid2", "__off")),
        col("__pid") === col("__pid2"))
      .withColumn(idxCol, col("__mid") + col("__off"))
      .drop("__pid", "__pid2", "__mid", "__off")
    (ranked, sorted)
  }

  /** Caller owns the internal sort cache's lifetime — prefer
    * `withAttached` which releases it; this overload leaks one cached DF
    * per call (kept for callers that hold the frame long-term).
    */
  def attach(df: DataFrame, idxCol: String, sortCols: String*): DataFrame =
    attachCore(df, idxCol, sortCols)._1

  /** Scoped variant: runs `use` over the ranked frame, then unpersists
    * the internal sort cache (the cache must outlive the offsets job AND
    * the caller's consumption, so only the caller knows when it's
    * releasable — hence the scope).
    */
  def withAttached[T](df: DataFrame, idxCol: String, sortCols: String*)
                     (use: DataFrame => T): T = {
    val (ranked, cached) = attachCore(df, idxCol, sortCols)
    try use(ranked)
    finally cached.unpersist(blocking = false)
  }
}

case class OffRow(pid: Int, off: Long)
