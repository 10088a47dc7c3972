package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Scoped cache release for multi-pass builders.
  *
  * Several builders (kNN, contiguity, dedup, IVF) cache intermediate
  * frames that the final plan reads more than once. Returning a lazy
  * frame while leaving those caches pinned leaks CacheManager entries
  * for the life of the session (callers have no handle to unpersist).
  * The pattern: materialize the RESULT once, truncating lineage, then
  * unpersist every internal cache — the checkpoint blocks are owned by
  * the result RDD alone, so the ContextCleaner reclaims them when the
  * caller drops the frame, and the unpersists can never trigger a
  * recompute.
  *
  * Two checkpoint modes, selected by `spark.graft.checkpoint.reliable`:
  *   - false (default): `localCheckpoint` — executor-local blocks, no
  *     extra I/O. Right for local mode and short-lived jobs; on a real
  *     cluster an executor loss makes the result unrecoverable (lineage
  *     is gone). The blocks are stored serialized ([[Level]]): a
  *     deserialized block is sized by walking its object graph
  *     (`SizeEstimator`), which costs more CPU than serializing the
  *     rows does.
  *   - true: reliable `checkpoint` to the SparkContext checkpoint dir —
  *     survives executor loss; the mode a 1000-executor run should set
  *     (together with `sparkContext.setCheckpointDir` on durable
  *     storage).
  */
object Materialize {

  val ReliableConfKey = "spark.graft.checkpoint.reliable"

  /** Storage level of every local checkpoint taken here. */
  val Level: StorageLevel = StorageLevel.MEMORY_AND_DISK_SER

  /** Whether the session asks for reliable checkpoints; checks that it
    * can have them.
    */
  private def reliable(spark: SparkSession): Boolean = {
    val on = spark.conf.getOption(ReliableConfKey).exists(_.trim.toBoolean)
    if (on) {
      require(spark.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableConfKey=true needs sparkContext.setCheckpointDir " +
          "(durable storage on a real cluster)")
      // reliable checkpoint FILES are only reclaimed by the
      // ContextCleaner when cleanCheckpoints is on — without it every
      // checkpoint leaks durable storage for the app lifetime
      if (!spark.sparkContext.getConf.getBoolean(
          "spark.cleaner.referenceTracking.cleanCheckpoints", false))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"$ReliableConfKey=true without " +
            "spark.cleaner.referenceTracking.cleanCheckpoints=true: " +
            "checkpoint files will accumulate for the app lifetime")
    }
    on
  }

  /** Eagerly materialize `out`, then release `internal` caches. */
  def releasing(out: DataFrame, internal: Seq[Dataset[_]]): DataFrame = {
    val mat =
      if (reliable(out.sparkSession)) out.checkpoint(eager = true)
      else out.localCheckpoint(eager = true, Level)
    internal.foreach(_.unpersist(blocking = false))
    mat
  }

  /** Marks `rdd` to be checkpointed, in the session's mode, by the first
    * job that computes it: its partitions are stored at [[Level]] as that
    * job runs, and its lineage is cut when the job ends. The lazy sibling
    * of [[releasing]], for a builder whose first read of its rows is a
    * job it runs anyway. Returns `rdd`.
    */
  def onFirstJob[T](spark: SparkSession, rdd: RDD[T]): RDD[T] = {
    rdd.persist(Level)
    if (reliable(spark)) rdd.checkpoint() else rdd.localCheckpoint()
    rdd
  }

  /** Collect `out` to the driver and return it as a LOCAL relation,
    * releasing `internal` caches — the small-frame sibling of
    * [[releasing]]. For frames that are broadcast to every consumer
    * anyway (k-means centroids, PQ codebooks: k ≤ 65536 rows by
    * construction), a local relation is strictly cheaper than a
    * checkpoint: the collect job costs the same as the checkpoint job,
    * but every downstream `broadcast(df)` then builds from driver-local
    * rows with NO job, and AQE has no shuffle stage to schedule.
    * Callers gate on a size bound — the driver holds these rows for
    * the broadcast either way, so this adds no new memory ceiling.
    */
  def collected(out: DataFrame, internal: Seq[Dataset[_]]): DataFrame = {
    val spark = out.sparkSession
    val rows = out.collect() // driver: bounded, by the caller's gate
    internal.foreach(_.unpersist(blocking = false))
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** Explicitly release the storage blocks behind a frame previously
    * returned by [[releasing]] (a local/reliable checkpoint). Iterative
    * builders that re-materialize per round (connected components) hold
    * O(rounds) block sets if they rely on the ContextCleaner alone —
    * GC-driven, so under memory pressure the blocks linger exactly when
    * they hurt. `Dataset.unpersist` is useless here (checkpoint blocks
    * never enter the CacheManager); unpersist the LogicalRDD's own RDD.
    * No-op for frames that aren't checkpoint-backed.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
