package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** The engine's one partitioning rule: a compute-dense stage runs at
  * the session's shuffle width (`spark.sql.shuffle.partitions`).
  */
object Parallelism {

  /** `df` hash-partitioned by `key` into the session's shuffle width, or
    * into `keys` partitions when the caller knows it has fewer keys.
    *
    * For stages whose work grows faster than their shuffle input (a
    * distance-band candidate join, a LISA window's permutations, a
    * within-cell pair expansion): left to the planner, byte-tiny inputs
    * are broadcast and stream through the scan's task count, and AQE
    * coalesces a small exchange into one task. An explicit count is
    * exempt from coalescing. It is the width and not a multiple of it
    * because a task's cost is mostly fixed: moving kNN weights from 4×
    * to 1× the width cut their tasks to a quarter and raised rows per
    * CPU-second by 27% at 4 cores. Every caller's values are independent
    * of placement, so output is identical at any width.
    */
  def spread(df: DataFrame, key: Column, keys: Long = Long.MaxValue): DataFrame =
    df.repartition(math.max(1L, math.min(width(df).toLong, keys)).toInt, key)

  /** [[spread]] for a per-row operator (regex scrubbing, trigram
    * statistics, image decode) over a frame whose planned leaf scans
    * have fewer partitions than the session width: a small file, or a
    * parquet file with one row group, plans as one task and serializes
    * the stage on one core. At real scale the scan is wide enough and
    * `df` is returned as it is. So is a frame with an `Exchange` below:
    * it is already spread, and its partition count is only known after
    * AQE has run the stages beneath it.
    */
  def widen(df: DataFrame, key: Column): DataFrame = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    if (plan.exists(_.isInstanceOf[Exchange]) ||
        plan.collectLeaves().map(_.execute().getNumPartitions).sum >= width(df)) df
    else spread(df, key)
  }

  private def width(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions
}
