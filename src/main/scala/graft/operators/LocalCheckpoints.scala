package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.Bridge

/** Block lifecycle of checkpointed DataFrames (`localCheckpoint` or
  * `checkpoint`): their analyzed plan is a LogicalRDD over the RDD that
  * holds the blocks. */
object LocalCheckpoints {

  /** Release the blocks behind a checkpointed DataFrame (non-blocking). A
    * DataFrame that is not a checkpoint is left alone. Releasing the handle
    * itself — never diffing the session's persistent-RDD registry — keeps
    * the release scoped to the caller's own blocks, not those of concurrent
    * jobs in the same session. Goes through the context's unpersist
    * directly: `RDD.unpersist` would log that a locally checkpointed RDD
    * cannot be recomputed, for every release. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }
      .foreach(Bridge.unpersist(_, blocking = false))
}
