package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal accessor for `private[spark]` members this library needs: the
  * Column ↔ Expression conversions (Spark 4 moved them behind
  * `org.apache.spark.sql.classic`) and the context's RDD unpersist. This is
  * the standard extension-library bridge pattern; nothing else of ours lives
  * in Spark's namespace. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Drop an RDD's blocks and its persistent-RDD entry: the block-manager
    * call `RDD.unpersist` makes, without the WARN it logs for every locally
    * checkpointed RDD (whose release is the intended block lifecycle). */
  def unpersist(rdd: RDD[_], blocking: Boolean): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking)
}
