package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Minimal accessor for the `private[sql]` Column ↔ Expression bridge —
  * the supported way for libraries to expose custom Catalyst expressions
  * as Columns in Spark 4's classic API.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `schema` with every field nullable, nested fields included
    * (`StructType.asNullable` is `private[spark]`): the data schema a
    * file source relation carries.
    */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** Block until queued listener events are delivered (`listenerBus` is
    * `private[spark]`) — needed when metrics collected by a listener are
    * read right after the jobs that produced them.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Release the cached blocks behind a `localCheckpoint(eager = true)`ed
    * frame NOW instead of waiting for the ContextCleaner's weak-reference
    * sweep. Iterative algorithms (connected components) supersede a
    * checkpointed frame every round; without an explicit release the
    * superseded blocks accumulate for the session lifetime — the round-3
    * bench-instability root cause. A checkpointed Dataset's plan is a
    * [[org.apache.spark.sql.execution.LogicalRDD]] over the persisted RDD,
    * which `Dataset.unpersist` does NOT cover (it only sweeps the
    * CacheManager); unpersisting that RDD directly is the supported path.
    * No-op on frames that aren't checkpointed.
    */
  def releaseCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
}
