package org.apache.spark.sql.graft

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD

/** The two `private[spark]` SparkContext calls graft makes, re-exported
  * the same way [[ColumnBridge]] re-exports the column conversions. No
  * Spark internals are modified.
  */
object SparkInternals {

  /** Frees an RDD's persisted blocks without waiting for the removal.
    * This is `RDD.unpersist(blocking = false)` minus its warning that a
    * locally checkpointed RDD "cannot be recomputed after unpersisting":
    * for a cut its owner has declared dead that is the intended effect,
    * not a diagnostic. The RDD keeps its storage-level field, which only
    * matters to a reader of the dead frame, and that reader fails on the
    * missing blocks either way. */
  def unpersist(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Waits until every listener event posted so far has been delivered,
    * so counters kept by a listener include the action that just
    * returned. A bus still busy after Spark's own 10 s limit is left to
    * settle: the counters then miss the stragglers, the caller never
    * fails. */
  def drainListenerBus(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: TimeoutException => () }
}
