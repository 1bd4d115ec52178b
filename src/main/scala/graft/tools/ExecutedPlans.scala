package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.SparkInternals
import org.apache.spark.sql.util.QueryExecutionListener

/** The queries a block of driver code executes: every action of the
  * session — collects, eager cuts, writes — with its action name and
  * its `QueryExecution`, in the order they finished. An operator that
  * runs its work while a frame is built (a cut, a collect to the
  * driver) shows only its result in the frame's own plan; this is
  * where the plans that built it can be read. PlanDump appends them to
  * each dump, and PlanSpec pins the shapes they ran. */
object ExecutedPlans {
  def capture[T](spark: SparkSession)(body: => T): (T, Seq[(String, QueryExecution)]) = {
    val sc = spark.sparkContext
    // Listener callbacks arrive on the listener bus: drain it before,
    // so no earlier action lands here, and after, so every action of
    // `body` has landed.
    SparkInternals.drainListenerBus(sc)
    val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      SparkInternals.drainListenerBus(sc)
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
