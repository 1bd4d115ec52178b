package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.util.QueryExecutionListener

/** Registers a query listener on the session's listener manager. */
object SessionListeners {
  private def manager(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager

  def register(spark: SparkSession, l: QueryExecutionListener): Unit =
    manager(spark).register(l)

  def unregister(spark: SparkSession, l: QueryExecutionListener): Unit =
    manager(spark).unregister(l)
}
