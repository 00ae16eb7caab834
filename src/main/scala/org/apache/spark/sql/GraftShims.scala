package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between the public Column API and Catalyst expressions.
  * Spark 4 made the Column<->Expression conversions `private[sql]`
  * (columnNodeSupport.scala); extension libraries shipping native
  * expressions use a package-located shim like this one.
  */
object GraftShims {
  def toExpr(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** DataFrame from a hand-built LogicalPlan (Dataset.ofRows is
    * private[sql]); the seam that lets the library's custom logical
    * operators enter the public Dataset API. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Temp-function registration on a live session (sessionState is
    * private[sql]); the SparkSessionExtensions path covers sessions the
    * library gets to construct itself. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** A fresh directory under `java.io.tmpdir`, named `prefix-<uuid>`,
    * that Spark's shutdown hook deletes with everything under it when the
    * JVM exits (`Utils` is private[spark]). */
  def scratchDir(prefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix)

  /** True iff `dir`, or a directory above it, is registered with Spark's
    * shutdown-delete hook. */
  def deletedAtExit(dir: java.io.File): Boolean = {
    import org.apache.spark.util.ShutdownHookManager
    ShutdownHookManager.hasShutdownDeleteDir(dir) ||
      ShutdownHookManager.hasRootAsShutdownDeleteDir(dir)
  }

  /** Blocks until every listener has seen every event posted so far
    * (the listener bus is private[spark]); listener counters read after
    * this are complete. A drain slower than a minute is logged and
    * skipped: it may leave counters short but never fails the caller. */
  def drainListeners(spark: SparkSession): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
    catch {
      case e: java.util.concurrent.TimeoutException =>
        System.err.println(s"[graft] listener bus not drained: ${e.getMessage}")
    }
}
