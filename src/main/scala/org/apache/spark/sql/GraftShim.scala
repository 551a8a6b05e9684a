package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge to package-private Spark API (Spark 4 moved Column onto
  * ColumnNode; classic-mode expression wrapping, `Dataset.ofRows` and the
  * listener bus live behind package-private API). Living in this package is
  * the sanctioned shim pattern for libraries contributing custom Catalyst
  * expressions and plans. */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A frame over `lr` (the plan of `cp`) whose size statistic is
    * `sizeInBytes`; `None` leaves it unknown (`spark.sql.defaultSizeInBytes`). */
  def withSizeInBytes(cp: DataFrame, lr: LogicalRDD, sizeInBytes: Option[BigInt]): DataFrame = {
    val session = cp.sparkSession.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session,
      lr.copy()(session, sizeInBytes.map(Statistics(_)), Some(lr.constraints)))
  }

  /** Returns once every event posted so far has been delivered to every
    * listener, so listener state is read without sleeping. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
