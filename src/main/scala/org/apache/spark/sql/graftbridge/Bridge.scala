package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. Spark 4 made the direct constructors
  * private[sql]; extension libraries conventionally expose them from a
  * package-internal shim (same pattern as spark-connectors in the wild).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Unload all JVM-global streaming state-store providers and stop their
    * maintenance pool NOW. The pool is lazily restarted by the next
    * streaming query, so this is safe to call between queries; without it,
    * providers from a finished query fire maintenance failures minutes
    * after their session stopped (unattributable noise in bench logs).
    */
  def stopStateStoreMaintenance(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()

  /** Block until the async listener bus has delivered every posted event
    * (or the timeout passes — `waitUntilEmpty` throws on timeout). A
    * metric listener needs this to see the final stages of the job it just
    * measured; the bus reference is `private[spark]`, hence the bridge.
    */
  def waitListenerBusEmpty(sc: org.apache.spark.SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
