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

  /** The rows a persisted frame's cache counted while it filled, once every
    * cached partition is built; None while it is not cached or not fully
    * built. Reading it runs no Spark job. A partition built twice counts
    * twice, so the figure is an upper bound, never less than the rows.
    */
  def cachedRows(df: org.apache.spark.sql.DataFrame): Option[Long] = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .map(_.cachedRepresentation.cacheBuilder)
      .filter(_.isCachedColumnBuffersLoaded)
      .map(_.rowCountStats.value.longValue)
  }

  /** `Dataset.toJSON`'s render of one row of `schema`: the same encoder
    * round trip (so a map's entries come out in the same order) and the
    * same generator and options, so the same bytes. One renderer per
    * thread; it reuses its buffer.
    */
  def jsonRender(schema: org.apache.spark.sql.types.StructType,
      timeZone: String): org.apache.spark.sql.Row => String = {
    import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
    import org.apache.spark.sql.catalyst.json.{JacksonGenerator, JSONOptions}
    val writer = new java.io.CharArrayWriter()
    val gen = new JacksonGenerator(schema, writer,
      new JSONOptions(Map.empty[String, String], timeZone))
    val toRow = ExpressionEncoder(RowEncoder.encoderFor(schema)).createSerializer()
    row => {
      writer.reset()
      gen.write(toRow(row))
      gen.flush()
      writer.toString
    }
  }
}
