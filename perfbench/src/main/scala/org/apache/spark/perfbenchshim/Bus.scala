package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously. The benchmark checks
  * each operation's row counts from listener events, so it must wait
  * until every event posted so far has been delivered. `waitUntilEmpty`
  * is package-private to Spark, hence this shim. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
