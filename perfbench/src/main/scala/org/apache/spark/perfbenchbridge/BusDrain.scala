package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered.
  * Listener delivery is asynchronous; the traced run drains the bus before
  * it reads what its listeners collected. The bus is `private[spark]`,
  * hence this package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
