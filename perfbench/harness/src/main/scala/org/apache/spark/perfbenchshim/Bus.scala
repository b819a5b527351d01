package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the traced run reads
  * its counters only after every event posted so far has been delivered.
  * `waitUntilEmpty` is package-private to Spark, hence this shim. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
