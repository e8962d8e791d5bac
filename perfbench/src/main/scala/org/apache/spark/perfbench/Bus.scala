package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain is Spark-internal; the traced run needs it to
  * read complete event records before it attributes them.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
