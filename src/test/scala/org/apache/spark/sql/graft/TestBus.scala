package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test bridge into the `private[spark]` listener bus: QueryExecutionListener
  * callbacks are dispatched ASYNCHRONOUSLY through the shared
  * LiveListenerBus queue, so a capture-based spec must drain the bus before
  * reading its collected plans or it races the dispatch thread. Lives under
  * the org.apache.spark.sql package for access, same as the production
  * codegen-expression bridge in main sources.
  */
object TestBus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Drop every cached block of RDD `id` from the block managers and wait,
    * leaving the RDD persisted: what an eviction does to its blocks.
    */
  def evict(spark: SparkSession, id: Int): Unit =
    spark.sparkContext.env.blockManager.master.removeRdd(id, blocking = true)
}
