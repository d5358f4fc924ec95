package org.apache.spark

/** Blocks until every event posted so far has reached its listeners
  * (`SparkListener`s and, through the SQL listener bus,
  * `QueryExecutionListener`s), so a spec can read what they recorded.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
