// Hosted under org.apache.spark for the private[spark] listener bus, the
// same way the engine reaches its private[sql] helpers.
package org.apache.spark.perfbench

import org.apache.spark.SparkContext

object ListenerBus {
  /** Block until every listener event posted so far has been delivered,
    * so counters read afterwards cover all finished jobs. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
