package org.apache.spark.graftbus

import org.apache.spark.SparkContext

/** The listener bus's drain is `private[spark]`: this object, inside Spark's
  * package, lends it to the engine. It blocks until every event posted so far
  * has reached every listener.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
