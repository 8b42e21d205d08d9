package org.apache.spark

/** The listener-bus drain is `private[spark]`; the benchmark calls it between
  * ops, outside timed regions, so every event of an op is delivered before
  * the op's spans and counters are read.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
