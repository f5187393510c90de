package org.apache.spark

/** Reaches the scheduler's listener bus, which Spark keeps package-private:
  * the traced run waits for every posted event before it summarizes. */
object FlowbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
