package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** The listener bus's drain, which Spark keeps package-private: a spec
  * counts its listener's events only after every event posted so far
  * has been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
