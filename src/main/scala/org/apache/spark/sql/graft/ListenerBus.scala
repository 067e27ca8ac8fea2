package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Spark's listener bus, which is private to the `spark` package. */
object ListenerBus {

  /** Waits (up to 10 s) until every event posted so far reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
