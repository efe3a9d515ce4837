package org.apache.spark

/** One of the benchmark's two non-public calls (the other is
  * `classic.Dataset.ofRows` in `PerfbenchJoins`): waiting until the
  * listener bus has delivered every event posted so far. Spark has no
  * public way to do this. The traced run calls it between queries,
  * outside every timed span, so listener data can be attributed to the
  * query that produced it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
