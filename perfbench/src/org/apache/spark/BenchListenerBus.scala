package org.apache.spark

/** Access to the listener bus's flush, which Spark keeps package-private:
  * the benchmark's tracer waits for every queued event before it reads
  * the counts its listeners attributed.
  */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
