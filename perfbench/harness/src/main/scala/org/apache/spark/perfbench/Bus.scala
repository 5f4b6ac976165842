package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.status.api.v1.JobData

/** Listener events are delivered asynchronously; the benchmark waits for
  * the bus to drain before it reads its counters, so a query's last task
  * ends are never read into the next query.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Spark's own record of every job it has run (bounded by
    * spark.ui.retainedJobs), once the bus has drained: an account of the
    * jobs that does not come from the benchmark's listener.
    */
  def jobs(sc: SparkContext): Seq[JobData] = {
    drain(sc)
    sc.statusStore.jobsList(null)
  }
}
