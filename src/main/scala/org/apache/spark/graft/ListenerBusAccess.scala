package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to the listener bus and to tag cancellation with completion,
  * which Spark keeps package-private. A `SparkListener` sees scheduler
  * events only after the bus delivers them; draining it first makes a
  * later read reflect every event posted before the drain.
  */
object ListenerBusAccess {
  /** Wait up to 60 s for every queued event to be delivered; throws a
    * `TimeoutException` if the queues have not emptied by then.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Cancel the jobs tagged `tag`, wait until the scheduler has handled
    * the cancel, then drain the bus. After that every task the scheduler
    * launched for those jobs has had its start event delivered. Waits at
    * most `timeoutMs`; throws a `TimeoutException` if the bus has not
    * emptied by then.
    */
  def cancelAndDrain(sc: SparkContext, tag: String, reason: String, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    val handled = sc.cancelJobsWithTagWithFuture(tag, reason)
    while (!handled.isCompleted && System.currentTimeMillis() < deadline) Thread.sleep(5)
    sc.listenerBus.waitUntilEmpty(math.max(1L, deadline - System.currentTimeMillis()))
  }
}
