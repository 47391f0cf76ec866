package org.apache.spark.graftbridge

import org.apache.spark.TaskContext

/** Access to the private[spark] input counters of a running task, for a
  * reader that runs inside a task but outside Spark's own file scan, which
  * is the only place Spark counts input bytes itself. */
object InputMetricsBridge {
  /** Adds `bytes` to the input bytes of the task running on this thread;
    * on a thread that runs no task it does nothing. */
  def addBytesRead(bytes: Long): Unit = {
    val task = TaskContext.get()
    if (task != null) task.taskMetrics().inputMetrics.incBytesRead(bytes)
  }
}
