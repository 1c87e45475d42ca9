package org.apache.spark.graftbridge

import org.apache.spark.TaskContext

/** Helper threads that work for a Spark task see the task's `TaskContext`,
  * as Spark's own helper threads do: code on them that calls
  * `TaskContext.get()` finds its task. The task thread that waits on them
  * still honours a kill. The three calls are Spark-private; this object
  * only re-exports them.
  */
object TaskThreads {
  /** Throws `TaskKilledException` if the task was asked to stop. */
  def killIfInterrupted(ctx: TaskContext): Unit = ctx.killTaskIfInterrupted()

  def withContext[T](ctx: TaskContext)(body: => T): T = {
    TaskContext.setTaskContext(ctx)
    try body finally TaskContext.unset()
  }
}
