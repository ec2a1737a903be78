package graft.util

import scala.concurrent.{Await, ExecutionContext, Future, blocking}
import scala.concurrent.duration.Duration

/** Independent Spark actions (writes to distinct sinks) run
  * concurrently from one driver thread, so one action's task tail
  * back-fills with the other's tasks. */
object Par {

  /** Runs every task concurrently and returns their results in order.
    * All tasks are joined before anything is rethrown: the first
    * failure (in argument order) surfaces only once every task has
    * ended, so the caller never unwinds — and releases what the tasks
    * read — while a sibling action is still running detached. Each
    * task runs inside `blocking`, so the global pool adds a thread for
    * it rather than queueing it behind tasks that wait on Spark jobs:
    * every task overlaps, however many there are. */
  def all[T](tasks: (() => T)*): Seq[T] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val running = tasks.map(t => Future(blocking(t())))
    running.foreach(Await.ready(_, Duration.Inf))
    running.map(_.value.get.get)
  }
}
