package graft.operators

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.util.{Failure, Success, Try}

/** Independent Spark actions submitted from separate driver threads. Each
  * action is its own job for the session's shared scheduler, so the cores a
  * small job leaves idle go to its siblings instead of waiting for it. */
private[graft] object Concurrently {

  /** `items.map(f)` with every call on its own thread, results in input
    * order. The pool is created inside the call and shut down after it, so
    * its threads are fresh children of the caller: they inherit the
    * caller's Spark local properties (job group, description, scheduler
    * pool), which a reused pool's threads would hold stale from whoever
    * created them. Every call finishes before the first failure in input
    * order is rethrown as the call's own exception. */
  def map[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.lengthCompare(1) <= 0) items.map(f)
    else {
      val pool = Executors.newFixedThreadPool(items.length)
      try {
        val calls = items.toVector.map(a => pool.submit(new Callable[B] {
          def call(): B = f(a)
        }))
        calls.map(c => Try(c.get())).map {
          case Success(b) => b
          case Failure(e: ExecutionException) => throw e.getCause
          case Failure(e) => throw e
        }
      } finally pool.shutdown()
    }
}
