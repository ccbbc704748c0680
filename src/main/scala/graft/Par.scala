package graft

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory}

import scala.util.{Failure, Try}

/** Run independent thunks concurrently, to overlap independent Spark
  * jobs: Spark's scheduler happily runs several jobs at once inside one
  * application; chains of actions are only sequential because the
  * driver code calls them sequentially. Used where a
  * query's construction contains several INDEPENDENT training/peel
  * chains (per-block PQ codebooks, per-k core peels) and where the
  * pipeline's load stages do not depend on each other. Results return
  * in INPUT order, so every downstream fold/join order — and therefore
  * every hash-checked value — is unchanged.
  *
  * This is the one place under `src/main` that creates threads:
  *  - each call gets a fresh pool. SparkContext local properties (the
  *    job group, scheduler pool and any caller-set property) are
  *    inheritable thread-locals copied when a thread is created, so
  *    threads made for this call start their jobs with the caller's
  *    current properties;
  *  - the call waits for EVERY thunk, then rethrows the first failure
  *    in input order (ExecutionException unwrapped, later failures
  *    attached as suppressed). A failed chain fails the call loudly,
  *    as the sequential form did, and no sibling is left running Spark
  *    jobs after the call returns;
  *  - the threads are daemon threads and the pool is shut down in a
  *    `finally`, so no failure path keeps the JVM alive.
  */
private[graft] object Par {

  private val daemon: ThreadFactory = { r =>
    val t = new Thread(r, "graft-par")
    t.setDaemon(true)
    t
  }

  def run[A](thunks: Seq[() => A]): Seq[A] =
    if (thunks.lengthCompare(2) < 0) thunks.map(_())
    else {
      val pool = Executors.newFixedThreadPool(thunks.size, daemon)
      try {
        val futs = thunks.map(t => pool.submit(new Callable[A] {
          override def call(): A = t()
        }))
        val done = futs.map(f => Try(f.get()).recoverWith {
          case e: ExecutionException => Failure(e.getCause)
        })
        done.collect { case Failure(e) => e } match {
          case first +: rest =>
            rest.foreach(e => if (e ne first) first.addSuppressed(e))
            throw first
          case _ => done.map(_.get)
        }
      } finally pool.shutdown()
    }
}
