package graft.operators

/** Overlap INDEPENDENT Spark jobs from driver threads (optimization
  * guide §2.6): actions are only sequential because driver code calls
  * them sequentially, and a Lloyd-style training loop is a chain of
  * small driver-blocking collects that leaves the executors idle
  * between jobs. Running k independent such chains concurrently lets
  * each chain's jobs back-fill the cores the others aren't using —
  * wall-clock becomes max(chain) instead of sum(chain).
  *
  * Use ONLY for tasks that are deterministic and mutually independent
  * (e.g. the PqM per-subspace codebook trainings — separate input
  * slices, no shared mutable state); results assemble by index, so the
  * output order is identical to the sequential loop's.
  */
object Concurrent {

  /** `xs.map(f)` on at most min(|xs|, cores) driver threads. The first
    * element to fail cancels the others, and its own exception is
    * rethrown, not the ExecutionException wrapping it. */
  def parMap[T, R](xs: Seq[T])(f: T => R): Seq[R] = {
    if (xs.lengthCompare(1) <= 0) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(xs.length, Runtime.getRuntime.availableProcessors))
      val done = new java.util.concurrent.ExecutorCompletionService[(Int, R)](pool)
      xs.zipWithIndex.foreach { case (x, i) =>
        done.submit(new java.util.concurrent.Callable[(Int, R)] {
          override def call(): (Int, R) = (i, f(x))
        })
      }
      val out = new Array[Any](xs.length)
      try xs.indices.foreach { _ =>
        val (i, r) =
          try done.take().get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        out(i) = r
      } finally pool.shutdownNow()
      out.toSeq.asInstanceOf[Seq[R]]
    }
  }
}
