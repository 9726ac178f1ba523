package graft.forecast

/** Bounded driver-side fan-out for concurrent backtest / CV windows.
  *
  * The r12 pathology: every composed offset's warmup + lockstep-predict ran
  * in a `Future` on the unbounded global ExecutionContext, so all windows
  * fanned out at once; under a loaded box the concurrent driver loops
  * GC/JIT-starved each other and a 9.9 s query burned 2,813 CPU-s (21× its
  * band). A couple of windows in flight is enough overlap to hide per-job
  * scheduling latency — each window is itself a fully parallel Spark job
  * chain over all cores — while keeping the driver's concurrent-plan
  * footprint flat under load.
  *
  * Each call gets a FRESH fixed pool torn down on exit, so nested fan-outs
  * (runWithIntervals windows → nested CV windows → per-model fits) can
  * never deadlock on a shared saturated pool; the few extra threads per
  * call are driver-side and short-lived.
  */
private[graft] object Par {

  /** Windows in flight per fan-out. */
  val defaultWidth: Int = 3

  /** Run `thunks` with at most `width` in flight; preserves order and
    * rethrows the first failure with its original type (callers' loud
    * `require`s must surface unchanged).
    */
  def run[T](thunks: Seq[() => T], width: Int = defaultWidth): Seq[T] = {
    if (thunks.isEmpty) return Nil
    if (thunks.size == 1 || width <= 1) return thunks.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(width, thunks.size),
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-window-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      })
    try {
      val futs = thunks.map(t =>
        pool.submit(new java.util.concurrent.Callable[T] { def call(): T = t() }))
      futs.map { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
      }
    } finally pool.shutdown()
  }
}
