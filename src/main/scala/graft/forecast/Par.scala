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

  private val ExecutionIds = Seq("spark.sql.execution.id", "spark.sql.execution.root.id")

  /** `Future(body)` on the global pool, run under the submitting thread's
    * SQL execution ids. A pool thread keeps the Spark local properties it
    * inherited when it was spawned, among them the ids of whatever
    * execution its spawning thread was running; a job it submits later
    * would report that stale execution and nest its own executions under
    * it. The ids are cleared again when the body ends.
    */
  def future[T](spark: org.apache.spark.sql.SparkSession)(body: => T)
      : scala.concurrent.Future[T] = {
    val sc = spark.sparkContext
    val ids = ExecutionIds.map(k => k -> sc.getLocalProperty(k))
    scala.concurrent.Future {
      ids.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      try body finally ExecutionIds.foreach(sc.setLocalProperty(_, null))
    }(scala.concurrent.ExecutionContext.global)
  }

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
