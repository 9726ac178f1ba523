package graft.forecast

/** Per-series kernel twins of the DataFrame target transforms, for the
  * fused CV loop ([[LocalLoop.runCV]]).
  *
  * The interval-CV shared backtest re-fits the transform chain per cutoff
  * (warmup: diff tails and scaler stats over history <= c). As DataFrame
  * work that is one warmup + h-step driver lockstep loop PER WINDOW — the
  * r12 load-melt class, and ~20 blocking panel-scale actions for
  * `cv_intervals_diff_scaler`. These twins let the fused kernel run the
  * chain inside the task instead: per (series, cutoff), `fit` replays the
  * DataFrame path's arithmetic OPERATION-FOR-OPERATION over the series
  * prefix (the bit-identity contract CvIntervalsSpec pins with exceptAll):
  *
  *  - [[Differences]]: stage k's forward is `y(i) - y(i-d)` on the previous
  *    stage's series (below-lag rows missing); the tail is the stage's last
  *    `d` pre-diff values keyed by phase `(d - from_end) % d` — exactly
  *    DiffFitted's row_number-over-desc capture. The inverse replays
  *    `sum(pred).over(id, phase rows unboundedPreceding..current) + tail`:
  *    a null-skipping running sum per phase (a prediction row with a null
  *    value still reads the cumsum-so-far plus tail — Spark's sum skips
  *    nulls, it does not poison), stages undone in reverse fit order.
  *  - [[LocalScaler]] family: stats over the whole per-series partition in
  *    row (= ds) order — standard: shift = s/n, scale = sqrt(greatest(
  *    ss/n - (s/n)*(s/n), 0)); minmax: min / max-min; robust iqr/mad:
  *    Spark Percentile interpolation ([[LocalLoop.sparkPercentile]]) —
  *    then `handle_zeros_in_scale` (null/0 -> 1.0), forward
  *    `(y - shift) / scale`, inverse `v * scale + shift`.
  *
  * Missing-value convention: NaN in the kernel arrays encodes the
  * DataFrame path's SQL null (the same convention [[LocalLoop]]'s history
  * arrays use); aggregates skip NaN exactly where the window aggregates
  * skip null. Transforms with no twin here (BoxCox, auto-transforms,
  * GlobalFuncTransform — whose log1p would have to match Spark's codegen
  * bit-for-bit) keep the driver backtest.
  */
private[graft] object KernelTransforms {

  /** Sequential per-step inverse — MUST be called once per step in
    * ascending step order, step0 = 0-based step index (the driver's
    * `row_number() - 1` stepIdx), for EVERY step whether or not the step
    * emits a row (the cumsum state advances regardless). NaN encodes null.
    */
  trait StepInverse { def invert(step0: Int, v: Double): Double }

  /** Transform chain state fitted at one cutoff. */
  trait Fitted {
    /** The transformed series prefix; valid on [0, hiExcl) of the fit. */
    def transformed: Array[Double]
    /** Fresh inverse state (one per model — each model's predictions form
      * their own cumsum). */
    def newInverter(): StepInverse
  }

  trait KernelTransform extends Serializable {
    /** Fit on `arr[0, hiExcl)` (NaN = missing). `arr` is never mutated. */
    def fit(arr: Array[Double], hiExcl: Int): Fitted
  }

  /** Kernel twin of one DataFrame transform, when one exists. */
  def kernelOf(t: TargetTransform): Option[KernelTransform] = t match {
    case Differences(ds)         => Some(new DiffKernel(ds))
    case _: LocalStandardScaler  => Some(new ScalerKernel("standard"))
    case _: LocalMinMaxScaler    => Some(new ScalerKernel("minmax"))
    case LocalRobustScaler(stat) => Some(new ScalerKernel(stat))
    case _                       => None
  }

  /** Twins for a whole chain (fit order), or None if any stage lacks one
    * or a standard scaler has no difference stage before it
    * ([[LocalScaler.sumsUnordered]]).
    */
  def chainOf(ts: Seq[TargetTransform]): Option[Seq[KernelTransform]] = {
    val ks = ts.map(kernelOf)
    if (ks.forall(_.isDefined) && !LocalScaler.sumsUnordered(ts)) Some(ks.flatten) else None
  }

  private final class DiffKernel(ds: Seq[Int]) extends KernelTransform {
    private val dArr = ds.toArray
    def fit(arr: Array[Double], hiExcl: Int): Fitted = {
      var cur = arr
      val tails = new Array[Array[Double]](dArr.length)
      var si = 0
      while (si < dArr.length) {
        val d = dArr(si)
        // tail of the CURRENT stage (pre-diff), phase-indexed like
        // DiffFitted: phase = (d - from_end) % d, from_end 1..d; a series
        // shorter than d leaves that phase's tail missing (null base)
        val tail = Array.fill(d)(Double.NaN)
        var k = 1
        while (k <= d && hiExcl - k >= 0) {
          tail((d - k) % d) = cur(hiExcl - k)
          k += 1
        }
        tails(si) = tail
        val next = new Array[Double](hiExcl)
        var i = 0
        while (i < hiExcl) {
          next(i) = if (i >= d) cur(i) - cur(i - d) else Double.NaN
          i += 1
        }
        cur = next
        si += 1
      }
      val out = cur
      new Fitted {
        val transformed: Array[Double] = out
        def newInverter(): StepInverse = new StepInverse {
          // per stage, per phase: null-skipping running sum of inverted-so-
          // far predictions (Spark sum semantics over the step window)
          private val sums = dArr.map(d => new Array[Double](d))
          private val seen = dArr.map(d => new Array[Boolean](d))
          def invert(step0: Int, v: Double): Double = {
            var x = v
            var si = dArr.length - 1 // reverse fit order, like the driver
            while (si >= 0) {
              val d = dArr(si)
              val phase = step0 % d
              if (!x.isNaN) {
                sums(si)(phase) =
                  if (seen(si)(phase)) sums(si)(phase) + x else x
                seen(si)(phase) = true
              }
              val t = tails(si)(phase)
              // cumsum + tail; null when no prediction has landed on this
              // phase yet, or the phase has no tail (short series) — the
              // driver's "null is the honest answer" stance
              x = if (!seen(si)(phase) || t.isNaN) Double.NaN
                  else sums(si)(phase) + t
              si -= 1
            }
            x
          }
        }
      }
    }
  }

  private final class ScalerKernel(kind: String) extends KernelTransform {
    require(Set("standard", "minmax", "iqr", "mad")(kind), s"bad scaler $kind")
    def fit(arr: Array[Double], hiExcl: Int): Fitted = {
      // non-missing values in row (= ds) order — the accumulation order of
      // the whole-partition window aggregates the DataFrame path plans
      var shift = Double.NaN
      var scale0 = Double.NaN
      kind match {
        case "standard" =>
          var s = 0.0; var ss = 0.0; var n = 0L
          var i = 0
          while (i < hiExcl) {
            val x = arr(i)
            if (!x.isNaN) { s = s + x; ss = ss + x * x; n += 1 }
            i += 1
          }
          if (n > 0) {
            val nd = n.toDouble
            shift = s / nd
            // exact replay: sqrt(greatest(ss/n - (s/n)*(s/n), 0.0))
            scale0 = math.sqrt(math.max(ss / nd - (s / nd) * (s / nd), 0.0))
          }
        case "minmax" =>
          var mn = Double.NaN; var mx = Double.NaN; var seen = false
          var i = 0
          while (i < hiExcl) {
            val x = arr(i)
            if (!x.isNaN) {
              mn = if (seen) math.min(mn, x) else x
              mx = if (seen) math.max(mx, x) else x
              seen = true
            }
            i += 1
          }
          if (seen) { shift = mn; scale0 = mx - mn }
        case "iqr" | "mad" =>
          val b = new scala.collection.mutable.ArrayBuffer[Double]()
          var i = 0
          while (i < hiExcl) { if (!arr(i).isNaN) b += arr(i); i += 1 }
          if (b.nonEmpty) {
            val sorted = b.toArray
            java.util.Arrays.sort(sorted)
            val med = LocalLoop.sparkPercentile(sorted, 0.5)
            if (kind == "iqr") {
              shift = med
              scale0 = LocalLoop.sparkPercentile(sorted, 0.75) -
                LocalLoop.sparkPercentile(sorted, 0.25)
            } else {
              shift = med
              val dev = b.map(x => math.abs(x - med)).toArray
              java.util.Arrays.sort(dev)
              scale0 = LocalLoop.sparkPercentile(dev, 0.5)
            }
          }
      }
      // handle_zeros_in_scale: null (all-missing series) or 0 -> 1.0
      val scl = if (scale0.isNaN || scale0 == 0.0) 1.0 else scale0
      val sft = shift
      val out = new Array[Double](hiExcl)
      var i = 0
      while (i < hiExcl) {
        out(i) = (arr(i) - sft) / scl // NaN shift/input propagates NaN
        i += 1
      }
      new Fitted {
        val transformed: Array[Double] = out
        def newInverter(): StepInverse = new StepInverse {
          def invert(step0: Int, v: Double): Double = v * scl + sft
        }
      }
    }
  }
}
