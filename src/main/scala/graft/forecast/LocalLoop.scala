package graft.forecast

import java.time.LocalDate
import java.time.temporal.WeekFields

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Freq, PanelFrame}
import graft.functions._
import graft.operators.{FeatureSpec, Featurizer}

/** Fused per-series recursive predict: one predict kernel ([[run]]), a
  * series state decoded once ([[Series]]) and one scoring step
  * ([[PredictStep]]), on one of two schedules. A spec whose transforms are
  * all local (per-series) folds ALL h steps for ALL models inside one
  * `mapPartitions` pass over the (id, ds)-sorted panel: one shuffle, one
  * job, zero driver round-trips. This is the reference's own distributed
  * stance (its `distributed/forecast.py:520-577` runs the whole recursive
  * loop per partition) re-expressed natively. A spec
  * with pooled transforms, whose cross-series state forces synchronized
  * steps, maps the same step once per Spark job when they are bounded
  * component windows over `global`/`groupby` buckets: the series stay in
  * executor partitions, and the driver only combines per-(bucket, ds)
  * partials (the reference's `_ts_aggs`, pooled.py) and broadcasts the next
  * step's pooled features. The driver-orchestrated lockstep loop in
  * [[FittedMLForecast]] remains for the other pooled shapes (partitionBy,
  * timeAgg, unbounded or non-decomposable).
  *
  * Fit featurizes with the same kernels ([[featurize]], chosen by
  * [[featurizes]]): one kernel-partitioned pass builds the training frame,
  * local features from [[FeatureRow]] over each series' history and pooled
  * ones from a broadcast table the driver evaluates over exact
  * per-(scope, bucket, date) partials ([[PooledCalendars]], shared with the
  * per-step schedule). Specs the rule refuses keep the window Featurizer.
  *
  * Exactness contract: every kernel below mirrors its window-transform
  * twin in [[graft.functions.LagTransforms]] — same guards, same FP
  * accumulation order (left-to-right over ascending positions; seasonal
  * frames in ascending frame index), same interpolation formulas — so fused
  * and driver-loop predictions are bit-identical (asserted in ForecastSpec).
  *
  * At 100 TB: per-task memory is one series' tail at a time. A bounded
  * spec keeps [[HistoryCut]]'s rows, like the driver loop's
  * [[MLForecast.predictHistory]]: the last `updateSamplesBound + 1` rows of
  * each series, and with pooled transforms also every row on or after its
  * bucket scope's cut. Unbounded specs stream the full series into its
  * task — the same per-worker assumption the reference's GroupedArray
  * makes.
  */
private[graft] object LocalLoop {

  /** History view: immutable fitted values + the model's first `appLen`
    * appended predictions. NaN encodes missing (the window featurizer's
    * cleanNaN null), so kernels skip NaN exactly where window aggregates
    * skip null. `lo`/`hiExcl` bound the visible history slice — the CV fast
    * path windows the same array at several cutoffs without copying.
    */
  private final class View(hist: Array[Double], lo: Int, hiExcl: Int,
                           app: Array[Double], appLen: Int) {
    def this(hist: Array[Double], app: Array[Double]) =
      this(hist, 0, hist.length, app, app.length)
    private val hLen = hiExcl - lo
    def len: Int = hLen + appLen
    def apply(i: Int): Double = if (i < hLen) hist(lo + i) else app(i - hLen)
  }

  /** A compiled transform kernel: feature value at the next position (= one
    * past the view's end), null = SQL NULL.
    */
  private type Eval = View => java.lang.Double

  private def nnCount(v: View, lo: Int, hi: Int): Int = {
    var c = 0; var i = math.max(lo, 0)
    val end = math.min(hi, v.len - 1)
    while (i <= end) { if (!v(i).isNaN) c += 1; i += 1 }
    c
  }

  /** sqrt(greatest((ss - s*s/n)/(n-1), 0)) — LagTransforms.stdFromSums. */
  private def stdFromSums(s: Double, ss: Double, n: Double): Double =
    math.sqrt(math.max((ss - s * s / n) / (n - 1.0), 0.0))

  /** Spark's Percentile linear interpolation over a SORTED non-empty array:
    * (higher - pos) * v(lo) + (pos - lower) * v(hi).
    */
  private[forecast] def sparkPercentile(sorted: Array[Double], p: Double): Double = {
    val pos = p * (sorted.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi) sorted(lo)
    else (hi - pos) * sorted(lo) + (pos - lo) * sorted(hi)
  }

  /** SeasonalRollingQuantile's interpolation: v(lo)*(1-frac) + v(hi)*frac. */
  private def seasonalPercentile(sorted: Array[Double], p: Double): Double = {
    val pos = p * (sorted.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    val frac = pos - lo
    sorted(lo) * (1.0 - frac) + sorted(hi) * frac
  }

  private def collectWindow(v: View, lo: Int, hi: Int): Array[Double] = {
    val b = new ArrayBuffer[Double]()
    var i = math.max(lo, 0)
    val end = math.min(hi, v.len - 1)
    while (i <= end) { if (!v(i).isNaN) b += v(i); i += 1 }
    b.toArray
  }

  /** Compile one (lag, transform) into a local kernel; None = unsupported
    * (the caller then falls back to the driver loop).
    */
  private def compile(lag: Int, t: LagTransform): Option[Eval] = t match {
    case _: Lag => Some { v =>
      val i = v.len - lag
      if (i < 0 || v(i).isNaN) null else java.lang.Double.valueOf(v(i))
    }
    // Local LookupLag with no tiebreak = row lag on the dense panel.
    case l: LookupLag if l.pooling.isLocal && l.tiebreak.isEmpty => Some { v =>
      val i = v.len - lag
      if (i < 0 || v(i).isNaN) null else java.lang.Double.valueOf(v(i))
    }
    case r: RollingMean => Some { v =>
      val (lo, hi) = (v.len - lag - r.windowSize + 1, v.len - lag)
      val cnt = nnCount(v, lo, hi)
      if (cnt >= r.resolvedMinSamples && cnt > 0) {
        var s = 0.0; var i = math.max(lo, 0)
        while (i <= hi) { if (!v(i).isNaN) s += v(i); i += 1 }
        java.lang.Double.valueOf(s / cnt)
      } else null
    }
    case r: RollingStd => Some { v =>
      val (lo, hi) = (v.len - lag - r.windowSize + 1, v.len - lag)
      val cnt = nnCount(v, lo, hi)
      if (cnt >= r.resolvedMinSamples && cnt > 1) {
        var s = 0.0; var ss = 0.0; var i = math.max(lo, 0)
        while (i <= hi) { if (!v(i).isNaN) { s += v(i); ss += v(i) * v(i) }; i += 1 }
        java.lang.Double.valueOf(stdFromSums(s, ss, cnt.toDouble))
      } else null
    }
    case r: RollingMin => Some { v =>
      val vals = collectWindow(v, v.len - lag - r.windowSize + 1, v.len - lag)
      if (vals.length >= r.resolvedMinSamples && vals.nonEmpty)
        java.lang.Double.valueOf(vals.min)
      else null
    }
    case r: RollingMax => Some { v =>
      val vals = collectWindow(v, v.len - lag - r.windowSize + 1, v.len - lag)
      if (vals.length >= r.resolvedMinSamples && vals.nonEmpty)
        java.lang.Double.valueOf(vals.max)
      else null
    }
    case r: RollingQuantile => Some { v =>
      val vals = collectWindow(v, v.len - lag - r.windowSize + 1, v.len - lag)
      if (vals.length >= r.resolvedMinSamples && vals.nonEmpty) {
        java.util.Arrays.sort(vals)
        java.lang.Double.valueOf(sparkPercentile(vals, r.p))
      } else null
    }
    case sr: SeasonalRollingBase =>
      // sampled positions: len - lag - i*season for i in 0..w-1 (ascending i
      // = the window expression's frame order, kept for FP-exact sums)
      def sampled(v: View): Array[Double] = {
        val b = new ArrayBuffer[Double](sr.windowSize)
        var i = 0
        while (i < sr.windowSize) {
          val p = v.len - lag - i * sr.seasonLength
          if (p >= 0 && p < v.len && !v(p).isNaN) b += v(p)
          i += 1
        }
        b.toArray
      }
      val ms = sr.resolvedMinSamples
      sr match {
        case _: SeasonalRollingMean => Some { v =>
          val xs = sampled(v)
          if (xs.length >= ms && xs.nonEmpty) {
            var s = 0.0; xs.foreach(s += _)
            java.lang.Double.valueOf(s / xs.length)
          } else null
        }
        case _: SeasonalRollingStd => Some { v =>
          val xs = sampled(v)
          if (xs.length >= ms && xs.length > 1) {
            var s = 0.0; var ss = 0.0
            xs.foreach { x => s += x; ss += x * x }
            java.lang.Double.valueOf(stdFromSums(s, ss, xs.length.toDouble))
          } else null
        }
        case _: SeasonalRollingMin => Some { v =>
          val xs = sampled(v)
          if (xs.length >= ms && xs.nonEmpty) java.lang.Double.valueOf(xs.min) else null
        }
        case _: SeasonalRollingMax => Some { v =>
          val xs = sampled(v)
          if (xs.length >= ms && xs.nonEmpty) java.lang.Double.valueOf(xs.max) else null
        }
        case q: SeasonalRollingQuantile => Some { v =>
          val xs = sampled(v)
          if (xs.length >= ms && xs.nonEmpty) {
            java.util.Arrays.sort(xs)
            java.lang.Double.valueOf(seasonalPercentile(xs, q.p))
          } else null
        }
      }
    case _: ExpandingMean => Some { v =>
      val hi = v.len - lag
      val cnt = nnCount(v, 0, hi)
      if (cnt > 0) {
        var s = 0.0; var i = 0
        while (i <= math.min(hi, v.len - 1)) { if (!v(i).isNaN) s += v(i); i += 1 }
        java.lang.Double.valueOf(s / cnt)
      } else null
    }
    case _: ExpandingStd => Some { v =>
      val hi = math.min(v.len - lag, v.len - 1)
      var s = 0.0; var ss = 0.0; var cnt = 0; var i = 0
      while (i <= hi) {
        if (!v(i).isNaN) { s += v(i); ss += v(i) * v(i); cnt += 1 }
        i += 1
      }
      if (cnt > 1) java.lang.Double.valueOf(stdFromSums(s, ss, cnt.toDouble)) else null
    }
    case _: ExpandingMin => Some { v =>
      val vals = collectWindow(v, 0, v.len - lag)
      if (vals.nonEmpty) java.lang.Double.valueOf(vals.min) else null
    }
    case _: ExpandingMax => Some { v =>
      val vals = collectWindow(v, 0, v.len - lag)
      if (vals.nonEmpty) java.lang.Double.valueOf(vals.max) else null
    }
    case q: ExpandingQuantile => Some { v =>
      val vals = collectWindow(v, 0, v.len - lag)
      if (vals.nonEmpty) {
        java.util.Arrays.sort(vals)
        java.lang.Double.valueOf(sparkPercentile(vals, q.p))
      } else null
    }
    case e: ExponentiallyWeightedMean if e.pooling.isLocal => Some { v =>
      // EwmUpdate recursion: state starts at first non-missing, missing
      // leaves it untouched; value = state after consuming prefix <= -lag.
      val hi = math.min(v.len - lag, v.len - 1)
      var state: java.lang.Double = null
      var i = 0
      while (i <= hi) {
        val x = v(i)
        if (!x.isNaN)
          state =
            if (state == null) java.lang.Double.valueOf(x)
            else java.lang.Double.valueOf(e.alpha * x + (1.0 - e.alpha) * state)
        i += 1
      }
      state
    }
    case o: Offset => compile(lag + o.n, o.inner)
    case c: Combine =>
      for (e1 <- compile(lag, c.t1); e2 <- compile(lag, c.t2)) yield { (v: View) =>
        val a = e1(v); val b = e2(v)
        if (a == null || b == null) null
        else java.lang.Double.valueOf(c.op match {
          case "add"     => a.doubleValue + b.doubleValue
          case "sub"     => a.doubleValue - b.doubleValue
          case "mul"     => a.doubleValue * b.doubleValue
          case "truediv" => a.doubleValue / b.doubleValue
        })
      }
    case _ => None
  }

  /** One pooled bucket's calendar, ascending: per entry its date and the
    * Featurizer's components `__c`, `__s`, `__ss`, `__mn`, `__mx` (sum, min
    * and max are meaningless where `c` is 0, where Spark's are null).
    */
  private final class Comps(val dates: Array[Any], val c: Array[Long], val s: Array[Double],
                            val ss: Array[Double], val mn: Array[Double], val mx: Array[Double])

  /** A calendar of exact partials as [[Comps]], each sum rounded once. */
  private def compsOf(cal: java.util.TreeMap[Any, Comp]): Comps = {
    val n = cal.size
    val x = new Comps(new Array[Any](n), new Array[Long](n), new Array[Double](n),
      new Array[Double](n), new Array[Double](n), new Array[Double](n))
    var i = 0
    val it = cal.entrySet.iterator
    while (it.hasNext) {
      val e = it.next(); val cp = e.getValue
      x.dates(i) = e.getKey; x.c(i) = cp.c; x.s(i) = cp.sum; x.ss(i) = cp.sumSq
      x.mn(i) = cp.mn; x.mx(i) = cp.mx
      i += 1
    }
    x
  }

  /** Calendar order of the kernels' dates (dates, timestamps, numbers). */
  private val dateOrdering: Ordering[Any] =
    (a: Any, b: Any) => a.asInstanceOf[Comparable[Any]].compareTo(b)

  /** Adds partial `comp` for date `ds` to calendar `cal`. */
  private def mergeAt(cal: java.util.TreeMap[Any, Comp], ds: Any, comp: Comp): Unit = {
    val cur = cal.get(ds)
    if (cur == null) cal.put(ds, comp.copy()) else cur.merge(comp)
  }

  /** A compiled pooled transform: its value at calendar position `o`. */
  private type PooledEval = (Comps, Int) => java.lang.Double

  /** Driver-side twin of a pooled transform's `stagesFromComponents` window
    * over the per-(bucket, ordinal) components: the same RANGE frame, the
    * same guards, and Spark's window `sum` — a null-skipping fold from 0.0
    * in ascending ordinal order. None = the lockstep kernel cannot serve it.
    */
  private def compilePooled(lag: Int, t: LagTransform): Option[PooledEval] = {
    def frame(x: Comps, lo: Int, hi: Int)(f: Int => Unit): Long = {
      var n = 0L; var i = math.max(lo, 0)
      while (i <= hi) { n += x.c(i); if (x.c(i) > 0) f(i); i += 1 }
      n
    }
    def boxed(ok: Boolean, v: => Double): java.lang.Double =
      if (ok) java.lang.Double.valueOf(v) else null
    t match {
      case o: Offset => compilePooled(lag + o.n, o.inner)
      case r: SeasonalRollingBase =>
        val ms = r.resolvedMinSamples
        // one single-ordinal frame per season, summed frame by frame
        def frames(x: Comps, o: Int)(f: (Int, Boolean) => Unit): Long = {
          var n = 0L; var i = 0
          while (i < r.windowSize) {
            val p = o - lag - i * r.seasonLength
            val has = p >= 0 && x.c(p) > 0
            if (p >= 0) n += x.c(p)
            f(p, has); i += 1
          }
          n
        }
        r match {
          case _: SeasonalRollingMean => Some { (x, o) =>
            var tot = 0.0; var first = true
            val n = frames(x, o) { (p, has) =>
              val v = if (has) 0.0 + x.s(p) else 0.0
              tot = if (first) v else tot + v; first = false
            }
            boxed(n >= ms && n > 0, tot / n)
          }
          case _: SeasonalRollingStd => Some { (x, o) =>
            var s = 0.0; var ss = 0.0; var first = true
            val n = frames(x, o) { (p, has) =>
              val v = if (has) 0.0 + x.s(p) else 0.0
              val vv = if (has) 0.0 + x.ss(p) else 0.0
              if (first) { s = v; ss = vv } else { s += v; ss += vv }
              first = false
            }
            boxed(n >= ms && n > 1, stdFromSums(s, ss, n.toDouble))
          }
          case _: SeasonalRollingMin => Some { (x, o) =>
            var m = Double.NaN
            val n = frames(x, o) { (p, has) =>
              if (has) m = if (m.isNaN) x.mn(p) else math.min(m, x.mn(p)) }
            boxed(n >= ms && n > 0 && !m.isNaN, m)
          }
          case _: SeasonalRollingMax => Some { (x, o) =>
            var m = Double.NaN
            val n = frames(x, o) { (p, has) =>
              if (has) m = if (m.isNaN) x.mx(p) else math.max(m, x.mx(p)) }
            boxed(n >= ms && n > 0 && !m.isNaN, m)
          }
          case _ => None
        }
      case r: RollingBase =>
        val ms = r.resolvedMinSamples
        def bounds(o: Int) = (o - lag - r.windowSize + 1, o - lag)
        r match {
          case _: RollingMean => Some { (x, o) =>
            val (lo, hi) = bounds(o)
            var s = 0.0
            val n = frame(x, lo, hi)(i => s += x.s(i))
            boxed(n >= ms && n > 0, s / n)
          }
          case _: RollingStd => Some { (x, o) =>
            val (lo, hi) = bounds(o)
            var s = 0.0; var ss = 0.0
            val n = frame(x, lo, hi) { i => s += x.s(i); ss += x.ss(i) }
            boxed(n >= ms && n > 1, stdFromSums(s, ss, n.toDouble))
          }
          case _: RollingMin => Some { (x, o) =>
            val (lo, hi) = bounds(o)
            var m = Double.PositiveInfinity
            val n = frame(x, lo, hi)(i => m = math.min(m, x.mn(i)))
            boxed(n >= ms && n > 0, m)
          }
          case _: RollingMax => Some { (x, o) =>
            val (lo, hi) = bounds(o)
            var m = Double.NegativeInfinity
            val n = frame(x, lo, hi)(i => m = math.max(m, x.mx(i)))
            boxed(n >= ms && n > 0, m)
          }
          case _ => None
        }
      case _ => None
    }
  }

  /** The non-local transforms the lockstep kernel serves: bounded, built
    * from the Featurizer's components (the transforms [[compilePooled]]
    * mirrors), over a `global` or `groupby` bucket with no `partitionBy`
    * or `timeAgg` — so the bucket IS its parent scope, whose calendar is
    * the bucket's own dates.
    */
  private def lockstepPoolable(lag: Int, t: LagTransform): Boolean = {
    val pl = t.pooling
    (pl.global || pl.groupby.nonEmpty) && pl.partitionBy.isEmpty && pl.timeAgg.isEmpty &&
      t.forcedCollapse.isEmpty && t.updateSamples(lag).isDefined &&
      compilePooled(lag, t).isDefined
  }

  /** Local date features, matching DateFeatures' Spark expressions (pandas
    * conventions) on DateType columns.
    */
  private def dateFeature(name: String): Option[LocalDate => Int] = name match {
    case "year"         => Some(_.getYear)
    case "month"        => Some(_.getMonthValue)
    case "day"          => Some(_.getDayOfMonth)
    case "hour"         => Some(_ => 0)
    case "minute"       => Some(_ => 0)
    case "second"       => Some(_ => 0)
    case "dayofyear"    => Some(_.getDayOfYear)
    case "dayofweek"    => Some(_.getDayOfWeek.getValue - 1) // pandas: 0=Monday
    case "week"         => Some(_.get(WeekFields.ISO.weekOfWeekBasedYear()))
    case "quarter"      => Some(d => (d.getMonthValue - 1) / 3 + 1)
    case "daysinmonth"  => Some(_.lengthOfMonth)
    case "is_month_start"   => Some(d => if (d.getDayOfMonth == 1) 1 else 0)
    case "is_month_end"     => Some(d => if (d.getDayOfMonth == d.lengthOfMonth) 1 else 0)
    case "is_quarter_start" => Some(d => if (d.getDayOfMonth == 1 && (d.getMonthValue - 1) % 3 == 0) 1 else 0)
    case "is_quarter_end"   => Some(d => if (d.getDayOfMonth == d.lengthOfMonth && d.getMonthValue % 3 == 0) 1 else 0)
    case "is_year_start"    => Some(d => if (d.getDayOfYear == 1) 1 else 0)
    case "is_year_end"      => Some(d => if (d.getMonthValue == 12 && d.getDayOfMonth == 31) 1 else 0)
    case _ => None
  }

  /** Local `freq.advance(lastDs, step)` for the supported (freq, ds type)
    * combinations — single hop from the last observed date, like the driver
    * loop's placeholder grid.
    */
  private def advancer(freq: Freq, dsType: DataType): Option[(Any, Int) => Any] =
    (freq, dsType) match {
      case (Freq.IntFreq(n), LongType) =>
        Some((ds, s) => ds.asInstanceOf[Long] + s * n)
      case (Freq.DayFreq(n), DateType) =>
        Some((ds, s) => java.sql.Date.valueOf(
          ds.asInstanceOf[java.sql.Date].toLocalDate.plusDays(s.toLong * n)))
      case (Freq.WeekFreq(n, _), DateType) =>
        Some((ds, s) => java.sql.Date.valueOf(
          ds.asInstanceOf[java.sql.Date].toLocalDate.plusDays(7L * s * n)))
      case (Freq.BusinessDayFreq(n), DateType) =>
        // same split as the Column expression: weekday position + signed
        // steps → whole weeks (floorDiv) + 0..4 remainder
        Some((ds, s) => {
          val ld = ds.asInstanceOf[java.sql.Date].toLocalDate
          val w = ld.getDayOfWeek.getValue - 1L // Monday = 0
          val total = w + s.toLong * n
          val weeks = Math.floorDiv(total, 5L)
          val rem = total - weeks * 5L
          java.sql.Date.valueOf(ld.plusDays(weeks * 7L + rem - w))
        })
      case (Freq.MonthFreq(n), DateType) =>
        Some((ds, s) => java.sql.Date.valueOf(
          ds.asInstanceOf[java.sql.Date].toLocalDate.plusMonths(s.toLong * n)))
      case (Freq.MonthEndFreq(n), DateType) =>
        // plusMonths clamps exactly like add_months; the month-end re-snap
        // mirrors the Column expression's last_day
        Some((ds, s) => {
          val m = ds.asInstanceOf[java.sql.Date].toLocalDate.plusMonths(s.toLong * n)
          java.sql.Date.valueOf(m.withDayOfMonth(m.lengthOfMonth()))
        })
      case (Freq.SecondFreq(sec), TimestampType) =>
        // unix_timestamp floors to whole seconds, timestamp_seconds rebuilds
        Some((ds, s) => new java.sql.Timestamp(
          (Math.floorDiv(ds.asInstanceOf[java.sql.Timestamp].getTime, 1000L) + s * sec) * 1000L))
      case (Freq.MilliFreq(ms), TimestampType) =>
        // Timestamp.getTime IS epoch millis — exact at this grid
        Some((ds, s) => new java.sql.Timestamp(
          ds.asInstanceOf[java.sql.Timestamp].getTime + s.toLong * ms))
      case _ => None
    }

  /** Output ds type after `freq.advance` (plan-only schema probe). */
  private def advancedDsType(p: PanelFrame): DataType =
    p.df.select(p.freq.advance(p.ds, lit(1)).as("__t")).schema.head.dataType

  /** Kernel oversplit ceiling, as a multiple of the shuffle partitions. */
  private val KernelTaskFactor = 4
  /** Input bytes each oversplit kernel task must still hold. */
  private val KernelMinPartitionBytes = 8L << 20

  /** Kernel task count for a panel of `sizeInBytes` (None = the estimate
    * failed) over `base` shuffle partitions. At one task per core, hash
    * placement leaves partitions carrying several times the mean series
    * count and the stage waits on that straggler (r13: bench_predict_h14
    * wall ≈ 2× CPU/32 at 32 partitions); oversplitting up to
    * [[KernelTaskFactor]] × base bounds the imbalance. The oversplit is
    * SIZE-GATED: it only engages while each task still holds
    * [[KernelMinPartitionBytes]] of input — below that floor the extra tasks
    * are pure scheduling + shuffle-block overhead (measured at sf0.1/32
    * cores: a flat 4× split regressed the interval-CV family 0.6-0.75×).
    * The gate fails CLOSED: an estimate at or above `unknownAt` (Catalyst's
    * defaultSizeInBytes, what it reports when it cannot size a plan) or a
    * failed estimate keeps `base`.
    */
  private[forecast] def kernelTasks(base: Int, sizeInBytes: Option[BigInt],
                                    unknownAt: BigInt): Int =
    sizeInBytes.filter(_ < unknownAt) match {
      case Some(bytes) =>
        val cap = math.min(base.toLong * KernelTaskFactor, Int.MaxValue.toLong).toInt
        val bySize = (bytes / KernelMinPartitionBytes).min(BigInt(Int.MaxValue)).toInt
        math.max(base, math.min(cap, bySize))
      case None => base
    }

  /** Kernel input layout: hash-partition by id into [[kernelTasks]]
    * partitions, series contiguous and ascending within each partition. The
    * base is whatever partitioning the session (or AQE) chose, not a local
    * constant. Per-series results are partitioning-independent, so values
    * are unchanged (ForecastSpec's fused-vs-driver bit-identity pins this).
    */
  private def kernelPartitioned(df: DataFrame, p: PanelFrame): DataFrame = {
    val conf = df.sparkSession.conf
    val base = math.max(1,
      try conf.get("spark.sql.shuffle.partitions", "200").toInt catch {
        case _: NumberFormatException => 200 // e.g. shuffle.partitions = "auto"
      })
    // catalyst size estimate of the PANEL, not the assembled kernel input
    // (pinned panels are a single LogicalRDD node with measured block
    // sizes — optimizing that plan is trivial, while the input's
    // union/join lineage would cost a second full optimizer pass per
    // kernel call and its join estimates inflate); the input is the panel
    // ± a few rows per series, well inside the gate's 4× band. No action
    // runs.
    val bytes =
      try Some(p.df.queryExecution.optimizedPlan.stats.sizeInBytes)
      catch { case scala.util.control.NonFatal(_) => None }
    val unknownAt = BigInt(org.apache.spark.sql.internal.SQLConf.get.defaultSizeInBytes)
    df.repartition(kernelTasks(base, bytes, unknownAt), p.id).sortWithinPartitions(p.id, p.ds)
  }

  /** Kernels in featureNames order: lags, transforms by ascending lag —
    * the features_order_ contract every kernel's [[FeatureRow]] follows.
    * The i-th non-local transform reads `pooled(i)`.
    */
  private def compiledEvals(spec: FeatureSpec, pooled: Int => Eval): Seq[Eval] = {
    var i = -1
    spec.allTransforms.map { case (l, t) =>
      if (t.pooling.isLocal) compile(l, t).get else { i += 1; pooled(i) }
    }
  }

  /** Every local transform has a kernel; non-local ones are refused, or,
    * with `pooled`, admitted when the lockstep kernel serves them.
    */
  private def kernelsCompile(spec: FeatureSpec, pooled: Boolean = false): Boolean =
    spec.allTransforms.forall { case (l, t) =>
      if (t.pooling.isLocal) compile(l, t).isDefined
      else pooled && lockstepPoolable(l, t)
    }

  /** Streaming bridge: the [[FeatureRow]] of a spec without statics or exog,
    * as a function of (history, appended predictions, how many of them are
    * set, target date) — the date is read only when the spec has date
    * features. History uses NaN for missing. None if any transform lacks a
    * fused kernel.
    */
  private[graft] def streamingFeatures(spec: FeatureSpec, nFeatures: Int)
      : Option[(Array[Double], Array[Double], Int, java.sql.Date) => Array[Double]] =
    if (!kernelsCompile(spec)) None
    else {
      val features = new FeatureRow(spec, 0, 0, nFeatures)
      Some((hist, app, n, ds) =>
        features(new View(hist, 0, hist.length, app, n), ds, Array.emptyDoubleArray, null))
    }

  // ---- The route rule: fused kernel or driver lockstep loop -------------
  //
  // Every predict / CV / interval call site asks these functions, and runCV
  // requires the same per-model plan, so no caller can admit a pipeline the
  // kernel would reject.

  /** The kernels can group and featurize this panel: every transform has
    * a kernel (non-local ones with `pooled`, [[kernelsCompile]]), and every
    * date feature one on a DateType axis.
    */
  private def featuresCompile(spec: FeatureSpec, p: PanelFrame, pooled: Boolean): Boolean = {
    // the kernels group sorted rows into series via universal equality on
    // the id value; BinaryType ids surface as fresh Array[Byte] per row
    // (reference equality — every row would become its own series), so
    // binary ids route to the driver loop, whose joins/windows compare
    // binary by value. Pooled bucket keys are compared the same way.
    val keyCols = p.idCol +: spec.allTransforms.flatMap(_._2.pooling.bucketCols(p.idCol))
    keyCols.distinct.forall(c => p.df.columns.contains(c) && p.df.schema(c).dataType != BinaryType) &&
      kernelsCompile(spec, pooled) &&
      spec.customDateFeatures.isEmpty &&
      (spec.dateFeatures.isEmpty ||
        (p.df.schema(p.timeCol).dataType == DateType &&
          spec.dateFeatures.forall(dateFeature(_).isDefined)))
  }

  /** Spec/panel half of the rule: the kernels can group, featurize, date
    * and advance this panel. The rollout, which has no driver twin, asks
    * only this; the routed calls also honor [[enabled]].
    */
  private def compiles(conf: MLForecast, p: PanelFrame, pooled: Boolean = false): Boolean =
    featuresCompile(conf.spec, p, pooled) &&
      advancer(conf.freq, p.df.schema(p.timeCol).dataType).isDefined

  /** The user's switch: `fusedPredict = false` keeps every routed call,
    * and interval CV's shared union-of-offsets backtest, on the original
    * per-window driver path.
    */
  def enabled(conf: MLForecast): Boolean = conf.fusedPredict

  private def routable(conf: MLForecast, p: PanelFrame, pooled: Boolean = false): Boolean =
    enabled(conf) && conf.directHorizons.isEmpty && compiles(conf, p, pooled)

  /** Per-model half of the CV rule — the plan [[runCV]] executes. Per
    * model: Some(false) = serve from the driver-trained scorer, which stays
    * valid under the refit schedule (refit = false, or a dataFree model);
    * Some(true) = refit in-task through its localFitter; None = neither.
    */
  private def refitPlan(conf: MLForecast, trained: Seq[(String, TrainedModel)],
                        allFeatures: Seq[String], refit: Boolean): Seq[Option[Boolean]] =
    trained.map { case (n, tm) =>
      val m = conf.models.find(_.name == n)
      if (tm.scorer(allFeatures).isDefined && (!refit || m.exists(_.dataFree))) Some(false)
      else if (m.exists(_.localFitter(allFeatures).isDefined)) Some(true)
      else None
    }

  /** The CV rule over a refit plan. In-kernel refit featurizes each
    * window's training slice per series, so it needs that slice bounded
    * (an inputSize cap or a bounded spec; otherwise it is quadratic in
    * series length) and cannot run under a transform chain (it would have
    * to label in transformed space). A chain refits per cutoff over the
    * whole prefix, so it cannot honor an inputSize cap.
    */
  private def cvAdmits(conf: MLForecast, plan: Seq[Option[Boolean]],
                       chain: Seq[KernelTransforms.KernelTransform],
                       inputSize: Option[Int]): Boolean =
    plan.forall(_.isDefined) && (chain.isEmpty || inputSize.isEmpty) &&
      (!plan.contains(Some(true)) ||
        (chain.isEmpty && (inputSize.isDefined || conf.spec.updateSamplesBound.isDefined)))

  /** Predict route: true = [[run]]. Each model must carry a scorer or a
    * per-series constant (seriesLevels); a callback fuses only through its
    * scalar after-hook (its contract: beforePredict is the identity).
    * Pooled transforms of the lockstep kernel's shape are admitted
    * ([[lockstepPoolable]]); CV and the rollout stay local-only.
    */
  def fusesPredict(conf: MLForecast, p: PanelFrame, trained: Seq[(String, TrainedModel)],
                   dynCols: Seq[String], callback: Option[PredictCallback]): Boolean =
    callback.forall(_.afterScalar.isDefined) && routable(conf, p, pooled = true) &&
      trained.forall { case (_, tm) =>
        tm.scorer(conf.featureCols ++ dynCols).isDefined || tm.seriesLevels.isDefined }

  /** CV route: Some((trained, chain)) = [[runCV]] with that target
    * transform chain (Nil without transforms); None = driver windows. The
    * spec half is checked first, so `trained` — possibly a window fit — is
    * built only when it can matter. CV callbacks hook the per-step loop,
    * which the kernel does not expose.
    */
  def cvRoute(conf: MLForecast, p: PanelFrame, dynCols: Seq[String], refit: Boolean,
              inputSize: Option[Int], callback: Option[PredictCallback] = None)(
      trained: => Seq[(String, TrainedModel)])
      : Option[(Seq[(String, TrainedModel)], Seq[KernelTransforms.KernelTransform])] =
    for {
      chain <- KernelTransforms.chainOf(conf.targetTransforms)
      if callback.isEmpty && routable(conf, p)
      t = trained
      if t.nonEmpty &&
        cvAdmits(conf, refitPlan(conf, t, conf.featureCols ++ dynCols, refit), chain, inputSize)
    } yield (t, chain)

  /** Fit's featurize route: true = [[featurize]] builds the training
    * features (fit, warmup, load and update ask it), false = the window
    * Featurizer. It admits a bounded spec whose local transforms have
    * kernels and whose pooled ones are [[lockstepPoolable]]; it fails
    * closed to the Featurizer on `fusedPredict = false`, unbounded
    * transforms, `partitionBy`, `timeAgg`, non-decomposable pooled
    * transforms, pooling at a sub-minute frequency (the Featurizer's loud
    * refusal), repeated feature names or features already on the panel
    * (the Featurizer's checks and keep-as-is contract), and a non-numeric
    * target or exog. [[featurize]] itself falls back when its pooled table
    * is too large.
    */
  def featurizes(conf: MLForecast, p: PanelFrame, dynCols: Seq[String]): Boolean = {
    val spec = conf.spec
    val names = spec.featureNames
    val pooled = spec.allTransforms.exists(!_._2.pooling.isLocal)
    enabled(conf) && spec.updateSamplesBound.isDefined &&
      featuresCompile(spec, p, pooled = true) &&
      !(pooled && Featurizer.rowScaledCalendar(p.freq)) &&
      names.distinct.size == names.size && !names.exists(p.df.columns.contains) &&
      (p.targetCol +: dynCols).forall(c => p.df.schema(c).dataType.isInstanceOf[NumericType])
  }

  /** In-sample rollout precondition: the kernels compile and every model
    * serves from its frozen scorer (the rollout never refits).
    */
  def rolloutSupported(conf: MLForecast, p: PanelFrame,
                       trained: Seq[(String, TrainedModel)], dynCols: Seq[String]): Boolean =
    compiles(conf, p) &&
      refitPlan(conf, trained, conf.featureCols ++ dynCols, refit = false).forall(_.contains(false))

  /** The kernels' missing convention: NaN for a null. Any numeric column
    * reads as its cast to double does.
    */
  private def doubleAt(r: Row, i: Int): Double =
    if (r.isNullAt(i)) Double.NaN else r.get(i).asInstanceOf[Number].doubleValue

  /** The sorted kernel input of one partition, one id's contiguous run of
    * rows at a time.
    */
  private def seriesRuns(rows: Iterator[Row], iId: Int): Iterator[ArrayBuffer[Row]] = {
    val src = rows.buffered
    new Iterator[ArrayBuffer[Row]] {
      def hasNext: Boolean = src.hasNext
      def next(): ArrayBuffer[Row] = {
        val id = src.head.get(iId)
        val run = new ArrayBuffer[Row]()
        while (src.hasNext && src.head.get(iId) == id) run += src.next()
        run
      }
    }
  }

  /** One scorer input row in featureNames order — window kernels, date
    * features, statics, exog — shared by every kernel so their layouts
    * cannot drift apart.
    */
  private final class FeatureRow(spec: FeatureSpec, nStatic: Int, nDyn: Int,
                                 nFeatures: Int, pooled: Int => Eval = null)
      extends Serializable {
    private val windowEvals: Array[Eval] = compiledEvals(spec, pooled).toArray
    private val dateEvals: Array[LocalDate => Int] =
      spec.dateFeatures.map(n => dateFeature(n).get).toArray
    private val size = windowEvals.length + dateEvals.length + nStatic + nDyn
    require(size == nFeatures, s"feature layout mismatch: $size vs $nFeatures")

    /** Features of the position after `view`'s end, dated `ds`, with that
      * position's exog values `dyn` (null = all missing). With `dropNa`,
      * null when the row fails MLForecast.dropNa: a window feature, a date
      * feature (null date) or an exog value is missing. `nulls`, when
      * given, records which window features are SQL NULL (a NaN there is
      * a value).
      */
    def apply(view: View, ds: Any, statics: Array[Double], dyn: Array[Double],
              dropNa: Boolean = false, nulls: Array[Boolean] = null): Array[Double] = {
      val arr = new Array[Double](size)
      var k = 0
      while (k < windowEvals.length) {
        val x = windowEvals(k)(view)
        if (nulls != null) nulls(k) = x == null
        if (x == null) { if (dropNa) return null; arr(k) = Double.NaN }
        else arr(k) = x.doubleValue
        k += 1
      }
      if (dateEvals.nonEmpty) {
        if (ds == null && dropNa) return null
        val ld = if (ds == null) null else ds.asInstanceOf[java.sql.Date].toLocalDate
        dateEvals.foreach { ev => arr(k) = if (ld == null) Double.NaN else ev(ld).toDouble; k += 1 }
      }
      statics.foreach { s => arr(k) = s; k += 1 }
      var j = 0
      while (j < nDyn) {
        arr(k) = if (dyn == null) Double.NaN else dyn(j)
        if (dropNa && arr(k).isNaN) return null
        k += 1; j += 1
      }
      arr
    }
  }

  /** Column positions of every kernel's input rows: id, date, target,
    * statics and exog. The predict input also carries the future-row flag
    * `iFut` (-1 = none), per model its level column `iLevel(mi)` (-1 = a
    * feature-scored model) and per pooled scope si its bucket key columns
    * `iKeys(si)`.
    */
  private final case class Layout(iId: Int, iDs: Int, iY: Int, iStatics: Array[Int],
                                  iDyn: Array[Int], iFut: Int = -1,
                                  iLevel: Array[Int] = Array.emptyIntArray,
                                  iKeys: Array[Array[Int]] = Array.empty)

  /** One series, decoded once ([[Series.decode]]): its kept history's dates,
    * targets (NaN = null), null mask and per-row exog; from its first
    * history row its statics, per model its level (null = none) and per
    * pooled scope its bucket key; the exog of its future rows by date. The
    * predict kernel's state adds, per model, the appended targets (NaN =
    * missing) and the reported predictions of the steps run so far.
    */
  private final case class Series(id: Any, ds: Array[Any], hist: Array[Double],
                                  yNull: Array[Boolean], statics: Array[Double],
                                  exogRows: Array[Array[Double]],
                                  levels: Array[java.lang.Double], keys: Array[Seq[Any]],
                                  future: Map[Any, Array[Double]], app: Array[Array[Double]],
                                  preds: Array[Array[java.lang.Double]]) {
    def n: Int = hist.length
    def lastDs: Any = ds(n - 1)
    /** Row i's exog values; null (FeatureRow reads none) without exog. */
    def exog(i: Int): Array[Double] = if (exogRows == null) null else exogRows(i)
  }

  private object Series {
    /** One id's run of input rows (layout `l`) as a [[Series]] whose
      * history is the rows `keep` keeps; None when the run has no history
      * rows (exog-only ids emit nothing).
      */
    def decode(rows: ArrayBuffer[Row], l: Layout,
               keep: ArrayBuffer[Row] => ArrayBuffer[Row] = identity): Option[Series] = {
      val (fut, all) =
        if (l.iFut < 0) (ArrayBuffer.empty[Row], rows) else rows.partition(_.getBoolean(l.iFut))
      if (all.isEmpty) return None
      val first = all.head
      val kept = keep(all)
      val nModels = l.iLevel.length
      Some(Series(first.get(l.iId), kept.map(_.get(l.iDs)).toArray,
        kept.map(doubleAt(_, l.iY)).toArray, kept.map(_.isNullAt(l.iY)).toArray,
        l.iStatics.map(doubleAt(first, _)),
        if (l.iDyn.isEmpty) null else kept.map(r => l.iDyn.map(doubleAt(r, _))).toArray,
        l.iLevel.map(i =>
          if (i < 0 || first.isNullAt(i)) null else java.lang.Double.valueOf(first.getDouble(i))),
        l.iKeys.indices.map(bucketKey(first, l.iKeys, _)).toArray,
        fut.iterator.map(r => r.get(l.iDs) -> l.iDyn.map(doubleAt(r, _))).toMap,
        Array.fill(nModels)(Array.emptyDoubleArray),
        Array.fill(nModels)(Array.empty[java.lang.Double])))
    }
  }

  /** A partition of sorted kernel input, series by series. */
  private def decoded(rows: Iterator[Row], l: Layout,
                      keep: ArrayBuffer[Row] => ArrayBuffer[Row] = identity): Iterator[Series] =
    seriesRuns(rows, l.iId).flatMap(Series.decode(_, l, keep))

  /** The per-row training-feature loop of fit's kernel ([[featurize]]) and
    * runCV's in-kernel refit: series `s` at positions `from to to`, each
    * position's features read from the history between `from` and it.
    * `at(i)` runs before position i is featurized (pooled slots). Rows go
    * to `emit(i, features)`; with `dropNa` only those MLForecast.dropNa
    * keeps: the label, every window feature and every exog value present.
    */
  private def trainingRows(features: FeatureRow, s: Series, from: Int, to: Int,
                           dropNa: Boolean, nulls: Array[Boolean] = null)(at: Int => Unit)(
      emit: (Int, Array[Double]) => Unit): Unit = {
    var i = from
    while (i <= to) {
      if (!dropNa || !s.hist(i).isNaN) {
        at(i)
        val arr = features(new View(s.hist, from, i, Array.emptyDoubleArray, 0), s.ds(i),
          s.statics, s.exog(i), dropNa, nulls)
        if (arr != null) emit(i, arr)
      }
      i += 1
    }
  }

  /** The CV and rollout kernels' input: every panel row as (id, ds, __y,
    * statics, exog) in doubles, kernel-partitioned, and its layout.
    */
  private def historyInput(p: PanelFrame, statics: Seq[String],
                           dynCols: Seq[String]): (DataFrame, Layout) = {
    val sel = Seq(p.id, p.ds, p.y.cast(DoubleType).as("__y")) ++
      (statics ++ dynCols).map(c => col(s"`$c`").cast(DoubleType).as(c))
    val sorted = kernelPartitioned(p.df.select(sel: _*), p)
    val s = sorted.schema
    (sorted, Layout(s.fieldIndex(p.idCol), s.fieldIndex(p.timeCol),
      s.fieldIndex("__y"), statics.map(s.fieldIndex).toArray, dynCols.map(s.fieldIndex).toArray))
  }

  /** The predict kernel's input stream: `hist` rows + tagged future-exog
    * rows, one shuffle by id, sorted so each series arrives as a contiguous
    * ascending run. Level-backed models contribute one joined constant
    * column per model (left join: a series with no level predicts null,
    * like the driver path's left join). `keys(si)` are scope si's bucket
    * columns, carried raw with NaN folded to null, as the Featurizer keys
    * its buckets.
    */
  private def predictInput(p: PanelFrame, hist: DataFrame, statics: Seq[String],
                           dynCols: Seq[String], levelModels: Seq[Option[(DataFrame, String)]],
                           xDf: Option[DataFrame], keys: Seq[Seq[String]]): (DataFrame, Layout) = {
    import p.{idCol, timeCol}
    val levelCols = levelModels.zipWithIndex.collect {
      case (Some(_), mi) => s"__lvl_$mi"
    }
    val keyCols = keys.zipWithIndex.map { case (cs, si) => cs.indices.map(j => s"__bk_${si}_$j") }
    val histBase = levelModels.zipWithIndex.foldLeft(hist) {
      case (d, (Some((lv, kc)), mi)) =>
        d.join(lv.select(col(s"`$kc`").as(idCol),
          col("__level").cast(DoubleType).as(s"__lvl_$mi")), Seq(idCol), "left")
      case (d, _) => d
    }
    val histSel = Seq(p.id, p.ds, p.y.cast(DoubleType).as("__y"), lit(false).as("__fut")) ++
      statics.map(c => col(s"`$c`").cast(DoubleType).as(c)) ++
      dynCols.map(c => lit(null).cast(DoubleType).as(c)) ++
      levelCols.map(col) ++
      keys.zip(keyCols).flatMap { case (cs, ks) =>
        cs.zip(ks).map { case (c, k) => Featurizer.normalizedKey(hist, c).as(k) } }
    var input = histBase.select(histSel: _*)
    xDf.foreach { x =>
      val futSel = Seq(col(idCol), col(timeCol), lit(null).cast(DoubleType).as("__y"),
        lit(true).as("__fut")) ++
        statics.map(c => lit(null).cast(DoubleType).as(c)) ++
        dynCols.map(c => col(s"`$c`").cast(DoubleType).as(c)) ++
        levelCols.map(c => lit(null).cast(DoubleType).as(c)) ++
        keyCols.flatten.map(k => lit(null).as(k))
      input = input.unionByName(x.select(futSel: _*))
    }
    val sorted = kernelPartitioned(input, p)
    val sc = sorted.schema
    (sorted, Layout(sc.fieldIndex(idCol), sc.fieldIndex(timeCol), sc.fieldIndex("__y"),
      statics.map(sc.fieldIndex).toArray, dynCols.map(sc.fieldIndex).toArray,
      sc.fieldIndex("__fut"),
      levelModels.zipWithIndex.map {
        case (Some(_), mi) => sc.fieldIndex(s"__lvl_$mi")
        case (None, _) => -1
      }.toArray,
      keyCols.map(_.map(sc.fieldIndex).toArray).toArray))
  }

  /** The predict kernel's scoring step, one definition for both schedules
    * of [[run]]. `scorers(mi)` is null for a level-backed model, which
    * predicts its per-series constant.
    */
  private final class PredictStep(spec: FeatureSpec, nStatic: Int, nDyn: Int, nFeatures: Int,
                                  scorers: Array[Array[Double] => java.lang.Double],
                                  after: Double => Double, val advance: (Any, Int) => Any,
                                  scopeOf: Array[Int]) extends Serializable {
    /** A task's step: `(s, k)` scores step k of series `s`, which has run
      * k - 1 steps, for every model, and returns `s` with the step's
      * predictions appended. The pooled features of (model, scope, bucket
      * key, step date) are read from `table` (null without pooled
      * transforms).
      */
    def task(table: StepTable): (Series, Int) => Series = {
      val slots = new PooledSlots(scopeOf)
      val features = new FeatureRow(spec, nStatic, nDyn, nFeatures, slots.eval)
      (s, k) => {
        val stepDs = advance(s.lastDs, k)
        val exog = s.future.getOrElse(stepDs, null)
        val app = new Array[Array[Double]](scorers.length)
        val preds = new Array[Array[java.lang.Double]](scorers.length)
        var mi = 0
        while (mi < scorers.length) {
          var pred: java.lang.Double =
            if (scorers(mi) == null) s.levels(mi)
            else {
              var si = 0
              while (si < s.keys.length) {
                slots.fill(si, table.get((mi, si, s.keys(si), stepDs))); si += 1
              }
              scorers(mi)(features(new View(s.hist, s.app(mi)), stepDs, s.statics, exog))
            }
          // after-predict hook (scalar twin of the driver loop's DataFrame
          // hook): transforms the value that feeds back AND the value
          // reported, like the reference's _update_y
          if (after != null && pred != null)
            pred = java.lang.Double.valueOf(after(pred.doubleValue))
          app(mi) = s.app(mi) :+ (if (pred == null) Double.NaN else pred.doubleValue)
          preds(mi) = s.preds(mi) :+ pred
          mi += 1
        }
        s.copy(app = app, preds = preds)
      }
    }

    /** Series `s`'s forecast rows after `h` steps: (id, ds, <model preds...>). */
    def forecasts(s: Series, h: Int): Iterator[Row] = (1 to h).iterator.map { k =>
      val vals = new Array[Any](2 + scorers.length)
      vals(0) = s.id
      vals(1) = advance(s.lastDs, k)
      var mi = 0
      while (mi < scorers.length) { vals(2 + mi) = s.preds(mi)(k - 1); mi += 1 }
      new org.apache.spark.sql.catalyst.expressions.GenericRow(vals): Row
    }
  }

  /** Run the fused predict kernel. Returns (id, ds, <model preds...>) —
    * identical to the driver loop's pre-inverse output. Every series keeps
    * [[HistoryCut]]'s rows and folds one [[PredictStep]] per step; whether
    * the spec has a pooled scope picks the schedule. Without one, all h
    * steps run inside one lazy `mapPartitions` pass. With one, each step is
    * one Spark job ([[runLockstep]]).
    */
  def run(p: PanelFrame, conf: MLForecast, trained: Seq[(String, TrainedModel)],
          dynCols: Seq[String], h: Int, xDf: Option[DataFrame],
          after: Option[Double => Double] = None): DataFrame = {
    import p.{idCol, timeCol}
    val spec = conf.spec
    val allFeatures = conf.featureCols ++ dynCols
    // per-series constant-forecast models ride a joined level column
    // instead of a feature scorer (SES/Croston/TSB: one value per series)
    val levelModels = trained.map { case (_, tm) => tm.seriesLevels }
    val scorers = trained.map { case (_, tm) =>
      if (tm.seriesLevels.isDefined) null else tm.scorer(allFeatures).orNull }.toArray
    require(scorers.zip(levelModels).forall { case (s, l) => s != null || l.isDefined },
      "model is neither scorable nor level-backed")
    val pooled = new Pooled(spec, idCol)
    val kernel = new PredictStep(spec, conf.staticFeatures.size, dynCols.size, allFeatures.size,
      scorers, after.orNull, advancer(conf.freq, p.df.schema(timeCol).dataType).get,
      pooled.scopeOf)
    val (sorted, layout) =
      predictInput(p, p.df, conf.staticFeatures, dynCols, levelModels, xDf, pooled.scopes)
    val outSchema = StructType(
      StructField(idCol, sorted.schema(layout.iId).dataType, nullable = true) +:
        StructField(timeCol, advancedDsType(p), nullable = true) +:
        trained.map(t => StructField(t._1, DoubleType, nullable = true)))
    val cut = historyCut(sorted, layout, spec.updateSamplesBound)
    if (pooled.scopes.nonEmpty) runLockstep(sorted, layout, cut, kernel, pooled, h, outSchema)
    else sorted.mapPartitions { iter =>
      val step = kernel.task(null)
      decoded(iter, layout, cut).flatMap { s0 =>
        var s = s0
        var k = 1
        while (k <= h) { s = step(s, k); k += 1 }
        kernel.forecasts(s, h)
      }
    }(Encoders.row(outSchema))
  }

  /** Exact partials of one (bucket, ds) entry over its non-missing values:
    * count, sum, sum of the squares as `v * v` rounds them, min and max.
    * The sums are exact, so merging partials is order-free, and [[sum]] /
    * [[sumSq]] round each once: the result does not depend on how the
    * values were split across tasks.
    */
  private final class Comp extends Serializable {
    var c = 0L
    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    private var s = java.math.BigDecimal.ZERO
    private var ss = java.math.BigDecimal.ZERO
    // infinite addends, which BigDecimal cannot hold: bit 1 = +Inf, bit 2 = -Inf
    private var sInf = 0
    private var ssInf = 0

    def add(x: Double): Unit = if (!x.isNaN) {
      c += 1
      mn = math.min(mn, x); mx = math.max(mx, x)
      if (x.isInfinite) sInf |= (if (x > 0) 1 else 2)
      else s = s.add(new java.math.BigDecimal(x))
      val sq = x * x
      if (sq.isInfinite) ssInf = 1 else ss = ss.add(new java.math.BigDecimal(sq))
    }

    def merge(o: Comp): Unit = {
      c += o.c
      mn = math.min(mn, o.mn); mx = math.max(mx, o.mx)
      s = s.add(o.s); ss = ss.add(o.ss)
      sInf |= o.sInf; ssInf |= o.ssInf
    }

    def copy(): Comp = { val o = new Comp; o.merge(this); o }

    private def rounded(b: java.math.BigDecimal, inf: Int): Double = inf match {
      case 0 => b.doubleValue
      case 1 => Double.PositiveInfinity
      case 2 => Double.NegativeInfinity
      case _ => Double.NaN
    }
    def sum: Double = rounded(s, sInf)
    def sumSq: Double = rounded(ss, ssInf)
  }

  /** A spec's non-local transforms in featureNames order, each with its
    * scope (the bucket columns of its pooling; Nil = global), indexed in
    * `scopes` by `scopeOf`.
    */
  private final class Pooled(spec: FeatureSpec, idCol: String) {
    val transforms: Seq[(Int, LagTransform)] = spec.allTransforms.filterNot(_._2.pooling.isLocal)
    val scopes: Seq[Seq[String]] = transforms.map(_._2.pooling.bucketCols(idCol)).distinct
    val scopeOf: Array[Int] =
      transforms.map(t => scopes.indexOf(t._2.pooling.bucketCols(idCol))).toArray
  }

  /** A task's exact [[Comp]] partials per (scope, bucket key, date). */
  private final class Partials extends Serializable {
    val m = scala.collection.mutable.HashMap.empty[(Int, Seq[Any], Any), Comp]
    def add(si: Int, key: Seq[Any], ds: Any, y: Double): Unit =
      m.getOrElseUpdate((si, key, ds), new Comp).add(y)
  }

  /** The pooled calendars of fit's [[pooledTable]] and the per-step
    * schedule ([[runLockstep]]): per (scope, bucket key), date → the
    * merged [[Partials]] of its tasks, and the pooled transforms evaluated
    * over them ([[compilePooled]], the Featurizer's RANGE frame over the
    * same dense calendar).
    */
  private final class PooledCalendars(pooled: Pooled) {
    private val evals = pooled.transforms.map { case (l, t) => compilePooled(l, t).get }.toArray
    private val cals =
      scala.collection.mutable.HashMap.empty[(Int, Seq[Any]), java.util.TreeMap[Any, Comp]]
    private def calendar(si: Int, key: Seq[Any]) =
      cals.getOrElseUpdate((si, key), new java.util.TreeMap[Any, Comp](dateOrdering))

    def merge(parts: Partials): Unit =
      parts.m.foreach { case ((si, key, ds), comp) => mergeAt(calendar(si, key), ds, comp) }

    def entries: Long = cals.valuesIterator.map(_.size.toLong).sum
    def buckets: Seq[(Int, Seq[Any])] = cals.keys.toSeq

    /** The pooled values at dates `at` of bucket (si, key)'s calendar
      * (absent ones enter as empty entries), at every date without `at`,
      * indexed like `pooled.transforms` (other scopes' slots null).
      */
    def values(si: Int, key: Seq[Any],
               at: Option[Set[Any]]): Seq[(Any, Array[java.lang.Double])] = {
      val cal = calendar(si, key)
      at.foreach(_.foreach(d => if (!cal.containsKey(d)) cal.put(d, new Comp)))
      val comps = compsOf(cal)
      comps.dates.indices.filter(o => at.forall(_.contains(comps.dates(o)))).map { o =>
        val vals = new Array[java.lang.Double](evals.length)
        var j = 0
        while (j < vals.length) {
          if (pooled.scopeOf(j) == si) vals(j) = evals(j)(comps, o)
          j += 1
        }
        comps.dates(o) -> vals
      }
    }
  }

  /** A task's pooled feature slots, which [[FeatureRow]]'s non-local
    * transforms read ([[eval]]); [[fill]] loads one scope's values.
    */
  private final class PooledSlots(scopeOf: Array[Int]) {
    private val slot = new Array[java.lang.Double](scopeOf.length)
    val eval: Int => Eval = j => (_: View) => slot(j)
    /** Scope si's slots from `vals` (null = no values there). */
    def fill(si: Int, vals: Array[java.lang.Double]): Unit = {
      var j = 0
      while (j < slot.length) {
        if (scopeOf(j) == si) slot(j) = if (vals == null) null else vals(j)
        j += 1
      }
    }
  }

  /** A step's pooled features: (model, scope, bucket key, date) → values. */
  private type StepTable = java.util.HashMap[(Int, Int, Seq[Any], Any), Array[java.lang.Double]]

  /** A bucket key as the Featurizer groups it: NaN is null
    * (normalizedKey), -0.0 is 0.0.
    */
  private def bucketValue(v: Any): Any = v match {
    case d: java.lang.Double if d.isNaN => null
    case f: java.lang.Float if f.isNaN => null
    case d: java.lang.Double if d.doubleValue == 0.0 => java.lang.Double.valueOf(0.0)
    case f: java.lang.Float if f.floatValue == 0.0f => java.lang.Float.valueOf(0.0f)
    case other => other
  }

  /** Row `r`'s bucket key of pooled scope `si` (`iKeys(si)` its columns). */
  private def bucketKey(r: Row, iKeys: Array[Array[Int]], si: Int): Seq[Any] =
    iKeys(si).toSeq.map(i => bucketValue(r.get(i)))

  /** The rows of one series' ascending history that
    * [[MLForecast.predictHistory]] keeps: its last `bound + 1` rows, and
    * every row on or after its scope's cut (per scope, the key absent from
    * `cuts` keeps every row). Without a bound it keeps everything.
    */
  private final class HistoryCut(bound: Option[Int], cuts: Map[(Int, Seq[Any]), Any],
                                 iDs: Int, iKeys: Array[Array[Int]])
      extends (ArrayBuffer[Row] => ArrayBuffer[Row]) with Serializable {
    def apply(hist: ArrayBuffer[Row]): ArrayBuffer[Row] = bound match {
      case None => hist
      case Some(b) if iKeys.isEmpty => hist.takeRight(b + 1)
      case Some(b) =>
        val n = hist.length
        hist.zipWithIndex.collect { case (r, i) if n - i <= b + 1 || onOrAfterCut(r) => r }
    }

    private def onOrAfterCut(r: Row): Boolean = {
      val ds = r.get(iDs)
      iKeys.indices.exists { si =>
        cuts.get((si, bucketKey(r, iKeys, si))) match {
          case None => true
          case Some(c) => ds != null && dateOrdering.gteq(ds, c)
        }
      }
    }
  }

  /** [[MLForecast.predictHistory]]'s cut on the predict kernel's input
    * `sorted` (each series a contiguous ascending run). A bounded spec with
    * pooled scopes runs one job that returns, per (scope, bucket key) and
    * task, the earliest series end and the dates of the series' last
    * `bound + 1` rows; the cut is the date `bound` entries before the
    * earliest end among them, none when there are not that many
    * (scopeCutoffs' rule, one key per NaN or null key). Any other spec
    * starts no job.
    */
  private def historyCut(sorted: DataFrame, l: Layout, bound: Option[Int]): HistoryCut = {
    val cuts = bound.filter(_ => l.iKeys.nonEmpty).fold(Map.empty[(Int, Seq[Any]), Any]) { b =>
      type Tails = scala.collection.mutable.HashMap[(Int, Seq[Any]), (Any, Set[Any])]
      val rows = sorted.rdd
      val parts = rows.sparkContext.runJob(rows, (it: Iterator[Row]) => {
        val tails: Tails = scala.collection.mutable.HashMap.empty
        seriesRuns(it, l.iId).foreach { run =>
          val hist = run.filterNot(_.getBoolean(l.iFut))
          val n = hist.length
          for (i <- math.max(0, n - b - 1) until n; si <- l.iKeys.indices) {
            val ds = hist(i).get(l.iDs)
            val k = (si, bucketKey(hist(i), l.iKeys, si))
            val (end, dates) = tails.getOrElse(k, (null, Set.empty[Any]))
            val last = if (i == n - 1) ds else null
            tails(k) = (minDate(end, last), if (ds == null) dates else dates + ds)
          }
        }
        tails
      })
      val merged: Tails = scala.collection.mutable.HashMap.empty
      parts.foreach(_.foreach { case (k, (end, dates)) =>
        val (e0, d0) = merged.getOrElse(k, (null, Set.empty[Any]))
        merged(k) = (minDate(e0, end), d0 ++ dates)
      })
      merged.iterator.flatMap { case (k, (end, dates)) =>
        val desc = if (end == null) Nil
          else dates.toSeq.filter(dateOrdering.lteq(_, end)).sorted(dateOrdering.reverse)
        desc.lift(b).map(k -> _)
      }.toMap
    }
    new HistoryCut(bound, cuts, l.iDs, l.iKeys)
  }

  /** The earlier of two dates, null being none. */
  private def minDate(a: Any, b: Any): Any =
    if (a == null) b else if (b == null || dateOrdering.lteq(a, b)) a else b

  /** The per-step schedule of [[run]], for specs with pooled transforms
    * ([[lockstepPoolable]]): one Spark job per step. The series stay in
    * executor partitions, local-checkpointed step by step; the driver
    * holds only per-model [[PooledCalendars]].
    *
    *   - When the spec is bounded, a first job over the kernel-partitioned
    *     panel finds each scope's history cut ([[historyCut]]); the series
    *     then keep [[MLForecast.predictHistory]]'s rows, without a window
    *     plan.
    *   - Job 0 materializes the kept history from the same shuffle and
    *     returns its exact per-(bucket, date) partials and each bucket's
    *     series end dates.
    *   - Before step k the driver adds the step's placeholder dates
    *     (`advance(end, k)` per end date) to each bucket's calendar, so
    *     ordinals are the dense rank `Ordinals.withOrdinal` assigns, and
    *     evaluates every pooled transform at each placeholder: a broadcast
    *     [[StepTable]].
    *   - Step k's job maps the [[PredictStep]] over every series, reading
    *     pooled features from the table, and returns per-model partials of
    *     the predictions, which the driver merges into the calendars.
    *
    * Exactness: the calendar, frames and guards are the driver loop's; the
    * component sums are exact and rounded once where the Featurizer's
    * Spark `sum` rounds in arrival order, so forecasts match the driver
    * loop bit for bit whenever those sums are exact (integer-valued
    * history and predictions) and to the last bits otherwise, and never
    * depend on the kernel's partition count.
    */
  private def runLockstep(sorted: DataFrame, layout: Layout, cut: HistoryCut,
                          kernel: PredictStep, pooled: Pooled, h: Int,
                          outSchema: StructType): DataFrame = {
    val sc = sorted.sparkSession.sparkContext
    val nModels = layout.iLevel.length
    val nScopes = pooled.scopes.size
    val advance = kernel.advance
    val keep = sc.broadcast(cut)
    var state: org.apache.spark.rdd.RDD[Series] =
      sorted.rdd.mapPartitions(iter => decoded(iter, layout, keep.value))
    state.localCheckpoint()

    // job 0: history partials and series end dates per bucket
    val history = sc.runJob(state, (it: Iterator[Series]) => {
      val parts = new Partials
      val ends = scala.collection.mutable.HashMap.empty[(Int, Seq[Any]), Set[Any]]
      it.foreach { s =>
        for (si <- 0 until nScopes) {
          var r = 0
          while (r < s.n) {
            if (s.ds(r) != null) parts.add(si, s.keys(si), s.ds(r), s.hist(r))
            r += 1
          }
          ends((si, s.keys(si))) = ends.getOrElse((si, s.keys(si)), Set.empty[Any]) + s.lastDs
        }
      }
      (parts, ends)
    })
    val calendars = Array.fill(nModels)(new PooledCalendars(pooled))
    val bucketEnds = scala.collection.mutable.HashMap.empty[(Int, Seq[Any]), Set[Any]]
    history.foreach { case (parts, ends) =>
      ends.foreach { case (b, es) => bucketEnds(b) = bucketEnds.getOrElse(b, Set.empty[Any]) ++ es }
      calendars.foreach(_.merge(parts))
    }

    for (step <- 1 to h) {
      val table = new StepTable()
      for (((si, key), es) <- bucketEnds; mi <- 0 until nModels)
        calendars(mi).values(si, key, Some(es.map(advance(_, step)))).foreach { case (d, vals) =>
          table.put((mi, si, key, d), vals)
        }
      val bc = sc.broadcast(table)
      val next = state.mapPartitions({ iter =>
        val stepFn = kernel.task(bc.value)
        iter.map(stepFn(_, step))
      }, preservesPartitioning = true)
      next.localCheckpoint()
      // step job: materialize the step and return its prediction partials
      val stepParts = sc.runJob(next, (it: Iterator[Series]) => {
        val parts = Array.fill(nModels)(new Partials)
        it.foreach { s =>
          val stepDs = advance(s.lastDs, step)
          for (mi <- 0 until nModels; si <- 0 until nScopes)
            parts(mi).add(si, s.keys(si), stepDs, s.app(mi)(step - 1))
        }
        parts
      })
      stepParts.foreach(_.zip(calendars).foreach { case (parts, cal) => cal.merge(parts) })
      // the step job checkpointed `next`, so nothing reads `state` again
      state.unpersist(blocking = false)
      state = next
    }
    sorted.sparkSession.createDataFrame(state.flatMap(kernel.forecasts(_, h)), outSchema)
  }

  /** Most (scope, bucket, date) entries [[featurize]] gathers on the
    * driver; a larger pooled table keeps the window Featurizer.
    */
  private val MaxPooledEntries = 1 << 18

  /** (scope, bucket key, date) → the pooled features' values there, indexed
    * like the spec's non-local transforms (other scopes' slots unused).
    */
  private type PooledTable = java.util.HashMap[(Int, Seq[Any], Any), Array[java.lang.Double]]

  /** Every pooled transform at every (scope, bucket, date) of panel `p`
    * (layout `l`, over its own columns). One job over the panel's internal
    * rows (its scan plan alone, no deserializer to generate) returns each
    * task's [[Partials]]; the driver merges them into [[PooledCalendars]]
    * and evaluates every transform at every date. None when a date is null
    * (the Featurizer ranks it as a calendar entry) or the calendars pass
    * [[MaxPooledEntries]]; a task stops at that size, so the driver holds
    * at most one capped map per task and never per-row data.
    */
  private def pooledTable(p: PanelFrame, l: Layout, pooled: Pooled): Option[PooledTable] = {
    val cap = MaxPooledEntries
    // the values a Row of the panel holds, read off its internal rows
    val schema = p.df.schema
    val read = schema.fields.map(f => (f.dataType,
      org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(f.dataType)))
    def at(r: org.apache.spark.sql.catalyst.InternalRow, i: Int): Any =
      if (r.isNullAt(i)) null else read(i)._2(r.get(i, read(i)._1))
    val rows = p.df.queryExecution.toRdd
    val parts = rows.sparkContext.runJob(rows,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        val acc = new Partials
        var ok = true
        while (ok && it.hasNext) {
          val r = it.next()
          val ds = at(r, l.iDs)
          ok = ds != null
          val y = at(r, l.iY)
          var si = 0
          while (ok && si < l.iKeys.length) {
            acc.add(si, l.iKeys(si).toSeq.map(i => bucketValue(at(r, i))), ds,
              if (y == null) Double.NaN else y.asInstanceOf[Number].doubleValue)
            si += 1
          }
          ok = ok && acc.m.size <= cap
        }
        if (ok) acc else null
      })
    if (parts.contains(null)) return None
    val cals = new PooledCalendars(pooled)
    parts.foreach(cals.merge)
    if (cals.entries > cap) return None
    val table = new PooledTable()
    for ((si, key) <- cals.buckets; (d, vals) <- cals.values(si, key, None))
      table.put((si, key, d), vals)
    Some(table)
  }

  /** Fit's featurize kernel, for specs [[featurizes]] admits: the frame
    * Featurizer.addFeatures builds (every panel column, then each feature
    * in featureNames order, [[Featurizer.outputColumns]]) from one
    * kernel-partitioned input, as `frames(false)`; `frames(true)` keeps
    * only the rows MLForecast.dropNa keeps ([[trainingRows]]). Local
    * features come from [[FeatureRow]]'s kernels over each series'
    * history, bit-identical to the window route. Pooled ones read a
    * broadcast [[pooledTable]], gathered by one narrow job over the panel
    * before the frames are built (they stay lazy plans). Its sums are
    * exact and rounded once, so they do not depend on partitioning, and
    * they equal the Featurizer's arrival-order sums whenever those are
    * exact (integer targets) and to the last bits otherwise. None = the
    * pooled table declined; the caller runs the Featurizer.
    */
  def featurize(p: PanelFrame, spec: FeatureSpec, dynCols: Seq[String])
      : Option[Boolean => DataFrame] = {
    import p.{idCol, timeCol}
    val pooled = new Pooled(spec, idCol)
    val scopeOf = pooled.scopeOf
    // the panel's own rows: doubleAt reads the target and exog as their
    // casts to double do, bucketValue reads keys as normalizedKey does
    val sc = p.df.schema
    val nIn = sc.size
    val layout = Layout(sc.fieldIndex(idCol), sc.fieldIndex(timeCol), sc.fieldIndex(p.targetCol),
      Array.emptyIntArray, dynCols.map(sc.fieldIndex).toArray,
      iKeys = pooled.scopes.map(_.map(sc.fieldIndex).toArray).toArray)
    // a pooled spec's table: one narrow job over the panel rows
    val bc =
      if (pooled.scopes.isEmpty) null
      else pooledTable(p, layout, pooled) match {
        case Some(table) => p.df.sparkSession.sparkContext.broadcast(table)
        case None => return None
      }
    val nWin = spec.allTransforms.size
    val names = spec.featureNames
    val outSchema = StructType(sc.fields ++ names.zipWithIndex.map { case (n, k) =>
      StructField(n, if (k < nWin) DoubleType else IntegerType, nullable = true) })
    val pass = (dropNa: Boolean) => (iter: Iterator[Row]) => {
      val slots = new PooledSlots(scopeOf)
      val features = new FeatureRow(spec, 0, dynCols.size, names.size + dynCols.size, slots.eval)
      val nulls = new Array[Boolean](nWin)
      val tab = if (bc == null) null else bc.value
      seriesRuns(iter, layout.iId).flatMap { rows =>
        val s = Series.decode(rows, layout).get
        val out = new ArrayBuffer[Row](s.n)
        trainingRows(features, s, 0, s.n - 1, dropNa, nulls) { i =>
          // the row's own bucket per scope, as the Featurizer joins it
          var si = 0
          while (si < layout.iKeys.length) {
            slots.fill(si, tab.get((si, bucketKey(rows(i), layout.iKeys, si), s.ds(i))))
            si += 1
          }
        } { (i, arr) =>
          val r = rows(i)
          val vals = new Array[Any](nIn + names.size)
          var c = 0
          while (c < nIn) { vals(c) = r.get(c); c += 1 }
          var k = 0
          while (k < names.size) {
            vals(nIn + k) =
              if (k < nWin) { if (nulls(k)) null else java.lang.Double.valueOf(arr(k)) }
              else if (s.ds(i) == null) null
              else java.lang.Integer.valueOf(arr(k).toInt)
            k += 1
          }
          out += new org.apache.spark.sql.catalyst.expressions.GenericRow(vals)
        }
        out.iterator
      }
    }
    val sorted = kernelPartitioned(p.df, p)
    Some((dropNa: Boolean) => sorted.mapPartitions(pass(dropNa))(Encoders.row(outSchema)))
  }

  /** Fused sliding-window cross validation: every (window × step × model) for
    * a series runs inside ONE mapPartitions pass over the sorted panel —
    * replacing nWindows orchestrated truncate→warmup→predict→join cycles
    * when the models are frozen across windows (refit=false, or closed-form
    * models for which refitting is a no-op) and every transform is local.
    * The held-out actuals are emitted straight from the in-buffer rows, so
    * the driver path's actuals×predictions join disappears as well; future
    * exog for each window are read from the buffered rows past that window's
    * cutoff, mirroring the driver path's internally-built X_df.
    *
    * `offsets(w)` is the window's cutoff distance from each series' last
    * date (`h + (nWindows-1-w)*stepSize` in the caller). Output is
    * (id, ds, cutoff, y, <model preds...>) — bit-identical to the driver CV
    * loop (asserted in ForecastSpec), row order aside.
    *
    * At 100 TB this is the difference between nWindows×h distributed jobs
    * and one: state never leaves the task, and the shuffle is the one
    * (id)-repartition the panel already needs.
    */
  def runCV(p: PanelFrame, conf: MLForecast, trained: Seq[(String, TrainedModel)],
            dynCols: Seq[String], h: Int, offsets: Seq[Int],
            inputSize: Option[Int] = None, refit: Boolean = true,
            refitEvery: Option[Int] = None,
            tfms: Seq[KernelTransforms.KernelTransform] = Nil): DataFrame = {
    import p.{idCol, timeCol}
    val spec = conf.spec
    val allFeatures = conf.featureCols ++ dynCols
    val names = trained.map(_._1)
    // the route rule's per-model plan (cvRoute admits exactly these)
    val plan = refitPlan(conf, trained, allFeatures, refit)
    plan.zip(names).foreach { case (pl, n) =>
      require(pl.isDefined, s"model $n has neither a frozen scorer nor a localFitter")
    }
    require(cvAdmits(conf, plan, tfms, inputSize),
      "runCV refits in-kernel only over a bounded slice without a transform " +
        "chain, and runs a chain only without an inputSize cap")
    val scorers: Array[Array[Double] => java.lang.Double] =
      trained.map { case (_, tm) => tm.scorer(allFeatures).orNull }.toArray
    val useLocal: Array[Boolean] = plan.map(_.get).toArray
    val localFits: Array[ForecastModel.LocalFit] = trained.map { case (n, _) =>
      conf.models.find(_.name == n).flatMap(_.localFitter(allFeatures)).orNull
    }.toArray
    val anyLocal = useLocal.exists(identity)
    // target-transform kernels (r13): the chain re-fits per (series, cutoff)
    // inside the task and predictions invert back to the original space
    // before emission
    val tfmArr = tfms.toArray
    // refit schedule (the driver path's SHARED fitWindow — one definition,
    // see MLForecastCV.fitWindow): window i refits iff it IS its own fit
    // window
    val refitAt: Array[Boolean] = offsets.indices.map { i =>
      MLForecastCV.fitWindow(i, refit, refitEvery) == i
    }.toArray

    val features = new FeatureRow(spec, conf.staticFeatures.size, dynCols.size, allFeatures.size)
    val advance = advancer(conf.freq, p.df.schema(timeCol).dataType).get
    val trimN = spec.updateSamplesBound.map(_ + 1).getOrElse(Int.MaxValue)
    // `trimN` bounds what the kernels NEED; `inputSize` bounds what they may
    // SEE (the driver path featurizes the keepLastN-capped slice) — the
    // prediction view starts at whichever cap is tighter.
    val seeCap = math.min(trimN, inputSize.getOrElse(Int.MaxValue))

    // One input relation: the raw panel with statics and exog columns carried
    // (exog for a window's future steps are this panel's own held-out rows).
    val (sorted, layout) = historyInput(p, conf.staticFeatures, dynCols)
    val outSchema = StructType(
      StructField(idCol, sorted.schema(layout.iId).dataType, nullable = true) +:
        StructField(timeCol, sorted.schema(layout.iDs).dataType, nullable = true) +:
        StructField("cutoff", advancedDsType(p), nullable = true) +:
        StructField(p.targetCol, DoubleType, nullable = true) +:
        names.map(n => StructField(n, DoubleType, nullable = true)))

    val nModels = scorers.size
    val nDyn = dynCols.size
    val offsetArr = offsets.toArray
    def cmp(a: Any, b: Any): Int = a.asInstanceOf[Comparable[Any]].compareTo(b)

    sorted.mapPartitions { iter =>
      decoded(iter, layout).flatMap { s =>
        val idxByDs: Map[Any, Int] = s.ds.zipWithIndex.toMap
        val lastDs = s.ds(s.n - 1)
        // scorers this series is currently predicting with: driver-trained
        // entries stay fixed; localFit entries are (re)fit on the refit
        // schedule and frozen in between — refitAt(0) is always true, so
        // every local entry is fit before its first use
        val curScorers = scorers.clone()

        val outRows = new ArrayBuffer[Row]()
        var wi = 0
        while (wi < offsetArr.length) {
          val offset = offsetArr(wi)
          val cutoffDs = advance(lastDs, -offset)
          // forecast origin: last row at or before the cutoff (mirrors the
          // driver path's ds <= cutoff train filter)
          var originIdx = s.n - 1
          while (originIdx >= 0 && cmp(s.ds(originIdx), cutoffDs) > 0) originIdx -= 1
          if (anyLocal && refitAt(wi)) {
            // In-kernel refit: featurize this window's training slice the
            // way the driver does (features over the inputSize-capped
            // slice; a row survives iff every window feature, every exog
            // value and the label are present — MLForecast.dropNa's list)
            // and hand the surviving rows to each model's localFitter.
            val sliceStart = inputSize.fold(0)(sz => math.max(0, originIdx + 1 - sz))
            val featBuf = new ArrayBuffer[Array[Double]]()
            val labBuf = new ArrayBuffer[Double]()
            trainingRows(features, s, sliceStart, originIdx, dropNa = true)(_ => ()) { (i, arr) =>
              featBuf += arr; labBuf += s.hist(i)
            }
            val fRows = featBuf.toArray
            val lRows = labBuf.toArray
            var fi = 0
            while (fi < nModels) {
              if (useLocal(fi)) curScorers(fi) = localFits(fi)(fRows, lRows)
              fi += 1
            }
          }
          if (originIdx >= 0) {
            val originDs = s.ds(originIdx)
            val boundDs = advance(lastDs, h - offset)
            val lo = math.max(0, originIdx + 1 - seeCap)
            val hiExcl = originIdx + 1
            // r13 transform kernels: re-fit the chain on this window's
            // prefix (the driver warmup's per-cutoff transform refit);
            // features and the recursion run in TRANSFORMED space, and
            // each emission inverts back through per-model sequential
            // inverse state (each model's predictions form their own
            // phase cumsums)
            val (workHist, inverters) =
              if (tfmArr.isEmpty) (s.hist, null)
              else {
                var cur = s.hist
                val chain = tfmArr.map { kt =>
                  val f = kt.fit(cur, hiExcl); cur = f.transformed; f
                }
                val invChain = chain.reverse
                (cur, Array.fill(nModels)(invChain.map(_.newInverter())))
              }
            val appended = Array.fill(nModels)(new Array[Double](h))
            var step = 1
            while (step <= h) {
              val stepDs = advance(originDs, step)
              val afterCutoff = cmp(stepDs, cutoffDs) > 0
              val stepIdx = idxByDs.getOrElse(stepDs, -1)
              // exog visibility = the driver's X_df (rows > cutoff only)
              val exog =
                if (nDyn == 0 || !afterCutoff || stepIdx < 0) null else s.exog(stepIdx)
              val preds = new Array[java.lang.Double](nModels)
              var mi = 0
              while (mi < nModels) {
                val sc = curScorers(mi)
                val pred =
                  if (sc == null) null
                  else sc(features(new View(workHist, lo, hiExcl, appended(mi), step - 1), stepDs,
                    s.statics, exog))
                // the TRANSFORMED prediction feeds the recursion; the
                // emitted value inverts to original space (the inverse is
                // stepped EVERY step — its cumsum state advances whether
                // or not the step emits a row, like the driver's inverse
                // over the full h-step prediction frame)
                appended(mi)(step - 1) = if (pred == null) Double.NaN else pred.doubleValue
                preds(mi) =
                  if (tfmArr.isEmpty) pred
                  else {
                    var x = if (pred == null) Double.NaN else pred.doubleValue
                    val chain = inverters(mi)
                    var ci = 0
                    while (ci < chain.length) {
                      x = chain(ci).invert(step - 1, x); ci += 1
                    }
                    if (x.isNaN) null else java.lang.Double.valueOf(x)
                  }
                mi += 1
              }
              // emit = the driver's inner actuals join: a panel row exists
              // at this step and falls in (cutoff, cutoff + h]
              if (afterCutoff && stepIdx >= 0 && cmp(stepDs, boundDs) <= 0) {
                val vals = new Array[Any](4 + nModels)
                vals(0) = s.id
                vals(1) = s.ds(stepIdx)
                vals(2) = cutoffDs
                vals(3) = if (s.yNull(stepIdx)) null else java.lang.Double.valueOf(s.hist(stepIdx))
                mi = 0
                while (mi < nModels) { vals(4 + mi) = preds(mi); mi += 1 }
                outRows += new org.apache.spark.sql.catalyst.expressions.GenericRow(vals)
              }
              step += 1
            }
          }
          wi += 1
        }
        outRows.iterator
      }
    }(Encoders.row(outSchema))
  }

  /** Fused recursive multi-step in-sample fitted values (reference
    * `_compute_recursive_fitted_values_on_demand`, forecast.py:978-1120):
    * for every valid origin row, roll the recursive loop `h` steps ahead —
    * history = observed values up to the origin, later steps feed on the
    * model's own appended predictions, exog/date features come from the
    * actual future rows — and emit ONLY the final step:
    * (id, ds(origin+h), y(origin+h), one column per model). An origin is
    * valid when its first forecast row survives one-step dropna (the
    * reference's `valid_one_step_times` gate) and `h` future rows exist.
    *
    * Where the reference loops origins one at a time through a temp
    * TimeSeries per series on the driver (and warns "can be slow"), this is
    * one mapPartitions pass over the (id, ds)-sorted panel: all origins ×
    * steps × models per series run inside the task. Same restriction as the
    * reference: local transforms only (enforced by `rolloutSupported`).
    */
  def runFittedRollout(p: PanelFrame, conf: MLForecast,
                       trained: Seq[(String, TrainedModel)],
                       dynCols: Seq[String], h: Int): DataFrame = {
    import p.{idCol, timeCol}
    val allFeatures = conf.featureCols ++ dynCols
    val names = trained.map(_._1)
    val scorers: Array[Array[Double] => java.lang.Double] =
      trained.map { case (_, tm) => tm.scorer(allFeatures).get }.toArray
    val features = new FeatureRow(conf.spec, conf.staticFeatures.size, dynCols.size,
      allFeatures.size)
    val (sorted, layout) = historyInput(p, conf.staticFeatures, dynCols)
    val outSchema = StructType(
      StructField(idCol, sorted.schema(layout.iId).dataType, nullable = true) +:
        StructField(timeCol, sorted.schema(layout.iDs).dataType, nullable = true) +:
        StructField(p.targetCol, DoubleType, nullable = true) +:
        names.map(n => StructField(n, DoubleType, nullable = true)))
    val nModels = scorers.length

    sorted.mapPartitions { iter =>
      decoded(iter, layout).flatMap { s =>
        val outRows = new ArrayBuffer[Row]()
        var o = 0
        while (o < s.n - h) {
          // one-step dropna survival of the origin's first forecast row:
          // every window feature, every exog value and the label present
          // (MLForecast.dropNa)
          if (!s.hist(o + 1).isNaN &&
              features(new View(s.hist, 0, o + 1, Array.emptyDoubleArray, 0),
                s.ds(o + 1), s.statics, s.exog(o + 1), dropNa = true) != null) {
            val appended = Array.fill(nModels)(new Array[Double](h))
            val preds = new Array[java.lang.Double](nModels)
            var step = 1
            while (step <= h) {
              val stepIdx = o + step // future = next rows (continuity-validated panel)
              val exog = s.exog(stepIdx)
              var mi = 0
              while (mi < nModels) {
                val pred = scorers(mi)(features(new View(s.hist, 0, o + 1, appended(mi), step - 1),
                  s.ds(stepIdx), s.statics, exog))
                preds(mi) = pred
                appended(mi)(step - 1) = if (pred == null) Double.NaN else pred.doubleValue
                mi += 1
              }
              step += 1
            }
            val vals = new Array[Any](3 + nModels)
            vals(0) = s.id
            vals(1) = s.ds(o + h)
            vals(2) = if (s.yNull(o + h)) null else java.lang.Double.valueOf(s.hist(o + h))
            var mi = 0
            while (mi < nModels) { vals(3 + mi) = preds(mi); mi += 1 }
            outRows += new org.apache.spark.sql.catalyst.expressions.GenericRow(vals)
          }
          o += 1
        }
        outRows.iterator
      }
    }(Encoders.row(outSchema))
  }
}
