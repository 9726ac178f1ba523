package graft.forecast

import java.time.LocalDate
import java.time.temporal.WeekFields

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Freq, PanelFrame}
import graft.functions._
import graft.operators.FeatureSpec

/** Fused per-series recursive predict: ALL h steps for ALL models run inside
  * one `mapPartitions` pass over the (id, ds)-sorted panel — one shuffle,
  * one job, zero driver round-trips — when every transform is local
  * (per-series). This is the reference's own distributed stance
  * (/root/reference/mlforecast/distributed/forecast.py:520-577 runs the
  * whole recursive loop per partition) re-expressed natively: the
  * driver-orchestrated lockstep loop in [[FittedMLForecast]] remains for
  * pooled transforms, whose cross-series state forces synchronized steps.
  *
  * Exactness contract: every kernel below mirrors its window-transform
  * twin in [[graft.functions.LagTransforms]] — same guards, same FP
  * accumulation order (left-to-right over ascending positions; seasonal
  * frames in ascending frame index), same interpolation formulas — so fused
  * and driver-loop predictions are bit-identical (asserted in ForecastSpec).
  *
  * At 100 TB: per-task memory is one series' tail at a time (bounded specs
  * are trimmed to `updateSamplesBound + 1` rows, like the driver loop);
  * unbounded specs stream the full series into its task — the same
  * per-worker assumption the reference's GroupedArray makes.
  */
private[graft] object LocalLoop {

  /** History view: immutable fitted values + the model's appended
    * predictions. NaN encodes missing (the window featurizer's cleanNaN
    * null), so kernels skip NaN exactly where window aggregates skip null.
    * `lo`/`hiExcl` bound the visible history slice — the CV fast path windows
    * the same array at several cutoffs without copying.
    */
  private final class View(hist: Array[Double], lo: Int, hiExcl: Int,
                           app: ArrayBuffer[Double]) {
    def this(hist: Array[Double], app: ArrayBuffer[Double]) =
      this(hist, 0, hist.length, app)
    private val hLen = hiExcl - lo
    def len: Int = hLen + app.length
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
    */
  private def compiledEvals(spec: FeatureSpec): Seq[Eval] =
    spec.lags.sorted.map(l => compile(l, Lag()).get) ++
      spec.lagTransforms.toSeq.sortBy(_._1).flatMap { case (l, ts) =>
        ts.map(t => compile(l, t).get)
      }

  /** Streaming bridge: the spec's window kernels as functions of
    * (history array, appended predictions) in featureNames order; None if
    * any transform lacks a fused kernel. History uses NaN for missing.
    */
  private[graft] def compileKernels(
      spec: FeatureSpec): Option[Seq[(Array[Double], ArrayBuffer[Double]) => java.lang.Double]] =
    if (spec.allTransforms.forall { case (l, t) => t.pooling.isLocal && compile(l, t).isDefined })
      Some(compiledEvals(spec).map(ev =>
        (hist: Array[Double], app: ArrayBuffer[Double]) => ev(new View(hist, app))))
    else None

  /** Streaming bridge: the local date-feature kernel for `name`. */
  private[graft] def dateKernel(name: String): Option[LocalDate => Int] =
    dateFeature(name)

  // ---- The route rule: fused kernel or driver lockstep loop -------------
  //
  // Every predict / CV / interval call site asks these functions, and runCV
  // requires the same per-model plan, so no caller can admit a pipeline the
  // kernel would reject.

  /** Spec/panel half of the rule: the kernels can group, featurize, date
    * and advance this panel. The rollout, which has no driver twin, asks
    * only this; the routed calls also honor [[enabled]].
    */
  private def compiles(conf: MLForecast, p: PanelFrame): Boolean = {
    val dsType = p.df.schema(p.timeCol).dataType
    // the kernels group sorted rows into series via universal equality on
    // the id value; BinaryType ids surface as fresh Array[Byte] per row
    // (reference equality — every row would become its own series), so
    // binary ids route to the driver loop, whose joins/windows compare
    // binary by value
    p.df.schema(p.idCol).dataType != BinaryType &&
      conf.spec.allTransforms.forall { case (l, t) =>
        t.pooling.isLocal && compile(l, t).isDefined
      } &&
      conf.spec.customDateFeatures.isEmpty &&
      (conf.spec.dateFeatures.isEmpty ||
        (dsType == DateType && conf.spec.dateFeatures.forall(dateFeature(_).isDefined))) &&
      advancer(conf.freq, dsType).isDefined
  }

  /** The user's switch: `fusedPredict = false` keeps every routed call,
    * and interval CV's shared union-of-offsets backtest, on the original
    * per-window driver path.
    */
  def enabled(conf: MLForecast): Boolean = conf.fusedPredict

  private def routable(conf: MLForecast, p: PanelFrame): Boolean =
    enabled(conf) && conf.directHorizons.isEmpty && compiles(conf, p)

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
    */
  def fusesPredict(conf: MLForecast, p: PanelFrame, trained: Seq[(String, TrainedModel)],
                   dynCols: Seq[String], callback: Option[PredictCallback]): Boolean =
    callback.forall(_.afterScalar.isDefined) && routable(conf, p) &&
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

  /** In-sample rollout precondition: the kernels compile and every model
    * serves from its frozen scorer (the rollout never refits).
    */
  def rolloutSupported(conf: MLForecast, p: PanelFrame,
                       trained: Seq[(String, TrainedModel)], dynCols: Seq[String]): Boolean =
    compiles(conf, p) &&
      refitPlan(conf, trained, conf.featureCols ++ dynCols, refit = false).forall(_.contains(false))

  /** The kernels' missing convention: NaN for a null double. */
  private def doubleAt(r: Row, i: Int): Double = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)

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
                                 nFeatures: Int) extends Serializable {
    private val windowEvals: Array[Eval] = compiledEvals(spec).toArray
    private val dateEvals: Array[LocalDate => Int] =
      spec.dateFeatures.map(n => dateFeature(n).get).toArray
    private val size = windowEvals.length + dateEvals.length + nStatic + nDyn
    require(size == nFeatures, s"feature layout mismatch: $size vs $nFeatures")

    /** Features of the position after `view`'s end, dated `ds`, with that
      * position's exog values `dyn` (null = all missing). With `dropNa`,
      * null when the row fails MLForecast.dropNa: a window feature or an
      * exog value is missing.
      */
    def apply(view: View, ds: Any, statics: Array[Double], dyn: Array[Double],
              dropNa: Boolean = false): Array[Double] = {
      val arr = new Array[Double](size)
      var k = 0
      while (k < windowEvals.length) {
        val x = windowEvals(k)(view)
        if (x == null) { if (dropNa) return null; arr(k) = Double.NaN }
        else arr(k) = x.doubleValue
        k += 1
      }
      if (dateEvals.nonEmpty) {
        val ld = ds.asInstanceOf[java.sql.Date].toLocalDate
        dateEvals.foreach { ev => arr(k) = ev(ld).toDouble; k += 1 }
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

  /** Column positions of the CV and rollout kernels' input rows. */
  private final case class SeriesLayout(iId: Int, iDs: Int, iY: Int,
                                        iStatics: Array[Int], iDyn: Array[Int])

  /** One series' buffered input rows, decoded once: dates, the target
    * (NaN = null) and its null mask, statics and per-row exog.
    */
  private final class Series(rows: ArrayBuffer[Row], l: SeriesLayout) {
    val n: Int = rows.length
    val id: Any = rows.head.get(l.iId)
    val ds: Array[Any] = rows.map(_.get(l.iDs)).toArray
    val yNull: Array[Boolean] = rows.map(_.isNullAt(l.iY)).toArray
    val hist: Array[Double] = rows.map(doubleAt(_, l.iY)).toArray
    val statics: Array[Double] = l.iStatics.map(doubleAt(rows.head, _))
    private val exogRows: Array[Array[Double]] =
      if (l.iDyn.isEmpty) null else rows.map(r => l.iDyn.map(doubleAt(r, _))).toArray
    /** Row i's exog values; null (FeatureRow reads none) without exog. */
    def exog(i: Int): Array[Double] = if (exogRows == null) null else exogRows(i)
  }

  /** The CV and rollout kernels' input: every panel row as (id, ds, __y,
    * statics, exog) in doubles, kernel-partitioned, and its layout.
    */
  private def historyInput(p: PanelFrame, statics: Seq[String],
                           dynCols: Seq[String]): (DataFrame, SeriesLayout) = {
    val sel = Seq(p.id, p.ds, p.y.cast(DoubleType).as("__y")) ++
      (statics ++ dynCols).map(c => col(s"`$c`").cast(DoubleType).as(c))
    val sorted = kernelPartitioned(p.df.select(sel: _*), p)
    val s = sorted.schema
    (sorted, SeriesLayout(s.fieldIndex(p.idCol), s.fieldIndex(p.timeCol),
      s.fieldIndex("__y"), statics.map(s.fieldIndex).toArray, dynCols.map(s.fieldIndex).toArray))
  }

  /** Run the fused loop. Returns (id, ds, <model preds...>) — identical to
    * the driver loop's pre-inverse output.
    */
  def run(p: PanelFrame, conf: MLForecast, trained: Seq[(String, TrainedModel)],
          dynCols: Seq[String], h: Int, xDf: Option[DataFrame],
          after: Option[Double => Double] = None): DataFrame = {
    import p.{idCol, timeCol}
    val spec = conf.spec
    val statics = conf.staticFeatures
    val allFeatures = conf.featureCols ++ dynCols
    val names = trained.map(_._1)
    // per-series constant-forecast models ride a joined level column
    // instead of a feature scorer (SES/Croston/TSB: one value per series)
    val levelModels: Seq[Option[(DataFrame, String)]] =
      trained.map { case (_, tm) => tm.seriesLevels }
    val scorers = trained.map { case (_, tm) =>
      tm.scorer(allFeatures).getOrElse(null) }
    require(scorers.zip(levelModels).forall { case (s, l) =>
      s != null || l.isDefined }, "model is neither scorable nor level-backed")
    val features = new FeatureRow(spec, statics.size, dynCols.size, allFeatures.size)
    val advance = advancer(conf.freq, p.df.schema(timeCol).dataType).get
    val trimN = spec.updateSamplesBound.map(_ + 1).getOrElse(Int.MaxValue)

    // Input stream: history rows + tagged future-exog rows, one shuffle by
    // id, sorted so each series arrives as a contiguous ascending run.
    // Level-backed models contribute one joined constant column per model
    // (left join: a series with no level predicts null, like the driver
    // path's left join).
    val levelCols = levelModels.zipWithIndex.collect {
      case (Some(_), mi) => s"__lvl_$mi"
    }
    val histBase = levelModels.zipWithIndex.foldLeft(p.df) {
      case (d, (Some((lv, kc)), mi)) =>
        d.join(lv.select(col(s"`$kc`").as(idCol),
          col("__level").cast(DoubleType).as(s"__lvl_$mi")), Seq(idCol), "left")
      case (d, _) => d
    }
    val histSel = Seq(p.id, p.ds, p.y.cast(DoubleType).as("__y"), lit(false).as("__fut")) ++
      statics.map(c => col(s"`$c`").cast(DoubleType).as(c)) ++
      dynCols.map(c => lit(null).cast(DoubleType).as(c)) ++
      levelCols.map(col)
    var input = histBase.select(histSel: _*)
    xDf.foreach { x =>
      val futSel = Seq(col(idCol), col(timeCol), lit(null).cast(DoubleType).as("__y"),
        lit(true).as("__fut")) ++
        statics.map(c => lit(null).cast(DoubleType).as(c)) ++
        dynCols.map(c => col(s"`$c`").cast(DoubleType).as(c)) ++
        levelCols.map(c => lit(null).cast(DoubleType).as(c))
      input = input.unionByName(x.select(futSel: _*))
    }
    val sorted = kernelPartitioned(input, p)

    val inSchema = sorted.schema
    val iId = inSchema.fieldIndex(idCol)
    val iDs = inSchema.fieldIndex(timeCol)
    val iY = inSchema.fieldIndex("__y")
    val iFut = inSchema.fieldIndex("__fut")
    val iStatics = statics.map(inSchema.fieldIndex).toArray
    val iDyn = dynCols.map(inSchema.fieldIndex).toArray
    // per-model input index of its level column; -1 = feature-scored model
    val iLevel: Array[Int] = levelModels.zipWithIndex.map {
      case (Some(_), mi) => inSchema.fieldIndex(s"__lvl_$mi")
      case (None, _) => -1
    }.toArray

    val outSchema = StructType(
      StructField(idCol, inSchema(iId).dataType, nullable = true) +:
        StructField(timeCol, advancedDsType(p), nullable = true) +:
        names.map(n => StructField(n, DoubleType, nullable = true)))

    val nModels = scorers.size
    val afterFn: Double => Double = after.orNull
    sorted.mapPartitions { iter =>
      // a series can emit zero rows (exog-only ids)
      seriesRuns(iter, iId).flatMap { series =>
        val (futRows, histRows) = series.partition(_.getBoolean(iFut))
        if (histRows.isEmpty) Iterator.empty
        else {
          val first = histRows.head
          val staticVals = iStatics.map(doubleAt(first, _))
          // level-backed models: one constant per series (null = no level)
          val levelVals: Array[java.lang.Double] = iLevel.map { i =>
            if (i < 0 || first.isNullAt(i)) null
            else java.lang.Double.valueOf(first.getDouble(i))
          }
          val lastDs = histRows.last.get(iDs)
          val hist = histRows.takeRight(trimN).map(doubleAt(_, iY)).toArray
          val exogByDs: Map[Any, Array[Double]] =
            futRows.iterator.map(r => r.get(iDs) -> iDyn.map(doubleAt(r, _))).toMap

          val appended = Array.fill(nModels)(new ArrayBuffer[Double](h))
          val out = new ArrayBuffer[Row](h)
          var step = 1
          while (step <= h) {
            val stepDs = advance(lastDs, step)
            val exog = exogByDs.getOrElse(stepDs, null)
            val vals = new Array[Any](2 + nModels)
            vals(0) = first.get(iId)
            vals(1) = stepDs
            var mi = 0
            while (mi < nModels) {
              var pred: java.lang.Double =
                if (iLevel(mi) >= 0) levelVals(mi) // per-series constant
                else scorers(mi)(features(new View(hist, appended(mi)), stepDs, staticVals, exog))
              // after-predict hook (scalar twin of the driver loop's
              // DataFrame hook): transforms the value that feeds back AND
              // the value reported, like the reference's _update_y
              if (afterFn != null && pred != null)
                pred = java.lang.Double.valueOf(afterFn(pred.doubleValue))
              vals(2 + mi) = pred
              appended(mi) += (if (pred == null) Double.NaN else pred.doubleValue)
              mi += 1
            }
            out += new org.apache.spark.sql.catalyst.expressions.GenericRow(vals)
            step += 1
          }
          out.iterator
        }
      }
    }(Encoders.row(outSchema))
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
      seriesRuns(iter, layout.iId).flatMap { rows =>
        val s = new Series(rows, layout)
        val idxByDs: Map[Any, Int] = s.ds.zipWithIndex.toMap
        val lastDs = s.ds(s.n - 1)
        // scorers this series is currently predicting with: driver-trained
        // entries stay fixed; localFit entries are (re)fit on the refit
        // schedule and frozen in between — refitAt(0) is always true, so
        // every local entry is fit before its first use
        val curScorers = scorers.clone()
        val noApp = new ArrayBuffer[Double](0)

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
            var pIdx = sliceStart
            while (pIdx <= originIdx) {
              if (!s.hist(pIdx).isNaN) {
                val arr = features(new View(s.hist, sliceStart, pIdx, noApp), s.ds(pIdx),
                  s.statics, s.exog(pIdx), dropNa = true)
                if (arr != null) { featBuf += arr; labBuf += s.hist(pIdx) }
              }
              pIdx += 1
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
            val appended = Array.fill(nModels)(new ArrayBuffer[Double](h))
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
                  else sc(features(new View(workHist, lo, hiExcl, appended(mi)), stepDs,
                    s.statics, exog))
                // the TRANSFORMED prediction feeds the recursion; the
                // emitted value inverts to original space (the inverse is
                // stepped EVERY step — its cumsum state advances whether
                // or not the step emits a row, like the driver's inverse
                // over the full h-step prediction frame)
                appended(mi) += (if (pred == null) Double.NaN else pred.doubleValue)
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
      seriesRuns(iter, layout.iId).flatMap { rows =>
        val s = new Series(rows, layout)
        val noApp = new ArrayBuffer[Double](0)
        val outRows = new ArrayBuffer[Row]()
        var o = 0
        while (o < s.n - h) {
          // one-step dropna survival of the origin's first forecast row:
          // every window feature, every exog value and the label present
          // (MLForecast.dropNa)
          if (!s.hist(o + 1).isNaN && features(new View(s.hist, 0, o + 1, noApp),
              s.ds(o + 1), s.statics, s.exog(o + 1), dropNa = true) != null) {
            val appended = Array.fill(nModels)(new ArrayBuffer[Double](h))
            val preds = new Array[java.lang.Double](nModels)
            var step = 1
            while (step <= h) {
              val stepIdx = o + step // future = next rows (continuity-validated panel)
              val exog = s.exog(stepIdx)
              var mi = 0
              while (mi < nModels) {
                val pred = scorers(mi)(features(new View(s.hist, 0, o + 1, appended(mi)),
                  s.ds(stepIdx), s.statics, exog))
                preds(mi) = pred
                appended(mi) += (if (pred == null) Double.NaN else pred.doubleValue)
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
