package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.core.Freq
import graft.forecast.{FittedMLForecast, LocalLoop}

/** Keyed-state streaming forecaster — the Structured Streaming deployment
  * SURVEY §2.11 sketches: `flatMapGroupsWithState` keyed by series id, state
  * = the last `updateSamplesBound + 1` target values (exactly the
  * per-transform `update_samples` contract, reference lag_transforms.py:
  * Lag lag, Rolling lag+w, SeasonalRolling lag+sl·w), seeded from a
  * batch-fitted pipeline's panel. Each micro-batch appends a series' new
  * observations to its ring and emits a fresh h-step forecast for every
  * updated series.
  *
  * Contrast with [[StreamingUpdate]] (the `update()` facade, which
  * re-materializes the whole appended panel per batch): here per-series
  * state is BOUNDED and batch work is proportional to the arriving data —
  * the shape that holds on a 100 TB panel with a trickle of updates.
  *
  * Late-data contract: the reference REJECTS out-of-order appends
  * (data_validation.py:148-199); the streaming translation drops rows at or
  * before a series' last seen timestamp. Gapped timestamps are admitted as
  * missing values: skipped steps enter the ring as NaN, so window features
  * keep their calendar alignment (the dense-ordinal semantics of the batch
  * engine).
  *
  * v1 scope (checked, with clear errors): local bounded transforms + date
  * features only — no pooled transforms (cross-series state cannot live in
  * per-key state), no target transforms, statics, or dynamic exog; freq
  * advances linear in the encoded time unit (int, day, week, second, and
  * month via the month-ordinal encoding — month-start panels only).
  */
object StreamingForecast {

  /** Per-series state: last observed encoded timestamp + the NaN-padded
    * ring of the last `bound` target values ending at that timestamp.
    */
  case class SeriesState(lastDs: Long, tail: Array[Double])

  private def stepSize(freq: Freq, dsType: DataType): Long = (freq, dsType) match {
    case (Freq.IntFreq(n), LongType)          => n.toLong
    case (Freq.IntFreq(n), IntegerType)       => n.toLong
    case (Freq.DayFreq(n), DateType)          => n.toLong
    case (Freq.WeekFreq(n, _), DateType)      => 7L * n
    case (Freq.BusinessDayFreq(n), DateType)  => n.toLong // business-ordinal units
    case (Freq.MonthFreq(n), DateType)        => n.toLong // month-ordinal units
    case (Freq.SecondFreq(s), TimestampType)  => s.toLong
    case (Freq.MilliFreq(ms), TimestampType)  => ms // milli-ordinal units
    case other => throw new IllegalArgumentException(
      s"streaming forecast needs a linearly-encodable (freq, ds type); got $other")
  }

  /** Month frequencies encode ds as the month ordinal (year·12 + month−1):
    * the non-linear calendar becomes a linear grid, so the ring arithmetic
    * (snap, gap fill, step advance) is unchanged. Dates decode to month
    * STARTS — `attach` requires a month-start seed panel, which keeps the
    * streamed timestamps bit-identical to batch `predict`'s `add_months`
    * chain (day-1 dates never clamp).
    */
  private def monthFreq(freq: Freq): Boolean = freq match {
    case Freq.MonthFreq(_) => true
    case _                 => false
  }

  /** Business days encode as the business ordinal (Monday-of-week in weeks
    * ×5 + weekday) — like months, a non-linear calendar made linear so the
    * ring arithmetic is unchanged. Weekend arrivals floor to Friday via the
    * weekday cap below (grid snapping then treats them as that business
    * day's observation).
    */
  private def bdayFreq(freq: Freq): Boolean = freq match {
    case Freq.BusinessDayFreq(_) => true
    case _                       => false
  }

  /** Millisecond frequencies encode ds as epoch MILLIS (unix_timestamp's
    * whole seconds would truncate the grid); decode via timestamp_micros,
    * so sub-second grids round-trip exactly.
    */
  private def milliFreq(freq: Freq): Boolean = freq match {
    case Freq.MilliFreq(_) => true
    case _                 => false
  }

  private def encodeDs(freq: Freq, dsType: DataType, c: org.apache.spark.sql.Column) =
    dsType match {
      case DateType if monthFreq(freq) =>
        (year(c).cast(LongType) * 12L + month(c).cast(LongType) - 1L)
      case DateType if bdayFreq(freq) =>
        val w = least(weekday(c).cast(LongType), lit(4L))
        floor((unix_date(c).cast(LongType) - weekday(c).cast(LongType) + lit(3L))
          .cast(DoubleType) / 7.0).cast(LongType) * 5L + w
      case DateType      => unix_date(c).cast(LongType)
      case TimestampType if milliFreq(freq) => floor(unix_micros(c).cast(DoubleType) / 1000.0).cast(LongType)
      case TimestampType => unix_timestamp(c)
      case _             => c.cast(LongType)
    }

  private def decodeDs(freq: Freq, dsType: DataType, c: org.apache.spark.sql.Column) =
    dsType match {
      case DateType if monthFreq(freq) =>
        make_date((c / 12L).cast(IntegerType), (pmod(c, lit(12L)) + 1L).cast(IntegerType),
          lit(1))
      case DateType if bdayFreq(freq) =>
        date_from_unix_date(
          (floor(c.cast(DoubleType) / 5.0).cast(LongType) * 7L + pmod(c, lit(5L)) - 3L)
            .cast(IntegerType))
      case DateType      => date_from_unix_date(c.cast(IntegerType))
      case TimestampType if milliFreq(freq) => timestamp_micros(c * 1000L)
      case TimestampType => timestamp_seconds(c)
      case _             => c.cast(dsType)
    }

  /** Attach the streaming source (same id/ds/y columns as the fitted panel)
    * and return the streaming forecast frame (unique_id, ds, one column per
    * model) — h steps ahead of each series' latest observation, re-emitted
    * whenever a micro-batch updates the series. Start it with
    * `.writeStream.outputMode("append")`.
    */
  def attach(fitted: FittedMLForecast, stream: DataFrame, h: Int,
             maxAheadSteps: Long = Long.MaxValue): DataFrame =
    attachRaw(fitted, stream, h, maxAheadSteps).drop("__step")

  /** [[attach]] + conformal interval columns (`<model>-lo/hi-<level>`):
    * per-(series, step) |err| quantiles are calibrated ONCE at attach time
    * from the fitted pipeline's refit=false CV — the reference's
    * PredictionIntervals predict path (conformal_error method), frozen at
    * deployment the way a trained model is. The quantile table is one
    * bounded row per (series, step), broadcast-joined to each emitted
    * forecast (a stream-static equi-join; no window over the stream, no
    * growth of the keyed state). Series first seen after attach have no
    * calibration history and get null bounds.
    */
  def attachWithIntervals(fitted: FittedMLForecast, stream: DataFrame, h: Int,
                          levels: Seq[Int], nWindows: Int = 2,
                          maxAheadSteps: Long = Long.MaxValue): DataFrame = {
    require(levels.nonEmpty && levels.forall(l => l > 0 && l < 100),
      s"levels must be in (0, 100): $levels")
    require(nWindows >= 2,
      "at least two windows are needed for conformal intervals")
    val p = fitted.rawPanel
    val names = fitted.trained.map(_._1)
    val scores = graft.forecast.Conformal.conformityScores(
      fitted.crossValidation(nWindows, h, refit = false),
      p.idCol, p.timeCol, p.targetCol, names, freq = Some(fitted.conf.freq))
    val qAggs = for { m <- names; l <- levels }
      yield percentile(col(s"`__score_$m`"), lit(l / 100.0)).as(s"__q_${m}_$l")
    // materialize the quantile table NOW: a stream-static join re-executes
    // the static plan every micro-batch, and this one carries a whole CV —
    // pinned, each batch re-broadcasts a small settled relation instead
    // (measured 3.8 s -> 1.3 s per warm 20k-series batch in StreamSmoke)
    val qs = graft.forecast.MLForecast.pin(
      scores.groupBy(col(p.idCol), col("__step"))
        .agg(qAggs.head, qAggs.tail: _*))
    val bounds = for {
      m <- names; l <- levels; (sfx, sign) <- Seq("lo" -> -1, "hi" -> 1)
    } yield s"$m-$sfx-$l" -> (col(s"`$m`") + lit(sign) * col(s"`__q_${m}_$l`"))
    attachRaw(fitted, stream, h, maxAheadSteps)
      .join(broadcast(qs), Seq(p.idCol, "__step"), "left")
      .withColumns(bounds.toMap)
      .drop("__step" +: (for (m <- names; l <- levels)
        yield s"__q_${m}_$l"): _*)
  }

  /** `maxAheadSteps` guards series state against corrupt far-future
    * timestamps: a row landing more than this many grid steps past the
    * series' last observation is dropped instead of advancing the grid
    * anchor (after which every legitimate row would be silently 'late'
    * forever). Default off — a genuine long outage must not lose data —
    * set it when the source can produce fat-fingered timestamps.
    */
  private def attachRaw(fitted: FittedMLForecast, stream: DataFrame,
                        h: Int, maxAheadSteps: Long = Long.MaxValue): DataFrame = {
    require(maxAheadSteps > 0, s"maxAheadSteps must be positive, got $maxAheadSteps")
    val conf = fitted.conf
    val p = fitted.rawPanel
    require(conf.targetTransforms.isEmpty,
      "streaming forecast does not support target transforms")
    require(conf.staticFeatures.isEmpty,
      "streaming forecast does not support static features")
    require(conf.dynamicExogCols(p).isEmpty,
      "streaming forecast does not support dynamic exog columns")
    require(conf.spec.customDateFeatures.isEmpty,
      "streaming forecast does not support custom date features")
    val bound = conf.spec.updateSamplesBound.getOrElse(
      throw new IllegalArgumentException(
        "streaming forecast needs a bounded spec (no expanding/EWM transforms)")) + 1
    val dsType = p.df.schema(p.timeCol).dataType
    val step = stepSize(conf.freq, dsType)
    require(conf.spec.dateFeatures.isEmpty || dsType == DateType,
      "date features in streaming need a DateType ds column")
    if (monthFreq(conf.freq)) {
      // month ordinals decode to month starts; a mid-month seed date would
      // stream different timestamps than batch predict's add_months chain
      val offGrid = p.df.filter(dayofmonth(col(p.timeCol)) =!= 1).limit(1).count()
      require(offGrid == 0,
        "streaming MonthFreq needs month-start (day 1) timestamps in the seed panel")
    }
    if (bdayFreq(conf.freq)) {
      val offGrid = p.df.filter(weekday(col(p.timeCol)) > 4).limit(1).count()
      require(offGrid == 0,
        "streaming BusinessDayFreq needs weekday timestamps in the seed panel")
    }

    val featureCols = conf.featureCols
    val features = LocalLoop.streamingFeatures(conf.spec, featureCols.size).getOrElse(
      throw new IllegalArgumentException(
        "spec has transforms without a fused kernel (pooled or custom)"))
    val hasDates = conf.spec.dateFeatures.nonEmpty
    val names = fitted.trained.map(_._1)
    require(names.nonEmpty, "streaming forecast needs recursive-mode trained models")
    val scorers = fitted.trained.map { case (n, tm) =>
      tm.scorer(featureCols).getOrElse(throw new IllegalArgumentException(
        s"model $n has no local scorer; streaming needs closed-form or vector-scoring models"))
    }

    val spark = p.df.sparkSession
    import spark.implicits._

    // ---- initial state: per-series bounded tails from the fitted panel ----
    val encoded = p.df.select(
      col(p.idCol).cast(StringType).as("k"),
      encodeDs(conf.freq, dsType, col(p.timeCol)).as("dsl"),
      col(p.targetCol).cast(DoubleType).as("y"))
      .as[(String, Long, Option[Double])]

    /** Append `(dsl, y)` to the ring: off-grid timestamps snap DOWN to the
      * series' grid (anchored at its first observation), skipped grid steps
      * enter as NaN — capped at `bound`, since a gap wider than the ring
      * leaves only NaNs anyway (a corrupt far-future timestamp must not
      * loop gap/step times). Returns the new last grid timestamp, or `last`
      * unchanged when the row snaps at or before it (late/duplicate).
      */
    def appendRow(buf: ArrayBuffer[Double], last: Long, dsl: Long,
                  y: Option[Double]): Long = {
      if (last == Long.MinValue) { // first observation anchors the grid
        buf += y.getOrElse(Double.NaN)
        dsl
      } else {
        // overflow-safe forward distance: an extreme timestamp against an
        // extreme anchor must drop as corrupt, not wrap the subtraction
        // and be admitted as a small (or negative) gap
        val delta =
          try Math.subtractExact(dsl, last)
          catch { case _: ArithmeticException => -1L }
        val steps = if (delta > 0) delta / step else 0L
        if (steps <= 0) last // late or duplicate: drop
        else if (steps > maxAheadSteps) last // corrupt far-future: drop
        else {
          var missing = math.min(steps - 1, bound.toLong)
          while (missing > 0) { buf += Double.NaN; missing -= 1 }
          buf += y.getOrElse(Double.NaN)
          if (buf.length > 2 * bound) buf.dropInPlace(buf.length - bound)
          last + step * steps
        }
      }
    }

    def buildTail(rows: Iterator[(String, Long, Option[Double])]): SeriesState = {
      val sorted = rows.toArray.sortBy(_._2)
      val buf = new ArrayBuffer[Double]()
      var last = Long.MinValue
      sorted.foreach { case (_, dsl, y) => last = appendRow(buf, last, dsl, y) }
      SeriesState(last, buf.takeRight(bound).toArray)
    }

    val initState = encoded.groupByKey(_._1)
      .mapGroups { (k, rows) => (k, buildTail(rows)) }
      .groupByKey(_._1).mapValues(_._2)

    // ---- streaming side ----
    val src = stream
      // a null/non-encodable timestamp cannot take a grid position; drop
      // the row instead of poisoning the non-nullable dsl on every replay
      .filter(encodeDs(conf.freq, dsType, col(p.timeCol)).isNotNull)
      .select(
      col(p.idCol).cast(StringType).as("k"),
      encodeDs(conf.freq, dsType, col(p.timeCol)).as("dsl"),
      col(p.targetCol).cast(DoubleType).as("y"))
      .as[(String, Long, Option[Double])]

    val outSchema = StructType(
      StructField("k", StringType, nullable = false) +:
        StructField("dsl", LongType, nullable = false) +:
        StructField("__step", IntegerType, nullable = false) +:
        names.map(n => StructField(n, DoubleType, nullable = true)))

    // encoded-ds → LocalDate for date features (month ordinals are not
    // epoch days)
    val toLocalDate: Long => java.time.LocalDate =
      if (monthFreq(conf.freq))
        l => java.time.LocalDate.of((l / 12L).toInt, (l % 12L).toInt + 1, 1)
      else if (bdayFreq(conf.freq))
        l => java.time.LocalDate.ofEpochDay(
          Math.floorDiv(l, 5L) * 7L + Math.floorMod(l, 5L) - 3L)
      else
        l => java.time.LocalDate.ofEpochDay(l)

    val nModels = scorers.size
    val func = (key: String, rows: Iterator[(String, Long, Option[Double])],
                state: GroupState[SeriesState]) => {
      val cur = state.getOption.getOrElse(SeriesState(Long.MinValue, Array.empty))
      val fresh = rows.filter(_._2 > cur.lastDs).toArray.sortBy(_._2)
      val buf = ArrayBuffer.from(cur.tail)
      var last = cur.lastDs
      fresh.foreach { case (_, dsl, y) => last = appendRow(buf, last, dsl, y) }
      if (last == cur.lastDs) Iterator.empty // nothing landed on the grid
      else {
        val tail = buf.takeRight(bound).toArray
        state.update(SeriesState(last, tail))

        val appended = Array.fill(nModels)(new Array[Double](h))
        (1 to h).iterator.map { s =>
          val stepDs = last + s * step
          val vals = new Array[Any](3 + nModels)
          vals(0) = key
          vals(1) = stepDs
          vals(2) = s
          val date = if (hasDates) java.sql.Date.valueOf(toLocalDate(stepDs)) else null
          var mi = 0
          while (mi < nModels) {
            val pred = scorers(mi)(features(tail, appended(mi), s - 1, date))
            vals(3 + mi) = pred
            appended(mi)(s - 1) = if (pred == null) Double.NaN else pred.doubleValue
            mi += 1
          }
          new org.apache.spark.sql.catalyst.expressions.GenericRow(vals): Row
        }
      }
    }

    val out = src.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout,
        initState)(func)(Encoders.product[SeriesState], Encoders.row(outSchema))

    // restore the panel's id type (the key is a string only internally);
    // __step stays for attachWithIntervals' quantile join, dropped by attach
    out.select(
      col("k").cast(p.df.schema(p.idCol).dataType).as(p.idCol) +:
        decodeDs(conf.freq, dsType, col("dsl")).as(p.timeCol) +:
        col("__step") +:
        names.map(n => col(s"`$n`")): _*)
  }
}
