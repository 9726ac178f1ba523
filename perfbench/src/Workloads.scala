package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Freq, PanelFrame, Validation}
import graft.forecast._
import graft.functions.{Pooling, RollingMax, RollingMean, RollingMin}
import graft.operators.{FeatureSpec, Featurizer}
import graft.sources.Panels

/** A seeded synthetic panel, a pipeline configuration, the end-to-end cycle
  * of public calls made on them, and the traced cycle that calls each
  * layer's entry point on its own.
  */
abstract class Workload(val spark: SparkSession, val nSeries: Int, val nDays: Int,
                        val work: File) {
  def conf: MLForecast
  /** Days cut from the end of every series and kept as actuals. */
  def holdoutDays: Int
  def staticCols: Seq[String] = Nil

  protected val Start = "2020-01-01"
  var train: PanelFrame = _
  var holdout: DataFrame = _
  protected var actuals: Map[(Long, String), Double] = Map.empty
  protected var lastSmape: Option[Double] = None
  protected var lastCoverage: Option[Double] = None

  def models: Seq[String] = conf.models.map(_.name)
  def primary: String = models.head

  /** Builds the panel from `seed` alone. Every series has `nDays` days and
    * the same end, so the last `holdoutDays` form one calendar block.
    */
  def generate(seed: Long): Unit = {
    var raw = Panels.syntheticDailySeries(spark, nSeries, nDays, nDays, seed, Start)
    staticCols.foreach(c => raw = raw.withColumn(c, (col("unique_id") % 20).cast("double")))
    val full = raw.localCheckpoint()
    val cutoff = date_add(to_date(lit(Start)), nDays - holdoutDays)
    train = PanelFrame(full.filter(col("ds") < cutoff).localCheckpoint(),
      freq = Freq.Day, staticCols = staticCols)
    holdout = full.filter(col("ds") >= cutoff).localCheckpoint()
    actuals = holdout.select("unique_id", "ds", "y").collect()
      .map(r => (r.getLong(0), r.get(1).toString) -> r.getDouble(2)).toMap
  }

  /** The timed calls of one end-to-end cycle. Returns the output checks,
    * run after the timed region; without a `bench` (the warm pass) they are
    * not run.
    */
  def cycle(log: CallLog, bench: Option[Bench], cycle: Int): Seq[() => Unit]

  /** One traced cycle of layer entry points; returns counts the metrics
    * need (predict steps taken through the driver loop).
    */
  def layerCycle(tr: Tracer, cycle: Int): Map[String, Double]

  def accuracy: Accuracy = Accuracy(lastSmape, lastCoverage)

  def fusedMatchesUnfused(bench: Bench): Unit = ()

  protected def nForecasts(rows: Array[Row]): Long = rows.length.toLong * models.length

  /** sMAPE in percent of the primary model against the held-out actuals:
    * per-series mean of |y - yhat| / ((|y| + |yhat|) / 2), then the mean
    * over series (the `Losses.byId` definition).
    */
  protected def smape(rows: Seq[Row], model: String = primary): Double = {
    val perSeries = rows.groupBy(_.getAs[Long]("unique_id")).values.map { rs =>
      rs.map { r =>
        val y = actuals((r.getAs[Long]("unique_id"), r.getAs[Any]("ds").toString))
        val f = r.getAs[Double](model)
        val d = (math.abs(y) + math.abs(f)) / 2
        if (d == 0) 0.0 else math.abs(y - f) / d
      }.sum / rs.length
    }
    100.0 * perSeries.sum / perSeries.size
  }

  /** Share of held-out actuals inside the primary model's 80% interval. */
  protected def coverage80(rows: Seq[Row]): Double =
    rows.count { r =>
      val y = actuals((r.getAs[Long]("unique_id"), r.getAs[Any]("ds").toString))
      r.getAs[Double](s"$primary-lo-80") <= y && y <= r.getAs[Double](s"$primary-hi-80")
    }.toDouble / rows.length

  // --- traced layer calls shared by every workload -----------------------

  protected def sp[T](tr: Tracer, cycle: Int, name: String)(body: => T): T =
    tr.span(name, cycle)(body)

  /** validation → transforms → featurize → train, each on its own, then a
    * full fit (outside any layer span) for the forecasting layers. Each
    * layer's output is materialized inside its span, so its work is not
    * billed to the next layer.
    */
  protected def frontLayers(tr: Tracer, cycle: Int): FittedMLForecast = {
    sp(tr, cycle, "validation")(Validation.requireValid(train))
    val transformed =
      if (conf.targetTransforms.isEmpty) train
      else sp(tr, cycle, "transforms") {
        val p = conf.targetTransforms.foldLeft(train)((p, t) => t.fit(p).transformed)
        p.copy(df = p.df.localCheckpoint())
      }
    val featurized = sp(tr, cycle, "featurize") {
      Featurizer.addFeatures(transformed, conf.spec).localCheckpoint()
    }
    val trainFrame = sp(tr, cycle, "prep") {
      val notNa = (conf.spec.featureNames :+ train.targetCol).map { c =>
        col(s"`$c`").isNotNull && !isnan(col(s"`$c`"))
      }.reduce(_ && _)
      val t = featurized.filter(notNa).cache()
      t.count(); t
    }
    try sp(tr, cycle, "train") {
      conf.models.foreach(_.fit(trainFrame, conf.featureCols, train.targetCol, None))
    } finally trainFrame.unpersist()
    sp(tr, cycle, "fit")(conf.fit(train))
  }

  protected def lossesLayer(tr: Tracer, cycle: Int, preds: DataFrame): Unit =
    sp(tr, cycle, "losses") {
      Losses.byId(preds.join(holdout.select("unique_id", "ds", "y"), Seq("unique_id", "ds")),
        "unique_id", "y", models, "smape").collect()
    }
}

object Workload {
  /** BASELINE.md's feature shape: lags 1/7/14/28, rolling mean/min/max(7)
    * at lags 1 and 7, rolling mean(7) at lags 14 and 28, day of week and
    * month.
    */
  val baselineSpec: FeatureSpec = FeatureSpec(
    lags = Seq(1, 7, 14, 28),
    lagTransforms = Map(
      1 -> Seq(RollingMean(7), RollingMin(7), RollingMax(7)),
      7 -> Seq(RollingMean(7), RollingMin(7), RollingMax(7)),
      14 -> Seq(RollingMean(7)),
      28 -> Seq(RollingMean(7))),
    dateFeatures = Seq("dayofweek", "month"))

  def apply(name: String, spark: SparkSession, nSeries: Int, nDays: Int, work: File): Workload =
    name match {
      case "pooled_lockstep" => new PooledLockstep(spark, nSeries, nDays, work)
      case "gbm_intervals"   => new GbmIntervals(spark, nSeries, nDays, work)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
}

/** A pooled (cross-series) feature forces the driver-orchestrated lockstep
  * loop, where the per-step job count dominates; `update` writes pooled
  * state beside predict's reads. The fused LocalLoop never runs here.
  */
final class PooledLockstep(spark: SparkSession, n: Int, d: Int, work: File)
    extends Workload(spark, n, d, work) {
  val H = 2
  val updateDays = 7
  def holdoutDays: Int = updateDays + H
  override def staticCols: Seq[String] = Seq("grp")
  // `grp` is listed in staticFeatures as well as declared on the panel: a
  // groupby on a panel static that staticFeatures omits fits, then fails
  // in predict (see CHANGES.md)
  val conf: MLForecast = MLForecast(
    models = Seq(SparkLinearRegression(), Models.seasonalNaive(7)),
    freq = Freq.Day,
    spec = FeatureSpec(
      lags = Seq(1, 7),
      lagTransforms = Map(1 -> Seq(RollingMean(7, pooling = Pooling(groupby = Seq("grp")))))),
    staticFeatures = Seq("grp"),
    validate = true)

  private var newRows: DataFrame = _
  override def generate(seed: Long): Unit = {
    super.generate(seed)
    val end = date_add(to_date(lit(Start)), nDays - H)
    newRows = holdout.filter(col("ds") < end).localCheckpoint()
  }

  def cycle(log: CallLog, bench: Option[Bench], cycle: Int): Seq[() => Unit] = {
    val fitted = log("fit", (_: FittedMLForecast) => 0L)(conf.fit(train))
    val updated = log("update", (_: FittedMLForecast) => 0L)(fitted.update(newRows))
    val preds = log("predict", nForecasts)(updated.predict(H).collect())
    bench.toSeq.map { b => () =>
      b.checkRows("predict after update", preds, n.toLong * H, models)
      lastSmape = Some(smape(preds))
    }
  }

  def layerCycle(tr: Tracer, cycle: Int): Map[String, Double] = {
    val fitted = frontLayers(tr, cycle)
    val updated = sp(tr, cycle, "update")(fitted.update(newRows))
    val preds = sp(tr, cycle, "driverloop")(updated.predict(H).localCheckpoint())
    lossesLayer(tr, cycle, preds)
    Map("driverloop_steps" -> H.toDouble)
  }
}

/** Per-series transforms only, so predict and CV take the fused LocalLoop
  * route. Histogram GBM training dominates fit; conformal calibration (CV,
  * scores, intervals) dominates the rest; save/load round-trips the fitted
  * pipeline.
  */
final class GbmIntervals(spark: SparkSession, n: Int, d: Int, work: File)
    extends Workload(spark, n, d, work) {
  val H = 14
  val levels = Seq(80, 95)
  val windows = 2
  def holdoutDays: Int = H
  val conf: MLForecast = MLForecast(
    models = Seq(GraftGbm(numRounds = 20, numLeaves = 31, maxDepth = 6)),
    freq = Freq.Day, spec = Workload.baselineSpec,
    targetTransforms = Seq(Differences(Seq(1, 7)), LocalStandardScaler()),
    validate = true)

  private var lastFitted: FittedMLForecast = _

  private def bandCols: Seq[String] =
    for (l <- levels; s <- Seq("lo", "hi")) yield s"$primary-$s-$l"

  def cycle(log: CallLog, bench: Option[Bench], cycle: Int): Seq[() => Unit] = {
    val fitted = log("fit", (_: FittedMLForecast) => 0L)(conf.fit(train))
    lastFitted = fitted
    val iv = log("intervals", (rs: Array[Row]) => rs.length.toLong * (1 + bandCols.length))(
      fitted.predictWithIntervals(H, levels, windows).collect())
    val dir = new File(work, s"model-$cycle")
    Main.deleteTree(dir)
    val loaded = log("save_load", (_: FittedMLForecast) => 0L) {
      MLForecastIO.save(fitted, dir.getPath)
      MLForecastIO.load(spark, dir.getPath)
    }
    val preds = log("predict", nForecasts)(loaded.predict(H).collect())
    Main.deleteTree(dir)
    bench.toSeq.map { b => () =>
      b.checkRows("intervals", iv, n.toLong * H, models ++ bandCols)
      b.checkRows("loaded predict", preds, n.toLong * H, models)
      // predictWithIntervals forecasts with the in-memory pipeline
      b.checkIdentical("loaded predict vs in-memory predict", preds,
        iv.map(r => Row(r.getAs[Any]("unique_id"), r.getAs[Any]("ds"), r.getAs[Any](primary))))
      val unordered = iv.count { r =>
        val Seq(lo80, hi80, lo95, hi95) = bandCols.map(r.getAs[Double])
        val f = r.getAs[Double](primary)
        !(lo95 <= lo80 && lo80 <= f && f <= hi80 && hi80 <= hi95)
      }
      b.check(unordered == 0, s"intervals: $unordered rows where lo-95 <= lo-80 <= yhat <= hi-80 <= hi-95 fails")
      lastSmape = Some(smape(preds))
      lastCoverage = Some(coverage80(iv))
    }
  }

  def layerCycle(tr: Tracer, cycle: Int): Map[String, Double] = {
    val fitted = frontLayers(tr, cycle)
    val (cv, preds) = sp(tr, cycle, "localloop") {
      (fitted.crossValidation(windows, H, refit = false).localCheckpoint(),
        fitted.predict(H).localCheckpoint())
    }
    val p = fitted.transformedPanel
    sp(tr, cycle, "conformal") {
      val scores = Conformal.conformityScores(cv, p.idCol, p.timeCol, p.targetCol, models,
        freq = Some(conf.freq))
      val cutoff = date_add(to_date(lit(Start)), nDays - holdoutDays - 1)
      Conformal.addIntervals(preds.withColumn("cutoff", cutoff), scores, p.idCol, p.timeCol,
        models, levels, freq = Some(conf.freq)).collect()
    }
    val dir = new File(work, s"trace-model-$cycle")
    Main.deleteTree(dir)
    val loaded = sp(tr, cycle, "io") {
      MLForecastIO.save(fitted, dir.getPath)
      MLForecastIO.load(spark, dir.getPath)
    }
    sp(tr, cycle, "localloop")(loaded.predict(H).collect())
    Main.deleteTree(dir)
    lossesLayer(tr, cycle, preds)
    Map("driverloop_steps" -> 0.0)
  }

  /** On a few series, the fused predict equals the driver-loop predict
    * (`fusedPredict = false`) bit for bit. Untimed.
    */
  override def fusedMatchesUnfused(bench: Bench): Unit = {
    val ids = (0L until math.min(4, nSeries).toLong)
    val h = 2
    val fused = lastFitted.predict(h, ids = Some(ids)).collect()
    val unfused = lastFitted.copy(conf = conf.copy(fusedPredict = false))
      .predict(h, ids = Some(ids)).collect()
    bench.checkRows("fused predict on a subset", fused, ids.length.toLong * h, models)
    bench.checkIdentical("fused vs fusedPredict=false predict", fused, unfused)
  }
}
