package graft.forecast

import org.apache.spark.ml.regression.GBTRegressionModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Freq, PanelFrame}
import graft.operators.FeatureSpec

/** Iterative boosted-tree cross-validation with early stopping — the
  * reference's `LightGBMCV` (/root/reference/mlforecast/lgb_cv.py:111-560)
  * re-expressed for Spark ML's GBT.
  *
  * LightGBM grows one booster per CV window a few rounds at a time
  * (`partial_fit`), evaluating a weighted metric across windows every
  * `eval_every` rounds. Spark's GBT cannot warm-start, but boosting is
  * sequential — tree k is fit on the residuals of trees 0..k-1 and is
  * unaffected by later rounds — so a single ensemble trained to
  * `numIterations` IS the whole boosting trajectory, and truncating it to
  * its first k trees reproduces the model after k rounds exactly (same
  * seed, no subsampling). So: train each window's GBT ONCE, then walk
  * k = evalEvery, 2·evalEvery, … scoring the truncated ensemble with a full
  * recursive predict per window (the reference's eval loop), stop by the
  * same no-improvement rule (lgb_cv.py `_update_metric`/early stop), and
  * refit the final model on the full panel at the best iteration.
  *
  * Total boosting work is nWindows × numIterations rounds (the reference
  * pays the same when it never stops early); evaluation work is bounded by
  * the early stop, and each eval is a fused one-job recursive predict.
  */
final case class LightGBMCV(
    freq: Freq,
    spec: FeatureSpec,
    targetTransforms: Seq[TargetTransform] = Nil,
    staticFeatures: Seq[String] = Nil,
    maxDepth: Int = 5,
    stepSize: Double = 0.1,
    seed: Long = 0L,
    metric: String = "mape",
    /** "gbt" = MLlib GBTRegressor; "ggbm" = the native histogram GBDT
      * ([[GraftGbm]] — the booster class the reference actually stages).
      * Both have the prefix property the truncation trick needs: tree k
      * depends only on trees 0..k−1.
      */
    booster: String = "gbt",
) {
  require(booster == "gbt" || booster == "ggbm",
    s"booster must be gbt or ggbm, got $booster")

  private def conf(iters: Int): MLForecast = {
    val model: ForecastModel = booster match {
      case "gbt" => SparkGBT(booster, maxIter = iters, maxDepth = maxDepth,
        stepSize = stepSize, seed = seed)
      case _ => GraftGbm(name = booster, numRounds = iters, maxDepth = maxDepth,
        learningRate = stepSize, seed = seed)
    }
    MLForecast(models = Seq(model),
      freq = freq, spec = spec, targetTransforms = targetTransforms,
      staticFeatures = staticFeatures)
  }

  /** Run the CV search. Returns the eval history, the best iteration, and a
    * final pipeline refit on the full panel at that iteration.
    */
  def fit(panel: PanelFrame, nWindows: Int, h: Int,
          numIterations: Int = 100, evalEvery: Int = 10,
          earlyStoppingEvals: Int = 2, earlyStoppingPct: Double = 0.01,
          windowWeights: Option[Seq[Double]] = None): LightGBMCVResult = {
    require(nWindows >= 1 && h >= 1 && numIterations >= evalEvery && evalEvery >= 1)
    windowWeights.foreach(w => require(w.length == nWindows,
      s"need $nWindows window weights, got ${w.length}"))
    val weights = windowWeights.getOrElse(Seq.fill(nWindows)(1.0))
    import panel.{idCol, timeCol, targetCol}

    // Same split geometry as crossValidation: per-series cutoffs stepped
    // back from each series' own last date (stepSize = h).
    val pinned = panel.copy(df = MLForecast.pin(panel.df))
    val lastDates = pinned.lastDates
    val full = conf(numIterations)
    val dynCols = full.dynamicExogCols(pinned)
    // per-window GBT trainings dominate the cost and are independent —
    // submit them concurrently like every other multi-fit in this package
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    val windows = (0 until nWindows).map { i =>
      Par.future(panel.df.sparkSession) {
        val offset = h + (nWindows - 1 - i) * h
        val cutoffs = lastDates.select(col(idCol),
          freq.advance(col("last_date"), lit(-offset)).as("__cutoff"),
          freq.advance(col("last_date"), lit(h - offset)).as("__bound"))
        val trainPanel = pinned.copy(df = pinned.df.join(broadcast(cutoffs), Seq(idCol))
          .filter(col(timeCol) <= col("__cutoff")).drop("__cutoff", "__bound"))
        val actuals = pinned.df.join(broadcast(cutoffs), Seq(idCol))
          .filter(col(timeCol) > col("__cutoff") && col(timeCol) <= col("__bound"))
          .select(col(idCol), col(timeCol), col(targetCol).cast("double").as(targetCol))
        // held-out exog for the eval predicts (the same internally-built
        // X_df the driver CV loop feeds predict)
        val xDf =
          if (dynCols.isEmpty) None
          else Some(pinned.df.join(broadcast(cutoffs), Seq(idCol))
            .filter(col(timeCol) > col("__cutoff"))
            .select((Seq(idCol, timeCol) ++ dynCols).map(c => col(s"`$c`")): _*))
        val fitted = full.fit(trainPanel)
        (fitted, fitted.trained.head._2, actuals, xDf)
      }
    }.map(Await.result(_, Duration.Inf))

    def truncated(tm: TrainedModel, k: Int): TrainedModel = tm match {
      case MLlibTrained(m: GBTRegressionModel) =>
        MLlibTrained(new GBTRegressionModel(m.uid, m.trees.take(k),
          m.treeWeights.take(k)))
      case g: GraftGbmTrained => g.truncated(k)
      case other => throw new IllegalStateException(s"expected a boosted model, got $other")
    }

    val hist = Seq.newBuilder[(Int, Double)]
    var histSoFar = List.empty[Double]
    var stopped = false
    var k = evalEvery
    // one Spark action per eval step: every window's truncated predict is
    // LAZY (fused one-job plans), so tagging each window's joined frame and
    // unioning lets a single Losses.overallBy aggregation score all windows
    // at once — nWindows×nEvals driver round-trips collapse to nEvals. The
    // job group labels the eval actions so a spec can count them from the
    // scheduler (JobCountSpec's contract: eval work independent of
    // nWindows in driver round-trips).
    val sc = panel.df.sparkSession.sparkContext
    // save/restore (incl. interruptOnCancel) rather than clear: a caller
    // running under its OWN job group must get it back after the eval loop
    graft.tools.JobGroups.withJobGroup(sc, LightGBMCV.EvalJobGroup,
        "LightGBMCV staged eval") {
      while (k <= numIterations && !stopped) {
        val unioned = windows.zipWithIndex.map { case ((fitted, gbt, actuals, xDf), i) =>
          val preds = fitted.copy(trained = Seq(booster -> truncated(gbt, k))).predict(h, xDf)
          actuals.join(preds, Seq(idCol, timeCol)).withColumn("__win", lit(i))
        }.reduce(_ unionByName _)
        val byWin = Losses.overallBy(unioned, "__win", idCol, targetCol,
            Seq(booster), metric)
          .collect().map { r =>
            r.getInt(0) -> (if (r.isNullAt(1)) Double.PositiveInfinity
                            else r.getDouble(1))
          }.toMap
        val perWindow = (0 until nWindows).map(i =>
          byWin.getOrElse(i, Double.PositiveInfinity))
        val pooled = perWindow.zip(weights).map { case (m, w) => m * w }.sum / weights.sum
        hist += (k -> pooled)
        histSoFar = pooled :: histSoFar
        // reference early stop: compare the latest eval to the one
        // earlyStoppingEvals evals ago; stop when relative improvement is
        // below earlyStoppingPct (lgb_cv.py should_stop)
        if (histSoFar.length >= earlyStoppingEvals + 1) {
          val ref = histSoFar(earlyStoppingEvals)
          val improvement = 1.0 - histSoFar.head / ref
          if (improvement < earlyStoppingPct) stopped = true
        }
        k += evalEvery
      }
    }
    val history = hist.result()
    val bestIteration = history.minBy(_._2)._1
    // refit from the PINNED panel: the raw frame's lineage (possibly a
    // whole upstream ETL chain) was already materialized for the CV
    // windows and must not re-execute for the final fit
    LightGBMCVResult(history, bestIteration, stopped,
      conf(bestIteration).fit(pinned))
  }
}

object LightGBMCV {
  /** Job-group id carried by every eval-loop Spark job (spec-countable). */
  val EvalJobGroup = "graft-lgbcv-eval"
}

final case class LightGBMCVResult(
    /** (iteration, weighted pooled metric) per evaluation, in order. */
    history: Seq[(Int, Double)],
    bestIteration: Int,
    /** Whether the walk ended via the early-stopping rule. */
    earlyStopped: Boolean,
    /** Final pipeline refit on the full panel at `bestIteration`. */
    fitted: FittedMLForecast,
) {
  def predict(h: Int, xDf: Option[DataFrame] = None): DataFrame = fitted.predict(h, xDf)
}
