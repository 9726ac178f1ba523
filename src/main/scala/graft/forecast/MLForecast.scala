package graft.forecast

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.core.{Freq, PanelFrame, Validation}
import graft.functions.DateFeatures
import graft.operators.{FeatureSpec, Featurizer}

/** The pipeline engine: feature preprocessing, model training, recursive /
  * direct multi-step prediction, cross-validation — the Spark-native
  * counterpart of the reference's `MLForecast` + `TimeSeries`
  * (/root/reference/mlforecast/forecast.py, core.py).
  *
  * Design stance (SURVEY §7): state is DataFrames, and recursive predict
  * has two routes, chosen in one place ([[LocalLoop.fusesPredict]]). By
  * default the fused [[LocalLoop]] kernel runs all h steps for all models
  * in one per-series mapPartitions pass; with pooled transforms (bounded
  * component windows over global/groupby buckets) it runs one job per
  * step and the driver combines per-(bucket, ds) partials between steps.
  * The driver loop (`recursiveLoop`) serves the other pooled shapes
  * (partitionBy, timeAgg, unbounded or non-decomposable), frame-observing
  * callbacks, binary ids, custom date features, models without an
  * executor scorer, and `fusedPredict = false`, the reference the kernel
  * is checked against.
  * Each driver step is one job — a window pass over the carried per-series
  * history plus scoring — checkpointed so plan lineage stays flat
  * regardless of horizon. Pooled transforms work unmodified there because
  * every series advances in lockstep — the cross-series limitation of the
  * reference's own distributed mode (distributed/forecast.py:128-146)
  * disappears.
  *
  * Training features follow a route rule of their own
  * ([[LocalLoop.featurizes]], asked by fit, warmup, load and update):
  * bounded specs the kernels serve are featurized in one kernel pass
  * ([[LocalLoop.featurize]]), the rest by the window Featurizer; both emit
  * the same columns in featureNames order.
  */
final case class MLForecast(
    models: Seq[ForecastModel],
    freq: Freq,
    spec: FeatureSpec,
    targetTransforms: Seq[TargetTransform] = Nil,
    staticFeatures: Seq[String] = Nil,
    validate: Boolean = false,
    maxHorizon: Option[Int] = None,
    horizons: Option[Seq[Int]] = None, // 1-indexed sparse horizons
    fusedPredict: Boolean = true, // per-series fused loop when all transforms are local
    horizonFeatures: Map[Int, Seq[String]] = Map.empty, // 1-indexed horizon -> exog cols
    horizonFeatureTemplates: Seq[String] = Nil, // "{h}" patterns matched against exog cols
) {
  // duplicate model names silently corrupt the driver loop's per-model
  // state (both models' rows tag the same __model value) and give the
  // fused path an ambiguous output schema — reject at construction
  require(models.map(_.name).distinct.length == models.length,
    s"duplicate model names: ${models.map(_.name).diff(models.map(_.name).distinct).distinct.mkString(", ")}")

  def featureCols: Seq[String] = spec.featureNames ++ staticFeatures

  /** 0-indexed horizons to train in direct mode; empty = recursive. */
  def directHorizons: Seq[Int] =
    horizons.map(_.sorted.map(_ - 1))
      .orElse(maxHorizon.map(m => 0 until m: Seq[Int]))
      .getOrElse(Nil)

  /** Fit transforms + features, dropna, train every model. Direct mode
    * (max_horizon / sparse horizons) trains one model per horizon on the
    * lead-expanded target (reference core.py:1061-1186, forecast.py:1208-1247).
    */
  def fit(panel: PanelFrame): FittedMLForecast = {
    // predict carries only (id, ds, y, staticFeatures) per series, so a
    // pooled bucket column outside them fits here and then fails in predict
    for ((lag, t) <- spec.allTransforms;
         c <- t.pooling.groupby ++ t.pooling.partitionBy
         if c != panel.idCol && !staticFeatures.contains(c))
      throw new IllegalArgumentException(
        s"pooled transform ${spec.nameOf(lag, t)} groups by '$c', which is neither " +
          s"the id column nor in staticFeatures; add '$c' to staticFeatures")
    val (src, p, fitted, frames) = prepare(panel)
    val dynCols = dynamicExogCols(panel)
    val featurized = () => frames()._1
    if (directHorizons.isEmpty) {
      require(horizonFeatures.isEmpty && horizonFeatureTemplates.isEmpty,
        "horizon features are only supported in direct mode (maxHorizon or horizons)")
      // Iterative estimators (LR normal solver + its summary, trees) make
      // several passes over the training frame; cache it across models and
      // passes. Closed-form echo models never trigger the materialization
      // (cache is lazy), so they pay nothing. Per-model fits are independent
      // job chains — submit concurrently so they overlap on free executors.
      import scala.concurrent.Await
      import scala.concurrent.duration.Duration
      val trainC = frames()._2.cache()
      val trained =
        try models.map { m =>
          m.name -> Par.future(panel.df.sparkSession) {
            m.fit(trainC, featureCols ++ dynCols, p.targetCol, panel.weightCol)
          }
        }.map { case (n, f) => n -> Await.result(f, Duration.Inf) }
        finally trainC.unpersist()
      FittedMLForecast(this, src, p, fitted, trained, featurized)
    } else {
      require(targetTransforms.isEmpty || horizons.isEmpty,
        "target transforms require contiguous horizons (maxHorizon)")
      val routed = resolveHorizonFeatures(dynCols)
      // lookup from the PINNED src: the raw panel's lineage would re-run
      // the upstream plan once per (horizon, model) train-frame join
      val exog = exogLookup(src, dynCols)
      val feat = featurized().cache()
      // per-horizon fits are independent job chains over the shared cached
      // frame — submit them concurrently so they overlap on free executors
      import scala.concurrent.Await
      import scala.concurrent.duration.Duration
      val futures = models.map { m =>
        m.name -> directHorizons.map { h =>
          val allowed = exogForHorizon(h, dynCols, routed)
          h -> Par.future(panel.df.sparkSession) {
            val trainDf = directTrainFrame(feat, p, h, dynCols, exog, allowed)
            m.fit(trainDf, featureCols ++ allowed, "__tgt", panel.weightCol)
          }
        }
      }
      val trained =
        try futures.map { case (n, byH) =>
          n -> byH.map { case (h, f) => h -> Await.result(f, Duration.Inf) }.toMap
        } finally feat.unpersist() // a failing per-horizon fit must not leak the cache
      FittedMLForecast(this, src, p, fitted, Nil, featurized, trained)
    }
  }

  private[forecast] def exogLookup(panel: PanelFrame, dynCols: Seq[String]): Option[DataFrame] =
    if (dynCols.isEmpty) None
    else Some(panel.df.select(
      (Seq(col(panel.idCol).as("__xid"), col(panel.timeCol).as("__xds")) ++ dynCols.map(col)): _*))

  /** One direct-mode training frame: the lead-expanded target for horizon `h`
    * (0-indexed) with exog horizon-aligned and feature-incomplete rows
    * dropped — reference expand_target (grouped_array.py:177-187) +
    * _transform_per_horizon (core.py:1104-1170).
    */
  private[forecast] def directTrainFrame(feat: DataFrame, p: PanelFrame, h: Int,
                                         dynCols: Seq[String], exog: Option[DataFrame],
                                         allowedExog: Seq[String] = null): DataFrame = {
    // With horizon routing, only this horizon's visible exog participate in
    // the NaN-validity filter (reference core.py:1173-1180) — a null in an
    // exog column routed to another horizon must not drop the row here.
    val naExog = Option(allowedExog).getOrElse(dynCols)
    val w = Window.partitionBy(p.id).orderBy(p.ds)
    var trainH = feat.withColumn("__tgt", lead(p.y, h).over(w))
    if (h > 0 && dynCols.nonEmpty) {
      // horizon alignment: exog the model sees for horizon h are the
      // values at ds + h (the target date)
      trainH = trainH.drop(dynCols: _*)
        .join(exog.get,
          col(p.idCol) === col("__xid") &&
            freq.advance(col(p.timeCol), lit(h)) === col("__xds"), "left")
        .drop("__xid", "__xds")
    }
    MLForecast.dropNa(trainH, spec.featureNames ++ naExog :+ "__tgt")
  }

  /** The full lead-expanded direct-mode training relation in long format:
    * one row per (id, ds, horizon) with features and that horizon's target —
    * the reference's expand_target matrix unpivoted. `horizon` is 1-indexed.
    */
  def expandedTarget(panel: PanelFrame): DataFrame = {
    require(directHorizons.nonEmpty, "expandedTarget requires maxHorizon or horizons")
    val (src, p, _, frames) = prepare(panel)
    val dynCols = dynamicExogCols(panel)
    val routed = resolveHorizonFeatures(dynCols)
    val exog = exogLookup(src, dynCols)
    directHorizons.map { h =>
      directTrainFrame(frames()._1, p, h, dynCols, exog, exogForHorizon(h, dynCols, routed))
        .withColumn("horizon", lit(h + 1))
    }.reduce(_ unionByName _)
  }

  /** Dynamic exogenous columns (reference core.py:475-494): the panel's
    * own dynamicCols with the conf's static features treated as static.
    */
  def dynamicExogCols(panel: PanelFrame): Seq[String] =
    panel.copy(staticCols = (panel.staticCols ++ staticFeatures).distinct)
      .dynamicCols

  /** Resolve per-horizon exog routing to a (1-indexed horizon -> exog cols)
    * map (reference _resolve_horizon_features, forecast.py:296-421): either
    * an explicit `horizonFeatures` dict or `horizonFeatureTemplates` with
    * exactly one `{h}` placeholder each, matched against the dynamic exog
    * columns. Exog columns claimed by any horizon become horizon-specific;
    * the rest stay common to every horizon's model.
    */
  private[forecast] def resolveHorizonFeatures(dynCols: Seq[String]): Map[Int, Seq[String]] = {
    require(horizonFeatures.isEmpty || horizonFeatureTemplates.isEmpty,
      "only one of horizonFeatures and horizonFeatureTemplates can be provided")
    if (horizonFeatures.isEmpty && horizonFeatureTemplates.isEmpty) return Map.empty
    require(directHorizons.nonEmpty,
      "horizon features are only supported in direct mode (maxHorizon or horizons)")
    val maxH = directHorizons.max + 1 // effective max horizon, 1-indexed
    // membership, not just <= maxH: with SPARSE horizons a key for an
    // untrained horizon would claim its columns (removing them from the
    // common exog of every model) while no model exists to consume them —
    // the feature would silently vanish from the whole pipeline
    val trainedH = directHorizons.map(_ + 1).toSet
    if (horizonFeatures.nonEmpty) {
      horizonFeatures.keys.foreach { h =>
        require(h > 0, s"horizonFeatures keys must be positive integers, got $h")
        require(trainedH.contains(h),
          s"horizonFeatures includes horizon $h, but the trained horizons are " +
            s"${trainedH.toSeq.sorted.mkString(", ")}")
      }
      val unknown = horizonFeatures.values.flatten.toSeq.distinct.filterNot(dynCols.contains)
      require(unknown.isEmpty,
        s"horizonFeatures columns not found among the dynamic exogenous features: ${unknown.sorted.mkString(", ")}")
      // an empty column list is a no-op entry — almost always a typo; the
      // reference warns here too (_resolve_horizon_features)
      val emptyH = horizonFeatures.collect { case (h, cols) if cols.isEmpty => h }
      if (emptyH.nonEmpty)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"horizonFeatures entries for horizon(s) ${emptyH.toSeq.sorted.mkString(", ")} " +
            "are empty and have no effect")
      horizonFeatures.map { case (h, cols) => h -> cols.distinct }
    } else {
      val patterns = horizonFeatureTemplates.map { t =>
        val parts = t.split(java.util.regex.Pattern.quote("{h}"), -1)
        require(parts.length == 2,
          s"each template must include exactly one '{h}' placeholder: $t")
        ("^" + java.util.regex.Pattern.quote(parts(0)) + "([1-9]\\d*)" +
          java.util.regex.Pattern.quote(parts(1)) + "$").r
      }
      val byHorizon = scala.collection.mutable.LinkedHashMap.empty[Int, Vector[String]]
      for (c <- dynCols) {
        val hits = patterns.flatMap(_.findFirstMatchIn(c).map(_.group(1).toInt)).distinct
        require(hits.length <= 1,
          s"column '$c' matches multiple horizon templates with conflicting horizons")
        hits.headOption.foreach { h =>
          require(trainedH.contains(h),
            s"column '$c' maps to horizon $h, but the trained horizons are " +
              s"${trainedH.toSeq.sorted.mkString(", ")} (max $maxH)")
          byHorizon(h) = byHorizon.getOrElse(h, Vector.empty) :+ c
        }
      }
      require(byHorizon.nonEmpty,
        "no dynamic exogenous columns matched horizonFeatureTemplates")
      byHorizon.toMap
    }
  }

  /** The exog columns visible to the 0-indexed horizon `h0`'s model: the
    * common (unclaimed) exog plus that horizon's routed columns (reference
    * _split_horizon_exog_cols + _get_cols_for_horizon, core.py:489-530).
    */
  private[forecast] def exogForHorizon(h0: Int, dynCols: Seq[String],
                                       resolved: Map[Int, Seq[String]]): Seq[String] =
    if (resolved.isEmpty) dynCols
    else {
      val claimed = resolved.values.flatten.toSet
      dynCols.filterNot(claimed) ++ resolved.getOrElse(h0 + 1, Nil)
    }

  /** Rebuild predict state from history with pre-trained models — the
    * reference's `history_warmup` / `new_df` path (core.py:1234-1305).
    */
  def warmup(panel: PanelFrame, trained: Seq[(String, TrainedModel)],
             directTrained: Seq[(String, Map[Int, TrainedModel])] = Nil): FittedMLForecast = {
    val (src, p, fitted, frames) = prepare(panel, pinLazy = true)
    FittedMLForecast(this, src, p, fitted, trained, () => frames()._1, directTrained)
  }

  /** warmup with persisted frozen transform state (save/load path):
    * `states(i)` holds transform i's [[FittedTargetTransform.state]] frames;
    * empty = that transform refits (it is a pure function of the panel).
    */
  private[forecast] def warmupRestored(panel: PanelFrame,
                                       trained: Seq[(String, TrainedModel)],
                                       directTrained: Seq[(String, Map[Int, TrainedModel])],
                                       states: Seq[Seq[DataFrame]]): FittedMLForecast = {
    val (src, p, fitted, frames) = prepare(panel, states, pinLazy = true)
    FittedMLForecast(this, src, p, fitted, trained, () => frames()._1, directTrained)
  }

  private def prepare(panel: PanelFrame, restoreStates: Seq[Seq[DataFrame]] = Nil,
                      pinLazy: Boolean = false) = {
    // Materialize the source panel ONCE before anything else reads it. The
    // fitted state (transform tails, scaler stats, featurized frame, predict
    // input) is all lazy lineage over this panel; without the checkpoint
    // every downstream action — validation, each transform's stats, model
    // training passes, the predict loop, broadcast tails — re-runs the
    // panel's upstream plan (at scale: re-scans the source). This is the
    // reference's own stance (fit extracts GroupedArray once,
    // core.py:563-571); localCheckpoint keeps blocks on executors and frees
    // them with the lineage.
    val src =
      // warmup/load rebuilds: consumers are sequential (predict follows),
      // so a LAZY pin folds the materialization into the first action
      // instead of a blocking round-trip; fit keeps the eager pin because
      // its consumers (validation, concurrent model fits) race on it
      if (pinLazy) panel.copy(df = MLForecast.pinLazy(panel.df))
      else panel.copy(df = MLForecast.pin(panel.df))
    if (validate) Validation.requireValid(src) // one pass, one action
    // fresh and restored stages alike slice ONE state relation per run of
    // Differences/scaler stages (TransformState); a restored scaler enters
    // with its frozen stats, never recomputed over the panel
    val fitted = TransformState.chain(src, targetTransforms.zipWithIndex.map { case (t, i) =>
      TransformState.fitStage(t, restoreStates.lift(i).getOrElse(Nil))
    })
    val p = MLForecast.workingPanel(src, fitted)
    // built on first use: fit trains on them at once, warmup and load
    // never read them unless asked
    lazy val frames = trainingFrames(p, dynamicExogCols(panel))
    (src, p, fitted, () => frames)
  }

  /** The training features of the working panel `p` and the rows dropNa
    * keeps (the label, every feature and every exog value present). The
    * featurize route rule ([[LocalLoop.featurizes]]) sends an admitted spec
    * through [[LocalLoop.featurize]]'s kernel pass; every other spec, and
    * an admitted one whose pooled table is too large, takes the window
    * Featurizer and a dropNa filter.
    */
  private[forecast] def trainingFrames(p: PanelFrame,
                                       dynCols: Seq[String]): (DataFrame, DataFrame) = {
    val kernel =
      if (LocalLoop.featurizes(this, p, dynCols)) LocalLoop.featurize(p, spec, dynCols) else None
    kernel match {
      case Some(frames) => (frames(false), frames(true))
      case None =>
        val featurized = Featurizer.addFeatures(p, spec)
        (featurized, MLForecast.dropNa(featurized, spec.featureNames ++ dynCols :+ p.targetCol))
    }
  }

  /** Convenience: preprocess only (the reference's `preprocess`). */
  def preprocess(panel: PanelFrame): DataFrame = {
    val fitted = TransformState.chain(panel, targetTransforms.map(TransformState.fitStage(_, Nil)))
    Featurizer.addFeatures(fitted.lastOption.fold(panel)(_.transformed), spec)
  }
}

object MLForecast {
  /** Name-level twin of the reference's `MLForecast.from_cv`
    * (/root/reference/mlforecast/forecast.py:224-236): lift a finished
    * LightGBM-CV walk into a ready-to-predict forecaster. The CV result's
    * `fitted` already IS the full-panel refit at the best iteration
    * (LightGBMCV.scala builds it on return), so this is a pure surface
    * alias — it exists so reference users find the entry point by name.
    */
  def fromCv(result: LightGBMCVResult): FittedMLForecast = result.fitted

  /** The transformed panel is the pipeline's working state (the reference
    * stores the transformed GroupedArray); without a pin every predict/CV
    * action replays the transform chain over the source. Lazy: the first
    * consumer (feature materialization at fit) pays it. `src` itself when
    * the chain is empty.
    */
  private[forecast] def workingPanel(src: PanelFrame,
                                     fitted: Seq[FittedTargetTransform]): PanelFrame =
    fitted.lastOption.fold(src) { f =>
      f.transformed.copy(df = f.transformed.df.localCheckpoint(false))
    }

  /** localCheckpoint unless the frame already IS one (its logical plan is
    * the materialized LogicalRDD) — fit, CV and update all pin their input,
    * and pinning an already-pinned panel would copy every block again.
    */
  private[graft] def pin(df: DataFrame): DataFrame =
    if (df.queryExecution.logical.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]) df
    else df.localCheckpoint()

  /** [[pin]] without the blocking materialization: the checkpoint runs
    * inside the first consuming action. For sequential consumers (load →
    * predict) this trades a driver round-trip for nothing; concurrent
    * consumers should keep the eager [[pin]] (a lazy checkpoint raced by
    * two jobs can compute partitions twice).
    */
  private[graft] def pinLazy(df: DataFrame): DataFrame =
    if (df.queryExecution.logical.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]) df
    else df.localCheckpoint(false)

  /** The history a predict carries (reference keep_last_n inference,
    * core.py:404-425): every row some step's features read. A local-only
    * bounded spec keeps each series' last `bound + 1` rows. A non-local
    * transform windows its parent scope's calendar (the group's; the
    * panel's for global pooling), where a series that ends early reads its
    * partners' rows at dates their own tails would drop. Such a spec also
    * keeps, per parent scope, every row from a cut at least `bound`
    * calendar entries before the earliest series end ([[scopeCutoffs]]):
    * the calendar from the cut on is whole, so the ordinal distances the
    * steps' windows read are unchanged. Unbounded specs keep everything.
    * The driver loop reads this frame; the lockstep kernel applies the same
    * rule to its own input (`LocalLoop.historyCut`).
    */
  private[forecast] def predictHistory(p: PanelFrame, spec: FeatureSpec): DataFrame =
    spec.updateSamplesBound match {
      case None => p.df
      case Some(bound) =>
        val scopes = spec.allTransforms.collect {
          case (_, t) if !t.pooling.isLocal => t.pooling.parentScope(p.idCol)
        }.distinct
        if (scopes.isEmpty) p.keepLastN(bound + 1).df
        else {
          val fromEnd = row_number().over(Window.partitionBy(p.id).orderBy(p.ds.desc))
          val ranked = p.df.withColumn("__rn", fromEnd)
          val (withCuts, keeps) = scopes.zipWithIndex.foldLeft((ranked, Seq.empty[Column])) {
            case ((df, ks), (scope, i)) =>
              val cut = s"__cut$i"
              (df.join(broadcast(scopeCutoffs(ranked, p, scope, bound, s"__sk${i}_", cut)),
                scope.zipWithIndex.map { case (c, j) =>
                  Featurizer.normalizedKey(df, c) <=> col(s"__sk${i}_$j") }
                  .foldLeft(lit(true))(_ && _), "left"),
                ks :+ (col(cut).isNull || p.ds >= col(cut)))
          }
          val keyCols = scopes.indices.flatMap(i =>
            scopes(i).indices.map(j => s"__sk${i}_$j") :+ s"__cut$i")
          withCuts.filter(keeps.foldLeft(col("__rn") <= bound + 1)(_ || _))
            .drop(("__rn" +: keyCols): _*)
        }
    }

  /** Per parent-scope key of `ranked` (the panel with each series'
    * descending row number `__rn`; NaN and null keys are one key, as the
    * pooled calendar has them): a date at least `bound` calendar entries
    * before the scope's earliest series end, null when none is known. It
    * is read off the series' own last `bound + 1` rows, a subset of the
    * calendar: the date `bound` entries back in that subset is at or
    * before the calendar's, and the same date on gap-free series. One
    * aggregation over at most `bound + 1` rows per series.
    */
  private def scopeCutoffs(ranked: DataFrame, p: PanelFrame, scope: Seq[String], bound: Int,
                           keyPrefix: String, cut: String): DataFrame = {
    val keys = scope.indices.map(j => s"$keyPrefix$j")
    val desc = sort_array(filter(col("__ds"), d => d <= col("__end")), asc = false)
    ranked.filter(col("__rn") <= bound + 1)
      .select((scope.zip(keys).map { case (c, k) => Featurizer.normalizedKey(ranked, c).as(k) }
        :+ p.ds.as("__d") :+ col("__rn")): _*)
      .groupBy(keys.map(col): _*)
      .agg(min(when(col("__rn") === 1, col("__d"))).as("__end"), collect_set(col("__d")).as("__ds"))
      .select((keys.map(col) :+ when(size(desc) > bound, element_at(desc, bound + 1)).as(cut)): _*)
  }

  /** na.drop that survives dotted feature names (`...alpha0.5`): explicit
    * backticked null/NaN filter per column, same semantics as
    * DataFrameNaFunctions.drop on double columns.
    */
  private[forecast] def dropNa(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val conds = cols.map { c =>
      val cc = col(s"`$c`")
      df.schema.find(_.name == c).map(_.dataType) match {
        case Some(DoubleType) | Some(FloatType) => cc.isNotNull && !isnan(cc)
        case _                                  => cc.isNotNull
      }
    }
    if (conds.isEmpty) df else df.filter(conds.reduce(_ && _))
  }
}

final case class FittedMLForecast(
    conf: MLForecast,
    rawPanel: PanelFrame,
    transformedPanel: PanelFrame,
    fittedTransforms: Seq[FittedTargetTransform],
    trained: Seq[(String, TrainedModel)],
    features: () => DataFrame,
    directTrained: Seq[(String, Map[Int, TrainedModel])] = Nil,
) {
  /** The training-feature frame of the transformed panel, built on first
    * use ([[MLForecast.trainingFrames]]).
    */
  lazy val featurized: DataFrame = features()

  // fit() populates exactly one of the two model stores; a warmup caller
  // passing both would make predict() dispatch to the DIRECT models while
  // interval/level assembly derives its column names from `trained` —
  // AnalysisExceptions referencing missing prediction columns downstream
  require(trained.isEmpty || directTrained.isEmpty,
    "FittedMLForecast cannot hold both recursive (trained) and direct " +
      "(directTrained) model sets — warm up one mode per instance")
  private def spark: SparkSession = transformedPanel.df.sparkSession
  import transformedPanel.{idCol, timeCol, targetCol}

  private def dynCols: Seq[String] = conf.dynamicExogCols(rawPanel)
  private def allFeatureCols: Seq[String] = conf.featureCols ++ dynCols
  private lazy val routedExog: Map[Int, Seq[String]] =
    conf.resolveHorizonFeatures(dynCols)

  /** h-step prediction for every model (recursive, or direct when the conf
    * trained per-horizon models). Returns one row per (id, future ds) with a
    * prediction column per model, inverse target transforms applied.
    * `ids` restricts prediction to a subset of series (reference
    * core.py:1878-1898); unknown ids raise.
    */
  def predict(h: Int, xDf: Option[DataFrame] = None,
              ids: Option[Seq[Any]] = None,
              callback: Option[PredictCallback] = None): DataFrame = {
    require(h > 0)
    ids match {
      case Some(subset) =>
        require(subset.nonEmpty, "ids subset must be non-empty")
        val wanted = subset.distinct
        val present = transformedPanel.df.select(col(idCol))
          .filter(col(idCol).isin(wanted: _*)).distinct().count()
        require(present == wanted.length,
          s"${wanted.length - present} of the requested ids are not in the panel")
        val restricted = copy(
          rawPanel = rawPanel.copy(df = rawPanel.df.filter(col(idCol).isin(wanted: _*))),
          transformedPanel = transformedPanel.copy(
            df = transformedPanel.df.filter(col(idCol).isin(wanted: _*))))
        restricted.predict(h, xDf, None, callback)
      case None =>
        validateXDf(h, xDf)
        // without dynamic exog no route reads xDf; dropping it keeps its
        // unvalidated keys out of the driver loop's placeholder join
        val exog = if (dynCols.isEmpty) None else xDf
        if (directTrained.nonEmpty) {
          // loud, not a silent no-op: the direct path is one batch predict
          // per horizon with no step loop for a callback to hook into
          require(callback.isEmpty,
            "predict callbacks are not supported in direct mode (no " +
              "recursive step loop to hook); use recursive mode or capture " +
              "features via expandedTarget")
          predictDirect(h, exog)
        } else predictRecursive(h, exog, callback)
    }
  }

  /** predict + conformal intervals in one call (the reference's
    * `prediction_intervals` predict path): a refit=false CV supplies the
    * conformity scores, then `<model>-lo/hi-<level>` columns are added via
    * the chosen method ("conformal_error" or "conformal_distribution").
    */
  def predictWithIntervals(h: Int, levels: Seq[Int], nWindows: Int = 2,
                           method: String = "conformal_error",
                           xDf: Option[DataFrame] = None): DataFrame = {
    require(nWindows >= 2, "at least two windows are needed for conformal intervals")
    val names = if (trained.nonEmpty) trained.map(_._1) else directTrained.map(_._1)
    val cv = crossValidation(nWindows, h, refit = false)
    val scores = Conformal.conformityScores(cv, idCol, timeCol, targetCol, names,
      freq = Some(conf.freq))
    // anchor the prediction frame on each series' last training date: the
    // scores are keyed by CALENDAR step, and a row_number over a SPARSE
    // direct-horizon frame (e.g. horizons = Seq(1, 3)) would join the
    // wrong quantile (or null) for every horizon after a gap
    val anchored = predict(h, xDf)
      .join(broadcast(transformedPanel.lastDates
        .select(col(idCol), col("last_date").as("cutoff"))), Seq(idCol), "left")
    Conformal.addIntervals(anchored, scores, idCol, timeCol, names, levels,
      method, freq = Some(conf.freq)).drop("cutoff")
  }

  /** Transfer-conformal predict (the reference's predict wiring,
    * forecast.py:1553-1857): THIS fitted pipeline is the TARGET domain;
    * `source` is a fitted pipeline on the source domain whose backtest
    * supplies the conformity scores the spec transfers. Spec-specific
    * inputs are derived automatically where possible — recalibrate /
    * error_scaled run a target-panel backtest for calibration scores,
    * scale_aligned reads both raw panels, weighted_conformal uses the
    * target's feature frame. The weighted variants need calibration
    * weights / feature columns ON the score rows, which only the caller
    * can attach — pass `sourceScores` for those.
    */
  def predictWithTransfer(h: Int, levels: Seq[Int],
                          spec: ConformalTransfer.TransferSpec,
                          source: FittedMLForecast,
                          nWindows: Int = 2,
                          sourceScores: Option[DataFrame] = None,
                          xDf: Option[DataFrame] = None): DataFrame = {
    import ConformalTransfer._
    require(nWindows >= 2, "at least two backtest windows are needed")
    val names = if (trained.nonEmpty) trained.map(_._1) else directTrained.map(_._1)
    val sp = source.rawPanel
    def derivedSourceScores: DataFrame =
      Conformal.conformityScores(
        source.crossValidation(nWindows, h, refit = false),
        sp.idCol, sp.timeCol, sp.targetCol, names, freq = Some(source.conf.freq))
    val srcScores = spec match {
      // recalibrate never reads source scores — don't run a source backtest
      case Recalibrate =>
        sourceScores.getOrElse(spark.emptyDataFrame)
      case ScaleAlignedWeighted(_, wc) =>
        val s = sourceScores.getOrElse(throw new IllegalArgumentException(
          s"${spec.name} needs sourceScores with a '$wc' weight column attached"))
        require(s.columns.contains(wc), s"sourceScores is missing weight column '$wc'")
        s
      case WeightedConformal(featureCols, _) =>
        val s = sourceScores.getOrElse(throw new IllegalArgumentException(
          s"${spec.name} needs sourceScores with the feature columns attached"))
        val absent = featureCols.filterNot(s.columns.contains)
        require(absent.isEmpty, s"sourceScores is missing feature columns: ${absent.mkString(", ")}")
        s
      case _ => sourceScores.getOrElse(derivedSourceScores)
    }
    val targetScores = spec match {
      case Recalibrate =>
        Some(ConformalTransfer.signedScores(
          crossValidation(nWindows, h, refit = false), idCol, timeCol, targetCol,
          names, freq = Some(conf.freq)))
      case ErrorScaled =>
        Some(Conformal.conformityScores(
          crossValidation(nWindows, h, refit = false), idCol, timeCol, targetCol,
          names, freq = Some(conf.freq)))
      case _ => None
    }
    val targetFeatures = spec match {
      case WeightedConformal(featureCols, _) =>
        Some(featurized.select(featureCols.map(c => col(s"`$c`")): _*))
      case _ => None
    }
    // anchored like predictWithIntervals: calendar-step alignment for
    // sparse direct-horizon frames (the scores are cutoff-keyed)
    val anchored = predict(h, xDf)
      .join(broadcast(transformedPanel.lastDates
        .select(col(idCol), col("last_date").as("cutoff"))), Seq(idCol), "left")
    ConformalTransfer.transfer(spec, TransferInputs(
      preds = anchored,
      sourceScores = srcScores,
      idCol = idCol, timeCol = timeCol,
      modelNames = names, levels = levels,
      targetScores = targetScores,
      sourcePanel = Some(sp),
      targetPanel = Some(rawPanel),
      targetFeatures = targetFeatures,
      freq = Some(conf.freq))).drop("cutoff")
  }

  /** Dynamic exog demand a complete future grid with one row per key:
    * missing (id, ds) rows would silently become null features (reference
    * get_missing_future, forecast.py:1445-1457; core.py:1932-1962), and a
    * duplicate key would fan the driver loop's placeholder into two scored
    * rows while the fused kernel keeps one.
    */
  private def validateXDf(h: Int, xDf: Option[DataFrame]): Unit = {
    if (dynCols.isEmpty) return
    require(xDf.isDefined,
      s"fit saw dynamic exog [${dynCols.mkString(", ")}]; predict needs xDf with their future values")
    val absent = (Seq(idCol, timeCol) ++ dynCols).filterNot(xDf.get.columns.contains)
    require(absent.isEmpty, s"xDf is missing columns: ${absent.mkString(", ")}")
    // one action: each future key's xDf row count, null = missing
    val faults = transformedPanel.futureGrid(h)
      .join(xDf.get.groupBy(idCol, timeCol).count(), Seq(idCol, timeCol), "left")
      .filter(col("count").isNull || col("count") > 1)
      .take(5)
    val (duplicate, missing) = faults.partition(!_.isNullAt(2))
    def keys(rows: Array[Row]) = rows.map(r => s"[${r.get(0)},${r.get(1)}]").mkString("; ")
    require(duplicate.isEmpty, s"xDf has duplicate (id, ds) rows, e.g. ${keys(duplicate)}")
    require(missing.isEmpty, s"xDf is missing future rows, e.g. ${keys(missing)}")
  }

  private def predictRecursive(h: Int, xDf: Option[DataFrame],
                               callback: Option[PredictCallback] = None): DataFrame = {
    // Fused fast path (LocalLoop's route rule): when every transform is
    // per-series, all h steps × models run inside one mapPartitions pass —
    // one job instead of h orchestrated steps; admitted pooled specs run
    // one kernel job per step. Frame-observing callbacks (SaveFeatures)
    // route to the driver loop below.
    if (LocalLoop.fusesPredict(conf, transformedPanel, trained, dynCols, callback)) {
      val out = LocalLoop.run(transformedPanel, conf, trained, dynCols, h, xDf,
        after = callback.flatMap(_.afterScalar))
      return inverseTransforms(out, trained.map(_._1))
    }
    val baseState = MLForecast.predictHistory(transformedPanel, conf.spec)
    // statics is a full-panel distinct and gets embedded in every appended
    // step frame — materialize it once (one small row per series); with no
    // static features it is just the id set and every use is a no-op join,
    // so skip it entirely.
    val statics =
      if (conf.staticFeatures.isEmpty) None
      else Some(transformedPanel.copy(staticCols = conf.staticFeatures)
        .statics.localCheckpoint())
    val stateCols = Seq(idCol, timeCol, targetCol) ++ conf.staticFeatures
    // pinned as a checkpoint, not a cache: the first step's plan missed a
    // cache of a pooled history (its cutoff self-join) and re-ran the
    // history's shuffles several times over
    val base = baseState.select(stateCols.map(col): _*).localCheckpoint()
    val lastDates = transformedPanel.lastDates.cache()
    // a throwing model or callback must not leak the cache
    val out =
      try recursiveLoop(trained, h, base, statics, lastDates, xDf, callback)
      finally lastDates.unpersist()
    inverseTransforms(out, trained.map(_._1))
  }

  /** Direct multi-step predict (reference _predict_multi, core.py). Lag /
    * window features are frozen at the one-step-ahead frame; date features
    * and dynamic exog advance to each horizon's target date; model_h scores
    * the h-th frame. One featurization pass total, no sequential loop.
    */
  private def predictDirect(h: Int, xDf: Option[DataFrame]): DataFrame = {
    conf.maxHorizon.foreach(m =>
      require(h <= m, s"h=$h exceeds maxHorizon=$m"))
    val hs = conf.directHorizons.filter(_ < h)
    require(hs.nonEmpty,
      s"no trained horizon < $h; trained (1-indexed): ${conf.directHorizons.map(_ + 1).mkString(", ")}")

    val baseState = MLForecast.predictHistory(transformedPanel, conf.spec)
    val stateCols = Seq(idCol, timeCol, targetCol) ++ conf.staticFeatures
    val base = baseState.select(stateCols.map(col): _*)
    val lastDates = transformedPanel.lastDates
    // __origin carries last_date so each horizon's timestamp is a SINGLE
    // advance hop: composing advance(advance(d, 1), hIdx) clamps month-end
    // dates for MonthFreq and would diverge from futureGrid/xDf.
    val placeholder0 = lastDates
      .select(col(idCol), conf.freq.advance(col("last_date"), lit(1)).as(timeCol),
        col("last_date").as("__origin"))
    // with no static features the statics frame is just the id set and the
    // join a no-op — skip the full-panel distinct it would cost (same guard
    // as predictRecursive)
    val placeholder = (if (conf.staticFeatures.isEmpty) placeholder0
      else placeholder0.join(
        transformedPanel.copy(staticCols = conf.staticFeatures).statics,
        Seq(idCol), "left"))
      .withColumn(targetCol, lit(null).cast(DoubleType))
      .withColumn("__is_step", lit(true))
    val unioned = base.unionByName(placeholder, allowMissingColumns = true)
    val feats = Featurizer.addFeatures(transformedPanel.copy(df = unioned), conf.spec)
    // One featurization pass shared by every horizon & model; localCheckpoint
    // (not cache) so the per-horizon plans stay flat and no cached blocks
    // outlive the call.
    val step1 = feats.filter(col("__is_step")).drop("__is_step", targetCol)
      .localCheckpoint()

    val names = directTrained.map(_._1)
    val perHorizon = hs.map { hIdx =>
      var f = step1.withColumn(timeCol,
        conf.freq.advance(col("__origin"), lit(hIdx + 1))).drop("__origin")
      if (conf.spec.dateFeatures.nonEmpty)
        f = DateFeatures.add(f.drop(conf.spec.dateFeatures: _*),
          col(timeCol), conf.spec.dateFeatures)
      if (conf.spec.customDateFeatures.nonEmpty)
        f = f.drop(conf.spec.customDateFeatures.map(_._1): _*)
          .withColumns(conf.spec.customDateFeatures.map { case (n, fn) =>
            n -> fn(col(timeCol)) }.toMap)
      if (dynCols.nonEmpty)
        f = f.drop(dynCols: _*)
          .join(xDf.get.select((Seq(idCol, timeCol) ++ dynCols).map(col): _*),
            Seq(idCol, timeCol), "left")
      var scored = f
      val hCols = conf.featureCols ++ conf.exogForHorizon(hIdx, dynCols, routedExog)
      for ((name, byH) <- directTrained)
        scored = byH(hIdx).predict(scored, hCols, name)
      scored.select((Seq(col(idCol), col(timeCol)) ++
        names.map(n => col(s"`$n`").cast(DoubleType).as(n))): _*)
    }
    inverseTransforms(perHorizon.reduce(_ unionByName _), names)
  }

  private def inverseTransforms(preds: DataFrame, valueCols: Seq[String]): DataFrame = {
    TransformState.force(fittedTransforms)
    val stepIdx = row_number().over(
      Window.partitionBy(col(idCol)).orderBy(col(timeCol))).cast("long") - 1
    fittedTransforms.reverse.foldLeft(preds) { (df, t) =>
      t.inverse(df, idCol, stepIdx, valueCols)
    }
  }

  /** The driver loop, one loop for ALL models. Each step, per model: trim
    * the carried state to the spec's bound (local-only specs; a pooled spec
    * keeps [[MLForecast.predictHistory]]'s rows), featurize (state ∪ placeholder)
    * with the whole spec, score. The step then checkpoints ONE tagged union
    * holding every model's appended state rows and scored row — a single
    * Spark job per step whose independent per-model stages run
    * concurrently, and every carried frame is a filter over the latest
    * checkpoint, so per-step plan size and cost are FLAT in horizon and,
    * for bounded specs, in history length. No aggregate is carried between
    * steps: expanding and EWM features are windowed over the full carried
    * history each step.
    */
  private def recursiveLoop(models: Seq[(String, TrainedModel)], h: Int,
                            base: DataFrame, statics: Option[DataFrame],
                            lastDates: DataFrame, xDf: Option[DataFrame],
                            callback: Option[PredictCallback] = None): DataFrame = {
    // the carried target is DOUBLE for the whole loop: casting appended
    // predictions back to an integer-typed panel target would truncate
    // the recursive feedback (step 2+ features computed from 10, not
    // 10.7), silently diverging from the fused path and the reference
    val baseD = base.withColumn(targetCol, col(s"`$targetCol`").cast(DoubleType))
    val stateCols = baseD.columns.toSeq
    var states: Map[String, DataFrame] = models.map(_._1 -> baseD).toMap
    var stepPreds: Vector[DataFrame] = Vector.empty // (id, ds, <model cols...>)
    val localOnly = conf.spec.allTransforms.forall(_._2.pooling.isLocal)

    // All h placeholders materialized once (statics + exog joined a single
    // time); each step's placeholder is then a zero-shuffle filter.
    val placeholders = {
      var ph = lastDates
        .select(col(idCol), explode(sequence(lit(1), lit(h))).as("__step_no"),
          col("last_date"))
        .withColumn(timeCol, conf.freq.advance(col("last_date"), col("__step_no")))
        .drop("last_date")
      statics.foreach { st => ph = ph.join(st, Seq(idCol), "left") }
      ph = ph
        .withColumn(targetCol, lit(null).cast(DoubleType))
        .withColumn("__is_step", lit(true))
      // select only (id, ds, exog): extra user columns on xDf (e.g. the
      // target, when the frame is sliced from a test split) would collide
      // with state columns in the union
      xDf.foreach { x =>
        ph = ph.join(x.select((Seq(idCol, timeCol) ++ dynCols).map(c => col(s"`$c`")): _*),
          Seq(idCol, timeCol), "left")
      }
      ph.localCheckpoint()
    }

    for (step <- 1 to h) {
      val placeholder = placeholders.filter(col("__step_no") === step).drop("__step_no")

      val perModel = models.map { case (name, model) =>
        // a local-only bounded spec keeps the carried state at bound+1 rows
        // per series forever; a pooled one keeps predictHistory's rows plus
        // every step (a per-series tail would cut its partners' rows)
        val stateNow = conf.spec.updateSamplesBound match {
          case Some(b) if localOnly =>
            val wTrim = Window.partitionBy(col(idCol)).orderBy(col(timeCol).desc)
            states(name).withColumn("__rt", row_number().over(wTrim))
              .filter(col("__rt") <= b + 1).drop("__rt")
          case _ => states(name)
        }
        val unioned = stateNow.unionByName(placeholder, allowMissingColumns = true)
        val feats = Featurizer.addFeatures(transformedPanel.copy(df = unioned), conf.spec)
        var stepFeats = feats.filter(col("__is_step"))
        callback.foreach { cb => stepFeats = cb.beforePredict(step, name, stepFeats) }
        var scoredRaw = model.predict(stepFeats, allFeatureCols, "__yhat")
          .select(col(idCol), col(timeCol), col("__yhat").cast(DoubleType).as("__yhat"))
        // after-predict hook (reference core.py:1661-1672): the transformed
        // __yhat is what feeds back as the next step's target AND what the
        // output reports — both read this frame downstream
        callback.foreach { cb =>
          scoredRaw = cb.afterPredict(step, name, scoredRaw)
            .select(col(idCol), col(timeCol),
              col("__yhat").cast(DoubleType).as("__yhat"))
        }
        // the scored row re-enters the state with the prediction as target
        var scoredAsState = scoredRaw
        statics.foreach { st => scoredAsState = scoredAsState.join(st, Seq(idCol), "left") }
        scoredAsState = scoredAsState.withColumn(targetCol, col("__yhat"))
        val oldRows = stateNow
          .withColumn("__yhat", lit(null).cast(DoubleType))
          .withColumn("__is_new", lit(false))
        oldRows.unionByName(scoredAsState.withColumn("__is_new", lit(true)),
            allowMissingColumns = true)
          .withColumn("__model", lit(name))
      }
      // ONE action per step: materialize every model's appended state +
      // prediction together (eager checkpoint truncates lineage). The
      // repartition pins the checkpoint's partition count (the raw union
      // would DOUBLE the carried partitions every step) and hash-partitions
      // by id, which the preserved LogicalRDD partitioning lets the next
      // step's id-keyed windows and joins reuse without an exchange.
      val stepFrame = org.apache.spark.sql.graft.bridge.checkpointWithoutStats(
        perModel.reduce(_ unionByName _).repartition(col(idCol)))

      val predsByModel = models.map { case (name, _) =>
        stepFrame.filter(col("__model") === name && col("__is_new"))
          .select(col(idCol), col(timeCol), col("__yhat").as(name))
      }
      stepPreds :+= predsByModel.reduce(_.join(_, Seq(idCol, timeCol)))
      states = models.map { case (name, _) =>
        name -> stepFrame.filter(col("__model") === name)
          .select(stateCols.map(c => col(s"`$c`").cast(baseD.schema(c).dataType)): _*)
      }.toMap
    }
    stepPreds.reduce(_ unionByName _)
  }

  /** In-sample predictions — the reference's `fit(fitted=True)` →
    * `forecast_fitted_values` (forecast.py:805-975, 1318-1423). One row per
    * training-frame row: (id, ds, y, h, one column per model), with the
    * in-sample inverse of every target transform applied (a direct per-row
    * computation — at an observed timestamp the subtracted history is known,
    * no sequential reconstruction).
    *
    * Recursive mode requires `h == 1` (the reference computes multi-step
    * in-sample rollouts on demand with a warning that they are slow; they
    * are not implemented here). Direct mode returns the trained horizon `h`
    * with `ds` the PREDICTED observation's timestamp (the reference's
    * docstring contract; its pandas code keeps origin timestamps, but the
    * target value it reports is the observation h-1 steps later — we keep
    * (ds, y) consistent instead).
    *
    * `levels` adds `<model>-lo/hi-<level>` interval columns from per-series
    * residual quantiles (utilsforecast `add_insample_levels` semantics).
    */
  def fittedValues(h: Int = 1, levels: Seq[Int] = Nil): DataFrame = {
    require(h >= 1, "h must be a positive integer")
    val out =
      if (directTrained.nonEmpty) fittedValuesDirect(h)
      else if (h == 1) fittedValuesRecursive()
      else fittedValuesRecursiveMulti(h)
    if (levels.isEmpty) out else addInsampleLevels(out, levels)
  }

  /** Recursive multi-step in-sample rollout (reference
    * `forecast_fitted_values(h=...)` → on-demand rollout,
    * forecast.py:978-1120, 1318-1423): for each valid origin, predict `h`
    * steps recursively and report the final step. Same restriction as the
    * reference — local lag transforms only — plus fused-loop requirements
    * (compilable transforms, executor-local scorers) and no target
    * transforms (the reference refits deep-copied transforms per series
    * per origin; a distributed equivalent would re-fit scaler state per
    * origin — use h=1, or Differences-free pipelines, for rollouts).
    */
  private def fittedValuesRecursiveMulti(h: Int): DataFrame = {
    require(fittedTransforms.isEmpty,
      "recursive multi-step fitted values are not supported with target transforms")
    require(LocalLoop.rolloutSupported(conf, transformedPanel, trained, dynCols),
      "recursive multi-step fitted values need local, fusible transforms and " +
        "models with executor-local scorers (same restriction as the reference's " +
        "on-demand rollout, which rejects global/grouped lag transforms)")
    LocalLoop.runFittedRollout(transformedPanel, conf, trained, dynCols, h)
      .withColumn("h", lit(h.toLong))
  }

  private def fittedValuesRecursive(): DataFrame = {
    val names = trained.map(_._1)
    val train = MLForecast.dropNa(featurized,
      conf.spec.featureNames ++ dynCols :+ targetCol)
    var scored = train
    for ((name, m) <- trained) scored = m.predict(scored, allFeatureCols, name)
    val base = scored.select(col(idCol) +: col(timeCol) +:
      col(targetCol).cast(DoubleType).as(targetCol) +:
      names.map(n => col(s"`$n`").cast(DoubleType).as(n)): _*)
    val inv = fittedTransforms.reverse.foldLeft(base) { (df, t) =>
      t.inverseFitted(df, idCol, timeCol, targetCol +: names)
    }
    inv.withColumn("h", lit(1L))
  }

  private def fittedValuesDirect(h: Int): DataFrame = {
    val hIdx = h - 1
    val names = directTrained.map(_._1)
    require(directTrained.head._2.contains(hIdx),
      s"no fitted values for h=$h; trained horizons: ${conf.directHorizons.map(_ + 1).mkString(", ")}")
    val exog = conf.exogLookup(rawPanel, dynCols)
    val allowed = conf.exogForHorizon(hIdx, dynCols, routedExog)
    val trainH = conf.directTrainFrame(featurized, transformedPanel, hIdx, dynCols, exog, allowed)
    var scored = trainH
    val hCols = conf.featureCols ++ allowed
    for ((name, byH) <- directTrained) scored = byH(hIdx).predict(scored, hCols, name)
    // ds becomes the target's timestamp: __tgt = lead(y, hIdx), i.e. the
    // observation at origin + hIdx — which is also where the differencing
    // family's subtracted history lives for the in-sample inverse.
    val base = scored.select(col(idCol) +:
      conf.freq.advance(col(timeCol), lit(hIdx)).as(timeCol) +:
      col("__tgt").cast(DoubleType).as(targetCol) +:
      names.map(n => col(s"`$n`").cast(DoubleType).as(n)): _*)
    val inv = fittedTransforms.reverse.foldLeft(base) { (df, t) =>
      t.inverseFitted(df, idCol, timeCol, targetCol +: names)
    }
    inv.withColumn("h", lit(h.toLong))
  }

  /** Per-series in-sample interval columns: for each model and level,
    * `<model>-lo/hi-<level>` = prediction + the series' empirical residual
    * quantile at (100-level)/200 and 1-(100-level)/200.
    */
  private def addInsampleLevels(df: DataFrame, levels: Seq[Int]): DataFrame = {
    require(levels.forall(l => l > 0 && l < 100), s"levels must be in (0, 100): $levels")
    val names = if (trained.nonEmpty) trained.map(_._1) else directTrained.map(_._1)
    val quantiles = for {
      n <- names; l <- levels
      (side, q) <- Seq(("lo", (100.0 - l) / 200.0), ("hi", 1.0 - (100.0 - l) / 200.0))
    } yield (s"__q_${n}_${side}_$l",
      percentile(col(targetCol) - col(s"`$n`"), lit(q)).as(s"__q_${n}_${side}_$l"))
    val qs = df.groupBy(col(idCol)).agg(quantiles.head._2, quantiles.tail.map(_._2): _*)
    val bounds = for { n <- names; l <- levels; side <- Seq("lo", "hi") }
      yield s"$n-$side-$l" -> (col(s"`$n`") + col(s"__q_${n}_${side}_$l"))
    df.join(broadcast(qs), Seq(idCol), "left")
      .withColumns(bounds.toMap)
      .drop(quantiles.map(_._1): _*)
  }

  /** Expected (id, future ds) grid for an h-step forecast (reference
    * `make_future_dataframe`, forecast.py:1425-1443).
    */
  def makeFutureDataFrame(h: Int): DataFrame = transformedPanel.futureGrid(h)

  /** Rows of the expected future grid absent from `xDf` (reference
    * `get_missing_future`, forecast.py:1445-1457).
    */
  def getMissingFuture(h: Int, xDf: DataFrame): DataFrame =
    makeFutureDataFrame(h)
      .join(xDf.select(col(idCol), col(timeCol)), Seq(idCol, timeCol), "left_anti")

  /** Batch-incremental append (reference `update`/`append_observations`,
    * core.py:2019-2113; pooled.py:1012-1135): appends new observations to
    * the stored panel, refreshes last_dates (implicitly — state is the
    * appended DataFrame), re-applies target transforms with frozen fitted
    * parameters (difference tails advance to the new end), and keeps the
    * trained models untouched. New series are allowed only without target
    * transforms (their statics are picked up from the appended rows); when
    * the spec has pooled transforms, every update timestamp must include
    * all series (cross-series bucket state cannot advance partially).
    */
  def update(newRows: DataFrame, validateNewData: Boolean = false): FittedMLForecast = {
    val missing = rawPanel.df.columns.filterNot(newRows.columns.contains)
    require(missing.isEmpty,
      s"update frame is missing columns: ${missing.mkString(", ")}")
    // Both inputs are read by every validation below AND by the appended
    // state; pin them once so each check doesn't re-run their upstream
    // lineage.
    val basePanel = rawPanel.copy(df = MLForecast.pin(rawPanel.df))
    val newC = MLForecast.pin(newRows.select(basePanel.df.columns.map(col): _*))

    // One driver action for every enabled check: each check's violations
    // frame is tiny, so tagging and unioning them costs nothing while a
    // take() per check was a blocking round-trip per check (r10 verdict:
    // update stacked 2-3 validation actions on sub-second logical work).
    val checks = Seq.newBuilder[(String, DataFrame, String)]
    if (conf.spec.allTransforms.exists { case (_, t) => !t.pooling.isLocal })
      checks += (("completeness",
        Validation.updateCompletenessViolations(basePanel, newC),
        "pooled lag transforms require updates to include all series for each timestamp"))
    if (validateNewData)
      checks += (("start", Validation.updateStartViolations(basePanel, newC),
        "update must start at last_date + freq per series"))
    if (conf.targetTransforms.nonEmpty)
      checks += (("new_series", newC.select(col(idCol)).distinct()
        .join(basePanel.df.select(col(idCol)).distinct(), Seq(idCol), "left_anti"),
        "cannot update target transforms with new series"))
    val enabled = checks.result()
    if (enabled.nonEmpty) {
      // 3 examples per check, the historical message budget. A row_number
      // window keyed by the check keeps them, not a limit: Spark names a
      // codegen'd limit's counter from a JVM-wide sequence, so each update
      // would compile classes that never hit the codegen cache. The
      // window's partial group limit keeps 3 rows per check before its
      // shuffle, so a multi-million-row invalid batch still raises the
      // crisp error, and the aggregate reuses that shuffle.
      val tagged = enabled.map { case (tag, df, _) =>
        df.select(lit(tag).as("__check"),
          concat_ws(", ",
            df.columns.map(c => col(s"`$c`").cast("string")): _*).as("__row"))
      }.reduce(_ unionByName _)
      val byCheck = Window.partitionBy(col("__check")).orderBy(col("__row"))
      val bad = tagged.withColumn("__n", row_number().over(byCheck))
        .filter(col("__n") <= 3)
        .groupBy(col("__check"))
        .agg(collect_list(col("__row")).as("__rows"))
        .collect()
        .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      enabled.foreach { case (tag, _, msg) =>
        bad.get(tag).foreach(rows =>
          throw new IllegalArgumentException(
            s"$msg; e.g. ${rows.mkString("; ")}"))
      }
    }

    val appended = basePanel.copy(df = basePanel.df.unionByName(newC))
    // one fused state relation for the updated chain, like prepare()
    val newFitted = TransformState.chain(appended, fittedTransforms.map(TransformState.updateStage))
    // mirror prepare(): without a pin every later predict/CV replays the
    // union + transform updates, compounding across chained update() calls
    val cur = MLForecast.workingPanel(appended, newFitted)
    FittedMLForecast(conf, appended, cur, newFitted, trained,
      () => conf.trainingFrames(cur, dynCols)._1, directTrained)
  }

  /** Sliding-window cross validation (reference forecast.py:1859-2077).
    * Returns (id, ds, cutoff, y, <model preds...>).
    *
    * `refit`=false trains once on the first window and reuses the models
    * with state rebuilt per window; `refitEvery`=Some(k) retrains on
    * windows 0, k, 2k, … (reference `refit: Union[bool, int]`, should_fit
    * at forecast.py:1940). `inputSize` caps the training history per series
    * in each window (rolling rather than expanding windows).
    */
  def crossValidation(nWindows: Int, h: Int, stepSize: Option[Int] = None,
                      refit: Boolean = true, refitEvery: Option[Int] = None,
                      inputSize: Option[Int] = None,
                      callback: Option[PredictCallback] = None): DataFrame =
    MLForecastCV.run(conf, rawPanel, nWindows, h, stepSize.getOrElse(h),
      refit, refitEvery, inputSize, callback)

  /** CV with conformal interval columns — the reference's cross_validation
    * with `prediction_intervals` + `level` (forecast.py:1878-1879,2036-2040).
    * Refit windows calibrate at fit time: conformity scores from a nested
    * refit=false CV on the window's own train slice (_conformity_scores,
    * forecast.py:682-757), intervals added via `method`. Frozen (non-refit)
    * windows take the reference's default 'recalibrate' transfer for
    * predict(new_df, level) (forecast.py:1583-1660): SIGNED residuals from
    * an inference-only frozen backtest with step_size=1
    * (forecast.py:81-160), pooled per step across series
    * (conformal_prediction.py:343-436). `intervalH` defaults to `h` so the
    * per-step score join is exact (graft's predictWithIntervals convention).
    */
  def crossValidationWithIntervals(nWindows: Int, h: Int, levels: Seq[Int],
      stepSize: Option[Int] = None, refit: Boolean = true,
      refitEvery: Option[Int] = None, inputSize: Option[Int] = None,
      intervalWindows: Int = 2, intervalH: Option[Int] = None,
      method: String = "conformal_error"): DataFrame =
    MLForecastCV.runWithIntervals(conf, rawPanel, nWindows, h,
      stepSize.getOrElse(h), refit, refitEvery, inputSize, levels,
      intervalWindows, intervalH.getOrElse(h), method)

  /** Per-window in-sample fitted values — the reference's cross_validation
    * `fitted=True` + cross_validation_fitted_values()
    * (forecast.py:1967-2017,2079-2086): each window emits the fitted values
    * of its train slice with a `fold` column; frozen windows reuse the
    * latest refit window's models with feature state rebuilt on their own
    * history, exactly the should_fit schedule.
    */
  def crossValidationFittedValues(nWindows: Int, h: Int,
      stepSize: Option[Int] = None, refit: Boolean = true,
      refitEvery: Option[Int] = None, inputSize: Option[Int] = None,
      fittedH: Int = 1, levels: Seq[Int] = Nil): DataFrame =
    MLForecastCV.runFitted(conf, rawPanel, nWindows, h, stepSize.getOrElse(h),
      refit, refitEvery, inputSize, fittedH, levels)
}

private object MLForecastCV {
  /** Refit schedule (reference should_fit, forecast.py:1940): window i uses
    * the models trained at the latest refit window <= i. ONE definition —
    * the fused kernel CV (LocalLoop.runCV) must replay the exact schedule
    * the driver loops use or the two paths silently desynchronize.
    */
  private[forecast] def fitWindow(i: Int, refit: Boolean,
                                  refitEvery: Option[Int]): Int =
    if (!refit) 0 else refitEvery.map(k => i - i % k).getOrElse(i)

  /** Window i's cutoff distance from each series' last date. */
  private def windowOffsets(nWindows: Int, h: Int, stepSize: Int): IndexedSeq[Int] =
    (0 until nWindows).map(i => h + (nWindows - 1 - i) * stepSize)

  /** The CV argument checks, shared by run and runWithIntervals (whose
    * shared backtest bypasses run): loud instead of offsets.head /
    * empty.reduce crashes, or a silently empty frame for h = 0.
    */
  private def requireArgs(nWindows: Int, h: Int, stepSize: Int,
                          refitEvery: Option[Int]): Unit = {
    require(nWindows >= 1, s"crossValidation needs nWindows >= 1, got $nWindows")
    require(h >= 1, s"crossValidation needs h >= 1, got $h")
    require(stepSize >= 1, s"crossValidation needs stepSize >= 1, got $stepSize")
    require(refitEvery.forall(_ >= 1),
      s"refitEvery must be >= 1, got ${refitEvery.get}")
  }

  def run(conf: MLForecast, rawPanel: PanelFrame, nWindows: Int, h: Int,
          stepSize: Int, refit: Boolean, refitEvery: Option[Int] = None,
          inputSize: Option[Int] = None,
          callback: Option[PredictCallback] = None): DataFrame = {
    requireArgs(nWindows, h, stepSize, refitEvery)
    // Every window reads the panel 2-3 times (train slice, actuals, exog);
    // materialize it once up front instead of re-running its upstream
    // lineage per reference. localCheckpoint: lineage cut, blocks released
    // with the reference, partitioning preserved.
    val panel = rawPanel.copy(df = MLForecast.pin(rawPanel.df))
    val lastDates = panel.lastDates
    val dynCols = conf.dynamicExogCols(panel)
    val offsets = windowOffsets(nWindows, h, stepSize)
    def trainPanelFor(i: Int): PanelFrame =
      trainSlice(panel, windowCutoffs(panel, lastDates, offsets(i), h), inputSize)
    def fitWindowOf(i: Int): Int = fitWindow(i, refit, refitEvery)
    // window 0's fit: the kernel's trained set when no actionless one
    // exists, and the driver path's window-0 fit either way (fit once)
    lazy val fit0 = conf.fit(trainPanelFor(0))

    // Fused path (LocalLoop's route rule): every (window × step × model)
    // in one mapPartitions pass — nWindows×h jobs plus per-window actuals
    // joins become a single job. Under refit, actionlessTrained covers
    // every set the rule admits, so no real fit is offered (Nil fails the
    // rule) and fit0 runs in Phase 1 alongside the other refit windows.
    LocalLoop.cvRoute(conf, panel, dynCols, refit, inputSize, callback)(
        actionlessTrained(conf, panel, dynCols, refit)
          .getOrElse(if (refit) Nil else fit0.trained)) match {
      case Some((t, chain)) =>
        LocalLoop.runCV(panel, conf, t, dynCols, h, offsets, inputSize, refit,
          refitEvery, chain)
      case None =>
        // Phase 1: train every refit window — independent job chains, a
        // bounded few in flight (Par: enough overlap to hide scheduling
        // latency; each fit is itself a fully parallel job chain).
        val refitIdx = (0 until nWindows).map(fitWindowOf).distinct
        val fits: Map[Int, FittedMLForecast] =
          refitIdx.zip(Par.run(refitIdx.map(i => () =>
            if (i == 0) fit0 else conf.fit(trainPanelFor(i))))).toMap
        // Phase 2: each window's state rebuild + predict + actuals join
        backtest(conf, panel, lastDates, offsets, h, callback) { (i, cutoffs) =>
          val fw = fitWindowOf(i)
          if (fw == i) fits(i)
          else // frozen models, state rebuilt on this window's history
            conf.warmup(trainSlice(panel, cutoffs, inputSize),
              fits(fw).trained, fits(fw).directTrained)
        }
    }
  }

  /** Placeholder trained instance for a model the fused CV kernel refits
    * in-task: runCV reads only its name (its scorer is None, so the route
    * rule's refit plan sends it to the model's localFitter), and predict
    * must never be reached.
    */
  private object KernelRefitStub extends TrainedModel {
    def predict(df: DataFrame, featureCols: Seq[String], out: String): DataFrame =
      throw new IllegalStateException(
        "kernel-refit stub cannot predict — it exists only to carry the " +
          "model name into LocalLoop.runCV's refit schedule")
  }

  /** The CV trained set WITHOUT a fit pass, when one exists: `dataFree`
    * models fit frame-blind by contract (the panel is handed over lazily,
    * no action runs), and under refit every other model with a localFitter
    * is refit in-kernel per window, so a [[KernelRefitStub]] carries it.
    * None when some model needs a real fit, or a data-free fit rejects the
    * feature set (the window fit then raises that loudly).
    */
  private def actionlessTrained(conf: MLForecast, panel: PanelFrame, dynCols: Seq[String],
                                refit: Boolean): Option[Seq[(String, TrainedModel)]] = {
    val allFeat = conf.featureCols ++ dynCols
    if (conf.models.isEmpty || !conf.models.forall(m =>
        m.dataFree || (refit && m.localFitter(allFeat).isDefined))) None
    else
      try Some(conf.models.map(m => m.name -> (
        if (m.dataFree) m.fit(panel.df, allFeat, panel.targetCol, panel.weightCol)
        else KernelRefitStub)))
      catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Does `advance(t, a + b) == advance(advance(t, a), b)` hold for EVERY
    * input? True for grid-shift freqs (ints, days, weeks, sub-day,
    * month-ends — last_day re-snaps every hop). Month-STARTS and business
    * days clamp off-grid inputs (Jan 31 + 1 month = Feb 28 sticks), so a
    * panel whose last dates are off-grid would see composed cutoffs drift
    * — those freqs keep the per-window two-hop arithmetic.
    */
  private def advanceComposes(f: graft.core.Freq): Boolean = f match {
    case _: graft.core.Freq.MonthFreq       => false
    case _: graft.core.Freq.BusinessDayFreq => false
    case _                                  => true
  }

  // Both bounds are single hops from last_date: composed calendar
  // arithmetic (advance(advance(d, -offset), h)) clamps month-end dates
  // and would silently drop the last horizon's actuals for month freqs.
  private def windowCutoffs(panel: PanelFrame, lastDates: DataFrame,
                            offset: Int, h: Int): DataFrame =
    lastDates.select(col(panel.idCol),
      panel.freq.advance(col("last_date"), lit(-offset)).as("__cutoff"),
      panel.freq.advance(col("last_date"), lit(h - offset)).as("__bound"))

  private def trainSlice(panel: PanelFrame, cutoffs: DataFrame,
                         inputSize: Option[Int]): PanelFrame = {
    val trainDf = panel.df.join(broadcast(cutoffs), Seq(panel.idCol))
      .filter(col(panel.timeCol) <= col("__cutoff")).drop("__cutoff", "__bound")
    val tp = panel.copy(df = trainDf)
    inputSize.fold(tp)(tp.keepLastN)
  }

  /** The per-window body of every driver backtest: for each cutoff offset,
    * take window i's fitted pipeline (`fittedAt(i, cutoffs)`), predict `h`
    * steps with future exog from the held-out rows (reference
    * cross_validation passes them as X_df, forecast.py:2030-2044), and
    * inner-join the actuals in (cutoff, cutoff + h]. Windows are
    * independent and the lockstep predict loop materializes eagerly, so a
    * bounded few build concurrently (Par — the r12 unbounded fan-out of
    * these loops burned 21× the CPU band under box load).
    */
  private def backtest(conf: MLForecast, panel: PanelFrame, lastDates: DataFrame,
                       offsets: Seq[Int], h: Int,
                       callback: Option[PredictCallback] = None)(
      fittedAt: (Int, DataFrame) => FittedMLForecast): DataFrame = {
    import panel.{idCol, timeCol, targetCol}
    val dynCols = conf.dynamicExogCols(panel)
    Par.run(offsets.zipWithIndex.map { case (off, i) =>
      () => {
        val cutoffs = windowCutoffs(panel, lastDates, off, h)
        val xDf =
          if (dynCols.isEmpty) None
          else Some(panel.df.join(broadcast(cutoffs), Seq(idCol))
            .filter(col(timeCol) > col("__cutoff"))
            .select((Seq(idCol, timeCol) ++ dynCols).map(col): _*))
        val preds = fittedAt(i, cutoffs).predict(h, xDf, callback = callback)
        val actuals = panel.df.join(broadcast(cutoffs), Seq(idCol))
          .filter(col(timeCol) > col("__cutoff") && col(timeCol) <= col("__bound"))
          .select(col(idCol), col(timeCol), col("__cutoff").as("cutoff"),
            col(targetCol).cast("double").as(targetCol))
        actuals.join(preds, Seq(idCol, timeCol))
      }
    }).reduce(_ unionByName _)
  }

  /** Inference-only backtest with frozen models (reference
    * _frozen_backtest, forecast.py:81-160) over a pinned panel: per cutoff
    * offset, feature state is rebuilt on that window's history (warmup)
    * and the provided models predict — fit is never called.
    */
  private def frozenBacktest(conf: MLForecast, panel: PanelFrame, lastDates: DataFrame,
                             trained: Seq[(String, TrainedModel)],
                             directTrained: Seq[(String, Map[Int, TrainedModel])],
                             offsets: Seq[Int], h: Int): DataFrame =
    backtest(conf, panel, lastDates, offsets, h)((_, cutoffs) =>
      conf.warmup(trainSlice(panel, cutoffs, None), trained, directTrained))

  /** CV + conformal interval columns; see
    * [[FittedMLForecast.crossValidationWithIntervals]] for semantics.
    */
  def runWithIntervals(conf: MLForecast, rawPanel: PanelFrame, nWindows: Int,
                       h: Int, stepSize: Int, refit: Boolean,
                       refitEvery: Option[Int], inputSize: Option[Int],
                       levels: Seq[Int], intervalWindows: Int, intervalH: Int,
                       method: String): DataFrame = {
    require(levels.nonEmpty && levels.forall(l => l > 0 && l < 100),
      s"levels must be in (0, 100): $levels")
    require(intervalWindows >= 2,
      "at least two windows are needed for conformal intervals")
    require(intervalH >= 1, s"intervals need intervalH >= 1, got $intervalH")
    requireArgs(nWindows, h, stepSize, refitEvery)
    val panel = rawPanel.copy(df = MLForecast.pin(rawPanel.df))
    import panel.{idCol, timeCol, targetCol}
    val lastDates = panel.lastDates
    def fitWindowOf(i: Int): Int = fitWindow(i, refit, refitEvery)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    // ---- shared nested-CV path (one scores pass, like the reference's
    // single _conformity_scores CV, forecast.py:682-759).
    // Each refit window's fit-time calibration is a refit=false nested CV
    // on its own train slice. With data-free models those nested CVs
    // differ ONLY in their cutoff grids: a nested prediction at cutoff c
    // is a pure function of history <= c — the transform state (prefix
    // diffs, per-series scaler stats at c) included, since warmup re-fits
    // every transform on its slice — which the train slice and the full
    // panel agree on (the slice-of-slice equals the direct slice), and the
    // fused kernel emits nothing for a window whose cutoff predates the
    // series (exactly the series the slice would not contain). So ONE
    // backtest over the already-pinned panel at the UNION of offsets
    // replaces a full fit + CV pass per refit window — and, when
    // intervalH == h (the default), the same pass serves the OUTER CV too;
    // each consumer slices its rows by (id, cutoff).
    // Guard rails: inputSize caps the slice relative to the OUTER cutoff
    // (not expressible as one pass); non-data-free models train on
    // window-specific slices; nested cutoffs are composed single hops
    // (advance(last, -(outer + v*iH))), exact only on compose-safe freqs;
    // and fusedPredict = false (LocalLoop.enabled) asks for the original
    // path — each of those keeps the per-window nested CV.
    // Dense-grid precondition: the composed cutoffs assume each series is
    // gap-free up to its outer cutoff (the contract every panel operator
    // documents and PanelFrame.fillGaps/Validation.requireContinuity
    // enforce). On a gapped, out-of-contract panel the train slice's last
    // date can differ from the composed cutoff, so the nested calibration
    // grids would diverge from the per-window path — same class of silent
    // divergence every window transform has on gapped input, not a new one.
    val refitWindows = (0 until nWindows).filter(i => fitWindowOf(i) == i)
    val dynCols = conf.dynamicExogCols(panel)
    val outerOffsets = windowOffsets(nWindows, h, stepSize)
    val nestedOffsetsOf: Int => Seq[Int] = i =>
      (1 to intervalWindows).map(v => outerOffsets(i) + v * intervalH)
    val shared: Option[Seq[(String, TrainedModel)]] =
      if (refitWindows.isEmpty || inputSize.isDefined || conf.directHorizons.nonEmpty ||
          !LocalLoop.enabled(conf) || !advanceComposes(panel.freq) ||
          !conf.models.forall(_.dataFree)) None
      else actionlessTrained(conf, panel, dynCols, refit = false)
    // The shared pass at explicit composed offsets: the fused kernel when
    // the route rule allows (r13: the transform chain refits per cutoff
    // inside the task, KernelTransforms — cv_intervals_diff_scaler went ~20
    // blocking panel-scale actions -> a handful, OPTIMIZATION_r13.md), else
    // the frozen driver backtest over the full panel. Pinned EAGERLY: every
    // consumer joins its cutoffs onto it from nWindows concurrent Futures,
    // and a lazy checkpoint raced by two jobs can compute partitions twice
    // (the case pinLazy's scaladoc carves out), re-running the pass this
    // path exists to share.
    def sharedBacktest(t: Seq[(String, TrainedModel)], offsets: Seq[Int],
                       hh: Int): DataFrame =
      (LocalLoop.cvRoute(conf, panel, dynCols, refit = false, None)(t) match {
        case Some((_, chain)) =>
          LocalLoop.runCV(panel, conf, t, dynCols, hh, offsets, None,
            refit = false, None, chain)
        case None => frozenBacktest(conf, panel, lastDates, t, Nil, offsets, hh)
      }).localCheckpoint()
    def cutsFor(offsets: Seq[Int]): DataFrame =
      // distinct: duplicate offsets (possible whenever two windows'
      // composed offsets coincide) would otherwise multiply the rows of
      // every frame joined onto these cutoffs
      offsets.distinct.map { off =>
        lastDates.select(col(idCol),
          panel.freq.advance(col("last_date"), lit(-off)).as("cutoff"))
      }.reduce(_ unionByName _)
    val (cv, sharedNested) = shared match {
      case Some(t) if intervalH == h =>
        val combined = sharedBacktest(t,
          (outerOffsets ++ refitWindows.flatMap(nestedOffsetsOf)).distinct.sorted.reverse, h)
        // re-select to the pass's column order: the slicing join fronts
        // its keys, and downstream callers see run()'s layout
        val order = combined.columns.toSeq
        val outer = combined
          .join(broadcast(cutsFor(outerOffsets)), Seq(idCol, "cutoff"))
          .select(order.map(c => col(s"`$c`")): _*)
        (outer, Some(combined))
      case _ =>
        val nested = shared.map(sharedBacktest(_,
          refitWindows.flatMap(nestedOffsetsOf).distinct.sorted.reverse, intervalH))
        (run(conf, rawPanel, nWindows, h, stepSize, refit, refitEvery,
          inputSize).localCheckpoint(), nested)
    }
    val meta = Set(idCol, timeCol, targetCol, "cutoff")
    val names = cv.columns.filterNot(meta).toSeq
    def nestedCvFor(i: Int, train: => PanelFrame): DataFrame =
      sharedNested match {
        case Some(all) =>
          all.join(broadcast(cutsFor(nestedOffsetsOf(i))), Seq(idCol, "cutoff"))
        case None =>
          run(conf, train, intervalWindows, intervalH, intervalH, refit = false)
      }
    // Frozen-window calibration needs the refit window's models. Refitting
    // here (deterministic: same slice, same algorithm) keeps `run`'s
    // interface untouched; only distinct refit windows referenced by a
    // frozen window pay it.
    val frozenFits: Map[Int, Future[FittedMLForecast]] =
      (0 until nWindows).filter(i => fitWindowOf(i) != i)
        .map(fitWindowOf).distinct.map { fw =>
          val cutoffs = windowCutoffs(panel, lastDates, outerOffsets(fw), h)
          fw -> Par.future(panel.df.sparkSession) { conf.fit(trainSlice(panel, cutoffs, inputSize)) }
        }.toMap
    val parts = Par.run((0 until nWindows).map { i =>
      () => {
        val cutoffs = windowCutoffs(panel, lastDates, outerOffsets(i), h)
        val winPreds = cv.join(
          broadcast(cutoffs.select(col(idCol), col("__cutoff").as("cutoff"))),
          Seq(idCol, "cutoff"))
        val train = trainSlice(panel, cutoffs, inputSize)
        if (fitWindowOf(i) == i) {
          // fit-time calibration (reference _conformity_scores): nested
          // refit=false CV on this window's own (inputSize-capped) train
          val nested = nestedCvFor(i, train)
          val scores = Conformal.conformityScores(nested, idCol, timeCol,
            targetCol, names, freq = Some(panel.freq))
          Conformal.addIntervals(winPreds, scores, idCol, timeCol, names,
            levels, method, freq = Some(panel.freq))
        } else {
          // frozen window: the reference's default 'recalibrate' transfer —
          // SIGNED residuals from a frozen backtest (step_size=1, the
          // reference default: no refit means no leakage from overlapping
          // windows), pooled per step
          val fitted = Await.result(frozenFits(fitWindowOf(i)), Duration.Inf)
          val tp = train.copy(df = MLForecast.pin(train.df))
          val back = frozenBacktest(conf, tp, tp.lastDates, fitted.trained,
            fitted.directTrained, windowOffsets(intervalWindows, intervalH, 1), intervalH)
          val scores = ConformalTransfer.signedScores(back, idCol, timeCol,
            targetCol, names, freq = Some(panel.freq))
          ConformalTransfer.addSignedIntervals(winPreds, scores, idCol,
            timeCol, names, levels, freq = Some(panel.freq))
        }
      }
    })
    parts.reduce(_ unionByName _)
  }

  /** Per-fold in-sample fitted values; see
    * [[FittedMLForecast.crossValidationFittedValues]] for semantics.
    */
  def runFitted(conf: MLForecast, rawPanel: PanelFrame, nWindows: Int, h: Int,
                stepSize: Int, refit: Boolean, refitEvery: Option[Int],
                inputSize: Option[Int], fittedH: Int,
                levels: Seq[Int]): DataFrame = {
    val panel = rawPanel.copy(df = MLForecast.pin(rawPanel.df))
    import panel.{idCol, timeCol, targetCol}
    val lastDates = panel.lastDates
    def fitWindowOf(i: Int): Int = fitWindow(i, refit, refitEvery)
    val offsets = windowOffsets(nWindows, h, stepSize)
    def cutoffsAt(i: Int): DataFrame = windowCutoffs(panel, lastDates, offsets(i), h)
    // bounded fan-out (Par) for the same reason as backtest
    val refitIdx = (0 until nWindows).map(fitWindowOf).distinct
    val fits: Map[Int, FittedMLForecast] =
      refitIdx.zip(Par.run(refitIdx.map(i => () =>
        conf.fit(trainSlice(panel, cutoffsAt(i), inputSize))))).toMap
    val frames = Par.run((0 until nWindows).map { i =>
      () => {
        val fw = fitWindowOf(i)
        val fitted =
          if (fw == i) fits(i)
          else conf.warmup(trainSlice(panel, cutoffsAt(i), inputSize),
            fits(fw).trained, fits(fw).directTrained)
        fitted.fittedValues(fittedH, levels).withColumn("fold", lit(i))
      }
    })
    val out = frames.reduce(_ unionByName _)
    // reference column order (forecast.py:2083): id, ds, fold, y first
    val first = Seq(idCol, timeCol, "fold", targetCol)
    val rest = out.columns.filterNot(first.contains).toSeq
    out.select((first ++ rest).map(c => col(s"`$c`")): _*)
  }
}
