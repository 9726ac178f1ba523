package graft.forecast

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{Freq, PanelFrame}
import graft.functions.{Pooling, RollingMean}
import graft.operators.FeatureSpec

/** The fused-vs-driver route rule ([[LocalLoop.cvRoute]],
  * [[LocalLoop.fusesPredict]]): which configurations take the kernel, that
  * every admitted one runs through `runCV` without tripping its own
  * requires, and bit-identity of the routes it newly admits.
  */
class RouteRuleSpec extends SparkSpec {
  import RouteRuleSpec.LevelOnly
  import spark.implicits._

  /** Float-target daily panel over `nParts` partitions, rows shuffled so no
    * partition holds a series in time order.
    */
  private def dailyPanel(nSeries: Int, nDays: Int, nParts: Int = 3): PanelFrame = {
    val start = java.time.LocalDate.of(2024, 1, 1)
    val rows = for (s <- 0 until nSeries; t <- 0 until nDays) yield (
      s"s$s", java.sql.Date.valueOf(start.plusDays(t)),
      20.0 + math.sin(t * 0.7 + s) * 5.0 + t * 0.13 * (s + 1) + (t % 7) * 1.7 + 10.0 * s,
      (s % 3).toDouble)
    val shuffled = new scala.util.Random(7L).shuffle(rows)
    PanelFrame(shuffled.toDF("unique_id", "ds", "y", "grp").repartition(nParts),
      freq = Freq.Day, staticCols = Seq("grp"))
  }

  private def isFused(df: DataFrame): Boolean =
    df.queryExecution.logical.collectFirst { case u: Union => u }.isEmpty

  private def assertSameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    assert(a.columns.sorted.sameElements(b.columns.sorted),
      s"$what schema: ${a.columns.toSeq} vs ${b.columns.toSeq}")
    val cols = a.columns.sorted.toSeq.map(c => col(s"`$c`"))
    val an = a.select(cols: _*); val bn = b.select(cols: _*)
    assert(!an.isEmpty, s"$what is empty")
    assert(an.exceptAll(bn).isEmpty && bn.exceptAll(an).isEmpty, s"$what diverged")
  }

  test("route table: each configuration takes the route the rule assigns") {
    val p = dailyPanel(4, 60)
    val binary = p.copy(df = p.df.withColumn("unique_id", col("unique_id").cast("binary")))
    val lags = FeatureSpec(lags = Seq(1, 7))
    val base = MLForecast(Seq(Models.naive), Freq.Day, lags, staticFeatures = Seq("grp"))
    val twin = Seq(Differences(Seq(1)), LocalMinMaxScaler())
    // (label, conf, panel, refit, inputSize, callback, expected CV chain
    // length or None = driver, predict fuses)
    val cases: Seq[(String, MLForecast, PanelFrame, Boolean, Option[Int],
        Option[PredictCallback], Option[Int], Boolean)] = Seq(
      ("data-free", base, p, true, None, None, Some(0), true),
      ("callback", base, p, true, None, Some(new SaveFeatures), None, false),
      ("scalar callback", base, p, true, None, Some(new ClipPredictions(0.0)), None, true),
      ("fusedPredict = false", base.copy(fusedPredict = false), p, true, None, None, None, false),
      ("direct horizons", base.copy(maxHorizon = Some(3)), p, true, None, None, None, false),
      ("pooled spec", base.copy(spec = FeatureSpec(lags = Seq(1), lagTransforms =
        Map(1 -> Seq(RollingMean(3, pooling = Pooling(groupby = Seq("grp"))))))),
        p, true, None, None, None, true),
      ("binary ids", base, binary, true, None, None, None, false),
      ("no-twin transform", base.copy(targetTransforms = Seq(LocalBoxCox())),
        p, true, None, None, None, true),
      ("twin chain, frozen", base.copy(targetTransforms = twin), p, false, None, None, Some(2), true),
      ("twin chain, dataFree refit", base.copy(targetTransforms = twin), p, true, None, None,
        Some(2), true),
      ("twin chain, inputSize", base.copy(targetTransforms = twin), p, false, Some(30), None,
        None, true),
      ("twin chain, kernel refit", base.copy(models = Seq(Models.seriesMean),
        targetTransforms = twin), p, true, Some(30), None, None, false),
      ("localFitter refit, bounded", base.copy(models = Seq(Models.seriesMean, Models.naive)),
        p, true, Some(30), None, Some(0), false),
      ("localFitter refit, unbounded", base.copy(models = Seq(Models.seriesMean),
        spec = FeatureSpec(lags = Seq(1), lagTransforms =
          Map(1 -> Seq(graft.functions.ExpandingMean())))), p, true, None, None, None, false),
      ("label fold, frozen", base.copy(models = Seq(Models.ses(0.5))), p, false, Some(30),
        None, Some(0), true),
      ("seriesLevels-only", base.copy(models = Seq(LevelOnly())), p, false, None, None,
        None, true))
    for ((label, conf, panel, refit, inputSize, cb, chainLen, predictFused) <- cases) {
      val fitted = conf.fit(panel)
      val dynCols = conf.dynamicExogCols(panel)
      val route = LocalLoop.cvRoute(conf, panel, dynCols, refit, inputSize, cb)(fitted.trained)
      assert(route.map(_._2.length) == chainLen, s"$label: CV route $route")
      assert(LocalLoop.fusesPredict(conf, fitted.transformedPanel, fitted.trained, dynCols,
        cb) == predictFused, s"$label: predict route")
      // every configuration runs end to end on the route the rule named;
      // an admitted one never reaches runCV's requires
      val cv = fitted.crossValidation(2, 3, refit = refit, inputSize = inputSize,
        callback = cb)
      assert(isFused(cv) == chainLen.isDefined, s"$label: CV plan route")
      assert(cv.count() > 0, s"$label: empty CV")
    }
  }

  test("featurize route table: admitted specs featurize in the kernel, the rest in the window") {
    val p = dailyPanel(4, 40)
    val part = p.copy(df = p.df.withColumn("part", col("grp") * 2), staticCols = Seq("grp", "part"))
    val group = Pooling(groupby = Seq("grp"))
    def one(t: graft.functions.LagTransform) =
      FeatureSpec(lags = Seq(1), lagTransforms = Map(1 -> Seq(t)))
    val base = MLForecast(Seq(Models.naive), Freq.Day,
      FeatureSpec(lags = Seq(1, 7), dateFeatures = Seq("dayofweek")),
      staticFeatures = Seq("grp", "part"))
    // (label, conf, featurizes in the kernel)
    val cases: Seq[(String, MLForecast, Boolean)] = Seq(
      ("local bounded", base, true),
      ("groupby rolling mean", base.copy(spec = one(RollingMean(3, pooling = group))), true),
      ("global rolling max", base.copy(spec = one(graft.functions.RollingMax(3,
        pooling = Pooling(global = true)))), true),
      ("partitionBy", base.copy(spec = one(RollingMean(3, pooling = Pooling(
        groupby = Seq("grp"), partitionBy = Seq("part"))))), false),
      ("timeAgg", base.copy(spec = one(RollingMean(3, pooling = Pooling(
        groupby = Seq("grp"), timeAgg = Some("sum"))))), false),
      ("unbounded local", base.copy(spec = one(graft.functions.ExpandingMean())), false),
      ("unbounded pooled", base.copy(spec = one(graft.functions.ExpandingMean(pooling = group))),
        false),
      ("fusedPredict = false", base.copy(fusedPredict = false), false))
    for ((label, conf, kernel) <- cases) {
      assert(LocalLoop.featurizes(conf, part, conf.dynamicExogCols(part)) == kernel, label)
      val fitted = conf.fit(part)
      val windowed = fitted.featurized.queryExecution.analyzed.collectFirst {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.isDefined
      assert(windowed != kernel, s"$label: featurized plan")
      assert(fitted.featurized.columns.toSeq ==
        graft.operators.Featurizer.outputColumns(part.df.columns.toSeq, conf.spec), label)
      assert(fitted.predict(2).count() == 8, s"$label: forecast rows")
    }
  }

  test("frozen CV and predictWithIntervals through a twin chain: kernel == driver") {
    val p = dailyPanel(6, 90)
    val spec = FeatureSpec(lags = Seq(1, 7, 14), dateFeatures = Seq("dayofweek"))
    val tfms = Seq(Differences(Seq(1, 7)), LocalStandardScaler())
    for (model <- Seq[ForecastModel](SparkLinearRegression(),
        GraftGbm(numRounds = 5, numLeaves = 7, maxDepth = 3))) {
      val conf = MLForecast(Seq(model), Freq.Day, spec, targetTransforms = tfms)
      val fitted = conf.fit(p)
      val slow = fitted.copy(conf = conf.copy(fusedPredict = false))
      val fastCv = fitted.crossValidation(nWindows = 2, h = 5, refit = false)
      val slowCv = slow.crossValidation(nWindows = 2, h = 5, refit = false)
      assert(isFused(fastCv) && !isFused(slowCv), s"${model.name}: routes")
      assertSameRows(fastCv, slowCv, s"${model.name} frozen CV")
      assertSameRows(fitted.predictWithIntervals(5, Seq(80, 95)),
        slow.predictWithIntervals(5, Seq(80, 95)), s"${model.name} predictWithIntervals")
    }
  }

  test("shared interval backtest == per-window nested CV") {
    // fusedPredict = false keeps one nested CV per refit window; the fused
    // run shares one backtest over the union of offsets — the kernel with a
    // twin chain or none, the driver backtest under a no-twin transform
    val p = dailyPanel(3, 40)
    for (tfms <- Seq(Nil, Seq(Differences(Seq(1)), LocalStandardScaler()), Seq(LocalBoxCox()));
         refitEvery <- Seq(None, Some(2))) {
      val conf = MLForecast(Seq(Models.seasonalNaive(7)), Freq.Day,
        FeatureSpec(lags = Seq(7)), targetTransforms = tfms)
      def run(c: MLForecast) = c.fit(p).crossValidationWithIntervals(
        nWindows = 4, h = 2, levels = Seq(80), stepSize = Some(1), refitEvery = refitEvery)
      assertSameRows(run(conf), run(conf.copy(fusedPredict = false)),
        s"transforms=$tfms refitEvery=$refitEvery")
    }
  }

  test("standard-scaler-first float chain: fused state and kernel equal the driver") {
    val p = dailyPanel(5, 50, nParts = 4)
    val tfms = Seq(LocalStandardScaler(), Differences(Seq(1)))
    // fused TransformState slices vs the scaler's own window-distinct
    // stats and a one-stage diff chain over the scaler's output
    val fused = TransformState.chain(p, tfms.map(TransformState.fitStage(_, Nil)))
    assertSameRows(LocalStandardScaler().stats(p),
      fused.head.asInstanceOf[ScalerFitted].st, "scaler-first fused stats")
    val alone = Differences(Seq(1)).fit(fused.head.transformed).asInstanceOf[DiffFitted]
    alone.tails.zip(fused(1).asInstanceOf[DiffFitted].tails)
      .foreach { case (a, b) => assertSameRows(a, b, "scaler-first fused diff tail") }
    // kernel chain vs the driver backtest, frozen CV and interval CV
    val conf = MLForecast(Seq(Models.seasonalNaive(7)), Freq.Day,
      FeatureSpec(lags = Seq(7)), targetTransforms = tfms)
    val fast = conf.fit(p)
    val slow = conf.copy(fusedPredict = false).fit(p)
    assertSameRows(fast.crossValidation(2, 4, refit = false),
      slow.crossValidation(2, 4, refit = false), "scaler-first frozen CV")
    assertSameRows(
      fast.crossValidationWithIntervals(3, 2, Seq(80), stepSize = Some(1)),
      slow.crossValidationWithIntervals(3, 2, Seq(80), stepSize = Some(1)),
      "scaler-first interval CV")
  }

  test("kernel size gate fails closed to the base layout") {
    val unknown = BigInt(Long.MaxValue)
    val mb = BigInt(1L << 20)
    assert(LocalLoop.kernelTasks(8, None, unknown) == 8, "failed estimate")
    assert(LocalLoop.kernelTasks(8, Some(unknown), unknown) == 8, "default estimate")
    assert(LocalLoop.kernelTasks(8, Some(unknown * 2), unknown) == 8, "above default")
    assert(LocalLoop.kernelTasks(8, Some(BigInt(1000)), unknown) == 8, "tiny")
    assert(LocalLoop.kernelTasks(8, Some(mb * 8 * 20), unknown) == 20, "sized")
    assert(LocalLoop.kernelTasks(8, Some(mb * 8 * 1000), unknown) == 32, "capped")
  }

  test("fused scaler update keeps the fused stats relation") {
    val p = dailyPanel(3, 30, nParts = 2)
    val cutoff = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 25))
    val old = p.copy(df = p.df.filter(col("ds") <= cutoff))
    val tfms = Seq(Differences(Seq(1)), LocalStandardScaler())
    val fused = TransformState.chain(old, tfms.map(TransformState.fitStage(_, Nil)))
    val scaler = fused(1).asInstanceOf[ScalerFitted]
    assert(fused.head.asInstanceOf[DiffFitted].shared eq scaler.shared)
    val updated = scaler.update(fused.head.update(p).transformed)
    assertSameRows(scaler.state.head, updated.state.head, "updated scaler state")
    // the whole-chain update re-fuses with the same frozen stats
    val chained = TransformState.chain(p, fused.map(TransformState.updateStage))
    assertSameRows(scaler.state.head, chained(1).state.head, "chain-updated scaler state")
  }

  test("a pooled bucket column outside staticFeatures fails fit with a named error") {
    val p = dailyPanel(10, 40, nParts = 2)
    val pooled = FeatureSpec(lags = Seq(1), lagTransforms =
      Map(1 -> Seq(RollingMean(7, pooling = Pooling(groupby = Seq("grp"))))))
    val conf = MLForecast(Seq(SparkLinearRegression()), Freq.Day, pooled)
    val e = intercept[IllegalArgumentException](conf.fit(p))
    assert(e.getMessage.contains("'grp'") &&
      e.getMessage.contains(pooled.featureNames.last), e.getMessage)
    // listed in staticFeatures, the same pipeline fits and predicts
    assert(conf.copy(staticFeatures = Seq("grp")).fit(p).predict(2).count() == 20)
  }
}

object RouteRuleSpec {
  /** A data-free model whose forecast is a per-series constant: predict
    * fuses through seriesLevels, CV has neither a scorer nor a localFitter.
    */
  final case class LevelOnly(name: String = "level_only") extends ForecastModel {
    override def dataFree: Boolean = true
    def fit(train: DataFrame, featureCols: Seq[String], labelCol: String,
            weightCol: Option[String]): TrainedModel = {
      val levels = train.select(col("unique_id")).distinct().withColumn("__level", lit(1.0))
      new TrainedModel {
        def predict(df: DataFrame, featureCols: Seq[String], out: String): DataFrame =
          df.join(levels, Seq("unique_id"), "left").withColumnRenamed("__level", out)
        override def seriesLevels: Option[(DataFrame, String)] = Some(levels -> "unique_id")
      }
    }
  }
}
