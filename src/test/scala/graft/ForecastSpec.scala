package graft

import org.apache.spark.sql.functions._

import graft.core.{Freq, PanelFrame}
import graft.forecast._
import graft.operators.FeatureSpec

class ForecastSpec extends SparkSpec {
  import spark.implicits._

  // y follows exact weekly seasonality: y(t) = pattern(t % 7) + series offset
  def seasonalPanel(n: Int = 28): PanelFrame = {
    val pattern = Array(10.0, 20, 30, 40, 50, 60, 70)
    val rows = for {
      id <- Seq("a", "b"); t <- 0 until n
    } yield (id, t.toLong, pattern(t % 7) + (if (id == "a") 0 else 100))
    PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
  }

  test("recursive predict with seasonal naive reproduces the pattern") {
    val mlf = MLForecast(
      models = Seq(Models.seasonalNaive(7)),
      freq = Freq.IntFreq(1),
      spec = FeatureSpec(lags = Seq(7)))
    val preds = mlf.fit(seasonalPanel()).predict(h = 10)
    val a = preds.filter($"unique_id" === "a").orderBy("ds")
      .select("seasonal_naive7").collect().map(_.getDouble(0))
    val expected = (28 until 38).map(t => Array(10.0, 20, 30, 40, 50, 60, 70)(t % 7))
    assert(a.toSeq == expected.toSeq)
    // horizon timestamps continue the axis
    val ds = preds.filter($"unique_id" === "a").orderBy("ds").select("ds")
      .collect().map(_.getLong(0)).toSeq
    assert(ds == (28L until 38L).toSeq)
  }

  test("linear regression learns y = 2*lag1 structure approximately") {
    // y doubles each step: lag1 is a perfect single feature
    val rows = for (id <- Seq("s"); t <- 0 until 12) yield (id, t.toLong, math.pow(2, t))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val mlf = MLForecast(Seq(SparkLinearRegression()), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(1)))
    val preds = mlf.fit(p).predict(2).orderBy("ds").select("lr").collect().map(_.getDouble(0))
    assert(math.abs(preds(0) - 4096.0) < 1.0, s"got ${preds.toSeq}")
    assert(math.abs(preds(1) - 8192.0) < 4.0, s"got ${preds.toSeq}")
  }

  test("differences transform inverts exactly through predict") {
    // y = linear trend + weekly pattern; Differences(1) then seasonal naive on diffs
    val rows = for (t <- 0 until 30) yield ("s", t.toLong, 5.0 * t + Array(1.0, 2, 4)(t % 3))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val mlf = MLForecast(Seq(Models.seasonalNaive(3)), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(3)), targetTransforms = Seq(Differences(Seq(3))))
    // after Differences(3), the series is constant 15 -> seasonal naive predicts 15
    // inverse: y(t) = 15 + y(t-3) -> exact continuation of the trend+pattern
    val preds = mlf.fit(p).predict(6).orderBy("ds")
      .select("ds", "seasonal_naive3").collect()
    preds.foreach { r =>
      val t = r.getLong(0)
      val expected = 5.0 * t + Array(1.0, 2, 4)((t % 3).toInt)
      assert(math.abs(r.getDouble(1) - expected) < 1e-9, s"t=$t got ${r.getDouble(1)} want $expected")
    }
  }

  test("local standard scaler round trip") {
    val rows = for (t <- 0 until 20) yield ("s", t.toLong, 100.0 + (t % 4))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val mlf = MLForecast(Seq(Models.seasonalNaive(4)), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(4)), targetTransforms = Seq(LocalStandardScaler()))
    val preds = mlf.fit(p).predict(4).orderBy("ds")
      .select("ds", "seasonal_naive4").collect()
    preds.foreach { r =>
      val expected = 100.0 + (r.getLong(0) % 4)
      assert(math.abs(r.getDouble(1) - expected) < 1e-9)
    }
  }

  test("cross validation produces one frame per window with actuals") {
    val mlf = MLForecast(Seq(Models.seasonalNaive(7)), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(7)))
    val cv = mlf.fit(seasonalPanel(35)).crossValidation(nWindows = 2, h = 7)
    assert(cv.count() == 2 * 7 * 2) // windows x steps x series
    assert(cv.columns.toSet == Set("unique_id", "ds", "cutoff", "y", "seasonal_naive7"))
    // seasonal naive is exact on this panel
    val errs = cv.select(abs($"y" - $"seasonal_naive7")).collect().map(_.getDouble(0))
    assert(errs.forall(_ < 1e-9))
  }

  test("direct mode with naive equals recursive naive (frozen lag1)") {
    val spec = FeatureSpec(lags = Seq(1, 7))
    val rec = MLForecast(Seq(Models.naive), Freq.IntFreq(1), spec)
      .fit(seasonalPanel()).predict(5)
    val dir = MLForecast(Seq(Models.naive), Freq.IntFreq(1), spec, maxHorizon = Some(5))
      .fit(seasonalPanel()).predict(5)
    val r = rec.orderBy("unique_id", "ds").select("unique_id", "ds", "naive").collect().toSeq
    val d = dir.orderBy("unique_id", "ds").select("unique_id", "ds", "naive").collect().toSeq
    assert(r == d)
  }

  test("direct mode trains one exact model per horizon on a linear trend") {
    val n = 30
    val rows = for (id <- Seq("a", "b"); t <- 0 until n)
      yield (id, t.toLong, t.toDouble + (if (id == "a") 0 else 1000))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val mlf = MLForecast(Seq(SparkLinearRegression()), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(1)), maxHorizon = Some(3))
    val preds = mlf.fit(p).predict(3)
      .filter($"unique_id" === "a").orderBy("ds")
      .select("ds", "lr").collect()
    // model_h: y[t+h] = lag1 + h + 1 exactly; step-1 lag1 = n-1
    preds.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == n + i)
      assert(math.abs(r.getDouble(1) - (n + i)) < 1e-6, s"h=$i got ${r.getDouble(1)}")
    }
  }

  test("horizon feature templates route exog cols per horizon model") {
    val rows = for (id <- Seq("a", "b"); t <- 0L until 20L)
      yield (id, t, (t % 7).toDouble, 1.0 * t, 2.0 * t, 3.0 * t)
    val p = PanelFrame(
      rows.toDF("unique_id", "ds", "y", "base", "price_1", "price_2"),
      freq = Freq.IntFreq(1))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    final case class Capture() extends ForecastModel {
      def name = "cap"
      override def dataFree = true
      def fit(train: org.apache.spark.sql.DataFrame, featureCols: Seq[String],
              labelCol: String, weightCol: Option[String]): TrainedModel = {
        seen.add(featureCols)
        new TrainedModel {
          def predict(df: org.apache.spark.sql.DataFrame, featureCols: Seq[String],
                      out: String): org.apache.spark.sql.DataFrame = {
            seen.add(featureCols)
            df.withColumn(out, col("lag1"))
          }
        }
      }
    }
    val mlf = MLForecast(Seq(Capture()), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(1)), maxHorizon = Some(2),
      horizonFeatureTemplates = Seq("price_{h}"))
    val fitted = mlf.fit(p)
    import scala.jdk.CollectionConverters._
    val fitCalls = seen.asScala.toSet
    assert(fitCalls.contains(Seq("lag1", "base", "price_1")))
    assert(fitCalls.contains(Seq("lag1", "base", "price_2")))
    seen.clear()
    val xDf = (for (id <- Seq("a", "b"); t <- 20L until 22L)
      yield (id, t, 1.0 * t, 2.0 * t, 3.0 * t))
      .toDF("unique_id", "ds", "base", "price_1", "price_2")
    fitted.predict(2, xDf = Some(xDf)).count()
    val predictCalls = seen.asScala.toSet
    assert(predictCalls == Set(
      Seq("lag1", "base", "price_1"), Seq("lag1", "base", "price_2")))
  }

  test("horizonFeatures limits the NaN-validity filter to each horizon's exog") {
    // price_2 is null at (a, ds=10): only horizon 2's frame (which joins
    // price_2 at ds+1) loses the origin row ds=9; horizon 1 never sees
    // price_2, so it keeps all rows — without routing both would drop.
    val rows = for (id <- Seq("a", "b"); t <- 0L until 20L)
      yield (id, t, (t % 7).toDouble, 1.0 * t,
        if (id == "a" && t == 10L) None else Some(2.0 * t))
    val p = PanelFrame(
      rows.toDF("unique_id", "ds", "y", "price_1", "price_2"),
      freq = Freq.IntFreq(1))
    val mlf = MLForecast(Seq(Models.naive), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(1)), maxHorizon = Some(2),
      horizonFeatures = Map(1 -> Seq("price_1"), 2 -> Seq("price_2")))
    val byH = mlf.expandedTarget(p).groupBy("horizon").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byH(1) == 38L) // 19 rows x 2 series, no price_2 visibility
    assert(byH(2) == 35L) // 18 + 18 minus the (a, 9) origin row
    // without routing horizon 1 also drops the null-price_2 origin row
    val noRoute = mlf.copy(horizonFeatures = Map.empty).expandedTarget(p)
      .groupBy("horizon").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(noRoute(1) == 37L)
  }

  test("horizon feature config is rejected outside direct mode and on bad input") {
    val p = seasonalPanel()
    intercept[IllegalArgumentException] {
      MLForecast(Seq(Models.naive), Freq.IntFreq(1), FeatureSpec(lags = Seq(1)),
        horizonFeatureTemplates = Seq("price_{h}")).fit(p)
    }
    intercept[IllegalArgumentException] { // no {h} placeholder
      MLForecast(Seq(Models.naive), Freq.IntFreq(1), FeatureSpec(lags = Seq(1)),
        maxHorizon = Some(2), horizonFeatureTemplates = Seq("price")).fit(p)
    }
    intercept[IllegalArgumentException] { // unknown explicit column
      MLForecast(Seq(Models.naive), Freq.IntFreq(1), FeatureSpec(lags = Seq(1)),
        maxHorizon = Some(2), horizonFeatures = Map(1 -> Seq("nope"))).fit(p)
    }
    intercept[IllegalArgumentException] { // horizon beyond max
      val rows = for (id <- Seq("a"); t <- 0L until 20L) yield (id, t, 1.0, 2.0)
      val px = PanelFrame(rows.toDF("unique_id", "ds", "y", "price_3"),
        freq = Freq.IntFreq(1))
      MLForecast(Seq(Models.naive), Freq.IntFreq(1), FeatureSpec(lags = Seq(1)),
        maxHorizon = Some(2), horizonFeatureTemplates = Seq("price_{h}")).fit(px)
    }
  }

  test("direct predict on month frequency does not clamp month-end dates") {
    // series end on Jan 31: add_months(Jan 31, 2) = Mar 31, but a composed
    // advance(advance(d,1),1) would land on Mar 28
    val months = Seq("2023-10-31", "2023-11-30", "2023-12-31", "2024-01-31")
    val rows = for (id <- Seq("a"); (m, i) <- months.zipWithIndex)
      yield (id, java.sql.Date.valueOf(m), 10.0 * (i + 1))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.Month)
    val preds = MLForecast(Seq(Models.naive), Freq.Month,
      FeatureSpec(lags = Seq(1)), maxHorizon = Some(2))
      .fit(p).predict(2).orderBy("ds").collect()
    assert(preds.map(_.getDate(1).toString).toSeq ==
      Seq("2024-02-29", "2024-03-31"))
    // and they line up with the future grid / xDf contract
    val grid = p.futureGrid(2).orderBy("ds").collect().map(_.getDate(1).toString)
    assert(preds.map(_.getDate(1).toString).toSeq == grid.toSeq)
  }

  test("fillGaps densifies onto the freq grid; global alignment optional") {
    val rows = Seq(
      ("a", "2024-01-01", 1.0), ("a", "2024-01-04", 4.0), // gap: 02, 03
      ("b", "2024-01-03", 3.0), ("b", "2024-01-05", 5.0), // gap: 04
    ).map { case (id, d, y) => (id, java.sql.Date.valueOf(d), y) }
      .toDF("unique_id", "ds", "y")
    val p = PanelFrame(rows, freq = Freq.Day)
    val filled = p.fillGaps().df.orderBy("unique_id", "ds").collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        if (r.isNullAt(2)) null else r.getDouble(2)))
    assert(filled.toSeq == Seq(
      ("a", "2024-01-01", 1.0), ("a", "2024-01-02", null),
      ("a", "2024-01-03", null), ("a", "2024-01-04", 4.0),
      ("b", "2024-01-03", 3.0), ("b", "2024-01-04", null),
      ("b", "2024-01-05", 5.0)))
    // global alignment: both series span the corpus min..max
    val aligned = p.fillGaps(globalStart = true, globalEnd = true).df
    assert(aligned.count() == 10) // 2 series x 5 days
    assert(aligned.groupBy("unique_id").count().collect()
      .forall(_.getLong(1) == 5L))
    // month frequency uses calendar stepping, not day arithmetic
    val mrows = Seq(("m", "2023-11-30", 1.0), ("m", "2024-02-29", 2.0))
      .map { case (id, d, y) => (id, java.sql.Date.valueOf(d), y) }
      .toDF("unique_id", "ds", "y")
    val mfilled = PanelFrame(mrows, freq = Freq.Month).fillGaps().df
      .orderBy("ds").collect().map(_.getDate(1).toString)
    assert(mfilled.toSeq ==
      Seq("2023-11-30", "2023-12-30", "2024-01-30", "2024-02-29"))
  }

  test("fillForward/fillBackward/interpolateLinear: pandas semantics per series") {
    // a: leading null, interior 2-gap, trailing null
    // b: single interior null at a non-midpoint position
    val rows = Seq(
      ("a", 0L, null), ("a", 1L, java.lang.Double.valueOf(10.0)),
      ("a", 2L, null), ("a", 3L, null),
      ("a", 4L, java.lang.Double.valueOf(40.0)), ("a", 5L, null),
      ("b", 0L, java.lang.Double.valueOf(1.0)), ("b", 1L, null),
      ("b", 2L, null), ("b", 3L, java.lang.Double.valueOf(7.0)),
    ).toDF("unique_id", "ds", "y")
    val p = PanelFrame(rows, freq = Freq.IntFreq(1))
    def vals(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("unique_id", "ds").collect()
        .map(r => if (r.isNullAt(2)) null else r.getDouble(2)).toSeq
    assert(vals(p.fillForward(Seq("y")).df) == Seq(
      null, 10.0, 10.0, 10.0, 40.0, 40.0, 1.0, 1.0, 1.0, 7.0))
    assert(vals(p.fillBackward(Seq("y")).df) == Seq(
      10.0, 10.0, 40.0, 40.0, 40.0, null, 1.0, 7.0, 7.0, 7.0))
    // linear: interior gaps on the straight line, trailing copies the last
    // anchor (pandas forward limit), leading stays null
    assert(vals(p.interpolateLinear("y").df) == Seq(
      null, 10.0, 20.0, 30.0, 40.0, 40.0, 1.0, 3.0, 5.0, 7.0))
    // date-grid interpolation uses the freq ordinal, not raw positions:
    // 2-day stride grid still interpolates by step count
    val drows = Seq(
      ("d", "2024-01-01", java.lang.Double.valueOf(0.0)),
      ("d", "2024-01-03", null),
      ("d", "2024-01-05", java.lang.Double.valueOf(4.0)),
    ).map { case (i, d, y) => (i, java.sql.Date.valueOf(d), y) }
      .toDF("unique_id", "ds", "y")
    val dp = PanelFrame(drows, freq = Freq.DayFreq(2))
    assert(vals(dp.interpolateLinear("y").df) == Seq(0.0, 2.0, 4.0))
    // NaN IS the pandas missing marker: the fills repair it like null
    // instead of treating it as a valid value/anchor
    val nrows = Seq(("n", 0L, 1.0), ("n", 1L, Double.NaN), ("n", 2L, 3.0))
      .toDF("unique_id", "ds", "y")
    val np = PanelFrame(nrows, freq = Freq.IntFreq(1))
    assert(vals(np.interpolateLinear("y").df) == Seq(1.0, 2.0, 3.0))
    assert(vals(np.fillForward(Seq("y")).df) == Seq(1.0, 1.0, 3.0))
    assert(vals(np.fillBackward(Seq("y")).df) == Seq(1.0, 3.0, 3.0))
  }

  test("hampel filter: spike flagged and replaced, edges and flats unflagged") {
    import graft.operators.Outliers
    // flat series with one gross spike at ds=4
    val ys = Seq(10.0, 11.0, 10.0, 11.0, 100.0, 10.0, 11.0, 10.0, 11.0)
    val rows = ys.zipWithIndex.map { case (y, i) => ("a", i.toLong, y) }
      .toDF("unique_id", "ds", "y")
    val out = Outliers.hampel(PanelFrame(rows, freq = Freq.IntFreq(1)), k = 2)
      .orderBy("ds").collect()
    assert(out.map(_.getAs[Boolean]("is_outlier")).toSeq ==
      Seq(false, false, false, false, true, false, false, false, false))
    // the spike is replaced by its window median (10,11,100,10,11 -> 11)
    assert(out(4).getAs[Double]("y_hampel") == 11.0)
    assert(out(0).getAs[Double]("y_hampel") == 10.0) // edge row untouched
    // median convention: even-length edge window (10,11,10,11... k=2 at
    // ds=0 covers 3 rows) -> odd selection; check an explicit median value
    assert(out(0).getAs[Double]("med") == 10.0) // sorted [10,10,11] -> 10
  }

  test("zscore flags: exact moments, spike flagged, constant series unflagged") {
    import graft.operators.Outliers
    val rows = (Seq.fill(20)(5.0) :+ 50.0).zipWithIndex
      .map { case (y, i) => ("a", i.toLong, y) } ++
      (0 until 5).map(i => ("const", i.toLong, 7.0))
    val out = Outliers.zscoreFlags(
      PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1)))
    val flagged = out.filter(col("is_outlier")).collect()
    assert(flagged.length == 1 && flagged(0).getAs[Double]("y") == 50.0)
    // zero-variance series: std = 0, nothing flagged, no NaN
    val const = out.filter(col("unique_id") === "const").collect()
    assert(const.forall(r => r.getAs[Double]("std") == 0.0 &&
      !r.getAs[Boolean]("is_outlier")))
  }

  test("stats: rolling trend corr, acf diagnostics, winsorize cut points") {
    import graft.operators.Stats
    // rolling corr vs time: perfectly linear -> ~1, constant -> null
    val lin = (0 until 20).map(i => ("a", i.toLong, 2.0 * i + 3)) ++
      (0 until 20).map(i => ("c", i.toLong, 5.0))
    val lp = PanelFrame(lin.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val corr = Stats.rollingCorr(lp, "ds", w = 7).orderBy("unique_id", "ds").collect()
    val aRows = corr.filter(_.getString(0) == "a").drop(6)
    assert(aRows.forall(r => math.abs(r.getAs[Double]("corr_ds_w7") - 1.0) < 1e-12))
    assert(corr.filter(_.getString(0) == "c").forall(_.isNullAt(3)))
    // acf on a 0/1 alternating series of length 10: hand-computed values
    val alt = (0 until 10).map(i => ("s", i.toLong, (i % 2).toDouble))
    val a = Stats.acf(PanelFrame(alt.toDF("unique_id", "ds", "y"),
      freq = Freq.IntFreq(1)), Seq(1, 7)).collect().head
    assert(a.getAs[Long]("n") == 10L)
    assert(a.getAs[Double]("acf1") == -0.9)
    assert(a.getAs[Double]("acf7") == -0.3)
    // winsorize 1..20: interpolated cuts 1.95 / 19.05 clip the extremes
    val ints = (1 to 20).map(i => ("w", i.toLong, i.toDouble))
    val wz = Stats.winsorize(PanelFrame(ints.toDF("unique_id", "ds", "y"),
      freq = Freq.IntFreq(1))).orderBy("ds").collect()
    assert(math.abs(wz.head.getAs[Double]("lo") - 1.95) < 1e-12)
    assert(math.abs(wz.head.getAs[Double]("hi") - 19.05) < 1e-12)
    assert(wz.head.getAs[Double]("y_wins") == wz.head.getAs[Double]("lo"))
    assert(wz.last.getAs[Double]("y_wins") == wz.last.getAs[Double]("hi"))
    assert(wz(9).getAs[Double]("y_wins") == 10.0) // interior untouched
  }

  test("level-backed models predict fused: bit-equal to the driver loop") {
    // SES/Croston/TSB forecasts are per-series constants, so the fused
    // loop joins the level once instead of h orchestrated steps; the two
    // paths must stay bit-identical, including a no-demand null series
    // and a MIXED conf where a feature model still steps recursively
    val rows = (for (id <- Seq("a", "b"); t <- 0L until 30L)
      yield (id, t, ((t * 7 + (if (id == "a") 2 else 5)) % 13).toDouble)) ++
      (0L until 30L).map(t => ("z", t, 0.0))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val spec = FeatureSpec(lags = Seq(1, 3),
      lagTransforms = Map(1 -> Seq(graft.functions.RollingMean(5))))
    def run(fused: Boolean) = MLForecast(
      Seq(Models.ses(0.4), Models.croston(0.5), Models.tsb(0.3, 0.2),
        Models.seasonalNaive(3)),
      Freq.IntFreq(1), spec, fusedPredict = fused)
      .fit(p).predict(4).orderBy("unique_id", "ds").collect().toSeq
    val f = run(true)
    val s = run(false)
    assert(f.nonEmpty && f.map(_.toString) == s.map(_.toString),
      s"fused level path diverged from the driver loop:\n$f\nvs\n$s")
    // croston/tsb on the all-zero series stay null through BOTH paths
    val zRow = f.find(_.getString(0) == "z").get
    assert(zRow.isNullAt(zRow.fieldIndex("croston")))
  }

  test("SES and Croston: hand-computed levels through the full pipeline") {
    // SES alpha 0.5: labels after lag1-dropna are [2,4,8] ->
    // l = 0.5*8 + 0.5*(0.5*4 + 0.5*2) = 5.5, flat over the horizon
    val srows = Seq(1.0, 2.0, 4.0, 8.0).zipWithIndex
      .map { case (y, i) => ("s", i.toLong, y) }
    val sf = MLForecast(Seq(Models.ses(0.5)), Freq.IntFreq(1),
        FeatureSpec(lags = Seq(1)))
      .fit(PanelFrame(srows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1)))
    assert(sf.predict(2).orderBy("ds").collect()
      .map(_.getAs[Double]("ses")).toSeq == Seq(5.5, 5.5))
    // Croston 0.5: labels [3,0,0,6,0] -> sizes SES 4.5, intervals SES
    // (first=1, gap=3) -> 2.0, forecast 2.25; an all-zero series is null
    val crows = (Seq(9.0, 3.0, 0.0, 0.0, 6.0, 0.0).zipWithIndex
      .map { case (y, i) => ("c", i.toLong, y) }) ++
      (0 until 6).map(i => ("z", i.toLong, 0.0))
    val cf = MLForecast(Seq(Models.croston(0.5)), Freq.IntFreq(1),
        FeatureSpec(lags = Seq(1)))
      .fit(PanelFrame(crows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1)))
    val out = cf.predict(1).collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2))))
      .toMap
    assert(out("c") == 2.25)
    assert(out("z") == null) // no demand signal: loud null, not a fake zero
    // labels [0,0,...] note: the first row (9.0/0.0) is dropped by lag1
  }

  test("champion selection: argmin with first-listed ties, routing") {
    import graft.forecast.Losses
    // a: model m1 perfect; b: m2 perfect; c: both null -> first listed
    val cv = Seq(
      ("a", 1L, 10.0, java.lang.Double.valueOf(10.0), java.lang.Double.valueOf(12.0)),
      ("a", 2L, 11.0, java.lang.Double.valueOf(11.0), java.lang.Double.valueOf(13.0)),
      ("b", 1L, 5.0, java.lang.Double.valueOf(9.0), java.lang.Double.valueOf(5.0)),
      ("c", 1L, 1.0, null, null),
    ).toDF("unique_id", "ds", "y", "m1", "m2")
    val ch = Losses.championByLoss(cv, "unique_id", "y", Seq("m1", "m2"), "mae")
      .collect().map(r => r.getString(0) ->
        (r.getString(1), if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2))))
      .toMap
    assert(ch("a") == (("m1", 0.0)) && ch("b") == (("m2", 0.0)))
    assert(ch("c")._1 == "m1" && ch("c")._2 == null)
    // exact tie keeps the first listed model
    val tie = Seq(("t", 1L, 4.0, java.lang.Double.valueOf(5.0),
      java.lang.Double.valueOf(3.0))).toDF("unique_id", "ds", "y", "m1", "m2")
    assert(Losses.championByLoss(tie, "unique_id", "y", Seq("m1", "m2"), "mae")
      .collect().head.getString(1) == "m1") // both MAE 1.0
    // routing emits each series' champion column value
    val routed = Losses.routeChampion(cv, Losses.championByLoss(cv,
        "unique_id", "y", Seq("m1", "m2"), "mae"), "unique_id", Seq("m1", "m2"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(r.fieldIndex("champion_pred"))) null
         else java.lang.Double.valueOf(r.getAs[Double]("champion_pred")))).toMap
    assert(routed(("a", 1L)) == 10.0 && routed(("b", 1L)) == 5.0)
    assert(routed(("c", 1L)) == null) // champion m1 has a null prediction
  }

  test("page cusum monitor: hand-walked statistics and alarm") {
    import graft.operators.Stats
    // mu = 10, k = 1, h = 3: observations 10, 12, 13, 9, 16
    // s_pos: 0 -> max(0, 0+1)=1 -> 1+2=3 -> max(0, 3-2)=1 -> 1+5=6 (alarm)
    val test = Seq(10.0, 12.0, 13.0, 9.0, 16.0).zipWithIndex
      .map { case (y, i) => ("m", i.toLong, y) }.toDF("unique_id", "ds", "y")
    val ref = Seq(("m", 10.0), ("ghost", 5.0)).toDF("unique_id", "mu")
    val out = Stats.pageCusum(test, ref, "unique_id", "ds", "y", "mu",
      k = 1.0, h = 3.0).orderBy("ds").collect()
    assert(out.map(_.getAs[Double]("s_pos")).toSeq == Seq(0.0, 1.0, 3.0, 1.0, 6.0))
    assert(out.map(_.getAs[Boolean]("alarm")).toSeq ==
      Seq(false, false, false, false, true))
    assert(out.forall(_.getAs[Double]("s_neg") == 0.0))
    // only monitored series appear (ghost has no test rows; none invented)
    assert(out.length == 5)
  }

  test("rolling shape/corr: randomized parity with a brute-force recompute") {
    import graft.operators.Stats
    val rng = new scala.util.Random(11)
    val rows = for (id <- 0 until 4; t <- 0 until 25) yield
      (s"s$id", t.toLong,
        if (rng.nextInt(10) == 0) null
        else java.lang.Double.valueOf(rng.nextInt(20).toDouble))
    val df = rows.toDF("unique_id", "ds", "y")
    val p = PanelFrame(df, freq = Freq.IntFreq(1))
    val w = 6
    val byId = rows.groupBy(_._1).map { case (k, v) =>
      k -> v.sortBy(_._2).map(r => Option(r._3).map(_.doubleValue)).toArray
    }
    def brute(id: String, t: Int): Option[Double] = {
      // identical formula and fold order as the operator (ascending rows)
      val ys = byId(id)
      val lo = math.max(0, t - (w - 1))
      val win = (lo to t).flatMap(i => ys(i).map(y => (i.toDouble, y)))
      val n = win.length.toDouble
      if (n < 2) return None
      var sx = 0.0; var sy = 0.0; var sxx = 0.0; var syy = 0.0; var sxy = 0.0
      win.foreach { case (x, y) =>
        sx += x; sy += y; sxx += x * x; syy += y * y; sxy += x * y
      }
      val vx = n * sxx - sx * sx; val vy = n * syy - sy * sy
      if (vx > 0 && vy > 0) Some((n * sxy - sx * sy) / (math.sqrt(vx) * math.sqrt(vy)))
      else None
    }
    val out = Stats.rollingCorr(p, "ds", w).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    for (id <- 0 until 4; t <- 0 until 25) {
      val got = out((s"s$id", t.toLong))
      val want = brute(s"s$id", t)
      assert(got == want, s"s$id@$t: $got vs $want")
    }
  }

  test("cusum changepoints: step shift located, constant series null") {
    import graft.operators.Stats
    val rows = ((0 until 10).map(i => ("step", i.toLong, 0.0)) ++
      (10 until 20).map(i => ("step", i.toLong, 10.0))) ++
      (0 until 10).map(i => ("flat", i.toLong, 7.0))
    val out = Stats.cusumChangepoints(
      PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1)))
      .collect().map(r => r.getString(0) -> r).toMap
    val st = out("step")
    assert(st.getAs[Long]("cp_pos") == 10L) // the prefix boundary
    // stat = 50 / (sqrt(500/19) * sqrt(20)) ~= 2.18 > 1.358
    assert(math.abs(st.getAs[Double]("cusum_stat") -
      50.0 / (math.sqrt(500.0 / 19.0) * math.sqrt(20.0))) < 1e-12)
    assert(st.getAs[Boolean]("has_change"))
    val fl = out("flat")
    assert(fl.isNullAt(fl.fieldIndex("cp_pos")) &&
      fl.isNullAt(fl.fieldIndex("cusum_stat")) &&
      !fl.getAs[Boolean]("has_change"))
  }

  test("inverse-loss weights: normalization, null exclusion, strict combine") {
    import graft.forecast.Losses
    val cv = Seq(
      // a: m1 MAE 1, m2 MAE 3 -> weights 3/4, 1/4 (up to epsilon)
      ("a", 1L, 10.0, java.lang.Double.valueOf(11.0), java.lang.Double.valueOf(13.0)),
      // b: m2 null -> all weight on m1
      ("b", 1L, 5.0, java.lang.Double.valueOf(7.0), null),
      // c: both null -> null weights, null combination
      ("c", 1L, 1.0, null, null),
    ).toDF("unique_id", "ds", "y", "m1", "m2")
    val wts = Losses.inverseLossWeights(cv, "unique_id", "y", Seq("m1", "m2"), "mae")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = wts("a")
    assert(math.abs(a.getAs[Double]("w_m1") - 0.75) < 1e-8)
    assert(math.abs(a.getAs[Double]("w_m2") - 0.25) < 1e-8)
    val b = wts("b")
    assert(b.getAs[Double]("w_m1") == 1.0 && b.isNullAt(b.fieldIndex("w_m2")))
    val c = wts("c")
    assert(c.isNullAt(c.fieldIndex("w_m1")) && c.isNullAt(c.fieldIndex("w_m2")))
    val combo = Losses.combineWeighted(cv,
      Losses.inverseLossWeights(cv, "unique_id", "y", Seq("m1", "m2"), "mae"),
      "unique_id", Seq("m1", "m2")).collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(r.fieldIndex("ensemble_pred"))) null
         else java.lang.Double.valueOf(r.getAs[Double]("ensemble_pred")))).toMap
    assert(math.abs(combo("a") - (0.75 * 11.0 + 0.25 * 13.0)) < 1e-7)
    assert(combo("b") == 7.0)   // single-model ensemble = that model
    assert(combo("c") == null)  // no weighted model at all: loud null
  }

  test("TSB and intermittency classification: hand-computed values") {
    import graft.operators.Stats
    // TSB alpha=beta=0.5 on labels [3,0,0,6] (after lag1 dropna):
    // p: 1 -> .5 -> .25 -> .625; z: 3 -> 4.5; forecast .625*4.5
    val rows = Seq(9.0, 3.0, 0.0, 0.0, 6.0).zipWithIndex
      .map { case (y, i) => ("t", i.toLong, y) }
    val f = MLForecast(Seq(Models.tsb(0.5, 0.5)), Freq.IntFreq(1),
        FeatureSpec(lags = Seq(1)))
      .fit(PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1)))
    assert(f.predict(1).collect().head.getAs[Double]("tsb") == 2.8125)
    // Syntetos-Boylan quadrants
    val panel = (Seq(0.0, 5.0, 0.0, 0.0, 7.0, 0.0, 0.0, 0.0, 9.0).zipWithIndex
      .map { case (y, i) => ("i", i.toLong, y) }) ++
      (0 until 8).map(i => ("s", i.toLong, 10.0 + (i % 2))) ++
      (0 until 4).map(i => ("one", i.toLong, if (i == 2) 3.0 else 0.0))
    val st = Stats.intermittencyStats(
      PanelFrame(panel.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1)))
      .collect().map(r => r.getString(0) -> r).toMap
    val i = st("i")
    assert(i.getAs[Long]("n_demand") == 3L && i.getAs[Double]("adi") == 3.0)
    assert(math.abs(i.getAs[Double]("cv2") - 4.0 / 49.0) < 1e-12)
    assert(i.getAs[String]("demand_class") == "intermittent")
    assert(st("s").getAs[String]("demand_class") == "smooth")
    assert(st("one").isNullAt(st("one").fieldIndex("cv2")) &&
      st("one").isNullAt(st("one").fieldIndex("demand_class")))
  }

  test("adaptive conformal inference: hand-walked path with infinite bands") {
    import graft.forecast.Conformal
    val calib = Seq(("s", 1.0), ("s", 2.0), ("s", 3.0)).toDF("unique_id", "score")
    val test = Seq(("s", 1L, 10.5, 10.0), ("s", 2L, 20.0, 10.0),
      ("s", 3L, 10.5, 10.0), ("s", 4L, 10.5, 10.0))
      .toDF("unique_id", "ds", "y", "yhat")
    val out = Conformal.aciPath(calib, test, "unique_id", "ds", "y", "yhat",
      "score", alpha = 0.25, gamma = 0.1).orderBy("ds").collect()
    val alphas = out.map(_.getAs[Double]("alpha_t"))
    val qs = out.map(_.getAs[Double]("qhat"))
    val errs = out.map(_.getAs[Double]("err"))
    assert(math.abs(alphas(0) - 0.25) < 1e-12)
    assert(qs(0) == 3.0 && errs(0) == 0.0)  // k = ceil(0.75*4) = 3rd score
    assert(qs(1) == 3.0 && errs(1) == 1.0)  // |20-10| > 3: miss
    assert(math.abs(alphas(2) - 0.2) < 1e-12) // 0.275 - 0.1*(1-0.25)
    assert(qs(2).isPosInfinity && errs(2) == 0.0) // k=4 > n=3: infinite band
    assert(out(2).getAs[Double]("hi").isPosInfinity)
    assert(qs(3).isPosInfinity)
    // the update steers alpha: up after hits, down after the miss
    assert(alphas(1) > alphas(0) && alphas(2) < alphas(1) && alphas(3) > alphas(2))
  }

  test("hierarchical reconciliation: bottom-up coherence, shares, top-down") {
    import graft.operators.Reconcile
    val fc = Seq(("c1", 1, 10.0), ("c2", 1, 30.0), ("c3", 1, 5.0))
      .toDF("unique_id", "step", "yhat")
    val mapping = Seq(("c1", "P"), ("c2", "P"), ("c3", "Q"))
      .toDF("unique_id", "parent")
    val up = Reconcile.bottomUp(fc, mapping, "unique_id", "parent", "step", "yhat")
    assert(up.collect().map(r => r.getString(0) -> r.getDouble(2)).toMap ==
      Map("P" -> 40.0, "Q" -> 5.0))
    // bottom-up output is coherent with its inputs by construction
    assert(Reconcile.coherenceViolations(up, fc, mapping,
      "unique_id", "parent", "step", "yhat").count() == 0)
    // a hand-broken parent forecast is caught
    val broken = Seq(("P", 1, 41.0), ("Q", 1, 5.0)).toDF("parent", "step", "yhat")
    val viol = Reconcile.coherenceViolations(broken, fc, mapping,
      "unique_id", "parent", "step", "yhat").collect()
    assert(viol.length == 1 && viol.head.getAs[String]("parent") == "P" &&
      math.abs(viol.head.getAs[Double]("abs_gap") - 1.0) < 1e-12)
    // historical shares: ratio of sums; zero-total parent -> null share
    val hist = Seq(("c1", 1L, 2.0), ("c1", 2L, 2.0), ("c2", 1L, 6.0),
      ("c3", 1L, 0.0)).toDF("unique_id", "ds", "y")
    val shares = Reconcile.topDownShares(hist, mapping, "unique_id", "parent", "y")
    val sh = shares.collect().map(r => r.getString(0) ->
      (if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2)))).toMap
    assert(sh("c1") == 0.4 && sh("c2") == 0.6 && sh("c3") == null)
    // top-down distributes the parent forecast by share
    val down = Reconcile.topDown(up, shares, "unique_id", "parent", "step", "yhat")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2)))).toMap
    assert(math.abs(down("c1") - 16.0) < 1e-12 &&
      math.abs(down("c2") - 24.0) < 1e-12 && down("c3") == null)
    // middle-out emits all three coherent levels
    val mo = Reconcile.middleOut(up.withColumnRenamed("parent", "mid"),
      Seq(("P", "root"), ("Q", "root")).toDF("mid", "top"),
      Reconcile.topDownShares(hist,
        mapping.withColumnRenamed("parent", "mid"), "unique_id", "mid", "y"),
      "mid", "top", "unique_id", "step", "yhat")
    val byLevel = mo.collect().groupBy(_.getString(0))
    assert(byLevel("top").map(_.getDouble(3)).sum == 45.0)
    assert(byLevel("middle").map(_.getDouble(3)).sum == 45.0)
  }

  test("degenerate-input guards: constant/null/1-row series survive") {
    import graft.operators.Stats
    // constant series: scalers apply sklearn handle_zeros_in_scale (scale
    // 1.0) instead of an ANSI DIVIDE_BY_ZERO killing the whole fit
    val rows = (0 until 12).map(i => ("flat", i.toLong, 7.0)) ++
      (0 until 12).map(i => ("var", i.toLong, 1.0 * i))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    Seq(LocalStandardScaler(), LocalMinMaxScaler(),
        LocalRobustScaler("iqr"), LocalRobustScaler("mad")).foreach { sc =>
      val fitted = sc.fit(p)
      val flat = fitted.transformed.df.filter(col("unique_id") === "flat")
        .select(col("y").cast("double")).collect().map(_.getDouble(0))
      assert(flat.forall(v => !v.isNaN && !v.isInfinite), s"$sc -> $flat")
      // the inverse round-trips through the SAME stored scale
      val inv = fitted.inverse(
        fitted.transformed.df.filter(col("unique_id") === "flat")
          .select(col("unique_id"), col("ds"), col("y").as("m")),
        "unique_id", col("ds"), Seq("m"))
        .select(col("m").cast("double")).collect().map(_.getDouble(0))
      assert(inv.forall(_ == 7.0), s"$sc inverse: ${inv.toSeq}")
    }
    // null targets reach the auto-transform kernels as NaN, not a
    // NOT_NULL_ASSERT_VIOLATION that kills the fit
    val withNull = (0 until 30).map(i =>
      ("a", i.toLong, if (i == 5) null else java.lang.Double.valueOf(math.sin(i) + 2.0)))
      .toDF("unique_id", "ds", "y")
    val np = PanelFrame(withNull, freq = Freq.IntFreq(1))
    assert(AutoDifferences(1).fit(np).transformed.df.count() == 30)
    assert(LocalBoxCox().fit(np).transformed.df.count() == 30)
    // a single-observation series must not crash cusum for the panel
    val single = rows ++ Seq(("one", 0L, 5.0))
    val sp = PanelFrame(single.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val cps = Stats.cusumChangepoints(sp).collect()
    assert(cps.map(_.getString(0)).toSet == Set("flat", "var", "one"))
    // constant non-integer windows: std clamps to 0.0, never NaN
    val frac = (0 until 8).map(i => ("f", i.toLong, 0.1))
    val fp = PanelFrame(frac.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val stds = Stats.rollingShape(fp, "ds", w = 4).collect()
      .map(r => r.getAs[Any]("std_w4"))
    assert(stds.forall(v => v == null || !v.asInstanceOf[Double].isNaN),
      stds.mkString(","))
  }

  test("reconciliation guards: null children, history-less children") {
    import graft.operators.Reconcile
    // one null child forecast must not null the parent's whole sum
    val fc = Seq(("c1", 1, java.lang.Double.valueOf(10.0)),
      ("c2", 1, null.asInstanceOf[java.lang.Double]),
      ("c3", 1, java.lang.Double.valueOf(5.0)))
      .toDF("unique_id", "step", "yhat")
    val mapping = Seq(("c1", "P"), ("c2", "P"), ("c3", "Q"), ("c4", "Q"))
      .toDF("unique_id", "parent")
    def numOrNull(r: org.apache.spark.sql.Row, i: Int) =
      if (r.isNullAt(i)) null else java.lang.Double.valueOf(r.getDouble(i))
    val up = Reconcile.bottomUp(fc, mapping, "unique_id", "parent", "step", "yhat")
      .collect().map(r => r.getString(0) -> numOrNull(r, 2)).toMap
    assert(up("P") == 10.0, s"null child must be skipped like SQL SUM: $up")
    // an all-null group sums to null (SQL SUM), not 0.0
    val allNull = Seq(("c1", 1, null.asInstanceOf[java.lang.Double]))
      .toDF("unique_id", "step", "yhat")
    val un = Reconcile.bottomUp(allNull, mapping, "unique_id", "parent",
      "step", "yhat").collect()
    assert(un.length == 1 && un.head.isNullAt(2))
    // a mapped child with no training history gets share 0.0, not dropped
    val hist = Seq(("c1", 1L, 2.0), ("c2", 1L, 6.0), ("c3", 1L, 4.0))
      .toDF("unique_id", "ds", "y")
    val shares = Reconcile.topDownShares(hist, mapping, "unique_id", "parent", "y")
      .collect().map(r => r.getString(0) -> numOrNull(r, 2)).toMap
    assert(shares.size == 4 && shares("c4") == 0.0)
    assert(shares("c1") == 0.25 && shares("c2") == 0.75 && shares("c3") == 1.0)
    // topDown therefore covers the full hierarchy and stays coherent
    val pf = Seq(("P", 1, 8.0), ("Q", 1, 4.0)).toDF("parent", "step", "yhat")
    val down = Reconcile.topDown(pf,
        Reconcile.topDownShares(hist, mapping, "unique_id", "parent", "y"),
        "unique_id", "parent", "step", "yhat")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(down.keySet == Set("c1", "c2", "c3", "c4") && down("c4") == 0.0)
    assert(down("c1") + down("c2") == 8.0 && down("c3") == 4.0)
  }

  test("hampel: NaN target passes through unflagged (streaming parity)") {
    import graft.operators.Outliers
    val rows = (0 until 15).map(i =>
      ("a", i.toLong, if (i == 7) Double.NaN else 5.0))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    Seq(Outliers.hampel(p, k = 3), Outliers.hampelTrailing(p, k = 3)).foreach { df =>
      val nanRow = df.collect().find(_.getAs[Long]("ds") == 7L).get
      // Spark orders NaN above every real; the flag must still agree with
      // the streaming twin's Java comparison: unflagged, y passes through
      assert(!nanRow.getAs[Boolean]("is_outlier"))
      assert(nanRow.getAs[Double]("y_hampel").isNaN)
    }
  }

  test("transform_exog rejects colliding input column names loudly") {
    import graft.operators.TransformExog
    val df = (0 until 10).map(i => ("a", i.toLong, 1.0 * i, 2.0 * i))
      .toDF("unique_id", "ds", "x", "lag1")
    val e = intercept[IllegalArgumentException] {
      TransformExog(df, lags = Seq(1), freq = Freq.IntFreq(1))
    }
    assert(e.getMessage.contains("collide"))
    val df2 = (0 until 10).map(i => ("a", i.toLong, 1.0 * i, 2.0 * i))
      .toDF("unique_id", "ds", "x", "x_lag1")
    val e2 = intercept[IllegalArgumentException] {
      TransformExog(df2, lags = Seq(1), freq = Freq.IntFreq(1))
    }
    assert(e2.getMessage.contains("collide"))
  }

  test("rolling shape features: exact slope, zero skew on symmetry, null guards") {
    import graft.operators.Stats
    val rows = (0 until 20).map(i => ("lin", i.toLong, 2.0 * i + 3)) ++
      (0 until 20).map(i => ("alt", i.toLong, (i % 2).toDouble)) ++
      (0 until 20).map(i => ("const", i.toLong, 5.0))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val out = Stats.rollingShape(p, "ds", w = 4).orderBy("unique_id", "ds").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    // linear series: slope exactly 2 once the window has 2+ points
    assert(out(("lin", 10L)).getAs[Double]("slope_w4") == 2.0)
    assert(out(("lin", 1L)).getAs[Double]("slope_w4") == 2.0)
    // symmetric 0/1 alternation: skew exactly 0, excess kurtosis -6 (the
    // two-point distribution at w=4), mean exactly 0.5
    val alt = out(("alt", 10L))
    assert(alt.getAs[Double]("mean_w4") == 0.5)
    assert(alt.getAs[Double]("skew_w4") == 0.0)
    assert(math.abs(alt.getAs[Double]("kurt_w4") - (-6.0)) < 1e-9)
    // constant series: zero variance -> std 0, skew/kurt null, slope 0
    // (the time ordinal still varies, so the OLS fit is a flat line)
    val c = out(("const", 10L))
    assert(c.getAs[Double]("std_w4") == 0.0)
    assert(c.isNullAt(c.fieldIndex("skew_w4")) && c.isNullAt(c.fieldIndex("kurt_w4")))
    assert(c.getAs[Double]("slope_w4") == 0.0)
    // first row: single sample -> mean defined, std null
    val f = out(("lin", 0L))
    assert(f.getAs[Double]("mean_w4") == 3.0 && f.isNullAt(f.fieldIndex("std_w4")))
  }

  test("seasonal decomposition recovers trend + seasonal exactly; strengths = 1") {
    import graft.operators.Stats
    val pat = Seq(3.0, -1.0, -2.0) // sums to zero over the period
    val rows = for (i <- 0 until 12)
      yield ("a", i.toLong, 100.0 + 2.0 * i + pat(i % 3))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val d = Stats.decompose(p, period = 3).orderBy("ds").collect()
    // edges have null trend/resid (centered MA), but seasonal is known
    assert(d.head.isNullAt(3) && d.last.isNullAt(3))
    assert(d.head.isNullAt(5) && !d.head.isNullAt(4))
    for (r <- d.slice(1, 11)) {
      val t = r.getLong(1)
      assert(r.getDouble(3) == 100.0 + 2.0 * t)        // exact line
      assert(r.getDouble(4) == pat((t % 3).toInt))     // exact pattern
      assert(r.getDouble(5) == 0.0)                    // exact zero resid
    }
    val st = Stats.strengths(p, period = 3).collect().head
    assert(st.getAs[Long]("n") == 10L)
    assert(st.getAs[Double]("trend_strength") == 1.0)
    assert(st.getAs[Double]("seasonal_strength") == 1.0)
  }

  test("driver-loop predict tolerates extra columns on xDf") {
    // pooled transform forces the lockstep loop; xDf carries the target
    // column (a test-split slice) plus the exog
    val n = 20
    val rows = for (id <- Seq("a", "b"); t <- 0L until n)
      yield (id, t, (t % 5).toDouble, 1.0 * t)
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y", "x"),
      freq = Freq.IntFreq(1))
    val mlf = MLForecast(Seq(Models.naive), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(1), lagTransforms = Map(1 -> Seq(
        graft.functions.RollingMean(3,
          pooling = graft.functions.Pooling(global = true))))))
    val xDf = (for (id <- Seq("a", "b"); t <- n until n + 3)
      yield (id, t, 99.0, 1.0 * t)).toDF("unique_id", "ds", "y", "x")
    val preds = mlf.fit(p).predict(3, xDf = Some(xDf))
    assert(preds.count() == 6) // no duplicate-column AnalysisException
  }

  test("conformity scores keep horizon alignment across gapped actuals") {
    // hand-built CV frame: window cutoff=10, actual rows at steps 1 and 3
    // (step 2's actuals row is missing); freq-based steps must report 1 and
    // 3, where row_number would have compressed to 1 and 2
    val cv = Seq(
      ("a", 11L, 10L, 5.0, 4.0),
      ("a", 13L, 10L, 7.0, 3.0),
    ).toDF("unique_id", "ds", "cutoff", "y", "m")
    val scores = Conformal.conformityScores(cv, "unique_id", "ds", "y",
      Seq("m"), freq = Some(Freq.IntFreq(1)))
      .orderBy("__step").collect()
    assert(scores.map(_.getInt(1)).toSeq == Seq(1, 3))
    assert(scores.map(_.getDouble(2)).toSeq == Seq(1.0, 4.0))
  }

  test("seasonal candidates with seasonLength=1 keep the EWM transform") {
    val cands = AutoMLForecast.seasonalCandidates(
      Seq(SparkLinearRegression()), Freq.IntFreq(1), seasonLength = 1,
      h = 7, minSamples = 40, minValue = 0.0, maxCandidates = 500)
    // the combined candidate must retain EWM alongside the rolling mean at
    // lag 1 (a Map literal would have dropped one)
    assert(cands.exists(_._2.spec.lagTransforms.get(1).exists(ts =>
      ts.exists(_.isInstanceOf[graft.functions.ExponentiallyWeightedMean]) &&
        ts.exists(_.isInstanceOf[graft.functions.RollingMean]))))
  }

  test("sparse horizons predict only the trained steps") {
    val mlf = MLForecast(Seq(Models.naive), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(1)), maxHorizon = Some(4), horizons = Some(Seq(1, 3)))
    val preds = mlf.fit(seasonalPanel()).predict(4)
    val ds = preds.filter($"unique_id" === "a").orderBy("ds")
      .select("ds").collect().map(_.getLong(0)).toSeq
    assert(ds == Seq(28L, 30L)) // last ds = 27: steps 1 and 3 ahead
  }

  test("dynamic exog are model features: recursive and direct recover y = x") {
    // y(t) = x(t) with x known for the future: both modes must be exact
    val n = 25
    def x(t: Long): Double = 3.0 + (t % 6)
    val rows = for (id <- Seq("a", "b"); t <- 0 until n)
      yield (id, t.toLong, x(t), x(t))
    val df = rows.toDF("unique_id", "ds", "y", "x")
    val p = PanelFrame(df, freq = Freq.IntFreq(1))
    val future = (for (id <- Seq("a", "b"); t <- n until n + 4)
      yield (id, t.toLong, x(t))).toDF("unique_id", "ds", "x")
    for (conf <- Seq(
        MLForecast(Seq(SparkLinearRegression()), Freq.IntFreq(1), FeatureSpec(lags = Seq(1))),
        MLForecast(Seq(SparkLinearRegression()), Freq.IntFreq(1), FeatureSpec(lags = Seq(1)),
          maxHorizon = Some(4)))) {
      val preds = conf.fit(p).predict(4, Some(future))
        .filter($"unique_id" === "a").orderBy("ds").select("ds", "lr").collect()
      assert(preds.length == 4)
      preds.foreach { r =>
        assert(math.abs(r.getDouble(1) - x(r.getLong(0))) < 1e-6,
          s"ds=${r.getLong(0)} got ${r.getDouble(1)}")
      }
    }
  }

  test("predict with exog validates xDf coverage") {
    val n = 20
    val rows = for (t <- 0 until n) yield ("s", t.toLong, t.toDouble, 1.0)
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y", "x"), freq = Freq.IntFreq(1))
    val fitted = MLForecast(Seq(SparkLinearRegression()), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(1))).fit(p)
    intercept[IllegalArgumentException] { fitted.predict(2) } // no xDf at all
    val partial = Seq(("s", n.toLong, 1.0)).toDF("unique_id", "ds", "x")
    intercept[IllegalArgumentException] { fitted.predict(2, Some(partial)) } // missing step 2
  }

  test("conformal intervals bracket the prediction") {
    // noisy-ish panel: pattern + per-t deterministic jitter
    val rows = for (id <- Seq("a", "b"); t <- 0 until 42)
      yield (id, t.toLong, 50.0 + 10 * (t % 7) + (t % 5) - 2)
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val mlf = MLForecast(Seq(Models.seasonalNaive(7)), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(7)))
    val fitted = mlf.fit(p)
    val cv = fitted.crossValidation(nWindows = 3, h = 7, refit = false)
    val scores = Conformal.conformityScores(cv, "unique_id", "ds", "y", Seq("seasonal_naive7"))
    val preds = fitted.predict(7)
    val out = Conformal.addIntervals(preds, scores, "unique_id", "ds",
      Seq("seasonal_naive7"), Seq(80))
    val r = out.orderBy("unique_id", "ds").collect()
    assert(r.length == 14)
    r.foreach { row =>
      val (lo, pt, hi) = (row.getAs[Double]("seasonal_naive7-lo-80"),
        row.getAs[Double]("seasonal_naive7"), row.getAs[Double]("seasonal_naive7-hi-80"))
      assert(lo <= pt && pt <= hi, s"$lo $pt $hi")
    }
  }

  test("update then predict equals fit-on-full then predict") {
    // mirrors the reference's append test (tests/test_core.py:560)
    val full = seasonalPanel(35)
    val cut = 27L
    val oldP = full.copy(df = full.df.filter($"ds" <= cut))
    val newRows = full.df.filter($"ds" > cut)
    val mlf = MLForecast(Seq(Models.seasonalNaive(7)), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(7)), targetTransforms = Seq(Differences(Seq(1))))
    val viaUpdate = mlf.fit(oldP).update(newRows, validateNewData = true).predict(5)
      .orderBy("unique_id", "ds").collect().toSeq
    val viaFull = mlf.fit(full).predict(5)
      .orderBy("unique_id", "ds").collect().toSeq
    assert(viaUpdate == viaFull)
  }

  test("update keeps scaler stats frozen at fit values") {
    val oldRows = for (t <- 0 until 10) yield ("s", t.toLong, t.toDouble)
    val p = PanelFrame(oldRows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val mlf = MLForecast(Seq(Models.naive), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(1)), targetTransforms = Seq(LocalStandardScaler()))
    val fitted = mlf.fit(p)
    // new value far outside the fit range: must be scaled with fit-time stats
    val updated = fitted.update(Seq(("s", 10L, 1000.0)).toDF("unique_id", "ds", "y"))
    val scaled = updated.transformedPanel.df.filter($"ds" === 10L)
      .select("y").collect().head.getDouble(0)
    val mu = 4.5; val sigma = math.sqrt((0 until 10).map(v => (v - mu) * (v - mu)).sum / 10)
    assert(math.abs(scaled - (1000.0 - mu) / sigma) < 1e-9, s"got $scaled")
  }

  test("update rejects new series with target transforms, accepts without") {
    val p = seasonalPanel(14)
    val newSeries = Seq(("c", 0L, 1.0), ("c", 1L, 2.0)).toDF("unique_id", "ds", "y")
    val withTfm = MLForecast(Seq(Models.naive), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(1)), targetTransforms = Seq(Differences(Seq(1))))
    intercept[IllegalArgumentException] { withTfm.fit(p).update(newSeries) }
    val noTfm = MLForecast(Seq(Models.naive), Freq.IntFreq(1), FeatureSpec(lags = Seq(1)))
    val updated = noTfm.fit(p).update(newSeries)
    // the new series participates in predict from its own last date
    val preds = updated.predict(1).filter($"unique_id" === "c").collect()
    assert(preds.length == 1 && preds.head.getAs[Long]("ds") == 2L)
    assert(preds.head.getAs[Double]("naive") == 2.0)
  }

  test("update validation reports 3 examples per check through a plan without a limit") {
    val p = seasonalPanel(14)
    val fitted = MLForecast(Seq(Models.naive), Freq.IntFreq(1), FeatureSpec(lags = Seq(1)),
      targetTransforms = Seq(Differences(Seq(1)))).fit(p)
    val newSeries = (1 to 5).map(i => (s"n$i", 0L, 1.0)).toDF("unique_id", "ds", "y")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == "__rows")) plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val err =
      try intercept[IllegalArgumentException] { fitted.update(newSeries) }
      finally {
        org.apache.spark.sql.graft.bridge.waitForListeners(spark)
        spark.listenerManager.unregister(listener)
      }
    assert(err.getMessage.startsWith("cannot update target transforms with new series; e.g. "))
    val examples = err.getMessage.split("e\\.g\\. ", 2)(1).split("; ").toSeq
    assert(examples.size == 3 && examples.toSet.subsetOf((1 to 5).map(i => s"n$i").toSet),
      err.getMessage)
    assert(plans.size == 1, "one validation action")
    val limits = new graft.tools.PlanGuard(0L).nodes(plans.peek()).collect {
      case n: org.apache.spark.sql.execution.LocalLimitExec => n.nodeName
      case n: org.apache.spark.sql.execution.GlobalLimitExec => n.nodeName
    }
    assert(limits.isEmpty, s"validation plan holds ${limits.mkString(", ")}")
  }

  test("save then load then predict equals in-memory predict") {
    // mirrors the reference round-trip (tests/test_core.py:2107)
    val p = seasonalPanel(35)
    val mlf = MLForecast(Seq(Models.seasonalNaive(7), SparkLinearRegression()),
      Freq.IntFreq(1), FeatureSpec(lags = Seq(1, 7)),
      targetTransforms = Seq(Differences(Seq(1))))
    val fitted = mlf.fit(p)
    val inMemory = fitted.predict(5).orderBy("unique_id", "ds").collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("mlf_io").toString
    try {
      MLForecastIO.save(fitted, dir)
      val loaded = MLForecastIO.load(spark, dir)
      val reloaded = loaded.predict(5).orderBy("unique_id", "ds").collect().toSeq
      assert(reloaded == inMemory)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("SeriesMean predict lets Catalyst pick the join strategy") {
    // no forced broadcast hint: with the threshold disabled the per-series
    // means join must plan as a shuffle join (at 10^8 series a forced
    // broadcast would ship GBs to every executor)
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val p = seasonalPanel(20)
    val conf = MLForecast(Seq(Models.seriesMean), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(1)))
    val fitted = conf.fit(p)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val scored = fitted.trained.head._2.predict(
        fitted.featurized.limit(10), Seq("lag1"), "m")
      val bhj = scored.queryExecution.executedPlan.collect {
        case b: BroadcastHashJoinExec => b
      }
      assert(bhj.isEmpty, "means join must not force a broadcast")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("save/load after update keeps frozen scaler stats and data-backed models") {
    // update() freezes scaler stats at their fit values; a load that REFIT
    // the scaler over the appended panel would silently change predictions
    val full = seasonalPanel(35)
    // cut mid-season so the scaler stats genuinely move when refit on full
    val oldP = full.copy(df = full.df.filter($"ds" <= 24L))
    val newRows = full.df.filter($"ds" > 24L)
    val mlf = MLForecast(Seq(Models.seasonalNaive(7), Models.seriesMean),
      Freq.IntFreq(1), FeatureSpec(lags = Seq(7)),
      targetTransforms = Seq(LocalStandardScaler()))
    val updated = mlf.fit(oldP).update(newRows)
    val before = updated.predict(5).orderBy("unique_id", "ds").collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("mlf_io_upd").toString
    try {
      MLForecastIO.save(updated, dir) // SeriesMean: DataFrame-backed model
      val after = MLForecastIO.load(spark, dir).predict(5)
        .orderBy("unique_id", "ds").collect().toSeq
      assert(after == before)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
    // sanity: a refit over the appended panel WOULD differ (scaler stats
    // move), proving the frozen path is load-bearing
    val refit = mlf.fit(full.copy(df = oldP.df.unionByName(newRows)))
    val scaleBefore = updated.fittedTransforms.head.state.head
      .orderBy("unique_id").collect().toSeq
    val scaleRefit = refit.fittedTransforms.head.state.head
      .orderBy("unique_id").collect().toSeq
    assert(scaleBefore != scaleRefit)
  }

  test("ids-subset predict restricts output and validates membership") {
    val mlf = MLForecast(Seq(Models.seasonalNaive(7)), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(7)))
    val fitted = mlf.fit(seasonalPanel())
    val preds = fitted.predict(3, ids = Some(Seq("a")))
    assert(preds.select("unique_id").distinct().collect().map(_.getString(0)).toSeq == Seq("a"))
    assert(preds.count() == 3)
    intercept[IllegalArgumentException] { fitted.predict(3, ids = Some(Seq("a", "zzz"))) }
  }

  test("cv refit schedule: refitEvery trains on windows 0, k, 2k") {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    final case class CountingModel() extends ForecastModel {
      val name = "cnt"
      def fit(train: org.apache.spark.sql.DataFrame, featureCols: Seq[String],
              labelCol: String, weightCol: Option[String]): TrainedModel = {
        counter.incrementAndGet()
        new TrainedModel {
          def predict(df: org.apache.spark.sql.DataFrame, featureCols: Seq[String],
                      out: String): org.apache.spark.sql.DataFrame =
            df.withColumn(out, col("lag1").cast("double"))
        }
      }
    }
    val p = seasonalPanel(42)
    val mlf = MLForecast(Seq(CountingModel()), Freq.IntFreq(1), FeatureSpec(lags = Seq(1)))
    counter.set(0)
    mlf.fit(p).crossValidation(nWindows = 4, h = 3, refit = true,
      refitEvery = Some(2)).count()
    assert(counter.get() == 1 + 2, s"fit at conf.fit + windows 0,2; got ${counter.get()}")
    counter.set(0)
    mlf.fit(p).crossValidation(nWindows = 4, h = 3, refit = false).count()
    assert(counter.get() == 1 + 1, s"refit=false fits only window 0; got ${counter.get()}")
  }

  test("cv input_size trims training history without changing echo predictions") {
    val p = seasonalPanel(42)
    val mlf = MLForecast(Seq(Models.seasonalNaive(7)), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(7)))
    val base = mlf.fit(p).crossValidation(nWindows = 2, h = 7)
      .orderBy("unique_id", "ds").collect().toSeq
    val trimmed = mlf.fit(p).crossValidation(nWindows = 2, h = 7, inputSize = Some(10))
      .orderBy("unique_id", "ds").collect().toSeq
    assert(base == trimmed)
  }

  test("transform_exog computes prefixed lag features per exog column") {
    import graft.operators.TransformExog
    import graft.functions.RollingMean
    val rows = for (id <- Seq("a"); t <- 0 until 10)
      yield (id, t.toLong, t.toDouble, 100.0 * t)
    val df = rows.toDF("unique_id", "ds", "price", "volume")
    val out = TransformExog(df, lags = Seq(1),
      lagTransforms = Map(1 -> Seq(RollingMean(3))), freq = Freq.IntFreq(1))
    val cols = out.columns.toSet
    assert(cols.contains("price_lag1") && cols.contains("volume_lag1"))
    assert(cols.contains("price_rolling_mean_lag1_window_size3"))
    val r = out.filter($"ds" === 5L).select("price_lag1",
      "`volume_rolling_mean_lag1_window_size3`").collect().head
    assert(r.getDouble(0) == 4.0)
    assert(r.getDouble(1) == 100.0 * (2 + 3 + 4) / 3)
  }

  /** Bits of every forecast, ordered by (id, ds); null -> NaN. */
  private def forecastBits(df: org.apache.spark.sql.DataFrame, names: Seq[String]): Seq[Long] =
    df.orderBy("unique_id", "ds").collect().toSeq.flatMap { r =>
      names.map { n =>
        val i = r.fieldIndex(n)
        java.lang.Double.doubleToLongBits(if (r.isNullAt(i)) Double.NaN else r.getDouble(i))
      }
    }

  private def bitsDigest(b: Seq[Long]): String =
    f"${b.length}%d:${scala.util.hashing.MurmurHash3.orderedHash(b)}%08x"

  /** Three series: "c" is shorter than the largest lag minus 1. `aligned`
    * ends every series at ds 29; otherwise every series starts at ds 0.
    * `grp` pools a with c.
    */
  private def expandingPanel(aligned: Boolean): PanelFrame = {
    val grp = Map("a" -> 1.0, "b" -> 2.0, "c" -> 1.0)
    val rows = for {
      (id, n) <- Seq(("a", 30), ("b", 17), ("c", 4))
      t <- (if (aligned) 30 - n else 0) until (if (aligned) 30 else n)
    } yield (id, t.toLong, ((t * 7) % 13 + (if (id == "a") 3 else 0)).toDouble, grp(id))
    PanelFrame(rows.toDF("unique_id", "ds", "y", "grp"), freq = Freq.IntFreq(1),
      staticCols = Seq("grp"))
  }

  /** A groupby-pooled window beside local expanding/EWM transforms. */
  private def pooledExpandingSpec: FeatureSpec = {
    import graft.functions._
    FeatureSpec(
      lags = Seq(1, 3),
      lagTransforms = Map(
        1 -> Seq(RollingMean(7, pooling = Pooling(groupby = Seq("grp"))),
          ExpandingMean(), ExpandingStd(), ExponentiallyWeightedMean(0.5)),
        2 -> Seq(graft.functions.Offset(ExpandingMax(), 1)),
        4 -> Seq(ExpandingMean())))
  }

  test("expanding and EWM predict features: fused kernel == driver loop, bit for bit") {
    // mirrors the reference transform==update parity contract
    // (tests/test_lag_transforms.py:193-207): the fused kernel's running
    // expanding/EWM features must reproduce the driver loop's full-history
    // window recompute exactly
    import graft.functions._
    val p = expandingPanel(aligned = false)
    val spec = FeatureSpec(
      lags = Seq(1, 3),
      lagTransforms = Map(
        1 -> Seq(ExpandingMean(), ExpandingStd(), ExponentiallyWeightedMean(0.5),
          RollingMean(4)),
        2 -> Seq(ExpandingMin(), ExpandingMax(),
          graft.functions.Offset(ExpandingMean(), 1)),
        6 -> Seq(ExpandingMean(), ExpandingStd(), ExponentiallyWeightedMean(0.3))))
    val models = Seq(SparkLinearRegression(), Models.naive)
    val names = models.map(_.name)
    val fitted = MLForecast(models, Freq.IntFreq(1), spec).fit(p)
    assert(LocalLoop.fusesPredict(fitted.conf, fitted.transformedPanel, fitted.trained,
      Nil, None))
    val fused = forecastBits(fitted.predict(6), names)
    val driver = forecastBits(
      fitted.copy(conf = fitted.conf.copy(fusedPredict = false)).predict(6), names)
    assert(fused.length == 3 * 6 * 2 && fused == driver)

    // with a pooled window: the driver loop (fusedPredict = false)
    // featurizes the local expanding/EWM transforms itself, and the
    // lockstep kernel runs them beside the pooled table. The digest pins
    // the forecasts that running aggregates and the window recompute both
    // produced for this pipeline.
    val pooled = MLForecast(models, Freq.IntFreq(1), pooledExpandingSpec,
      staticFeatures = Seq("grp")).fit(expandingPanel(aligned = true))
    assert(LocalLoop.fusesPredict(pooled.conf, pooled.transformedPanel, pooled.trained,
      Nil, None))
    val pooledDriver = pooled.copy(conf = pooled.conf.copy(fusedPredict = false))
    assert(bitsDigest(forecastBits(pooledDriver.predict(6), names)) == "36:df20ee84")
    assert(bitsDigest(forecastBits(pooled.predict(6), names)) == "36:df20ee84")
  }

  test("pooled predict history keeps the group rows a staggered series reads") {
    // c ends at ds 3 and a at ds 29 in one group: c's first step pools a's
    // rows at ds 0..3 with its own (a: 3, 10, 4, 11; c: 0, 7, 1, 8). A
    // per-series tail of bound + 1 = 9 rows would drop a's.
    // On the gappy panel c holds the even days 0..20 and a every day
    // 0..29: c's step at ds 21 pools ds 14..20 (a: 10, 4, 11, 5, 12, 6,
    // 13; c: 7, 8, 9, 10), which lie before a's own tail, after the
    // history's cut.
    import graft.functions._
    val spec = FeatureSpec(lags = Seq(1), lagTransforms =
      Map(1 -> Seq(RollingMean(7, pooling = Pooling(groupby = Seq("grp"))))))
    val echo = FeatureEcho("echo", spec.featureNames.last)
    val gappy = {
      val p = expandingPanel(aligned = false)
      p.copy(df = p.df.filter($"unique_id" =!= "c").unionByName(
        (0 to 20 by 2).map(t => ("c", t.toLong, ((t * 7) % 13).toDouble, 1.0))
          .toDF("unique_id", "ds", "y", "grp")))
    }
    val recursive = MLForecast(Seq(echo), Freq.IntFreq(1), spec, staticFeatures = Seq("grp"))
    for ((p, expected) <- Seq(expandingPanel(aligned = false) -> 44.0 / 8, gappy -> 95.0 / 11);
         (route, conf) <- Seq("kernel" -> recursive,
           "driver loop" -> recursive.copy(fusedPredict = false),
           "direct" -> recursive.copy(maxHorizon = Some(2)))) {
      val c1 = conf.fit(p).predict(1).filter($"unique_id" === "c")
        .select("echo").collect().map(r => Option(r.get(0))).toSeq
      assert(c1 == Seq(Some(expected)), s"$route: $c1")
    }
  }

  test("driver loop windows a pooled group over the whole history of an unbounded spec") {
    // a and c share a pooled group but end on different dates: c's first
    // step (ds 4) pools a's rows at ds 0..3 with its own. Trimming each
    // series to a bounded tail would drop a's early rows.
    val spec = pooledExpandingSpec
    val models = Seq(SparkLinearRegression(), Models.naive)
    val fitted = MLForecast(models, Freq.IntFreq(1), spec, staticFeatures = Seq("grp"))
      .fit(expandingPanel(aligned = false))
    val saved = new SaveFeatures
    fitted.predict(2, callback = Some(saved)).collect()
    val pooledName = spec.nameOf(1, spec.lagTransforms(1).head)
    val c1 = saved.features(withStep = true)
      .filter($"unique_id" === "c" && $"step" === 1)
      .select(col(s"`$pooledName`")).collect().map(_.getDouble(0)).distinct.toSeq
    // a: 3, 10, 4, 11 and c: 0, 7, 1, 8
    assert(c1 == Seq(44.0 / 8))
    assert(bitsDigest(forecastBits(fitted.predict(6), models.map(_.name))) == "36:068adb20")
  }

  test("predict rejects an xDf with duplicate or missing (id, ds) rows on both routes") {
    val n = 20
    val rows = for (id <- Seq("a", "b"); t <- 0L until n)
      yield (id, t, (t % 5).toDouble, 1.0 * t)
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y", "x"), freq = Freq.IntFreq(1))
    val local = FeatureSpec(lags = Seq(1))
    val pooled = FeatureSpec(lags = Seq(1), lagTransforms = Map(1 -> Seq(
      graft.functions.RollingMean(3, pooling = graft.functions.Pooling(global = true)))))
    val future = for (id <- Seq("a", "b"); t <- n until n + 3) yield (id, t, 1.0 * t)
    val xDf = future.toDF("unique_id", "ds", "x")
    val dup = (future :+ (("a", n + 1, -1.0))).toDF("unique_id", "ds", "x")
    val short = future.filterNot(_ == (("b", n + 2, 1.0 * (n + 2)))).toDF("unique_id", "ds", "x")
    for (spec <- Seq(local, pooled)) {
      val fitted = MLForecast(Seq(Models.naive), Freq.IntFreq(1), spec).fit(p)
      assert(fitted.predict(3, xDf = Some(xDf)).count() == 6)
      val e = intercept[IllegalArgumentException](fitted.predict(3, xDf = Some(dup)))
      assert(e.getMessage.contains("duplicate (id, ds) rows") &&
        e.getMessage.contains(s"[a,${n + 1}]"), e.getMessage)
      val m = intercept[IllegalArgumentException](fitted.predict(3, xDf = Some(short)))
      assert(m.getMessage.contains("missing future rows") &&
        m.getMessage.contains(s"[b,${n + 2}]"), m.getMessage)
      // fit without exog: predict reads nothing from xDf, duplicates included
      val noExog = MLForecast(Seq(Models.naive), Freq.IntFreq(1), spec)
        .fit(p.copy(df = p.df.drop("x")))
      assert(noExog.predict(3, xDf = Some(dup)).count() == 6)
    }
  }

  test("a predict whose callback throws leaves no cached frame behind") {
    val fitted = MLForecast(Seq(Models.naive), Freq.IntFreq(1), FeatureSpec(lags = Seq(1)))
      .fit(seasonalPanel())
    val failing = new PredictCallback {
      override def beforePredict(step: Int, modelName: String,
                                 feats: org.apache.spark.sql.DataFrame) =
        if (step == 2) throw new IllegalStateException("callback failed") else feats
    }
    // localCheckpoint blocks are persistent RDDs too, released by the
    // context cleaner rather than by predict; only caches are counted
    def cached = spark.sparkContext.getPersistentRDDs
      .collect { case (id, rdd) if !rdd.isCheckpointed => id }.toSet
    val before = cached
    intercept[IllegalStateException](fitted.predict(3, callback = Some(failing)).collect())
    assert((cached -- before).isEmpty)
    fitted.predict(3, callback = Some(new SaveFeatures)).collect()
    assert((cached -- before).isEmpty)
  }

  test("losses: per-id and pooled values match hand-computed") {
    val cv = Seq(
      ("a", 10.0, 8.0), ("a", 10.0, 14.0), // mae 3, mse (4+16)/2=10
      ("b", 4.0, 5.0), ("b", 4.0, 7.0),    // mae 2, mse (1+9)/2=5
    ).toDF("unique_id", "y", "m")
    val byId = Losses.byId(cv, "unique_id", "y", Seq("m"), "mae")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(byId == Map("a" -> 3.0, "b" -> 2.0))
    val rmse = Losses.overall(cv, "unique_id", "y", Seq("m"), "rmse")
      .collect().head.getDouble(0)
    assert(math.abs(rmse - math.sqrt(7.5)) < 1e-12) // sqrt(mean(10, 5))
    val mape = Losses.overall(cv, "unique_id", "y", Seq("m"), "mape")
      .collect().head.getDouble(0)
    val expected = ((0.2 + 0.4) / 2 + (0.25 + 0.75) / 2) / 2
    assert(math.abs(mape - expected) < 1e-12)
    // long-format evaluate: one row per (id, metric), values == byId's
    val ev = Losses.evaluate(cv, "unique_id", "y", Seq("m"),
      Seq("mae", "smape")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(ev.keySet == Set("a" -> "mae", "a" -> "smape",
      "b" -> "mae", "b" -> "smape"))
    assert(ev("a" -> "mae") == 3.0 && ev("b" -> "mae") == 2.0)
    val smapeA = (2.0 / 9.0 + 4.0 / 12.0) / 2
    assert(math.abs(ev("a" -> "smape") - smapeA) < 1e-12)
  }

  test("mase: seasonal-naive scaling, zero-scale and short-history null") {
    // a: train alternates 0/7 blocks at season 7 -> every seasonal diff 7
    val trainA = (0 until 14).map(t => ("a", t.toLong, if (t < 7) 0.0 else 7.0))
    // b: constant train -> scale 0 -> null mase
    val trainB = (0 until 14).map(t => ("b", t.toLong, 5.0))
    // c: 5 rows < season+1 -> no seasonal diffs -> null mase
    val trainC = (0 until 5).map(t => ("c", t.toLong, t.toDouble))
    val train = (trainA ++ trainB ++ trainC).toDF("unique_id", "ds", "y")
    val cv = Seq(
      ("a", 14L, 10.0, 3.0), ("a", 15L, 10.0, 3.0), // mae 7 -> mase 1.0
      ("b", 14L, 5.0, 6.0),
      ("c", 5L, 4.0, 4.0),
    ).toDF("unique_id", "ds", "y", "m")
    val out = Losses.maseById(cv, train, "unique_id", "ds", "y", Seq("m"), 7)
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(out("a") == 1.0)
    assert(out("b") == null) // zero scale never divides
    assert(out("c") == null) // no seasonal diffs in training
  }

  test("evaluate facade stacks mase and rmae beside the plain metrics") {
    val train = (0 until 14).map(t => ("a", t.toLong, if (t < 7) 0.0 else 7.0))
      .toDF("unique_id", "ds", "y")
    val cv = Seq(("a", 14L, 10.0, 3.0), ("a", 15L, 10.0, 3.0))
      .toDF("unique_id", "ds", "y", "m")
    val ev = Losses.evaluate(cv, "unique_id", "y", Seq("m"),
      Seq("mae", "mase"), train = Some(train), season = 7)
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(ev("mae") == 7.0 && ev("mase") == 1.0)
    // missing context fails loudly, not with a silent global fallback
    intercept[IllegalArgumentException](
      Losses.evaluate(cv, "unique_id", "y", Seq("m"), Seq("mase")))
    intercept[IllegalArgumentException](
      Losses.evaluate(cv, "unique_id", "y", Seq("m"), Seq("rmae")))
  }

  test("rmae: model over baseline per id, zero-baseline null") {
    val cv = Seq(
      ("a", 0L, 10.0, 8.0, 6.0),  // model errs 2, baseline 4
      ("a", 1L, 10.0, 8.0, 6.0),  // -> rmae 0.5
      ("b", 0L, 5.0, 9.0, 5.0),   // baseline perfect -> mae 0 -> null
    ).toDF("unique_id", "ds", "y", "m", "base")
    val out = Losses.rmaeById(cv, "unique_id", "ds", "y", Seq("m"), "base")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(out("a") == 0.5)
    assert(out("b") == null)
  }

  test("fused per-series predict is bit-identical to the driver loop") {
    import graft.functions._
    // mixed lengths incl. one shorter than several windows; deterministic
    // values with a null target sprinkled in
    val rows = for {
      (id, n) <- Seq(("a", 40), ("b", 23), ("c", 5)); t <- 0 until n
    } yield (id, t.toLong,
      if (id == "b" && t == 10) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(((t * 11) % 17 + (if (id == "a") 2 else 0)).toDouble))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val spec = FeatureSpec(
      lags = Seq(1, 3),
      lagTransforms = Map(
        1 -> Seq(RollingMean(4), RollingStd(4), RollingMin(4), RollingMax(4),
          RollingQuantile(0.5, 5), ExpandingMean(), ExpandingStd(),
          ExponentiallyWeightedMean(0.4), ExpandingQuantile(0.25)),
        2 -> Seq(SeasonalRollingMean(7, 2), SeasonalRollingStd(7, 2),
          SeasonalRollingMin(7, 2), SeasonalRollingMax(7, 2),
          SeasonalRollingQuantile(0.5, 7, 2), ExpandingMin(), ExpandingMax(),
          graft.functions.Offset(RollingMean(3), 2),
          Combine(Lag(), RollingMean(3), "truediv"))))
    val mk = (fused: Boolean) => MLForecast(
      Seq(SparkLinearRegression(), Models.naive), Freq.IntFreq(1), spec,
      fusedPredict = fused)
    val fast = mk(true).fit(p).predict(6).orderBy("unique_id", "ds").collect().toSeq
    val slow = mk(false).fit(p).predict(6).orderBy("unique_id", "ds").collect().toSeq
    assert(fast == slow)
  }

  test("after-predict clip: driver and fused paths bit-identical, feedback clipped") {
    import graft.functions._
    // an oscillating series makes raw step predictions alternate in sign on
    // the diffed scale, so a clip at 0 binds and steps 3+ must read the
    // CLIPPED feedback (lag2 echoes appended step predictions)
    val rows = for ((id, amp) <- Seq(("a", 5.0), ("b", 3.0)); t <- 0 until 24)
      yield (id, t.toLong, (if (t % 2 == 0) amp else -amp) + t * 0.0 + 10.0)
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val spec = FeatureSpec(lags = Seq(2))
    val mk = (fused: Boolean) => MLForecast(
      Seq(Models.seasonalNaive(2)), Freq.IntFreq(1), spec,
      targetTransforms = Seq(graft.forecast.Differences(Seq(1))),
      fusedPredict = fused)
    val cb = () => Some(new graft.forecast.ClipPredictions(lo = 0.0): graft.forecast.PredictCallback)
    val fast = mk(true).fit(p).predict(6, callback = cb())
      .orderBy("unique_id", "ds").collect().toSeq
    val slow = mk(false).fit(p).predict(6, callback = cb())
      .orderBy("unique_id", "ds").collect().toSeq
    assert(fast == slow)
    // the clamp must change the recursion (unclipped diffs go negative)
    val un = mk(true).fit(p).predict(6).orderBy("unique_id", "ds").collect().toSeq
    assert(fast != un)
    // clipped-diff feedback means predictions are monotone non-decreasing
    // per series on the ORIGINAL scale (cumsum of non-negative increments)
    val byId = fast.groupBy(_.getString(0))
    byId.values.foreach { rs =>
      val ys = rs.sortBy(_.getLong(1)).map(_.getDouble(2))
      ys.sliding(2).foreach { case Seq(a, b) => assert(b >= a) ; case _ => () }
    }
  }

  test("cross validation threads predict callbacks (reference cv hooks)") {
    // a no-op clip routed through the driver windows must equal the
    // kernel CV bit-for-bit; a binding clip must change the predictions
    val rows = for ((id, amp) <- Seq(("a", 5.0), ("b", 3.0)); t <- 0 until 30)
      yield (id, t.toLong, (if (t % 2 == 0) amp else -amp) + 10.0)
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val conf = MLForecast(
      Seq(Models.seasonalNaive(2)), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(2)),
      targetTransforms = Seq(graft.forecast.Differences(Seq(1))))
    val f = conf.fit(p)
    val plain = f.crossValidation(2, 4).orderBy("unique_id", "cutoff", "ds")
      .collect().toSeq
    val noop = f.crossValidation(2, 4,
        callback = Some(new graft.forecast.ClipPredictions(lo = -1e18)))
      .orderBy("unique_id", "cutoff", "ds").collect().toSeq
    assert(noop == plain)
    val clipped = f.crossValidation(2, 4,
        callback = Some(new graft.forecast.ClipPredictions(lo = 0.0)))
      .orderBy("unique_id", "cutoff", "ds").collect().toSeq
    assert(clipped != plain)
    // clipped-diff feedback: per (id, cutoff) the clamped predictions are
    // monotone non-decreasing on the original scale
    clipped.groupBy(r => (r.getString(0), r.getLong(2))).values.foreach { rs =>
      val ys = rs.sortBy(_.getLong(1)).map(_.getDouble(4))
      ys.sliding(2).foreach { case Seq(a, b) => assert(b >= a); case _ => () }
    }
  }

  test("fused predict matches driver loop with date features, statics and exog") {
    import graft.functions._
    val start = java.time.LocalDate.of(2024, 11, 20)
    val rows = for ((id, st) <- Seq(("a", 5.0), ("b", 9.0)); t <- 0 until 30)
      yield (id, java.sql.Date.valueOf(start.plusDays(t)),
        (t % 9).toDouble + st, st, (t % 4).toDouble)
    val df = rows.toDF("unique_id", "ds", "y", "size", "promo")
    val p = PanelFrame(df, freq = Freq.Day, staticCols = Seq("size"))
    val xRows = for ((id, _) <- Seq(("a", 0), ("b", 0)); t <- 30 until 40)
      yield (id, java.sql.Date.valueOf(start.plusDays(t)), (t % 4).toDouble)
    val xDf = xRows.toDF("unique_id", "ds", "promo")
    val spec = FeatureSpec(
      lags = Seq(1, 7),
      lagTransforms = Map(1 -> Seq(RollingMean(7), ExpandingMean())),
      dateFeatures = Seq("dayofweek", "month", "year", "day", "week",
        "quarter", "dayofyear", "is_month_start", "is_month_end"))
    val mk = (fused: Boolean) => MLForecast(
      Seq(SparkLinearRegression(), Models.naive), Freq.Day, spec,
      staticFeatures = Seq("size"), fusedPredict = fused)
    val fast = mk(true).fit(p).predict(8, Some(xDf))
      .orderBy("unique_id", "ds").collect().toSeq
    val slow = mk(false).fit(p).predict(8, Some(xDf))
      .orderBy("unique_id", "ds").collect().toSeq
    assert(fast == slow)
  }

  test("fused == driver loop on randomized panels and specs (property sweep)") {
    import graft.functions._
    val rnd = new scala.util.Random(20260812L)
    val pool: Seq[Int => Seq[LagTransform]] = Seq(
      _ => Seq(RollingMean(1 + rnd.nextInt(6))),
      _ => Seq(RollingStd(2 + rnd.nextInt(5)), RollingMin(3), RollingMax(4)),
      _ => Seq(RollingQuantile(rnd.nextDouble(), 2 + rnd.nextInt(4))),
      _ => Seq(SeasonalRollingMean(2 + rnd.nextInt(5), 1 + rnd.nextInt(3)),
        SeasonalRollingQuantile(0.5, 3, 2)),
      _ => Seq(ExpandingMean(), ExpandingStd(), ExpandingQuantile(0.75)),
      _ => Seq(ExponentiallyWeightedMean(0.1 + 0.8 * rnd.nextDouble())),
      _ => Seq(graft.functions.Offset(ExpandingMax(), 1 + rnd.nextInt(3)),
        Combine(Lag(), RollingMean(2), "sub")),
    )
    for (round <- 1 to 6) {
      val nSeries = 2 + rnd.nextInt(3)
      val rows = for {
        s <- 0 until nSeries
        n = 1 + rnd.nextInt(35)
        t <- 0 until n
      } yield (s"s$s", t.toLong,
        if (rnd.nextInt(12) == 0) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf((rnd.nextInt(200) - 100).toDouble))
      val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
      val lagKeys = (1 to (1 + rnd.nextInt(3))).map(_ => 1 + rnd.nextInt(5)).distinct
      val spec = FeatureSpec(
        lags = Seq(1) ++ Seq.fill(rnd.nextInt(2))(2 + rnd.nextInt(6)).distinct,
        lagTransforms = lagKeys.map(l => l -> pool(rnd.nextInt(pool.size))(l)).toMap)
      val h = 1 + rnd.nextInt(5)
      val mk = (fused: Boolean) => MLForecast(
        Seq(Models.naive), Freq.IntFreq(1), spec, fusedPredict = fused)
      val fast = mk(true).fit(p).predict(h).orderBy("unique_id", "ds").collect().toSeq
      val slow = mk(false).fit(p).predict(h).orderBy("unique_id", "ds").collect().toSeq
      assert(fast == slow, s"round $round diverged: spec=$spec h=$h")
    }
  }

  test("fused predict matches driver loop on hourly timestamps") {
    import graft.functions._
    val base = java.sql.Timestamp.valueOf("2025-03-01 00:00:00")
    val rows = for (id <- Seq("a", "b"); t <- 0 until 30)
      yield (id, new java.sql.Timestamp(base.getTime + t * 3600L * 1000),
        ((t * 5) % 11).toDouble)
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.Hour)
    val spec = FeatureSpec(lags = Seq(1, 3),
      lagTransforms = Map(1 -> Seq(RollingMean(4), ExpandingMean())))
    val mk = (fused: Boolean) => MLForecast(
      Seq(SparkLinearRegression(), Models.naive), Freq.Hour, spec, fusedPredict = fused)
    val fast = mk(true).fit(p).predict(5).orderBy("unique_id", "ds").collect().toSeq
    val slow = mk(false).fit(p).predict(5).orderBy("unique_id", "ds").collect().toSeq
    assert(fast == slow)
    // timestamps advanced hourly from the last observation
    assert(fast.head.getTimestamp(1).getTime == base.getTime + 30L * 3600 * 1000)
  }

  test("fused predict matches driver loop on month-start frequency with clamping") {
    import graft.functions._
    // series ends 2024-12-31: add_months clamps month ends (Jan 31 -> Feb 29
    // in a leap year) and the local LocalDate.plusMonths must clamp the same
    val start = java.time.LocalDate.of(2024, 1, 31)
    val rows = for (id <- Seq("a"); t <- 0 until 12)
      yield (id, java.sql.Date.valueOf(start.plusMonths(t)), (t * 3 % 7).toDouble)
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.Month)
    val spec = FeatureSpec(lags = Seq(1), lagTransforms = Map(1 -> Seq(RollingMean(3))))
    val mk = (fused: Boolean) => MLForecast(
      Seq(Models.naive), Freq.Month, spec, fusedPredict = fused)
    val fast = mk(true).fit(p).predict(4).orderBy("ds").collect().toSeq
    val slow = mk(false).fit(p).predict(4).orderBy("ds").collect().toSeq
    assert(fast == slow)
    // last obs 2024-12-31 -> steps clamp at month ends like add_months
    assert(fast.map(_.getDate(1).toString) ==
      Seq("2025-01-31", "2025-02-28", "2025-03-31", "2025-04-30"))
  }

  test("fused predict matches driver loop through target transforms") {
    val p = seasonalPanel(35)
    val mk = (fused: Boolean) => MLForecast(
      Seq(Models.seasonalNaive(7)), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(1, 7)),
      targetTransforms = Seq(Differences(Seq(1)), LocalStandardScaler()),
      fusedPredict = fused)
    val fast = mk(true).fit(p).predict(7).orderBy("unique_id", "ds").collect().toSeq
    val slow = mk(false).fit(p).predict(7).orderBy("unique_id", "ds").collect().toSeq
    assert(fast == slow)
  }

  test("fused CV is bit-identical to the driver CV loop (gaps, nulls, overlap)") {
    import graft.functions._
    // gappy + null-bearing panel: series b has holes near its end, so window
    // origins shift off the nominal cutoffs and some steps have no actuals
    val rows = for {
      (id, n) <- Seq(("a", 40), ("b", 34), ("c", 12)); t <- 0 until n
      if !(id == "b" && (t == 25 || t == 28))
    } yield (id, t.toLong,
      if (id == "a" && t == 17) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(((t * 7) % 13).toDouble + (if (id == "c") 3 else 0)))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val spec = FeatureSpec(
      lags = Seq(1, 5),
      lagTransforms = Map(
        1 -> Seq(RollingMean(4), ExpandingMean(), ExponentiallyWeightedMean(0.35)),
        3 -> Seq(SeasonalRollingMean(5, 2))))
    val mk = (fused: Boolean) => MLForecast(
      Seq(Models.naive, Models.seasonalNaive(5)), Freq.IntFreq(1), spec,
      fusedPredict = fused)
    // stepSize < h: overlapping windows; refit=true is a no-op for echoes
    val fastDf = mk(true).fit(p).crossValidation(nWindows = 3, h = 5, stepSize = Some(2))
    val slowDf = mk(false).fit(p).crossValidation(nWindows = 3, h = 5, stepSize = Some(2))
    // the fused path produces ONE fused plan, the driver path a per-window union
    import org.apache.spark.sql.catalyst.plans.logical.Union
    assert(fastDf.queryExecution.logical.collectFirst { case u: Union => u }.isEmpty)
    assert(slowDf.queryExecution.logical.collectFirst { case u: Union => u }.nonEmpty)
    assert(fastDf.columns.toSeq == slowDf.columns.toSeq)
    val fast = fastDf.orderBy("unique_id", "ds", "cutoff").collect().toSeq
    val slow = slowDf.orderBy("unique_id", "ds", "cutoff").collect().toSeq
    assert(fast.nonEmpty && fast == slow)
  }

  test("fused CV == driver CV on randomized panels and window configs") {
    import graft.functions._
    val rnd = new scala.util.Random(20260813L)
    val pool: Seq[Seq[LagTransform]] = Seq(
      Seq(RollingMean(3)),
      Seq(RollingStd(4), RollingMax(2)),
      Seq(ExpandingMean(), ExponentiallyWeightedMean(0.5)),
      Seq(SeasonalRollingMean(3, 2)),
      Seq(RollingQuantile(0.3, 4), ExpandingQuantile(0.75)),
    )
    for (round <- 1 to 4) {
      val rows = for {
        s <- 0 until (2 + rnd.nextInt(3))
        n = 6 + rnd.nextInt(30)
        t <- 0 until n
        if rnd.nextInt(15) != 0 // occasional holes
      } yield (s"s$s", t.toLong,
        if (rnd.nextInt(12) == 0) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf((rnd.nextInt(200) - 100).toDouble))
      val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
      val spec = FeatureSpec(
        lags = Seq(1),
        lagTransforms = Map((1 + rnd.nextInt(3)) -> pool(rnd.nextInt(pool.size))))
      val h = 1 + rnd.nextInt(4)
      val nW = 1 + rnd.nextInt(3)
      val step = 1 + rnd.nextInt(3)
      val mk = (fused: Boolean) => MLForecast(
        Seq(Models.naive, Models.seriesMean), Freq.IntFreq(1), spec,
        fusedPredict = fused)
      val inSz = if (rnd.nextBoolean()) Some(5 + rnd.nextInt(20)) else None
      val fast = mk(true).fit(p).crossValidation(nW, h, stepSize = Some(step),
          inputSize = inSz)
        .orderBy("unique_id", "ds", "cutoff").collect().toSeq
      val slow = mk(false).fit(p).crossValidation(nW, h, stepSize = Some(step),
          inputSize = inSz)
        .orderBy("unique_id", "ds", "cutoff").collect().toSeq
      assert(fast == slow, s"round $round diverged: spec=$spec h=$h nW=$nW step=$step")
    }
  }

  test("business-day and anchored-week frequencies") {
    assert(Freq.parse("B") == Freq.BusinessDayFreq(1))
    assert(Freq.parse("2B") == Freq.BusinessDayFreq(2))
    assert(Freq.parse("W-MON") == Freq.WeekFreq(1, Some(0)))
    assert(Freq.parse("W-SUN") == Freq.WeekFreq(1, Some(6)))
    assert(Freq.parse("W") == Freq.WeekFreq(1))
    assert(Freq.parse("MS") == Freq.MonthFreq(1))
    assert(Freq.parse("QS") == Freq.MonthFreq(3))
    assert(Freq.parse("YS") == Freq.MonthFreq(12))
    // pandas END-of-period aliases are month ENDS, not clamped add_months
    assert(Freq.parse("M") == Freq.MonthEndFreq(1))
    assert(Freq.parse("ME") == Freq.MonthEndFreq(1))
    assert(Freq.parse("2Q") == Freq.MonthEndFreq(6))
    assert(Freq.parse("Y") == Freq.MonthEndFreq(12))
    // only the exact lowercase "ms" (or "L") is milliseconds; "MS" is month
    // start and the mixed casings are rejected loudly (a one-char case typo
    // must not silently swap a ~2.6e9x timescale)
    assert(Freq.parse("ms") == Freq.MilliFreq(1))
    intercept[IllegalArgumentException](Freq.parse("Ms"))
    intercept[IllegalArgumentException](Freq.parse("mS"))
    assert(Freq.parse("250ms") == Freq.MilliFreq(250))
    assert(Freq.parse("L") == Freq.MilliFreq(1))
    intercept[IllegalArgumentException](Freq.parse("W-XYZ"))

    // month-end advance re-snaps after the add_months clamp:
    // Jan 31 + 2M = Mar 31 (a clamped chain would give Mar 29 via Feb 29)
    val jan31 = Seq(java.sql.Date.valueOf("2020-01-31")).toDF("d")
    val me = Freq.MonthEndFreq(1)
    val adv = jan31.select(
        me.advance(col("d"), lit(1)).as("m1"),
        me.advance(col("d"), lit(2)).as("m2"),
        me.periodsBetween(lit(java.sql.Date.valueOf("2020-03-31")), col("d")).as("p"))
      .collect().head
    assert(adv.getDate(0).toString == "2020-02-29")
    assert(adv.getDate(1).toString == "2020-03-31")
    assert(adv.getLong(2) == 2L)

    // a calendar freq over a TIMESTAMP axis is rejected loudly at panel
    // construction (date_add would silently truncate and wipe fillGaps)
    val tsPanel = Seq(("a", java.sql.Timestamp.valueOf("2020-01-01 09:00:00"), 1.0))
      .toDF("unique_id", "ds", "y")
    val e = intercept[IllegalArgumentException] {
      PanelFrame(tsPanel, freq = Freq.Day)
    }
    assert(e.getMessage.contains("time axis"))

    // advance hops weekends in both directions; periodsBetween inverts it
    val fri = java.sql.Date.valueOf("2024-08-09")
    val df = Seq(Tuple1(fri)).toDF("d")
    val b = Freq.BusinessDayFreq(1)
    val res = df.select(
      b.advance(col("d"), lit(1)).as("a1"),
      b.advance(col("d"), lit(-5)).as("am5"),
      b.advance(col("d"), lit(7)).as("a7")).collect()(0)
    assert(res.getDate(0).toString == "2024-08-12") // Monday
    assert(res.getDate(1).toString == "2024-08-02") // previous Friday
    assert(res.getDate(2).toString == "2024-08-20") // Friday +7B = Tuesday
    val pb = df.select(
      b.periodsBetween(lit(java.sql.Date.valueOf("2024-08-20")), col("d")).as("p"))
      .collect()(0).getDouble(0)
    assert(pb == 7.0)

    // day-of-week grid checks
    import graft.core.Validation
    val gp = PanelFrame(
      Seq(("x", java.sql.Date.valueOf("2024-08-10"), 1.0), // Saturday
        ("x", java.sql.Date.valueOf("2024-08-12"), 2.0)).toDF("unique_id", "ds", "y"),
      freq = Freq.BusinessDayFreq(1))
    assert(Validation.gridViolations(gp).count() == 1)
    val wp = PanelFrame(
      Seq(("x", java.sql.Date.valueOf("2024-08-12"), 1.0)).toDF("unique_id", "ds", "y"),
      freq = Freq.WeekFreq(1, Some(2))) // Wednesday anchor, Monday row
    assert(Validation.gridViolations(wp).count() == 1)
  }

  test("recursive multi-step fitted values: rollout semantics") {
    import graft.functions._
    val rows = for ((id, base) <- Seq(("a", 0.0), ("b", 50.0)); t <- 0 until 20)
      yield (id, t.toLong,
        if (id == "a" && t == 9) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(base + ((t * 3) % 7).toDouble))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val conf = MLForecast(
      Seq(Models.naive), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(1), lagTransforms = Map(1 -> Seq(RollingMean(2)))),
      validate = false)
    val f = conf.fit(p)
    // h=1 rollout emits exactly the one-step fitted rows (origins are the
    // rows preceding each dropna-surviving row; no row survives at ord 0)
    val one = f.fittedValues(1).select("unique_id", "ds", "y", "naive")
      .orderBy("unique_id", "ds").collect().toSeq
    val rollout1 = LocalLoop.runFittedRollout(p, conf, f.trained, Nil, 1)
      .orderBy("unique_id", "ds").collect().toSeq
    assert(rollout1.nonEmpty && rollout1 == one)
    // h=2 naive: prediction at origin o rolled 2 steps is still y(o); rows
    // whose first forecast step failed dropna (null y at ord 9 voids the
    // surviving row at 9 AND the rolling window at 10/11) are absent
    val r2 = f.fittedValues(2).select("unique_id", "ds", "naive", "h")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    assert(r2(("b", 5L)) == (((5 - 2) * 3 % 7).toDouble + 50.0, 2L))
    assert(!r2.contains(("a", 10L)) && !r2.contains(("a", 11L)) && !r2.contains(("a", 12L)))
    assert(r2.contains(("a", 13L)))
  }

  test("fused CV refits per-series models in-kernel (refit schedules, inputSize)") {
    import graft.functions._
    // same gappy/null panel as the bit-identical CV test: origins shift off
    // nominal cutoffs, some windows lose training rows to dropna
    val rows = for {
      (id, n) <- Seq(("a", 40), ("b", 34), ("c", 12)); t <- 0 until n
      if !(id == "b" && (t == 25 || t == 28))
    } yield (id, t.toLong,
      if (id == "a" && t == 17) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(((t * 7) % 13).toDouble + (if (id == "c") 3 else 0)))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val spec = FeatureSpec(lags = Seq(1), lagTransforms = Map(1 -> Seq(RollingMean(4))))
    val mk = (fused: Boolean) => MLForecast(
      Seq(Models.seriesMean, Models.naive), Freq.IntFreq(1), spec,
      fusedPredict = fused)
    val cases = Seq(
      (3, 4, true, None, None),        // refit every window
      (3, 4, true, Some(2), None),     // refitEvery=2: window 1 frozen
      (2, 3, false, None, None),       // frozen after window 0
      (2, 3, true, None, Some(14)),    // inputSize caps train AND visibility
      (3, 2, true, Some(2), Some(10))) // schedule × cap
    import org.apache.spark.sql.catalyst.plans.logical.Union
    for ((nW, h, refit, every, inSz) <- cases) {
      val fast = mk(true).fit(p).crossValidation(nW, h, refit = refit,
        refitEvery = every, inputSize = inSz)
      assert(fast.queryExecution.logical.collectFirst { case u: Union => u }.isEmpty,
        s"not fused: refit=$refit every=$every inputSize=$inSz")
      val slow = mk(false).fit(p).crossValidation(nW, h, refit = refit,
        refitEvery = every, inputSize = inSz)
      val f = fast.orderBy("unique_id", "ds", "cutoff").collect().toSeq
      val s = slow.orderBy("unique_id", "ds", "cutoff").collect().toSeq
      assert(f.nonEmpty && f == s, s"diverged: refit=$refit every=$every inputSize=$inSz")
    }
    // the label-fold models (SES/Croston/TSB) refit in-kernel through the
    // same localFitter contract; bounded history makes them fusible
    val mkFold = (fused: Boolean) => MLForecast(
      Seq(Models.ses(0.5), Models.croston(0.5), Models.tsb(0.5, 0.5)),
      Freq.IntFreq(1), spec, fusedPredict = fused)
    val ffold = mkFold(true).fit(p).crossValidation(3, 4, refit = true,
      inputSize = Some(14))
    assert(ffold.queryExecution.logical.collectFirst { case u: Union => u }.isEmpty,
      "fold models did not fuse under inputSize")
    val sfold = mkFold(false).fit(p).crossValidation(3, 4, refit = true,
      inputSize = Some(14))
    val ff = ffold.orderBy("unique_id", "ds", "cutoff").collect().toSeq
    val sf = sfold.orderBy("unique_id", "ds", "cutoff").collect().toSeq
    assert(ff.nonEmpty && ff == sf, "SES/Croston/TSB fused CV diverged from driver")
  }

  test("fused CV in-kernel refit sees dropna through dates, statics and exog") {
    import graft.functions._
    val start = java.time.LocalDate.of(2024, 11, 20)
    val rows = for ((id, st) <- Seq(("a", 5.0), ("b", 9.0)); t <- 0 until 32)
      yield (id, java.sql.Date.valueOf(start.plusDays(t)),
        if (id == "b" && t == 20) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf((t % 9).toDouble + st),
        st,
        if (t == 11) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf((t % 4).toDouble))
    val df = rows.toDF("unique_id", "ds", "y", "size", "promo")
    val p = PanelFrame(df, freq = Freq.Day, staticCols = Seq("size"))
    val spec = FeatureSpec(
      lags = Seq(1, 7),
      lagTransforms = Map(1 -> Seq(RollingMean(7))),
      dateFeatures = Seq("dayofweek", "month", "day"))
    val mk = (fused: Boolean) => MLForecast(
      Seq(Models.seriesMean, Models.naive), Freq.Day, spec,
      staticFeatures = Seq("size"), fusedPredict = fused)
    val fast = mk(true).fit(p).crossValidation(nWindows = 2, h = 4, inputSize = Some(20))
      .orderBy("unique_id", "ds", "cutoff").collect().toSeq
    val slow = mk(false).fit(p).crossValidation(nWindows = 2, h = 4, inputSize = Some(20))
      .orderBy("unique_id", "ds", "cutoff").collect().toSeq
    assert(fast.nonEmpty && fast == slow)
  }

  test("fused CV matches driver loop with LR refit=false, dates, statics, exog") {
    import graft.functions._
    val start = java.time.LocalDate.of(2024, 11, 20)
    val rows = for ((id, st) <- Seq(("a", 5.0), ("b", 9.0)); t <- 0 until 32)
      yield (id, java.sql.Date.valueOf(start.plusDays(t)),
        (t % 9).toDouble + st, st, (t % 4).toDouble)
    val df = rows.toDF("unique_id", "ds", "y", "size", "promo")
    val p = PanelFrame(df, freq = Freq.Day, staticCols = Seq("size"))
    val spec = FeatureSpec(
      lags = Seq(1, 7),
      lagTransforms = Map(1 -> Seq(RollingMean(7), ExpandingMean())),
      dateFeatures = Seq("dayofweek", "month", "day"))
    // ONE fit, two evaluation paths: fitting LR twice would compare two
    // treeAggregate runs whose combine order (and thus 1e-16 coefficient
    // bits) can wobble under concurrent suite load — the contract under
    // test is PATH parity for the same trained models
    val fitted = MLForecast(
      Seq(SparkLinearRegression(), Models.naive), Freq.Day, spec,
      staticFeatures = Seq("size"), fusedPredict = true).fit(p)
    val fast = fitted.crossValidation(nWindows = 2, h = 4, refit = false)
      .orderBy("unique_id", "ds", "cutoff").collect().toSeq
    val slow = fitted.copy(conf = fitted.conf.copy(fusedPredict = false))
      .crossValidation(nWindows = 2, h = 4, refit = false)
      .orderBy("unique_id", "ds", "cutoff").collect().toSeq
    assert(fast.nonEmpty && fast == slow)
  }

  test("weighted overall loss masks weights of null per-id metrics") {
    // series a: y = 0 everywhere -> per-id mape is null; its weight must not
    // land in the pooled denominator
    val cv = Seq(
      ("a", 0.0, 5.0, 2.0),
      ("b", 10.0, 5.0, 3.0),
    ).toDF("unique_id", "y", "m", "w")
    val v = Losses.overall(cv, "unique_id", "y", Seq("m"), "mape",
      weightCol = Some("w")).collect().head.getDouble(0)
    assert(v == 0.5) // b's mape alone, not 1.5/5
  }

  test("save features callback captures every step's inputs") {
    val mlf = MLForecast(Seq(Models.seasonalNaive(7)), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(7)))
    val cb = new SaveFeatures
    mlf.fit(seasonalPanel()).predict(3, callback = Some(cb)).count()
    val f = cb.features(withStep = true)
    assert(f.select("step").distinct().count() == 3)
    assert(f.filter($"step" === 1).count() == 2) // one row per series
    assert(f.columns.contains("lag7"))
  }

  test("custom date features flow through fit and predict") {
    val mlf = MLForecast(Seq(SparkLinearRegression()), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(1),
        customDateFeatures = Seq("ds_mod3" -> (ds => (ds % 3).cast("double")))))
    val p = seasonalPanel(21)
    val fitted = mlf.fit(p)
    assert(fitted.featurized.columns.contains("ds_mod3"))
    assert(fitted.predict(2).count() == 4)
  }

  test("predictWithIntervals adds bracketing bounds") {
    val rows = for (id <- Seq("a", "b"); t <- 0 until 42)
      yield (id, t.toLong, 50.0 + 10 * (t % 7) + (t % 5) - 2)
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val mlf = MLForecast(Seq(Models.seasonalNaive(7)), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(7)))
    val out = mlf.fit(p).predictWithIntervals(5, Seq(90), nWindows = 3)
    out.collect().foreach { r =>
      assert(r.getAs[Double]("seasonal_naive7-lo-90") <= r.getAs[Double]("seasonal_naive7"))
      assert(r.getAs[Double]("seasonal_naive7") <= r.getAs[Double]("seasonal_naive7-hi-90"))
    }
  }

  test("seasonal candidate grid mirrors the reference feature space") {
    val cands = AutoMLForecast.seasonalCandidates(
      Seq(Models.seasonalNaive(7)), Freq.IntFreq(1), seasonLength = 7,
      h = 14, minSamples = 40, minValue = 0.0, maxCandidates = 200)
    // 7 targ (incl. log1p + seasonal-diff variants) x 7 lag sets x 4 lag-tfm
    // sets, minus the no-feature combos (lags empty AND no transforms)
    assert(cands.size == 7 * 7 * 4 - 7)
    val specs = cands.map(_._2)
    assert(specs.exists(_.targetTransforms.exists(_.isInstanceOf[Differences])))
    assert(specs.exists(c => c.spec.lags == Seq(7, 14)))
    assert(specs.exists(c => c.spec.lags == (7 to 14 by 7)))
    assert(specs.forall(_.spec.dateFeatures.isEmpty)) // int freq: no dates
    // diagonal-first ordering: the first few candidates differ in every axis
    // (LR accepts whatever features a candidate generates, unlike the echoes)
    val first6 = AutoMLForecast.seasonalCandidates(
      Seq(SparkLinearRegression()), Freq.IntFreq(1), 7, 14, 40, 0.0,
      maxCandidates = 6)
    assert(first6.map(_._2.spec.lags).distinct.size > 1)
    assert(first6.map(_._2.targetTransforms).distinct.size > 1)
    // the grid is runnable end-to-end
    val small = AutoMLForecast(first6.take(3), h = 7, nWindows = 2)
      .fit(seasonalPanel(42))
    assert(first6.exists(_._1 == small.bestConfig))
  }

  test("successive halving prunes on the cheap rung and agrees with grid") {
    val p = seasonalPanel(42)
    val cands = Seq(
      "weekly" -> MLForecast(Seq(Models.seasonalNaive(7)), Freq.IntFreq(1),
        FeatureSpec(lags = Seq(7))),
      "naive" -> MLForecast(Seq(Models.naive), Freq.IntFreq(1),
        FeatureSpec(lags = Seq(1))),
      "mean" -> MLForecast(Seq(Models.seriesMean), Freq.IntFreq(1),
        FeatureSpec(lags = Seq(1))))
    val halved = AutoMLForecast(cands, h = 7, nWindows = 3, metric = "mae",
      search = SuccessiveHalving(eta = 2, minWindows = 1)).fit(p)
    val grid = AutoMLForecast(cands, h = 7, nWindows = 3, metric = "mae").fit(p)
    // the exact seasonal fit dominates at every budget
    assert(halved.bestConfig == "weekly" && grid.bestConfig == "weekly")
    assert(halved.losses.find(_._1 == "weekly").get._3 == 0.0)
    // all three candidates still appear in the report (eliminated configs
    // keep the loss of the rung that cut them)
    assert(halved.losses.map(_._1) == Seq("weekly", "naive", "mean"))
    // rung structure: one of naive/mean was cut at rung 0 (its reported
    // loss is its 1-window score) and the other at rung 1 (2-window score)
    def soloLoss(name: String, w: Int): Double =
      AutoMLForecast(cands.filter(_._1 == name), h = 7, nWindows = w,
        metric = "mae").fit(p).losses.head._3
    val repN = halved.losses.find(_._1 == "naive").get._3
    val repM = halved.losses.find(_._1 == "mean").get._3
    assert((repN == soloLoss("naive", 1) && repM == soloLoss("mean", 2)) ||
      (repM == soloLoss("mean", 1) && repN == soloLoss("naive", 2)),
      s"unexpected rung losses: naive=$repN mean=$repM")
    // determinism: same pool, same winner on re-run
    val again = AutoMLForecast(cands, h = 7, nWindows = 3, metric = "mae",
      search = SuccessiveHalving(eta = 2, minWindows = 1)).fit(p)
    assert(again.losses == halved.losses && again.bestConfig == halved.bestConfig)
  }

  test("tpe proposals are deterministic and concentrate on the optimum") {
    // pure driver-side math: minimize (x-3)^2 + 2*[cat != 1] on a toy space
    val space = Seq(UniformDim("x", 0.0, 10.0), ChoiceDim("cat", 3))
    def f(p: Map[String, Double]): Double =
      (p("x") - 3.0) * (p("x") - 3.0) + (if (p("cat").round.toInt == 1) 0.0 else 2.0)
    def run(seed: Long): Seq[(Map[String, Double], Double)] = {
      val rng = new scala.util.Random(seed)
      val hist = scala.collection.mutable.ArrayBuffer.empty[(Map[String, Double], Double)]
      for (t <- 1 to 40) {
        val p = if (t <= 8) space.map(d => d.name -> Tpe.sampleUniform(d, rng)).toMap
                else Tpe.propose(space, hist.toSeq, rng)
        hist += ((p, f(p)))
      }
      hist.toSeq
    }
    val h1 = run(7L)
    assert(run(7L) == h1, "same seed must replay the identical search")
    assert(h1.map(_._2).min < 0.5, s"best loss ${h1.map(_._2).min}")
    // the adaptive tail concentrates near the optimum vs the uniform head
    val tail = h1.drop(20)
    assert(tail.count(t => math.abs(t._1("x") - 3.0) < 1.5) > tail.size / 2,
      tail.map(_._1("x")).mkString(", "))
    assert(tail.count(_._1("cat").round.toInt == 1) > tail.size / 2)
    // log/int dims stay inside their ranges under heavy proposing
    val space2 = Seq(LogUniformDim("lr", 1e-4, 1.0), IntDim("k", 2, 9))
    val rng2 = new scala.util.Random(3L)
    val hist2 = scala.collection.mutable.ArrayBuffer.empty[(Map[String, Double], Double)]
    for (t <- 1 to 25) {
      val p = if (t <= 5) space2.map(d => d.name -> Tpe.sampleUniform(d, rng2)).toMap
              else Tpe.propose(space2, hist2.toSeq, rng2)
      assert(p("lr") >= 1e-4 && p("lr") <= 1.0 && p("k") >= 2 && p("k") <= 9
        && p("k") == p("k").floor, p.toString)
      hist2 += ((p, math.abs(math.log(p("lr")) - math.log(0.01)) + math.abs(p("k") - 4)))
    }
    // uniform expectation for this loss is ~4.3; adaptive search beats it
    assert(hist2.map(_._2).min < 3.0, hist2.map(_._2).min.toString)
  }

  test("tpe search over forecast configs finds the seasonal fit") {
    val p = seasonalPanel(42)
    val space = Seq(ChoiceDim("model", 2))
    def build(params: Map[String, Double]): MLForecast =
      if (params("model").round.toInt == 0)
        MLForecast(Seq(Models.seasonalNaive(7)), Freq.IntFreq(1),
          FeatureSpec(lags = Seq(7)))
      else
        MLForecast(Seq(Models.naive), Freq.IntFreq(1), FeatureSpec(lags = Seq(1)))
    val tpe = TpeMLForecast(space, build, h = 7, nTrials = 5, nStartup = 2,
      nWindows = 2, metric = "mae", seed = 11L)
    val r = tpe.fit(p)
    assert(r.bestConfig.contains("model=0"), r.bestConfig)
    assert(r.losses.size == 5)
    assert(r.losses.map(_._3).min == 0.0) // exact weekly fit
    assert(r.predict(3).count() == 6)
    // determinism end-to-end
    val r2 = TpeMLForecast(space, build, h = 7, nTrials = 5, nStartup = 2,
      nWindows = 2, metric = "mae", seed = 11L).fit(p)
    assert(r2.losses == r.losses && r2.bestConfig == r.bestConfig)
  }

  test("auto forecast grid honors a custom loss over the CV frame") {
    val p = seasonalPanel(42)
    // custom loss: max absolute error (not in the built-in metric set)
    val maxAbs = (cv: org.apache.spark.sql.DataFrame, names: Seq[String]) =>
      names.map { m =>
        m -> cv.select(max(abs($"y" - col(s"`$m`"))).cast("double"))
          .collect().head.getDouble(0)
      }
    val auto = AutoMLForecast(
      candidates = Seq(
        "weekly" -> MLForecast(Seq(Models.seasonalNaive(7)), Freq.IntFreq(1),
          FeatureSpec(lags = Seq(7))),
        "naive" -> MLForecast(Seq(Models.naive), Freq.IntFreq(1),
          FeatureSpec(lags = Seq(1)))),
      h = 7, nWindows = 2, customLoss = Some(maxAbs))
    val r = auto.fit(p)
    assert(r.bestConfig == "weekly") // exact seasonal fit => zero max error
    assert(r.losses.find(_._1 == "weekly").get._3 == 0.0)
  }

  test("auto forecast grid picks the config that matches the seasonality") {
    val p = seasonalPanel(42)
    val auto = AutoMLForecast(
      candidates = Seq(
        "weekly" -> MLForecast(Seq(Models.seasonalNaive(7)), Freq.IntFreq(1),
          FeatureSpec(lags = Seq(7))),
        "naive" -> MLForecast(Seq(Models.naive), Freq.IntFreq(1),
          FeatureSpec(lags = Seq(1)))),
      h = 7, nWindows = 2, metric = "mae")
    val result = auto.fit(p)
    assert(result.bestConfig == "weekly") // exact weekly pattern -> zero error
    assert(result.losses.find(_._1 == "weekly").get._3 == 0.0)
    assert(result.predict(3).count() == 6)
  }

  test("auto forecast survives degenerate candidates with null losses") {
    // all-zero targets make mape null per-id and null pooled: candidates
    // must score +inf, not crash the grid search
    val rows = for (id <- Seq("a", "b"); t <- 0 until 30) yield (id, t.toLong, 0.0)
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val auto = AutoMLForecast(
      candidates = Seq(
        "n1" -> MLForecast(Seq(Models.naive), Freq.IntFreq(1), FeatureSpec(lags = Seq(1))),
        "n2" -> MLForecast(Seq(Models.naive), Freq.IntFreq(1), FeatureSpec(lags = Seq(1, 2)))),
      h = 3, nWindows = 2, metric = "mape")
    val result = auto.fit(p)
    assert(result.losses.forall(_._3.isPosInfinity))
    assert(result.predict(2).count() == 4)
  }

  test("custom namer rewrites feature names through featurize, echo and predict") {
    import graft.functions._
    val rows = for (t <- 0 until 20) yield ("s", t.toLong, (t % 6).toDouble)
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val spec = FeatureSpec(
      lags = Seq(1),
      lagTransforms = Map(1 -> Seq(RollingMean(3), ExpandingMean())),
      namer = Some((l, t) => t match {
        case _: RollingMean   => s"rm$l"
        case _: ExpandingMean => s"em$l"
        case other            => other.name(l)
      }))
    assert(spec.featureNames == Seq("lag1", "rm1", "em1"))
    val feats = graft.operators.Featurizer.addFeatures(p, spec)
    assert(Seq("rm1", "em1").forall(feats.columns.contains))
    // an echo on the renamed feature predicts through the fused loop
    val preds = MLForecast(Seq(FeatureEcho("m", "rm1")), Freq.IntFreq(1), spec)
      .fit(p).predict(2).orderBy("ds").collect()
    // rm1 at step 1 = mean(y[17..19] at lag 1 window) = mean(5, 0, 1)
    assert(preds(0).getAs[Double]("m") == (5.0 + 0 + 1) / 3)
  }

  test("user-defined lag transform flows through featurize and predict") {
    import graft.functions._
    import org.apache.spark.sql.Column
    // a transform the library doesn't ship: rolling sum
    case class RollingSum(windowSize: Int) extends LagTransform {
      def pooling: Pooling = Pooling()
      def name(lag: Int): String = s"rolling_sum_lag${lag}_w$windowSize"
      def stages(v: Column, lag: Int, w: WindowCtx, out: String) = {
        val f = w.range(-(lag.toLong + windowSize - 1), -lag.toLong)
        (Nil, sum(v).over(f))
      }
      def updateSamples(lag: Int): Option[Int] = Some(lag + windowSize)
    }
    val rows = for (t <- 0 until 20) yield ("s", t.toLong, (t % 5).toDouble)
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val spec = FeatureSpec(lags = Seq(1), lagTransforms = Map(1 -> Seq(RollingSum(3))))
    val feats = graft.operators.Featurizer.addFeatures(p, spec)
    val r = feats.filter($"ds" === 10L).select("rolling_sum_lag1_w3").collect().head
    assert(r.getDouble(0) == (7 % 5 + 8 % 5 + 9 % 5).toDouble)
    // recursive predict must fall back to the driver loop (LocalLoop cannot
    // compile the custom class) and still produce h rows
    val preds = MLForecast(Seq(Models.naive), Freq.IntFreq(1), spec).fit(p).predict(3)
    assert(preds.count() == 3)
  }

  test("lightgbm-style CV: staged truncation equals per-round boosting, early stop fires") {
    // y is hash noise — no lag carries signal, so the held-out metric
    // plateaus immediately and the no-improvement rule must stop the walk
    // before numIterations
    val rows = for (id <- Seq("a", "b"); t <- 0 until 60)
      yield (id, t.toLong, (((t + (if (id == "a") 0 else 7)) * 2654435761L) % 97).toDouble)
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val cv = LightGBMCV(Freq.IntFreq(1), FeatureSpec(lags = Seq(1, 2, 3)),
      maxDepth = 3, metric = "mae")
    val res = cv.fit(p, nWindows = 2, h = 4, numIterations = 40, evalEvery = 5,
      earlyStoppingEvals = 2, earlyStoppingPct = 0.05)
    assert(res.history.nonEmpty)
    assert(res.history.map(_._1) == res.history.map(_._1).sorted)
    assert(res.bestIteration >= 5 && res.bestIteration <= 40)
    assert(res.earlyStopped, s"flat metric should early-stop; hist=${res.history}")
    assert(res.history.size < 8) // stopped before walking all 8 evals
    // the final refit predicts for every series
    assert(res.predict(3).count() == 6)
  }

  test("truncating a GBT to all its trees reproduces the full model") {
    val rows = for (id <- Seq("s"); t <- 0 until 50)
      yield (id, t.toLong, ((t * 7) % 23).toDouble)
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val conf = MLForecast(Seq(SparkGBT(maxIter = 12, maxDepth = 3)),
      Freq.IntFreq(1), FeatureSpec(lags = Seq(1, 2)))
    val f1 = conf.fit(p).predict(5).orderBy("ds").collect().toSeq
    // LightGBMCV with numIterations=12, evalEvery=12: one eval using the
    // 12-tree truncation — its refit at bestIteration=12 is the same model
    val res = LightGBMCV(Freq.IntFreq(1), FeatureSpec(lags = Seq(1, 2)), maxDepth = 3)
      .fit(p, nWindows = 2, h = 3, numIterations = 12, evalEvery = 12)
    assert(res.bestIteration == 12)
    val f2 = res.predict(5).withColumnRenamed("gbt", "gbt0")
      .orderBy("ds").collect().toSeq
    assert(f1.map(_.getAs[Double]("gbt")) == f2.map(_.getAs[Double]("gbt0")))
  }

  test("sample weights: weight 3 equals training-row triplication for LR") {
    val rows = for (t <- 1 until 12) yield ("s", t.toLong, t * 7.0 + (t % 3))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val feats = graft.operators.Featurizer
      .addFeatures(p, graft.operators.FeatureSpec(lags = Seq(1)))
      .filter($"lag1".isNotNull)
    val weighted = feats.withColumn("w",
      when($"ds" <= 6L, lit(3.0)).otherwise(lit(1.0)))
    val mW = SparkLinearRegression().fit(weighted, Seq("lag1"), "y", Some("w"))
    val dup = feats.filter($"ds" <= 6L).union(feats.filter($"ds" <= 6L)).union(feats)
    val mD = SparkLinearRegression().fit(dup, Seq("lag1"), "y", None)
    val probe = feats.filter($"ds" === 11L)
    val a = mW.predict(probe, Seq("lag1"), "p").select("p").collect().head.getDouble(0)
    val b = mD.predict(probe, Seq("lag1"), "p").select("p").collect().head.getDouble(0)
    assert(math.abs(a - b) <= math.abs(a) * 1e-6, s"weighted $a vs duplicated $b")
  }

  test("synthetic generator: deterministic, dense, and pipeline-ready") {
    import graft.sources.Panels
    val a = Panels.syntheticDailySeries(spark, 8, minLength = 30, maxLength = 60, seed = 7L)
    val b = Panels.syntheticDailySeries(spark, 8, minLength = 30, maxLength = 60, seed = 7L)
    assert(a.collect().toSet == b.collect().toSet) // reproducible
    val lens = a.groupBy("unique_id").count().collect().map(_.getLong(1))
    assert(lens.length == 8 && lens.forall(l => l >= 30 && l < 60))
    val p = PanelFrame(a, freq = Freq.Day)
    assert(graft.core.Validation.continuityViolations(p).count() == 0) // dense daily
    val preds = MLForecast(Seq(Models.naive), Freq.Day, FeatureSpec(lags = Seq(1)))
      .fit(p).predict(2)
    assert(preds.count() == 16)
  }

  test("price catalog: per-series spans cover train + horizon, equal ends enforced") {
    import graft.sources.Panels
    // equal ends, ragged starts
    val rows = Seq(("a", "2024-01-01"), ("a", "2024-01-02"), ("a", "2024-01-03"),
      ("b", "2024-01-02"), ("b", "2024-01-03"))
      .toDF("unique_id", "__d").select($"unique_id", to_date($"__d").as("ds"))
    val prices = Panels.syntheticPricesForSeries(rows, horizon = 2, seed = 1L)
    assert(prices.columns.toSeq == Seq("ds", "unique_id", "price"))
    val byId = prices.groupBy("unique_id")
      .agg(count(lit(1)).as("n"), min("ds").as("lo"), max("ds").as("hi"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(byId("a").getAs[Long]("n") == 5) // 3 train days + 2 horizon
    assert(byId("b").getAs[Long]("n") == 4)
    assert(byId("a").getAs[java.sql.Date]("lo").toString == "2024-01-01")
    assert(byId("a").getAs[java.sql.Date]("hi").toString == "2024-01-05")
    val ps = prices.select("price").collect().map(_.getDouble(0))
    assert(ps.forall(v => v >= 0.0 && v < 1.0))
    // deterministic under repartition
    val again = Panels.syntheticPricesForSeries(rows.repartition(5), horizon = 2,
      seed = 1L)
    assert(prices.collect().toSet == again.collect().toSet)
    // unequal ends reject, like the reference
    val ragged = Seq(("a", "2024-01-03"), ("b", "2024-01-04"))
      .toDF("unique_id", "__d").select($"unique_id", to_date($"__d").as("ds"))
    intercept[IllegalArgumentException] {
      Panels.syntheticPricesForSeries(ragged)
    }
  }

  test("update with pooled transforms requires complete timestamps") {
    val p = seasonalPanel(14)
    val mlf = MLForecast(Seq(Models.naive), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(1),
        lagTransforms = Map(1 -> Seq(graft.functions.RollingMean(3,
          pooling = graft.functions.Pooling(global = true))))))
    val fitted = mlf.fit(p)
    // only series "a" present at ds=14 -> incomplete timestamp
    val partial = Seq(("a", 14L, 1.0)).toDF("unique_id", "ds", "y")
    intercept[IllegalArgumentException] { fitted.update(partial) }
    val complete = Seq(("a", 14L, 1.0), ("b", 14L, 2.0)).toDF("unique_id", "ds", "y")
    assert(fitted.update(complete).rawPanel.df.count() == 30)
  }

  test("fitted values: diff + echo reproduce the training target exactly") {
    // y = trend + period-3 pattern; after Differences(3) the series is
    // constant, so the echo's in-sample prediction inverts to y exactly —
    // and the y column itself must invert back to the original target.
    val rows = for (id <- Seq("a", "b"); t <- 0 until 30)
      yield (id, t.toLong, 5.0 * t + Array(1.0, 2, 4)(t % 3) + (if (id == "a") 0 else 50))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val mlf = MLForecast(Seq(Models.seasonalNaive(3)), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(3)), targetTransforms = Seq(Differences(Seq(3))))
    val fv = mlf.fit(p).fittedValues()
    // train frame: rows with diff (t>=3) and lag3-of-diff (t>=6) present
    assert(fv.count() == 2 * (30 - 6))
    val got = fv.collect()
    got.foreach { r =>
      val id = r.getString(r.fieldIndex("unique_id"))
      val t = r.getLong(r.fieldIndex("ds"))
      val expected = 5.0 * t + Array(1.0, 2, 4)((t % 3).toInt) + (if (id == "a") 0 else 50)
      assert(math.abs(r.getDouble(r.fieldIndex("y")) - expected) < 1e-9,
        s"y at ($id,$t)")
      assert(math.abs(r.getDouble(r.fieldIndex("seasonal_naive3")) - expected) < 1e-9,
        s"pred at ($id,$t)")
      assert(r.getLong(r.fieldIndex("h")) == 1L)
    }
  }

  test("fitted values: scaler inverse and in-sample interval levels") {
    // period-4 series through a standard scaler: echo lag4 is exact, so the
    // residuals are all zero and every interval collapses onto the prediction;
    // naive (lag1) has nonzero residuals and must produce lo <= pred <= hi.
    val rows = for (t <- 0 until 24) yield ("s", t.toLong, 100.0 + (t % 4))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val mlf = MLForecast(Seq(Models.seasonalNaive(4), Models.naive), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(1, 4)), targetTransforms = Seq(LocalStandardScaler()))
    val fv = mlf.fit(p).fittedValues(levels = Seq(80))
    val cols = fv.columns.toSet
    for (c <- Seq("seasonal_naive4-lo-80", "seasonal_naive4-hi-80", "naive-lo-80", "naive-hi-80"))
      assert(cols.contains(c), s"missing $c")
    fv.collect().foreach { r =>
      val t = r.getLong(r.fieldIndex("ds"))
      val expected = 100.0 + (t % 4)
      assert(math.abs(r.getDouble(r.fieldIndex("seasonal_naive4")) - expected) < 1e-9)
      // exact model: interval degenerates to the prediction
      assert(math.abs(r.getDouble(r.fieldIndex("seasonal_naive4-lo-80")) - expected) < 1e-9)
      assert(math.abs(r.getDouble(r.fieldIndex("seasonal_naive4-hi-80")) - expected) < 1e-9)
      val nv = r.getDouble(r.fieldIndex("naive"))
      assert(r.getDouble(r.fieldIndex("naive-lo-80")) <= nv + 1e-9)
      assert(r.getDouble(r.fieldIndex("naive-hi-80")) >= nv - 1e-9)
    }
  }

  test("fitted values: direct mode aligns ds to the predicted observation") {
    val rows = for (t <- 0 until 20) yield ("s", t.toLong, (t * t).toDouble)
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val mlf = MLForecast(Seq(FeatureEcho("echo4", "lag4")), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(4)), maxHorizon = Some(2))
    val fitted = mlf.fit(p)
    val fv2 = fitted.fittedValues(h = 2)
    // origin t (t >= 4 for lag4) targets t+1; last origin is 18 (lead exists)
    assert(fv2.count() == (18 - 4 + 1))
    fv2.collect().foreach { r =>
      val ds = r.getLong(r.fieldIndex("ds")) // target timestamp = origin + 1
      assert(r.getLong(r.fieldIndex("h")) == 2L)
      assert(math.abs(r.getDouble(r.fieldIndex("y")) - ds * ds) < 1e-9)
      // echo of lag4 at the origin ds-1: y(ds-1-4)
      val exp = (ds - 5.0) * (ds - 5.0)
      assert(math.abs(r.getDouble(r.fieldIndex("echo4")) - exp) < 1e-9, s"ds=$ds")
    }
    intercept[IllegalArgumentException] { fitted.fittedValues(h = 3) }
  }

  test("fitted values: auto-differences delta join inverts the target column") {
    // strong trend forces n_diffs=1; the in-sample inverse must reproduce y
    val rows = for (t <- 0 until 40) yield ("s", t.toLong, 10.0 * t + (t % 2))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val mlf = MLForecast(Seq(Models.naive), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(1)), targetTransforms = Seq(AutoDifferences(2)))
    val fv = mlf.fit(p).fittedValues()
    fv.collect().foreach { r =>
      val t = r.getLong(r.fieldIndex("ds"))
      assert(math.abs(r.getDouble(r.fieldIndex("y")) - (10.0 * t + t % 2)) < 1e-9, s"t=$t")
    }
  }
}
