package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Freq, PanelFrame}
import graft.functions._
import graft.operators.{FeatureSpec, Featurizer}

class LagTransformsSpec extends SparkSpec {
  import spark.implicits._

  // Two series on an integer time axis, gap-free.
  // a: y = 1..8 at ds 0..7;  b: y = 10,20,30,40 at ds 0..3
  def panel: PanelFrame = {
    val rows = (0 until 8).map(i => ("a", i.toLong, (i + 1).toDouble)) ++
      (0 until 4).map(i => ("b", i.toLong, (i + 1) * 10.0))
    PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
  }

  def colOf(df: DataFrame, id: String, name: String): Seq[Option[Double]] =
    df.filter($"unique_id" === id).orderBy("ds")
      .select(col(s"`$name`").cast("double")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq

  test("plain lag") {
    val out = Featurizer.addFeatures(panel, FeatureSpec(lags = Seq(1, 2)))
    assertSeqAlmost(colOf(out, "a", "lag1"),
      Seq(None, Some(1), Some(2), Some(3), Some(4), Some(5), Some(6), Some(7)))
    assertSeqAlmost(colOf(out, "b", "lag2"), Seq(None, None, Some(10), Some(20)))
  }

  test("rolling mean with min_samples") {
    val spec = FeatureSpec(lagTransforms = Map(
      1 -> Seq(RollingMean(3), RollingMean(3, minSamples = Some(1)))))
    val out = Featurizer.addFeatures(panel, spec)
    // window = ds-3..ds-1, full window required
    assertSeqAlmost(colOf(out, "a", "rolling_mean_lag1_window_size3"),
      Seq(None, None, None, Some(2), Some(3), Some(4), Some(5), Some(6)))
    assertSeqAlmost(colOf(out, "a", "rolling_mean_lag1_window_size3_min_samples1"),
      Seq(None, Some(1), Some(1.5), Some(2), Some(3), Some(4), Some(5), Some(6)))
  }

  test("rolling std matches sample std") {
    val spec = FeatureSpec(lagTransforms = Map(1 -> Seq(RollingStd(3))))
    val out = Featurizer.addFeatures(panel, spec)
    // values 1,2,3 -> std 1
    assertSeqAlmost(colOf(out, "a", "rolling_std_lag1_window_size3"),
      Seq(None, None, None, Some(1), Some(1), Some(1), Some(1), Some(1)))
  }

  test("rolling min/max/quantile") {
    val spec = FeatureSpec(lagTransforms = Map(
      2 -> Seq(RollingMin(2), RollingMax(2), RollingQuantile(0.5, 2))))
    val out = Featurizer.addFeatures(panel, spec)
    assertSeqAlmost(colOf(out, "a", "rolling_min_lag2_window_size2"),
      Seq(None, None, None, Some(1), Some(2), Some(3), Some(4), Some(5)))
    assertSeqAlmost(colOf(out, "a", "rolling_max_lag2_window_size2"),
      Seq(None, None, None, Some(2), Some(3), Some(4), Some(5), Some(6)))
    assertSeqAlmost(colOf(out, "a", "rolling_quantile_lag2_p0.5_window_size2"),
      Seq(None, None, None, Some(1.5), Some(2.5), Some(3.5), Some(4.5), Some(5.5)))
  }

  test("expanding mean/std/min/max") {
    val spec = FeatureSpec(lagTransforms = Map(1 -> Seq(
      ExpandingMean(), ExpandingStd(), ExpandingMin(), ExpandingMax())))
    val out = Featurizer.addFeatures(panel, spec)
    assertSeqAlmost(colOf(out, "a", "expanding_mean_lag1"),
      Seq(None, Some(1), Some(1.5), Some(2), Some(2.5), Some(3), Some(3.5), Some(4)))
    assertSeqAlmost(colOf(out, "b", "expanding_max_lag1"),
      Seq(None, Some(10), Some(20), Some(30)))
    // expanding std of 1,2 = sqrt(0.5)
    assert(math.abs(colOf(out, "a", "expanding_std_lag1")(2).get - math.sqrt(0.5)) < 1e-12)
    assert(colOf(out, "a", "expanding_std_lag1")(1).isEmpty) // single obs -> null
  }

  test("seasonal rolling mean") {
    // season 2, window 2 at lag 1: values at ds-1 and ds-3
    val spec = FeatureSpec(lagTransforms = Map(
      1 -> Seq(SeasonalRollingMean(2, 2, minSamples = Some(1)))))
    val out = Featurizer.addFeatures(panel, spec)
    val name = "seasonal_rolling_mean_lag1_season_length2_window_size2_min_samples1"
    // a: ds=0 -> none; ds=1 -> y(0)=1; ds=2 -> y(1)=2; ds=3 -> (y(2)+y(0))/2 = 2
    assertSeqAlmost(colOf(out, "a", name).take(4),
      Seq(None, Some(1), Some(2), Some(2)))
  }

  test("ewm matches recursive definition") {
    val spec = FeatureSpec(lagTransforms = Map(
      1 -> Seq(ExponentiallyWeightedMean(0.5))))
    val out = Featurizer.addFeatures(panel, spec)
    // e(1)=1; e(2)=.5*2+.5*1=1.5; e(3)=.5*3+.5*1.5=2.25 ...
    assertSeqAlmost(colOf(out, "a", "exponentially_weighted_mean_lag1_alpha0.5").take(5),
      Seq(None, Some(1), Some(1.5), Some(2.25), Some(3.125)))
  }

  test("offset and combine") {
    val spec = FeatureSpec(lagTransforms = Map(1 -> Seq(
      Offset(RollingMean(2), 1),
      Combine(Lag(), Offset(Lag(), 1), "truediv"))))
    val out = Featurizer.addFeatures(panel, spec)
    // Offset(RollingMean(2),1) at lag1 == RollingMean(2) at lag2
    assertSeqAlmost(colOf(out, "a", "rolling_mean_lag2_window_size2"),
      Seq(None, None, None, Some(1.5), Some(2.5), Some(3.5), Some(4.5), Some(5.5)))
    // lag1/lag2
    assertSeqAlmost(colOf(out, "a", "lag1_truediv_lag2").take(4),
      Seq(None, None, Some(2.0), Some(1.5)))
  }

  test("global pooled rolling mean aggregates across series") {
    val spec = FeatureSpec(lagTransforms = Map(
      1 -> Seq(RollingMean(2, minSamples = Some(1), pooling = Pooling(global = true)))))
    val out = Featurizer.addFeatures(panel, spec)
    val name = "global_rolling_mean_lag1_window_size2_min_samples1"
    // global bucket rows at ds-1, ds-2 across both series:
    // ds=1: rows at ds0 = {1,10} -> 5.5 ; ds=2: ds0..1 = {1,10,2,20} -> 8.25
    assertSeqAlmost(colOf(out, "a", name).take(3), Seq(None, Some(5.5), Some(8.25)))
    assertSeqAlmost(colOf(out, "b", name).take(3), Seq(None, Some(5.5), Some(8.25)))
  }

  test("identity collapse: groupby=[id] pooled features bit-equal the comps path (r14)") {
    // The r14 identity-collapse route (buckets == [idCol]) windows raw rows
    // instead of building the per-(bucket, ordinal) component relation —
    // this pins bit-identity against the comps shape, taken through the
    // same buckets keyed by (id, constant static k), on a float-valued
    // panel across mean/std/min/max and expanding stats, so the
    // accumulation-order argument is tested, not assumed.
    val rows = for {
      (id, off) <- Seq("a" -> 0.0, "b" -> 9.5)
      t <- 0 until 25
    } yield (id, t.toLong, math.sin(t * 0.83) * 3.7 + off)
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y").withColumn("k", lit(1)),
      freq = Freq.IntFreq(1), staticCols = Seq("k"))
    def spec(groupby: Seq[String]) = FeatureSpec(lagTransforms = Map(1 -> Seq(
      RollingMean(4, pooling = Pooling(groupby = groupby)),
      RollingStd(4, pooling = Pooling(groupby = groupby)),
      RollingMin(4, pooling = Pooling(groupby = groupby)),
      RollingMax(4, pooling = Pooling(groupby = groupby)),
      ExpandingMean(pooling = Pooling(groupby = groupby)))))
    // feature names carry the bucket columns: compare by position
    def features(groupby: Seq[String]): DataFrame = {
      val sp = spec(groupby)
      Featurizer.addFeatures(p, sp).select((Seq(col("unique_id"), col("ds"), col("y")) ++
        sp.featureNames.zipWithIndex.map { case (n, i) => col(s"`$n`").as(s"f$i") }): _*)
    }
    val fast = features(Seq("unique_id"))
    val slow = features(Seq("unique_id", "k"))
    assert(fast.filter(col("f0").isNotNull).count() > 0, "no pooled values to compare")
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty,
      "identity-collapse route diverged from the comps path")
  }

  test("groupby pooled with time_agg=sum") {
    // give each series a group: a,b in same group g1
    val rows = (0 until 4).map(i => ("a", i.toLong, 1.0, "g1")) ++
      (0 until 4).map(i => ("b", i.toLong, 2.0, "g1"))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y", "grp"),
      freq = Freq.IntFreq(1), staticCols = Seq("grp"))
    val spec = FeatureSpec(lagTransforms = Map(1 -> Seq(
      RollingMean(2, minSamples = Some(1),
        pooling = Pooling(groupby = Seq("grp"), timeAgg = Some("sum"))))))
    val out = Featurizer.addFeatures(p, spec)
    val name = "groupby_grp_rolling_mean_lag1_window_size2_min_samples1_time_aggsum"
    // per-ts sums = 3.0 at every ds; rolling mean of sums = 3.0
    assertSeqAlmost(colOf(out, "a", name).take(3), Seq(None, Some(3), Some(3)))
  }

  test("local partition mode leaves holes (parent calendar)") {
    // one series, partition col present only on some timestamps
    val rows = Seq(
      ("a", 0L, 1.0, "x"), ("a", 1L, 2.0, "y"), ("a", 2L, 3.0, "x"),
      ("a", 3L, 4.0, "x"), ("a", 4L, 5.0, "y"))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y", "part"), freq = Freq.IntFreq(1))
    val spec = FeatureSpec(lagTransforms = Map(1 -> Seq(
      RollingMean(2, pooling = Pooling(partitionBy = Seq("part"))))))
    val out = Featurizer.addFeatures(p, spec)
    val name = "partby_part_rolling_mean_lag1_window_size2"
    // bucket (a,x) rows at ds 0,2,3 over parent calendar 0..4; window = {ds-1, ds-2}
    // ds=0: {} -> null(min_samples=1 default but empty) ; ds=2: {ds1? not x, ds0=1} -> 1
    // ds=3: {ds2=3, ds1 not x} -> 3 ... wait window at ds=3 is ds1,ds2 -> {3} -> 3
    val got = out.filter($"part" === "x").orderBy("ds").select(col(name)).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    assertSeqAlmost(got, Seq(None, Some(1.0), Some(3.0)))
  }

  test("global rolling quantile uses blocked evaluation and matches brute force") {
    // 2 series x 40 timestamps: global window pools across series per
    // timestamp ordinal; block size forces multiple ordinal blocks only at
    // larger data, but correctness of the overlap must hold regardless
    val rows = for (id <- Seq("a", "b"); t <- 0L until 40L)
      yield (id, t, ((t * 13 + (if (id == "a") 0 else 5)) % 17).toDouble)
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val tf = RollingQuantile(0.5, 4, pooling = Pooling(global = true))
    val out = Featurizer.addFeatures(p, FeatureSpec(lagTransforms = Map(1 -> Seq(tf))))
      .select($"unique_id", $"ds", col(s"`${tf.name(1)}`").as("q"))
      .collect().map(r => (r.getString(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
    // brute force: values at ordinals [t-4, t-1] across BOTH series
    val byOrd = rows.groupBy(_._2).view.mapValues(_.map(_._3)).toMap
    def expected(t: Long): Option[Double] = {
      val vals = (math.max(0L, t - 4) to t - 1).flatMap(o => byOrd.getOrElse(o, Nil)).sorted
      if (vals.length < 4) None
      else {
        val pos = 0.5 * (vals.length - 1)
        val (lo, hi) = (pos.toInt, math.ceil(pos).toInt)
        Some(vals(lo) * (1 - (pos - lo)) + vals(hi) * (pos - lo))
      }
    }
    out.foreach { case (id, t, got) =>
      assert(got == expected(t), s"($id, $t): got $got want ${expected(t)}")
    }
    // the plan must not contain an unpartitioned window over raw rows
    val plan = Featurizer.addFeatures(p, FeatureSpec(lagTransforms = Map(1 -> Seq(tf))))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window [") || !plan.contains("windowspecdefinition(_w"),
      "blocked evaluation should partition the window")
  }

  // --- global-pooled scale paths (blocked / ordered-scan, round 9) -------

  /** Distinct unpartitioned window operators in the EXECUTED plan. */
  private def unpartitionedWindows(df: DataFrame): Seq[String] = {
    df.write.format("noop").mode("overwrite").save()
    val g = new graft.tools.PlanGuard(0L)
    g.nodes(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExecBase
          if w.partitionSpec.isEmpty => w.nodeName
    }
  }

  // panel with missing values: NaN y folds to null (cleanNaN), exercising
  // the null-skipping accumulation of the scan kernels
  private def gappyPanel: PanelFrame = {
    val rows = for (id <- Seq("a", "b"); t <- 0L until 60L) yield {
      val y =
        if (t == 0L) Double.NaN // both series missing at ordinal 0
        else if (id == "a" && t % 7 == 3) Double.NaN
        else math.sin(t * 0.37 + (if (id == "a") 0.0 else 1.1)) * 13.7 - 2.0
      (id, t, y)
    }
    PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
  }

  test("global expanding stats run the ordered scan, bit-identical to the window form") {
    val p = gappyPanel
    val tfms = Seq(ExpandingMean(Pooling(global = true)),
      ExpandingStd(Pooling(global = true)),
      ExpandingMin(Pooling(global = true)),
      ExpandingMax(Pooling(global = true)))
    val out = Featurizer.addFeatures(p, FeatureSpec(lagTransforms = Map(2 -> tfms)))
    assert(unpartitionedWindows(out).isEmpty,
      "global expanding must not plan an unpartitioned WindowExec")

    // exact replay: per-ordinal components across both series, accumulated
    // in ordinal order with the same null-skipping + arithmetic as the
    // window aggregates the scan replaces (compare with ==, not tolerance)
    val vals = (0L until 60L).map { t =>
      Seq("a", "b").map { id =>
        val y =
          if (t == 0L) Double.NaN
          else if (id == "a" && t % 7 == 3) Double.NaN
          else math.sin(t * 0.37 + (if (id == "a") 0.0 else 1.1)) * 13.7 - 2.0
        y
      }.filterNot(_.isNaN)
    }
    var s = 0.0; var c = 0L; var ss = 0.0
    var mn = Double.NaN; var mx = Double.NaN; var seen = false
    val expected = (0L until 60L).map { t =>
      val xs = vals(t.toInt)
      if (xs.nonEmpty) {
        // per-ordinal components FIRST (the comps aggregate), then the
        // scan's running accumulation — the same two-level rounding order
        val st = xs.foldLeft(0.0)(_ + _)
        val sst = xs.foldLeft(0.0)((a, x) => a + x * x)
        s += st; c += xs.size; ss += sst
        val mnt = xs.min; val mxt = xs.max
        if (!seen) { mn = mnt; mx = mxt; seen = true }
        else { mn = math.min(mn, mnt); mx = math.max(mx, mxt) }
      }
      (s, c, ss, if (seen) Some(mn) else None, if (seen) Some(mx) else None)
    }
    def expAt(t: Long): (Option[Double], Option[Double], Option[Double], Option[Double]) =
      if (t < 2) (None, None, None, None)
      else {
        val (es, ec, ess, emn, emx) = expected((t - 2).toInt)
        (if (ec > 0) Some(es / ec) else None,
         if (ec > 1) Some(math.sqrt(math.max((ess - es * es / ec) / (ec - 1L), 0.0))) else None,
         emn, emx)
      }
    val got = out.filter($"unique_id" === "a").orderBy("ds")
      .select(col("ds"),
        col("global_expanding_mean_lag2"), col("global_expanding_std_lag2"),
        col("global_expanding_min_lag2"), col("global_expanding_max_lag2"))
      .collect()
    got.foreach { r =>
      val t = r.getLong(0)
      def o(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      val (m, sd, lo, hi) = expAt(t)
      assert(o(1) == m, s"mean at $t: ${o(1)} != $m")
      assert(o(2) == sd, s"std at $t: ${o(2)} != $sd")
      assert(o(3) == lo, s"min at $t: ${o(3)} != $lo")
      assert(o(4) == hi, s"max at $t: ${o(4)} != $hi")
    }
  }

  test("global EWM (and Offset(EWM)) run the ordered scan, bit-identical to the recursion") {
    val p = gappyPanel
    val e1 = ExponentiallyWeightedMean(0.3, Pooling(global = true))
    val spec = FeatureSpec(lagTransforms = Map(
      1 -> Seq(e1, Offset(ExponentiallyWeightedMean(0.3, Pooling(global = true)), 2))))
    val out = Featurizer.addFeatures(p, spec)
    assert(unpartitionedWindows(out).isEmpty,
      "global EWM must not plan an unpartitioned WindowExec")

    // collapsed per-ordinal mean across series, then the exact recursion
    val cv = (0L until 60L).map { t =>
      val xs = Seq("a", "b").map { id =>
        if (t == 0L) Double.NaN
        else if (id == "a" && t % 7 == 3) Double.NaN
        else math.sin(t * 0.37 + (if (id == "a") 0.0 else 1.1)) * 13.7 - 2.0
      }.filterNot(_.isNaN)
      if (xs.isEmpty) None else Some(xs.sum / xs.size)
    }
    var state: Option[Double] = None
    val raw = cv.map { x =>
      x.foreach { v =>
        state = Some(state.fold(v)(e => 0.3 * v + (1 - 0.3) * e))
      }
      state
    }
    def check(name: String, lag: Int): Unit = {
      val got = out.filter($"unique_id" === "b").orderBy("ds")
        .select(col("ds"), col(s"`$name`")).collect()
      got.foreach { r =>
        val t = r.getLong(0)
        val exp = if (t - lag < 0) None else raw((t - lag).toInt)
        val g = if (r.isNullAt(1)) None else Some(r.getDouble(1))
        assert(g == exp, s"$name at $t: $g != $exp")
      }
    }
    check(e1.name(1), 1)
    check(e1.name(3), 3) // Offset(ewm, 2) at lag 1 == ewm at lag 3
  }

  test("small-calendar sequential route matches the blocked shapes (r13 fast path)") {
    // the r13 routing decision (globalUnboundedParts): calendars at or under
    // spark.graft.globalScanSequentialMax run ONE GlobalScan.scan fold for
    // every unbounded task; above it (or with the conf at 0) the blocked
    // shapes run. The two routes must agree — exactly, on this single-block
    // panel (60 ordinals < the 1024 default block, where both blocked
    // shapes' FP contracts guarantee bit-identity to the fold).
    val p = gappyPanel
    val spec = FeatureSpec(lagTransforms = Map(1 -> Seq(
      ExpandingMean(Pooling(global = true)),
      ExpandingStd(Pooling(global = true)),
      ExponentiallyWeightedMean(0.5, Pooling(global = true)))))
    def collectAll(): Seq[org.apache.spark.sql.Row] =
      Featurizer.addFeatures(p, spec).orderBy("unique_id", "ds").collect().toSeq
    val fast = collectAll() // default conf: 60 ordinals -> sequential scan
    spark.conf.set("spark.graft.globalScanSequentialMax", "0")
    val blocked =
      try collectAll() // forced blocked shapes
      finally spark.conf.unset("spark.graft.globalScanSequentialMax")
    assert(fast == blocked,
      "sequential small-calendar route must equal the blocked shapes")
  }

  test("global bounded transforms plan zero unpartitioned windows (blocked fast path)") {
    val p = gappyPanel
    val spec = FeatureSpec(lagTransforms = Map(1 -> Seq(
      RollingMean(5, pooling = Pooling(global = true)),
      RollingStd(5, pooling = Pooling(global = true)),
      SeasonalRollingMean(7, 2, pooling = Pooling(global = true)),
      RollingQuantile(0.5, 4, pooling = Pooling(global = true)))))
    val out = Featurizer.addFeatures(p, spec)
    assert(unpartitionedWindows(out).isEmpty,
      "bounded global transforms must use blocked evaluation, not a global window")
  }

  test("global ordinal rank is distributed and matches dense_rank") {
    // 5000 distinct timestamps across 4 shuffle partitions; duplicate rows
    // per timestamp verify the join-back keeps multiplicity
    val rows = (0 until 5000).flatMap(i =>
      Seq.fill(i % 3 + 1)((s"id${i % 5}", (i * 7 + 13).toLong)))
    val df = rows.toDF("unique_id", "ds")
    val got = Ordinals.withGlobalOrdinalScalable(df, "ds", "__o")
    assert(got.count() == rows.length)
    // ordinal == rank of ds among distinct values
    val bad = got.filter(col("__o") =!= (col("ds") - 13) / 7).count()
    assert(bad == 0, s"$bad rows with wrong global ordinal")
    val g = new graft.tools.PlanGuard(0L)
    got.write.format("noop").mode("overwrite").save()
    val unpart = g.nodes(got.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExecBase
          if w.partitionSpec.isEmpty => w.nodeName
    }
    assert(unpart.isEmpty, "global ordinal must not plan an unpartitioned window")
  }

  test("sub-minute global/groupby pooling fails fast with guidance") {
    val rows = Seq(("a", 0L, 1.0, "x"), ("a", 1L, 2.0, "x"),
      ("b", 0L, 3.0, "x"), ("b", 1L, 4.0, "x"))
    // MilliFreq needs a TIMESTAMP axis since the axis-type guard landed
    val p = PanelFrame(
      rows.toDF("unique_id", "ds", "y", "part")
        .withColumn("ds", org.apache.spark.sql.functions
          .timestamp_millis(org.apache.spark.sql.functions.col("ds"))),
      freq = Freq.MilliFreq(1))
    val e = intercept[IllegalArgumentException] {
      Featurizer.addFeatures(p, FeatureSpec(lagTransforms = Map(
        1 -> Seq(RollingMean(2, pooling = Pooling(global = true))))))
    }
    assert(e.getMessage.contains("sub-minute") && e.getMessage.contains("partition_by"))
    // SECOND frequency has the same row-scaled calendar — same refusal (the
    // r9 review found the ms-only check let second/streaming panels through
    // to the broadcast path it exists to protect)
    val ps = PanelFrame(
      rows.toDF("unique_id", "ds", "y", "part")
        .withColumn("ds", org.apache.spark.sql.functions
          .timestamp_seconds(org.apache.spark.sql.functions.col("ds"))),
      freq = Freq.SecondFreq(1))
    val e2 = intercept[IllegalArgumentException] {
      Featurizer.addFeatures(ps, FeatureSpec(lagTransforms = Map(
        1 -> Seq(RollingMean(2, pooling = Pooling(global = true))))))
    }
    assert(e2.getMessage.contains("sub-minute"))
    // minute-and-coarser second frequencies stay allowed (calendar-bounded)
    val pm = PanelFrame(
      rows.toDF("unique_id", "ds", "y", "part")
        .withColumn("ds", org.apache.spark.sql.functions
          .timestamp_seconds(org.apache.spark.sql.functions.col("ds") * 60)),
      freq = Freq.SecondFreq(60))
    val okMin = Featurizer.addFeatures(pm, FeatureSpec(lagTransforms = Map(
      1 -> Seq(RollingMean(2, pooling = Pooling(global = true))))))
    assert(okMin.count() == 4)
    // partition_by (per-series bucket) stays allowed at ms frequency
    val ok = Featurizer.addFeatures(p, FeatureSpec(lagTransforms = Map(
      1 -> Seq(RollingMean(2, pooling = Pooling(partitionBy = Seq("part")))))))
    assert(ok.count() == 4)
    // the refusal is keyed on frequency, not actual calendar size, so small
    // sub-minute panels can OPT IN per session — loud default preserved
    assert(e.getMessage.contains("allowRowScaledPooledCalendar"))
    spark.conf.set("spark.graft.allowRowScaledPooledCalendar", "true")
    try {
      val okOverride = Featurizer.addFeatures(p, FeatureSpec(lagTransforms = Map(
        1 -> Seq(RollingMean(2, pooling = Pooling(global = true))))))
      assert(okOverride.count() == 4)
    } finally spark.conf.unset("spark.graft.allowRowScaledPooledCalendar")
  }

  test("global calendar rank stays correct with exchange reuse disabled") {
    // globalCalendar evaluates its indexed subtree twice (counts branch +
    // join-back); normally ReuseExchange makes both read one exchange. With
    // reuse OFF the evaluations may range-partition differently — the
    // in-plan range guard must either produce correct ordinals or raise,
    // never silently mis-rank
    val rows = (0 until 500).map(i => (s"id${i % 5}", (i % 97) * 3L, i.toDouble))
    val df = rows.toDF("unique_id", "ds", "y")
    val old = spark.conf.get("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try {
      val got = Ordinals.withGlobalOrdinalScalable(df, "ds", "__o")
      val bad = got.filter(col("__o") =!= col("ds") / 3).count()
      assert(bad == 0, s"$bad rows with wrong global ordinal under reuse=off")
    } finally spark.conf.set("spark.sql.exchange.reuse", old)
  }

  test("duplicate feature output names are rejected loudly") {
    // a colliding namer would make withColumns silently keep ONE value
    // column while featureNames lists the name twice — the model would see
    // a duplicated feature and the second transform would never compute
    val rows = Seq(("a", 0L, 1.0), ("a", 1L, 2.0))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val e = intercept[IllegalArgumentException] {
      Featurizer.addFeatures(p, FeatureSpec(
        lagTransforms = Map(1 -> Seq(RollingMean(2), RollingStd(2))),
        namer = Some((l, _) => s"f$l")))
    }
    assert(e.getMessage.contains("duplicate") && e.getMessage.contains("f1"))
  }

  test("unbounded non-decomposable global transform fails fast") {
    val rows = Seq(("a", 0L, 1.0), ("a", 1L, 2.0))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    val tf = ExpandingQuantile(0.5, pooling = Pooling(global = true))
    val e = intercept[IllegalArgumentException] {
      Featurizer.addFeatures(p, FeatureSpec(lagTransforms = Map(1 -> Seq(tf))))
    }
    assert(e.getMessage.contains("partition_by"))
  }

  test("date features") {
    val rows = Seq(("a", java.sql.Date.valueOf("2024-01-01"), 1.0),
                   ("a", java.sql.Date.valueOf("2024-01-02"), 2.0))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"))
    val out = Featurizer.addFeatures(p, FeatureSpec(dateFeatures =
      Seq("dayofweek", "month", "year", "is_month_start", "week")))
    val r = out.orderBy("ds").collect()
    assert(r(0).getAs[Int]("dayofweek") == 0) // 2024-01-01 is a Monday
    assert(r(1).getAs[Int]("dayofweek") == 1)
    assert(r(0).getAs[Int]("is_month_start") == 1)
    assert(r(0).getAs[Int]("week") == 1)
  }

  test("reference naming contract: lookup_lag, offset delegation, ewm default time_agg") {
    // lag_transforms.py:409-414 — no doubled "lag"
    assert(LookupLag().name(2) == "lookup_lag2")
    assert(LookupLag(Pooling(partitionBy = Seq("h"))).name(1) == "partby_h_lookup_lag1")
    // Offset names delegate at the effective lag; negative n is legal while
    // the EFFECTIVE lag stays >= 1 (lag_transforms.py:1724-1729)
    assert(Offset(RollingMean(7), -1).name(2) == RollingMean(7).name(1))
    intercept[IllegalArgumentException](Offset(RollingMean(7), -1).name(1))
    // EWM omits time_agg from the name when it equals its default "mean"
    val base = ExponentiallyWeightedMean(0.5, Pooling(global = true))
    val explicitMean =
      ExponentiallyWeightedMean(0.5, Pooling(global = true, timeAgg = Some("mean")))
    assert(base.name(1) == explicitMean.name(1))
    assert(ExponentiallyWeightedMean(0.5,
      Pooling(global = true, timeAgg = Some("sum"))).name(1).endsWith("_time_aggsum"))
  }

  test("offset-wrapped expanding stats keep the global aggregate fast path") {
    val rows = (0 until 40).flatMap(i =>
      Seq(("a", i.toLong, 1.0 * i), ("b", i.toLong, 2.0 * i)))
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y"), freq = Freq.IntFreq(1))
    // previously hard-rejected as "unbounded and non-decomposable" because
    // Offset did not delegate stagesFromComponents
    val t = Offset(ExpandingMean(pooling = Pooling(global = true)), 1)
    val out = Featurizer.addFeatures(p, FeatureSpec(lagTransforms = Map(1 -> Seq(t))))
    // equals the bare transform at lag 2 (same effective lag)
    val bare = ExpandingMean(pooling = Pooling(global = true))
    val ref = Featurizer.addFeatures(p, FeatureSpec(lagTransforms = Map(2 -> Seq(bare))))
    val a = out.select(col("unique_id"), col("ds"),
        col(s"`${t.name(1)}`").as("v")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> Option(r.get(2))).toMap
    val b = ref.select(col("unique_id"), col("ds"),
        col(s"`${bare.name(2)}`").as("v")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> Option(r.get(2))).toMap
    assert(a == b)
    assert(a(("a", 39L)).isDefined)
  }

  test("nan and null groupby keys share one pooled calendar") {
    // g=NaN rows at d0,d2 and g=null row at d1: sentinel encoding folds
    // them into ONE bucket whose calendar must cover all three timestamps —
    // a raw-key calendar would give d0 and d1 both ordinal 0
    val rows = Seq(
      ("a", 0L, 1.0, Double.NaN), ("b", 1L, 2.0, Double.NaN),
      ("c", 2L, 4.0, Double.NaN))
    val df = rows.toDF("unique_id", "ds", "y", "g")
      .withColumn("g", when(col("ds") === 1L, lit(null).cast("double"))
        .otherwise(col("g")))
    val p = PanelFrame(df, freq = Freq.IntFreq(1))
    val t = RollingMean(2, pooling = Pooling(groupby = Seq("g")))
    val out = Featurizer.addFeatures(p, FeatureSpec(lagTransforms = Map(1 -> Seq(t))))
      .select(col("ds"), col(s"`${t.name(1)}`").cast("double").as("v"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    // one calendar d0,d1,d2 -> at d2 the window [d0,d1] = mean(1,2) = 1.5
    // (a split calendar would see only one of the two values there)
    assert(out(2L).contains(1.5), s"merged bucket got a split calendar: $out")
    // d1 sees one sample < min_samples(=window) -> null, same as reference
    assert(out(1L).isEmpty)
  }
}
