package graft.forecast

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{Freq, PanelFrame}
import graft.operators.FeatureSpec

/** The transform-state builder ([[TransformState.chain]]) is the only
  * source of difference tails and scaler stats. This spec checks every
  * slice against values it computes itself from the stage inputs: a tail
  * holds the last d values of its stage's input, keyed by phase
  * (d - from_end) mod d, and a scaler's stats satisfy
  * transformed == (input - shift) / scale bit for bit.
  */
class TransformStateSpec extends SparkSpec {
  import spark.implicits._

  /** Float (or integer-valued long) targets over `nParts` partitions, rows
    * shuffled so no partition holds a series in time order.
    */
  private def panel(integer: Boolean = false, nParts: Int = 1): PanelFrame = {
    val rows = for {
      (id, off) <- Seq("a" -> 0.0, "b" -> 25.0, "c" -> -4.5)
      t <- 0 until 37
    } yield (id, t.toLong, math.sin(t * 0.61) * 7.0 + t * 0.3 + off)
    val df = new scala.util.Random(11L).shuffle(rows).toDF("unique_id", "ds", "y")
      .repartition(nParts)
    PanelFrame(if (integer) df.withColumn("y", round(col("y") * 10).cast("long")) else df,
      freq = Freq.IntFreq(1))
  }

  private def fitChain(p: PanelFrame, transforms: Seq[TargetTransform]) =
    TransformState.chain(p, transforms.map(TransformState.fitStage(_, Nil)))

  /** id -> target values in ds order (NaN = null). */
  private def series(p: PanelFrame): Map[String, Array[Double]] =
    p.df.select(p.id.cast("string"), p.ds, p.y.cast("double")).collect()
      .groupBy(_.getString(0)).map { case (id, rs) =>
        id -> rs.sortBy(_.getLong(1)).map(r => if (r.isNullAt(2)) Double.NaN else r.getDouble(2))
      }

  private def bits(x: Double): Long = java.lang.Double.doubleToLongBits(x)
  // minmax stats of an integer target keep its type: read any number
  private def dbl(r: Row, i: Int): Double =
    if (r.isNullAt(i)) Double.NaN else r.getAs[Number](i).doubleValue

  private def checkTails(d: DiffFitted, what: String): Unit = {
    var cur = series(d.orig)
    d.ds.zip(d.tails).foreach { case (lag, tail) =>
      val expected = cur.toSeq.flatMap { case (id, ys) =>
        (1 to math.min(lag, ys.length)).map(k => (id, (lag - k) % lag) -> bits(ys(ys.length - k)))
      }.toMap
      val got = tail.collect().map(r => (r.getString(0), r.getInt(1)) -> bits(dbl(r, 2))).toMap
      assert(got == expected, s"$what: diff($lag) tail")
      cur = cur.map { case (id, ys) =>
        id -> ys.indices.map(i => if (i < lag) Double.NaN else ys(i) - ys(i - lag)).toArray
      }
    }
  }

  private def checkStats(s: ScalerFitted, in: PanelFrame, what: String): Map[String, (Double, Double)] = {
    val stats = s.st.collect().map(r => r.getString(0) -> (dbl(r, 1), dbl(r, 2)))
    assert(stats.map(_._1).distinct.length == stats.length, s"$what: one stats row per series")
    val st = stats.toMap
    val input = series(in)
    val out = series(s.transformed)
    assert(out.keySet == input.keySet && st.keySet == input.keySet, s"$what: series")
    input.foreach { case (id, xs) =>
      val (shift, scale) = st(id)
      xs.zip(out(id)).foreach { case (x, t) =>
        assert(bits((x - shift) / scale) == bits(t), s"$what: $id transformed != (input - shift) / scale")
      }
    }
    st
  }

  /** Walks a fitted chain, checking every stage's state slice. */
  private def checkChain(p: PanelFrame, fitted: Seq[FittedTargetTransform], what: String): Unit =
    fitted.foldLeft(p) { (in, f) =>
      f match {
        case d: DiffFitted   => checkTails(d, what)
        case s: ScalerFitted => checkStats(s, in, what)
        case _               => ()
      }
      f.transformed
    }

  /** Checks each chain's slices on float and integer targets over 1 and 4
    * partitions.
    */
  private def checkChains(chains: Seq[(String, Seq[TargetTransform])]): Unit =
    for ((label, transforms) <- chains; integer <- Seq(false, true); nParts <- Seq(1, 4)) {
      // log1p keeps targets positive-domain: shift the panel up
      val base = panel(integer, nParts)
      val p = base.copy(df = base.df.withColumn("y", col("y") + lit(400)))
      checkChain(p, fitChain(p, transforms), s"$label integer=$integer parts=$nParts")
    }

  test("fused diff+scaler chain slices equal the standalone state relations") {
    checkChains(Seq("diff(1,7)+standard" -> Seq(Differences(Seq(1, 7)), LocalStandardScaler())))
  }

  test("fused chain slices are exact through a stateless log1p stage and minmax/robust scalers") {
    checkChains(Seq(
      "log1p+diff(2,3)+minmax" -> Seq(GlobalFuncTransform("log1p"), Differences(Seq(2, 3)),
        LocalMinMaxScaler()),
      "robust_iqr+diff(2)" -> Seq(LocalRobustScaler("iqr"), Differences(Seq(2))),
      "robust_mad+diff(1)" -> Seq(LocalRobustScaler("mad"), Differences(Seq(1)))))
  }

  test("every tail and stats slice matches its stage input, float and integer, 1 and 4 partitions") {
    checkChains(Seq(
      "standard+diff(1)" -> Seq(LocalStandardScaler(), Differences(Seq(1))),
      "minmax+standard+diff(2)" -> Seq(LocalMinMaxScaler(), LocalStandardScaler(), Differences(Seq(2))),
      "diff(1)" -> Seq(Differences(Seq(1))),
      "standard" -> Seq(LocalStandardScaler())))
  }

  test("scaler stats are the statistic each scaler names") {
    val p = panel(nParts = 3)
    val raw = series(p)
    val minmax = fitChain(p, Seq(LocalMinMaxScaler())).head.asInstanceOf[ScalerFitted]
    checkStats(minmax, p, "minmax").foreach { case (id, (shift, scale)) =>
      assert(shift == raw(id).min && scale == raw(id).max - raw(id).min, s"minmax $id")
    }
    val standard = fitChain(p, Seq(LocalStandardScaler())).head.asInstanceOf[ScalerFitted]
    checkStats(standard, p, "standard").foreach { case (id, (shift, scale)) =>
      val xs = raw(id)
      val mean = xs.sum / xs.length
      val sd = math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / xs.length)
      assert(math.abs(shift - mean) < 1e-9 && math.abs(scale - sd) < 1e-9, s"standard $id")
    }
  }

  test("a fused run shares one relation; opaque stages split the chain into runs") {
    val p = panel()
    def sharedOf(f: FittedTargetTransform): Option[TransformState.Shared] = f match {
      case d: DiffFitted   => Some(d.shared)
      case s: ScalerFitted => Some(s.shared)
      case _               => None
    }
    val one = fitChain(p, Seq(GlobalFuncTransform("sqrt"), Differences(Seq(1, 7)), LocalStandardScaler()))
      .flatMap(sharedOf)
    assert(one.length == 2 && (one.head eq one(1)), "diff and scaler slice one relation")
    // single-stage chains slice their own one-stage relation
    assert(fitChain(p, Seq(Differences(Seq(1)))).flatMap(sharedOf).length == 1)
    // BoxCox keeps its own state and splits the stages around it
    val p2 = p.copy(df = p.df.withColumn("y", col("y") + lit(40.0)))
    val split = fitChain(p2, Seq(Differences(Seq(1)), LocalBoxCox(), LocalMinMaxScaler(),
      Differences(Seq(2))))
    assert(sharedOf(split(1)).isEmpty, "BoxCox keeps its own state")
    val runs = split.flatMap(sharedOf)
    assert(runs.length == 3 && !(runs.head eq runs(1)) && (runs(1) eq runs(2)),
      "one relation before BoxCox, one shared by the two stages after it")
    checkChain(p2, split, "diff+boxcox+minmax+diff")
  }

  test("frozen stats enter the replay unchanged: restore and update keep them") {
    val p = panel(nParts = 2)
    val fitted = fitChain(p, Seq(Differences(Seq(1)), LocalStandardScaler()))
    val st = fitted(1).state.head
    val restored = TransformState.chain(p, Seq(TransformState.fitStage(Differences(Seq(1)), Nil),
      TransformState.fitStage(LocalStandardScaler(), Seq(st))))
    val updated = TransformState.chain(p, fitted.map(TransformState.updateStage))
    for ((label, chain) <- Seq("restored" -> restored, "updated" -> updated)) {
      val s = chain(1).asInstanceOf[ScalerFitted]
      assert(s.st.exceptAll(st).isEmpty && st.exceptAll(s.st).isEmpty, s"$label stats")
      assert(chain.head.asInstanceOf[DiffFitted].shared eq s.shared, s"$label: one relation")
      checkChain(p, chain, label)
    }
  }

  test("fused predict equals the pre-fusion closed form (diff+scaler, naive)") {
    // Differences(1) + scaler + naive: the transformed naive prediction is
    // the constant last diff (scaled); inverted, step i = y_last + i * d
    // where d = y_last - y_prev. The closed form is transform-free, so it
    // checks the fused-state INVERSE end to end, not just the state values.
    val p = panel()
    val conf = MLForecast(
      models = Seq(Models.naive),
      freq = Freq.IntFreq(1),
      spec = FeatureSpec(lags = Seq(1)),
      targetTransforms = Seq(Differences(Seq(1, 7)), LocalStandardScaler()))
    val preds = conf.fit(p).predict(3)
      .select(col("unique_id"), col("ds"), col("naive")).collect()
    val hist = p.df.collect().map(r =>
      (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lastDs = 36L
    preds.foreach { r =>
      val id = r.getString(0)
      // replay the diff(1,7) naive recursion in scala doubles: transformed
      // naive repeats the last transformed value; scaler is affine so the
      // inverse reconstruction reduces to the diff recursion on raw values
      val y = (t: Long) => hist((id, t))
      val d2 = (t: Long) => (y(t) - y(t - 1)) - (y(t - 7) - y(t - 8))
      val lastD2 = d2(lastDs)
      val step = r.getLong(1) - lastDs
      // undo diff(7) on the constant-d2 prediction stream, then diff(1)
      val d1 = (t: Long) => y(t) - y(t - 1)
      var expected = Map.empty[Long, Double]
      val d1ext = scala.collection.mutable.Map[Long, Double]()
      for (s <- 1L to 3L)
        d1ext(lastDs + s) = d1(lastDs + s - 7) + lastD2
      val yext = scala.collection.mutable.Map[Long, Double]()
      for (s <- 1L to 3L)
        yext(lastDs + s) = yext.getOrElse(lastDs + s - 1,
          y(math.min(lastDs + s - 1, lastDs))) + d1ext(lastDs + s)
      expected = yext.toMap
      assert(math.abs(r.getDouble(2) - expected(r.getLong(1))) < 1e-9,
        s"fused inverse mismatch at $id step $step")
    }
  }
}
