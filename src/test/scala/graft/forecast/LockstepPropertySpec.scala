package graft.forecast

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

import graft.SparkSpec
import graft.core.{Freq, PanelFrame}
import graft.functions._
import graft.operators.FeatureSpec

/** The lockstep kernel ([[LocalLoop.run]] on a pooled spec) against the
  * driver loop (`fusedPredict = false`) on generated pooled panels: global
  * and groupby buckets with numeric keys (NULL, NaN, fractional floats),
  * rolling and seasonal-rolling mean/std/min/max (some behind [[Offset]]),
  * staggered starts and ends, missing dates, single-series buckets, null
  * targets inside the history, 1-8 input partitions, h from 1 to 7. On
  * gap-free panels whose pooled buckets are the series themselves, the
  * per-step schedule also matches the one-job schedule of the same spec
  * with local transforms. A fixed seed and a bounded case count keep the
  * run inside the Tier-1 budget; shrinking is off, so a failure names the
  * generated case as drawn.
  */
class LockstepPropertySpec extends SparkSpec {
  import LockstepPropertySpec._

  /** Forecasts keyed by (id, ds), each model's value as raw bits. */
  private def forecasts(df: DataFrame, names: Seq[String]): Map[(String, String), Seq[Long]] =
    df.collect().map { r =>
      (r.getAs[String]("unique_id"), r.getAs[Any]("ds").toString) ->
        names.map(n => java.lang.Double.doubleToRawLongBits(
          Option(r.getAs[java.lang.Double](n)).map(_.doubleValue).getOrElse(Double.NaN)))
    }.toMap

  private def panel(c: Case): PanelFrame = LockstepPropertySpec.panel(spark, c)

  private def withPartitions[T](n: Int)(body: => T): T =
    LockstepPropertySpec.withPartitions(spark, n)(body)

  private def check(name: String, gen: Gen[Case], cases: Int)(prop: Case => Unit): Unit = {
    val res = LockstepPropertySpec.check(gen, cases)(prop)
    assert(res.passed, s"$name: ${Pretty.pretty(res, Pretty.Params(2))}")
  }

  test("lockstep kernel == driver loop bit for bit when every pooled sum is exact") {
    check("integer targets", genCase(integer = true), 8) { c =>
      val p = panel(c)
      val sp = spec(c)
      // naive reads lag1; the echoes read pooled extremes, which stay
      // integer-valued, so their feedback keeps every sum exact
      val echoes = sp.allTransforms.collect {
        case (l, t) if !t.pooling.isLocal && extremum(t) =>
          FeatureEcho(s"echo_${sp.nameOf(l, t)}", sp.nameOf(l, t))
      }.take(2)
      val models = Seq(Models.naive, Models.seasonalNaive(2)) ++ echoes
      val conf = MLForecast(models, Freq.Day, sp, staticFeatures = Seq("grp"))
      val fitted = conf.fit(p)
      assert(LocalLoop.fusesPredict(conf, fitted.transformedPanel, fitted.trained, Nil, None), c)
      val names = models.map(_.name)
      val kernel = forecasts(fitted.predict(c.h), names)
      val driver = forecasts(fitted.copy(conf = conf.copy(fusedPredict = false)).predict(c.h),
        names)
      assert(kernel.size == c.nSeries * c.h, c)
      val diff = kernel.keySet.union(driver.keySet).filter(k => kernel.get(k) != driver.get(k))
      assert(diff.isEmpty, s"$c: ${diff.take(3).map(k => (k, kernel.get(k), driver.get(k)))}")
    }
  }

  test("per-step schedule == one-job schedule when every pooled bucket is one series") {
    check("groupby id", genCase(integer = true, gapFree = true), 6) { c =>
      val p = panel(c)
      val byId = Pooling(groupby = Seq("unique_id"))
      val pooledSpec = spec(c, _ => byId)
      val localSpec = spec(c, _ => Pooling())
      // the echoes read per-series extremes, which stay integer-valued
      val echoes = (sp: FeatureSpec) => sp.allTransforms.filter(t => extremum(t._2)).take(2)
        .zipWithIndex.map { case ((l, t), i) => FeatureEcho(s"echo_$i", sp.nameOf(l, t)) }
      def run(sp: FeatureSpec) = {
        val models = Seq(Models.naive, Models.seasonalNaive(2)) ++ echoes(sp)
        val conf = MLForecast(models, Freq.Day, sp, staticFeatures = Seq("grp"))
        val fitted = conf.fit(p)
        assert(LocalLoop.fusesPredict(conf, fitted.transformedPanel, fitted.trained, Nil, None), c)
        forecasts(fitted.predict(c.h), models.map(_.name))
      }
      assert(pooledSpec.allTransforms.exists(!_._2.pooling.isLocal), c)
      assert(localSpec.allTransforms.forall(_._2.pooling.isLocal), c)
      val perStep = run(pooledSpec)
      val oneJob = run(localSpec)
      assert(perStep.size == c.nSeries * c.h, c)
      val diff = perStep.keySet.union(oneJob.keySet).filter(k => perStep.get(k) != oneJob.get(k))
      assert(diff.isEmpty, s"$c: ${diff.take(3).map(k => (k, perStep.get(k), oneJob.get(k)))}")
    }
  }

  test("lockstep kernel with linear regression: partition-independent, driver loop to 1e-9") {
    val driverStable = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    check("float targets", genCase(integer = false), 5) { c =>
      val p = panel(c)
      val conf = MLForecast(Seq(SparkLinearRegression()), Freq.Day, spec(c),
        staticFeatures = Seq("grp"))
      val fitted = conf.fit(p)
      val names = Seq("lr")
      val kernels = Seq(1, 3, 8).map(n => withPartitions(n)(forecasts(fitted.predict(c.h), names)))
      assert(kernels.forall(_ == kernels.head), s"$c: kernel differs across partition counts")
      val slow = fitted.copy(conf = conf.copy(fusedPredict = false))
      val driver = withPartitions(4)(forecasts(slow.predict(c.h), names))
      driverStable += withPartitions(1)(forecasts(slow.predict(c.h), names)) == driver
      assert(kernels.head.keySet == driver.keySet, c)
      kernels.head.foreach { case (k, bits) =>
        val a = java.lang.Double.longBitsToDouble(bits.head)
        val b = java.lang.Double.longBitsToDouble(driver(k).head)
        assert((a.isNaN && b.isNaN) ||
          math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b))),
          s"$c at $k: kernel $a vs driver $b")
      }
    }
    info(s"driver loop bit-identical at 1 vs 4 shuffle partitions: " +
      s"${driverStable.count(identity)} of ${driverStable.size} cases")
  }

  test("route table: partitionBy, timeAgg, unbounded pooled transforms and frame callbacks " +
    "keep the driver loop") {
    val p = panel(Case(7L, integer = true, nullKeys = false, nBuckets = 2, nSeries = 4,
      nParts = 2, h = 2, pooled = Nil, expanding = false))
    val part = p.copy(df = p.df.withColumn("part", col("grp") * 2), staticCols = Seq("grp", "part"))
    def pooledSpec(t: LagTransform) = FeatureSpec(lags = Seq(1), lagTransforms = Map(1 -> Seq(t)))
    val group = Pooling(groupby = Seq("grp"))
    val cases: Seq[(String, FeatureSpec, Option[PredictCallback], Boolean)] = Seq(
      ("groupby rolling mean", pooledSpec(RollingMean(3, pooling = group)), None, true),
      ("global seasonal max", pooledSpec(SeasonalRollingMax(2, 2,
        pooling = Pooling(global = true))), None, true),
      ("offset pooled std", pooledSpec(Offset(RollingStd(3, pooling = group), 1)), None, true),
      ("scalar callback", pooledSpec(RollingMean(3, pooling = group)),
        Some(new ClipPredictions(0.0)), true),
      ("partitionBy", pooledSpec(RollingMean(3, pooling = Pooling(groupby = Seq("grp"),
        partitionBy = Seq("part")))), None, false),
      ("timeAgg", pooledSpec(RollingMean(3, pooling = Pooling(groupby = Seq("grp"),
        timeAgg = Some("sum")))), None, false),
      ("unbounded pooled", pooledSpec(ExpandingMean(pooling = group)), None, false),
      ("pooled quantile", pooledSpec(RollingQuantile(0.5, 3, pooling = group)), None, false),
      ("SaveFeatures", pooledSpec(RollingMean(3, pooling = group)), Some(new SaveFeatures),
        false))
    for ((label, sp, cb, fused) <- cases) {
      val conf = MLForecast(Seq(Models.naive), Freq.Day, sp, staticFeatures = Seq("grp", "part"))
      val fitted = conf.fit(part)
      assert(LocalLoop.fusesPredict(conf, fitted.transformedPanel, fitted.trained, Nil, cb) == fused,
        s"$label: predict route")
      assert(fitted.predict(2, callback = cb).count() == 8, s"$label: forecast rows")
    }
  }
}

object LockstepPropertySpec {
  private val Start = java.time.LocalDate.of(2024, 1, 1)

  /** `nSeries` daily series, series s in bucket s % nBuckets, rows
    * shuffled over `nParts` partitions. Integer-valued targets draw from
    * 0..20; float ones add a Gaussian to a per-series level.
    */
  def panel(spark: SparkSession, c: Case): PanelFrame = {
    val rnd = new scala.util.Random(c.seed)
    val bucketKeys = rnd.shuffle(if (c.nullKeys) KeyPool else KeyPool.filter(_.isDefined))
      .take(c.nBuckets)
    val rows = (0 until c.nSeries).flatMap { s =>
      val start = rnd.nextInt(6)
      val len = 10 + rnd.nextInt(16)
      // the NULL bucket's series carry NULL or NaN: one bucket either way
      val key: java.lang.Double = bucketKeys(s % c.nBuckets) match {
        case Some(k) => k
        case None => if (rnd.nextBoolean()) null else Double.NaN
      }
      // a few missing dates: the bucket calendars then have entries that
      // some of their series lack
      (start until start + len)
          .filter(t => c.gapFree || t == start || rnd.nextDouble() >= 0.06).map { t =>
        val y: java.lang.Double =
          if (rnd.nextDouble() < 0.08) null
          else if (c.integer) rnd.nextInt(21).toDouble
          else 10.0 + 3.0 * s + 2.0 * math.sin(t * 0.9 + s) + rnd.nextGaussian()
        Row(s"s$s", java.sql.Date.valueOf(Start.plusDays(t)), y, key)
      }
    }
    val schema = StructType(Seq(StructField("unique_id", StringType),
      StructField("ds", DateType), StructField("y", DoubleType), StructField("grp", DoubleType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rnd.shuffle(rows), 1), schema)
      .repartition(c.nParts)
    PanelFrame(df, freq = Freq.Day, staticCols = Seq("grp"))
  }

  /** Lags 1 and 2, the case's pooled transforms and, with `expanding`, a
    * local expanding mean. `pooling` gives each pooled transform its
    * pooling (by default its global or `grp` bucket).
    */
  def spec(c: Case, pooling: PooledT => Pooling = t =>
      if (t.global) Pooling(global = true) else Pooling(groupby = Seq("grp"))): FeatureSpec = {
    val pooled = c.pooled.map { t =>
      val pl = pooling(t)
      val inner: LagTransform = t.kind match {
        case 0 => RollingMean(t.w, t.ms, pl)
        case 1 => RollingStd(t.w, t.ms, pl)
        case 2 => RollingMin(t.w, t.ms, pl)
        case 3 => RollingMax(t.w, t.ms, pl)
        case 4 => SeasonalRollingMean(t.season, t.w, t.ms, pl)
        case 5 => SeasonalRollingStd(t.season, t.w, t.ms, pl)
        case 6 => SeasonalRollingMin(t.season, t.w, t.ms, pl)
        case _ => SeasonalRollingMax(t.season, t.w, t.ms, pl)
      }
      t.lag -> (if (t.offset == 0) inner else Offset(inner, t.offset))
    }.distinctBy { case (l, t) => t.name(l) }
    val local = if (c.expanding) Seq(1 -> (ExpandingMean(): LagTransform)) else Nil
    FeatureSpec(lags = Seq(1, 2),
      lagTransforms = (pooled ++ local).groupBy(_._1).map { case (l, ts) => l -> ts.map(_._2) })
  }

  /** `body` with `spark.sql.shuffle.partitions` (the kernels' base task
    * count) set to `n`.
    */
  def withPartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val conf = spark.conf
    val old = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally conf.set("spark.sql.shuffle.partitions", old)
  }

  /** `prop` over `cases` draws of `gen` from a fixed seed, no shrinking. */
  def check[C](gen: Gen[C], cases: Int)(prop: C => Unit): Test.Result = {
    val params = Test.Parameters.default.withMinSuccessfulTests(cases)
      .withInitialSeed(Seed(20261019L)).withWorkers(1).withMaxDiscardRatio(1)
    Test.check(params, Prop.forAllNoShrink(gen) { c => prop(c); Prop.passed })
  }

  /** Bucket keys; None is the NULL/NaN bucket. */
  val KeyPool: Seq[Option[Double]] = Seq(None, Some(0.5), Some(1.25), Some(-2.0))

  /** One pooled transform: `kind` 0-3 is a rolling mean, std, min or max
    * over `w` entries, 4-7 the seasonal-rolling one over `w` seasons of
    * `season`; `offset` 1 wraps it in [[Offset]].
    */
  final case class PooledT(lag: Int, kind: Int, w: Int, ms: Option[Int], global: Boolean,
                           season: Int, offset: Int)

  /** One generated panel and spec; `gapFree` panels miss no dates. */
  final case class Case(seed: Long, integer: Boolean, nullKeys: Boolean, nBuckets: Int,
                        nSeries: Int, nParts: Int, h: Int, pooled: Seq[PooledT],
                        expanding: Boolean, gapFree: Boolean = false)

  /** A pooled min or max: integer-valued over integer targets. */
  def extremum(t: LagTransform): Boolean = t match {
    case o: Offset => extremum(o.inner)
    case _: RollingMin | _: RollingMax | _: SeasonalRollingMin | _: SeasonalRollingMax => true
    case _ => false
  }

  private val genPooled: Gen[PooledT] = for {
    lag <- Gen.choose(1, 3)
    kind <- Gen.choose(0, 7)
    w <- if (kind < 4) Gen.choose(2, 5) else Gen.choose(1, 3)
    ms <- Gen.option(Gen.choose(1, w))
    global <- Gen.oneOf(true, false)
    season <- Gen.choose(2, 3)
    offset <- Gen.frequency(3 -> 0, 1 -> 1)
  } yield PooledT(lag, kind, w, ms, global, season, offset)

  /** Integer cases carry NULL/NaN keys; linear-regression cases train on
    * the key as a static feature, so theirs are finite.
    */
  def genCase(integer: Boolean, gapFree: Boolean = false): Gen[Case] = for {
    seed <- Gen.choose(0L, 1L << 40)
    nBuckets <- Gen.choose(1, 3)
    nSeries <- Gen.choose(2, 6)
    nParts <- Gen.choose(1, 8)
    h <- Gen.choose(1, 7)
    n <- Gen.choose(1, 3)
    pooled <- Gen.listOfN(n, genPooled)
    expanding <- Gen.oneOf(true, false)
  } yield Case(seed, integer, nullKeys = integer, nBuckets, nSeries, nParts, h, pooled, expanding,
    gapFree)
}
