package graft.forecast

import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.Gen
import org.scalacheck.util.Pretty

import graft.SparkSpec
import graft.core.PanelFrame
import graft.functions._
import graft.operators.{FeatureSpec, Featurizer}

/** Fit's featurize kernel ([[LocalLoop.featurize]]) against the window
  * Featurizer on [[LockstepPropertySpec]]'s generated panels (NULL, NaN
  * and fractional bucket keys, staggered starts, missing dates, null
  * targets, 1-8 input partitions): the same columns in the same order, and
  * per (id, ds) the same feature values, bit for bit on local specs and on
  * integer-target pooled specs, to 1e-12 relative on float pooled specs.
  * The kernel's dropNa frame keeps exactly the rows the Featurizer's
  * dropNa filter keeps.
  */
class FeaturizePropertySpec extends SparkSpec {
  import LockstepPropertySpec._
  import FeaturizePropertySpec._

  private def check[C](name: String, gen: Gen[C], cases: Int)(prop: C => Unit): Unit = {
    val res = LockstepPropertySpec.check(gen, cases)(prop)
    assert(res.passed, s"$name: ${Pretty.pretty(res, Pretty.Params(2))}")
  }

  /** Feature values keyed by (id, ds), each as raw bits (null = None). */
  private def features(df: DataFrame, names: Seq[String]): Map[(String, String), Seq[Option[Long]]] =
    df.collect().map { r =>
      (r.getAs[String]("unique_id"), r.getAs[Any]("ds").toString) -> names.map { n =>
        Option(r.getAs[Any](n)).map {
          case d: java.lang.Double => java.lang.Double.doubleToRawLongBits(d)
          case i: java.lang.Integer => i.longValue
          case other => fail(s"$n: unexpected value $other")
        }
      }
    }.toMap

  /** The kernel's (featurized, dropNa) frames and the Featurizer's. */
  private def routes(p: PanelFrame, sp: FeatureSpec): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val conf = MLForecast(Seq(Models.naive), p.freq, sp, staticFeatures = Seq("grp"))
    assert(LocalLoop.featurizes(conf, p, Nil), s"spec not admitted: ${sp.featureNames}")
    val frames = LocalLoop.featurize(p, sp, Nil).getOrElse(fail("pooled table declined"))
    val window = Featurizer.addFeatures(p, sp)
    (frames(false), frames(true), window,
      MLForecast.dropNa(window, sp.featureNames :+ p.targetCol))
  }

  /** Bit-identical frames, or with `relTol` > 0 pooled values to that
    * relative tolerance (nulls still in the same places). Returns the
    * largest relative difference seen.
    */
  private def compare(label: String, p: PanelFrame, sp: FeatureSpec, relTol: Double): Double = {
    val (kernel, kernelTrain, window, windowTrain) = routes(p, sp)
    assert(kernel.columns.toSeq == window.columns.toSeq,
      s"$label: columns ${kernel.columns.toSeq} vs ${window.columns.toSeq}")
    assert(kernel.schema.map(_.dataType) == window.schema.map(_.dataType), s"$label: types")
    val names = sp.featureNames
    val k = features(kernel, names)
    val w = features(window, names)
    assert(k.keySet == w.keySet, s"$label: rows")
    var worst = 0.0
    for ((key, kv) <- k; (a, b, n) <- kv.lazyZip(w(key)).lazyZip(names)) {
      val same = (a, b) match {
        case (Some(x), Some(y)) if relTol > 0 && x != y =>
          val (dx, dy) = (java.lang.Double.longBitsToDouble(x), java.lang.Double.longBitsToDouble(y))
          val rel = math.abs(dx - dy) / math.max(math.abs(dx), math.abs(dy))
          worst = math.max(worst, rel)
          rel <= relTol
        case _ => a == b
      }
      assert(same, s"$label at $key, $n: kernel $a vs window $b")
    }
    assert(features(kernelTrain, names).keySet == features(windowTrain, names).keySet,
      s"$label: dropNa rows")
    worst
  }

  test("local specs: kernel features == Featurizer bit for bit") {
    check("local", genLocal, 12) { case (c, sp) => compare(s"$c $sp", panel(spark, c), sp, 0.0) }
  }

  test("integer-target pooled specs: kernel features == Featurizer bit for bit") {
    check("integer pooled", genCase(integer = true).map(_.copy(expanding = false)), 8) { c =>
      compare(c.toString, panel(spark, c), spec(c), 0.0)
    }
  }

  test("float-target pooled specs: kernel features == Featurizer to 1e-12") {
    var worst = 0.0
    check("float pooled", genCase(integer = false).map(_.copy(expanding = false)), 6) { c =>
      worst = math.max(worst, compare(c.toString, panel(spark, c), spec(c), 1e-12))
    }
    info(s"largest relative difference: $worst")
  }

  test("pooled training features on a float target do not depend on shuffle partitions") {
    check("float partitions", genCase(integer = false).map(_.copy(expanding = false)), 4) { c =>
      val p = panel(spark, c)
      val sp = spec(c)
      val runs = Seq(1, 3, 8).map(n => withPartitions(spark, n) {
        features(LocalLoop.featurize(p, sp, Nil).get(true), sp.featureNames)
      })
      assert(runs.forall(_ == runs.head), s"$c: kernel features differ across partition counts")
    }
  }
}

object FeaturizePropertySpec {
  import LockstepPropertySpec.Case

  private val genLocalT: Gen[(Int, LagTransform)] = for {
    lag <- Gen.choose(1, 3)
    kind <- Gen.choose(0, 9)
    w <- Gen.choose(1, 4)
    ms <- Gen.option(Gen.choose(1, w))
    season <- Gen.choose(2, 3)
  } yield {
    val t: LagTransform = kind match {
      case 0 => RollingMean(w, ms)
      case 1 => RollingStd(w + 1, ms)
      case 2 => RollingMin(w, ms)
      case 3 => RollingMax(w, ms)
      case 4 => RollingQuantile(0.3, w, ms)
      case 5 => SeasonalRollingMean(season, w, ms)
      case 6 => SeasonalRollingStd(season, w + 1, ms)
      case 7 => SeasonalRollingQuantile(0.5, season, w, ms)
      case 8 => Offset(RollingMean(w, ms), 2)
      case _ => Combine(RollingMax(w, ms), RollingMin(w, ms), "sub")
    }
    lag -> t
  }

  /** A panel case and a local bounded spec: lags, local window transforms
    * and date features.
    */
  val genLocal: Gen[(Case, FeatureSpec)] = for {
    c <- LockstepPropertySpec.genCase(integer = false)
    lags <- Gen.someOf(1, 2, 3, 7)
    n <- Gen.choose(0, 4)
    tfms <- Gen.listOfN(n, genLocalT)
    dates <- Gen.someOf("dayofweek", "month", "week", "is_month_end")
  } yield {
    val byLag = tfms.distinctBy { case (l, t) => t.name(l) }.groupBy(_._1)
      .map { case (l, ts) => l -> ts.map(_._2) }
    (c.copy(pooled = Nil, expanding = false),
      FeatureSpec(lags = lags.toSeq.sorted, lagTransforms = byLag, dateFeatures = dates.toSeq))
  }
}
