package graft.forecast

import scala.reflect.io.Directory

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

import graft.SparkSpec
import graft.core.{Freq, PanelFrame}
import graft.operators.FeatureSpec

/** Generated target-transform chains through every route that reads their
  * inverse state: fit, `update` and a save/load round trip, each predicted
  * fused and with `fusedPredict = false`. Fixed seed and a bounded case
  * count keep the run inside the Tier-1 budget; shrinking is off, so a
  * failure names the generated case as drawn.
  *
  * Besides route parity, each case's forecasts (fit, update and loaded
  * predicts) must match a digest of the bits the forecaster produced before
  * the state builder was unified ([[TransformChainPropertySpec.Golden]]).
  */
class TransformChainPropertySpec extends SparkSpec {
  import TransformChainPropertySpec._
  import spark.implicits._

  private val Train = 40
  private val New = 5
  private val H = 3

  /** `nSeries` daily series of Train + New days over `nParts` partitions,
    * rows shuffled; targets positive (log1p-safe), integer-valued longs or
    * floats.
    */
  private def panel(c: Case): PanelFrame = {
    val start = java.time.LocalDate.of(2024, 1, 1)
    val rnd = new scala.util.Random(c.seed)
    val rows = for (s <- 0 until 4; t <- 0 until Train + New) yield {
      val v = 50.0 + 10.0 * s + math.sin(t * 0.7 + s) * 6.0 + t * 0.2 * (s + 1) +
        (t % 7) * 1.3 + rnd.nextGaussian()
      (s"s$s", java.sql.Date.valueOf(start.plusDays(t)), v)
    }
    val df = rnd.shuffle(rows).toDF("unique_id", "ds", "y").repartition(c.nParts)
    PanelFrame(if (c.integer) df.withColumn("y", round(col("y")).cast("long")) else df,
      freq = Freq.Day)
  }

  /** Bits of every forecast, ordered by (id, ds, model); null -> NaN. */
  private def bits(df: DataFrame): Seq[Long] =
    df.orderBy("unique_id", "ds").collect().toSeq.flatMap { r =>
      ModelSet.indices.map(i => java.lang.Double.doubleToLongBits(
        if (r.isNullAt(2 + i)) Double.NaN else r.getDouble(2 + i)))
    }

  private def digest(b: Seq[Long]): String =
    f"${b.length}%d:${scala.util.hashing.MurmurHash3.orderedHash(b)}%08x"

  private def runCase(c: Case): Unit = {
    val full = panel(c)
    val cut = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(Train - 1))
    val train = full.copy(df = full.df.filter(col("ds") <= cut))
    val newRows = full.df.filter(col("ds") > cut)
    val conf = MLForecast(ModelSet, Freq.Day, FeatureSpec(lags = Seq(1, 7)),
      targetTransforms = c.chain)
    def pred(f: FittedMLForecast) = bits(
      f.predict(H).select((col("unique_id") +: col("ds") +: ModelSet.map(m => col(m.name))): _*))
    def unfused(f: FittedMLForecast) = pred(f.copy(conf = f.conf.copy(fusedPredict = false)))

    val fitted = conf.fit(train)
    val updated = fitted.update(newRows)
    val dir = java.nio.file.Files.createTempDirectory("chain_prop").toString
    val loaded =
      try { MLForecastIO.save(updated, dir); pred(MLForecastIO.load(spark, dir)) }
      finally new Directory(new java.io.File(dir)).deleteRecursively()
    val (fitP, updP) = (pred(fitted), pred(updated))
    val got = Seq(fitP, updP, loaded).map(digest).mkString(" ")
    info(s"${c.key} -> $got")
    assert(fitP.length == 4 * H * ModelSet.length &&
      !fitP.exists(b => java.lang.Double.isNaN(java.lang.Double.longBitsToDouble(b))),
      s"${c.key}: missing or null forecasts")
    assert(fitP == unfused(fitted), s"${c.key}: fit predict, fused vs fusedPredict = false")
    assert(updP == unfused(updated), s"${c.key}: update predict, fused vs fusedPredict = false")
    assert(updP == loaded, s"${c.key}: loaded predict vs in-memory")
    assert(Golden.get(c.key).contains(got), s"${c.key}: forecasts $got differ from ${Golden.get(c.key)}")
  }

  test("generated chains: fit, update and save/load predict equal the unfused route and the golden bits") {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(Cases)
      .withInitialSeed(Seed(20261018L))
      .withWorkers(1)
    val result = Test.check(params, Prop.forAllNoShrink(caseGen) { c => runCase(c); true })
    assert(result.passed, Pretty.pretty(result, Pretty.Params(2)))
  }
}

object TransformChainPropertySpec {
  final case class Case(chain: Seq[TargetTransform], integer: Boolean, nParts: Int, seed: Long) {
    def key: String =
      s"${chain.mkString("+")}|${if (integer) "int" else "float"}|p$nParts|s$seed"
  }

  val ModelSet: Seq[ForecastModel] = Seq(Models.naive, Models.seasonalNaive(7))

  val Cases = 10

  private val diffGen: Gen[TargetTransform] =
    Gen.oneOf(Seq(1), Seq(2), Seq(7), Seq(1, 7), Seq(2, 3)).map(Differences(_))
  private val scalerGen: Gen[TargetTransform] = Gen.oneOf[TargetTransform](
    LocalStandardScaler(), LocalMinMaxScaler(), LocalRobustScaler("iqr"), LocalRobustScaler("mad"))

  /** 1-3 stages of differences and scalers, optionally opened by log1p
    * (positive inputs only) or forced to open with a standard scaler.
    */
  val chainGen: Gen[Seq[TargetTransform]] = for {
    n <- Gen.choose(1, 3)
    body <- Gen.listOfN(n, Gen.frequency(1 -> diffGen, 1 -> scalerGen))
    head <- Gen.frequency(3 -> Seq.empty[TargetTransform],
      1 -> Seq(GlobalFuncTransform("log1p")), 1 -> Seq(LocalStandardScaler()))
  } yield head ++ body

  val caseGen: Gen[Case] = for {
    chain <- chainGen
    integer <- Gen.oneOf(false, true)
    nParts <- Gen.choose(1, 8)
    seed <- Gen.choose(0L, 999L)
  } yield Case(chain, integer, nParts, seed)

  /** Case key -> digests of the fit, update and loaded predicts, recorded
    * before the transform-state builder was unified (fit, restore and
    * update then had separate state routes).
    */
  val Golden: Map[String, String] = Map(
    "LocalStandardScaler()+LocalStandardScaler()+LocalStandardScaler()|int|p2|s594" ->
      "24:84d47672 24:1a7735df 24:1a7735df",
    "LocalStandardScaler()+Differences(List(1))+LocalRobustScaler(iqr)+LocalMinMaxScaler()|float|p6|s440" ->
      "24:5766c397 24:aaf9d28a 24:aaf9d28a",
    "Differences(List(1))|float|p4|s793" ->
      "24:599352f0 24:f4e1ef91 24:f4e1ef91",
    "LocalRobustScaler(mad)+LocalStandardScaler()|int|p6|s364" ->
      "24:c07ea723 24:39ebd857 24:39ebd857",
    "Differences(List(2))+LocalStandardScaler()|float|p7|s269" ->
      "24:9079e164 24:15f3da29 24:15f3da29",
    "LocalRobustScaler(iqr)|int|p7|s937" ->
      "24:2578e024 24:e4243902 24:e4243902",
    "GlobalFuncTransform(log1p)+LocalStandardScaler()+Differences(List(7))|float|p4|s451" ->
      "24:a69e1248 24:0ff2e8cc 24:0ff2e8cc",
    "LocalRobustScaler(iqr)|int|p8|s250" ->
      "24:cc91b531 24:75b857e5 24:75b857e5",
    "GlobalFuncTransform(log1p)+LocalStandardScaler()+Differences(List(1, 7))+Differences(List(2, 3))|int|p4|s557" ->
      "24:82c7b98b 24:b2d5fe6c 24:b2d5fe6c",
    "Differences(List(2))+LocalMinMaxScaler()+Differences(List(2))|int|p4|s947" ->
      "24:b250ae99 24:662b2b06 24:662b2b06")
}
