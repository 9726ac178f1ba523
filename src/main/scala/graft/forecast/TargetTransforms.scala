package graft.forecast

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.PanelFrame

/** Invertible target transforms, applied before feature computation and
  * inverted (in reverse order) on predictions — reference
  * /root/reference/mlforecast/target_transforms.py.
  *
  * All state is small per-series DataFrames (scaler params, difference
  * tails), so snapshot/restore per model is free (immutability) and the
  * reference's `take`/`stack` distribution plumbing is unnecessary.
  */
trait TargetTransform extends Serializable {
  def fit(p: PanelFrame): FittedTargetTransform

  /** Rebuild a fitted instance from persisted `state` frames (see
    * [[FittedTargetTransform.state]]) and the saved panel. The default
    * refits — correct for transforms that are pure functions of the panel
    * (differencing, global closed forms); transforms with FROZEN fitted
    * parameters (scalers, auto decisions, Box-Cox λ) override so a
    * save/load round-trip after `update()` keeps the frozen values.
    */
  def restore(p: PanelFrame, state: Seq[DataFrame]): FittedTargetTransform = fit(p)
}

trait FittedTargetTransform extends Serializable {
  /** Panel with the target replaced by its transformed value. */
  def transformed: PanelFrame

  /** Invert predictions. `preds` has one row per (id, future step) with
    * `valueCols` prediction columns; `stepIdx` is the 0-based horizon step.
    * Must be applied in reverse fit order across transforms.
    */
  def inverse(preds: DataFrame, idCol: String, stepIdx: Column,
              valueCols: Seq[String]): DataFrame

  /** Re-apply this transform to an extended panel with FROZEN fitted
    * parameters (reference `tfm.update`, target_transforms.py): scaler
    * stats stay at their fit values, while history-dependent state
    * (difference tails) advances to the panel's new end.
    */
  def update(p: PanelFrame): FittedTargetTransform

  /** Invert IN-SAMPLE values (reference `inverse_transform_fitted`,
    * target_transforms.py / forecast.py:762-787): `df` rows align with the
    * fitted panel on (idCol, timeCol) and each `valueCols` entry
    * approximates the TRANSFORMED target at that row's own timestamp.
    * Unlike `inverse` (future steps, sequential reconstruction), every
    * in-sample timestamp's subtracted history is observed, so the inverse
    * is a direct per-row computation.
    */
  def inverseFitted(df: DataFrame, idCol: String, timeCol: String,
                    valueCols: Seq[String]): DataFrame

  /** Frozen per-series state frames to persist with save/load; empty = the
    * transform is a pure function of the panel and restore() can refit.
    */
  def state: Seq[DataFrame] = Nil

  /** Materialize any lazy per-series state this transform's `inverse`
    * broadcasts (difference tails, scaler stats). Each state relation is a
    * separate window pass over the fitted panel and they materialize
    * SEQUENTIALLY when the inverse chain's broadcasts force them one by
    * one; callers with several transforms force them concurrently through
    * here first (r13 — the diff(1,7)+scaler predict paid three back-to-back
    * ~0.3 s passes). Idempotent: pinned state is only computed once.
    */
  private[forecast] def pinInverseState(): Unit = ()

  /** The fused state relation this transform's state slices (r14,
    * [[TransformState.fuseChain]]); None = standalone per-transform state.
    * Callers force each DISTINCT shared relation once (one job for the
    * whole chain) before building inverse plans.
    */
  private[forecast] def inverseStateShared: Option[TransformState.Shared] = None
}

private[forecast] object FittedInverse {
  /** Shared in-sample inverse for every differencing-family transform: the
    * subtracted history at an observed timestamp is `orig_y - transformed_y`
    * at that same (id, ds) — independent of the value being inverted — so
    * one equi-join adds it back. Rows whose transformed target is null
    * (warmup rows) get a null delta; they never appear in training frames.
    */
  def addDelta(df: DataFrame, orig: PanelFrame, transformed: PanelFrame,
               idCol: String, timeCol: String, valueCols: Seq[String]): DataFrame = {
    val o = orig.df.select(orig.id.as(idCol), orig.ds.as(timeCol),
      orig.y.cast("double").as("__orig_y"))
    val t = transformed.df.select(transformed.id.as(idCol), transformed.ds.as(timeCol),
      transformed.y.cast("double").as("__trans_y"))
    val delta = o.join(t, Seq(idCol, timeCol))
      .select(col(idCol), col(timeCol), (col("__orig_y") - col("__trans_y")).as("__delta"))
    df.join(delta, Seq(idCol, timeCol), "left")
      .withColumns(valueCols.map(c => c -> (col(s"`$c`") + col("__delta"))).toMap)
      .drop("__delta")
  }
}

/** Successive d-th order differencing (reference target_transforms.py:87-182).
  *
  * Forward: y := y - lag(y, d) per stage. The first `d` rows per series
  * become null and are dropped by the feature dropna.
  *
  * Inverse (the reference does a sequential per-series reconstruction): for
  * future step i, orig(i) = pred(i) + orig(i - d), bottoming out in the last
  * `d` observed values (the "tail"). Unrolled, orig(i) = tail[i mod d] +
  * cumulative sum of preds over steps with the same phase (i mod d) — a
  * window cumsum partitioned by (id, phase), fully distributed, no driver
  * loop or UDF.
  */
final case class Differences(ds: Seq[Int]) extends TargetTransform {
  require(ds.nonEmpty && ds.forall(_ > 0))
  def fit(p: PanelFrame): FittedTargetTransform = {
    var cur = p.df
    val w = Window.partitionBy(p.id).orderBy(p.ds)
    val rn = Window.partitionBy(p.id).orderBy(p.ds.desc)
    val tails = Seq.newBuilder[DataFrame]
    for (d <- ds) {
      // tail of the CURRENT stage (pre-diff values), phase-indexed:
      // phase = (d - position_from_end) mod d, position_from_end 1..d
      val tail = cur
        .withColumn("__from_end", row_number().over(rn))
        .filter(col("__from_end") <= d)
        .select(p.id.as("__tid"),
          ((lit(d) - col("__from_end")) % d).cast("int").as("__tphase"),
          p.y.cast("double").as("__tail"))
      tails += tail
      cur = cur.withColumn(p.targetCol, p.y - lag(p.y, d).over(w))
    }
    DiffFitted(p.copy(df = cur), p, ds, tails.result())
  }
}

private[forecast] final case class DiffFitted(
    transformed: PanelFrame, orig: PanelFrame,
    ds: Seq[Int], tails: Seq[DataFrame],
    shared: Option[TransformState.Shared] = None,
    sharedTails: Option[() => Seq[DataFrame]] = None)
    extends FittedTargetTransform {
  // Tails are tiny (d rows per series) but their lineage is a full-panel
  // window pass. Pinning at FIT would cost every one-shot preprocess a
  // separate materialization job; pinning lazily at first INVERSE use makes
  // only predict/CV pay it, once, and repeats read the blocks. Fused chains
  // (r14, TransformState) hand LAZY slices of ONE pinned relation —
  // resolved on first use so chains that never invert pay nothing, and
  // broadcast as-is (re-checkpointing each slice would add a job per stage
  // for data the parent pin already holds).
  private[forecast] lazy val tailsResolved: Seq[DataFrame] =
    sharedTails.map(_()).getOrElse(tails)
  private lazy val tailsPinned =
    if (sharedTails.isDefined) tailsResolved
    else tailsResolved.map(_.localCheckpoint(false))

  override private[forecast] def pinInverseState(): Unit = shared match {
    case Some(s) => s.force()
    case None =>
      tailsPinned.foreach(_.queryExecution.toRdd.foreachPartition(_ => ()))
  }

  override private[forecast] def inverseStateShared: Option[TransformState.Shared] = shared

  def inverse(preds: DataFrame, idCol: String, stepIdx: Column,
              valueCols: Seq[String]): DataFrame = {
    var out = preds
    // reverse order: undo the last difference first
    for ((d, tail) <- ds.zip(tailsPinned).reverse) {
      val phase = (stepIdx % d).cast("int")
      val w = Window.partitionBy(col(idCol), col("__phase"))
        .orderBy(stepIdx).rowsBetween(Window.unboundedPreceding, 0)
      val joined = out
        .withColumn("__phase", phase)
        .join(broadcast(tail),
          col(idCol) === col("__tid") && col("__phase") === col("__tphase"), "left")
      val cum = valueCols.map { c =>
        // NO coalesce-to-0 on a missing/null tail: a series shorter than
        // the difference lag has no base value for this phase, and a raw
        // cumsum of predictions presented as a forecast would be silent
        // fabrication — null is the honest answer
        c -> (sum(col(s"`$c`")).over(w) + col("__tail"))
      }
      out = joined.withColumns(cum.toMap)
        .drop("__phase", "__tid", "__tphase", "__tail")
    }
    out
  }

  // Differencing has no fitted parameters — re-deriving diffs and tails from
  // the appended panel IS the incremental update (diff is a pure function of
  // history; the tails land at the new series ends).
  def update(p: PanelFrame): FittedTargetTransform = Differences(ds).fit(p)

  def inverseFitted(df: DataFrame, idCol: String, timeCol: String,
                    valueCols: Seq[String]): DataFrame =
    FittedInverse.addDelta(df, orig, transformed, idCol, timeCol, valueCols)
}

/** Per-series scaler family: transform (y - shift) / scale
  * (target_transforms.py:402-423). The stats ride WHOLE-PARTITION window
  * aggregates over id rather than a groupBy + broadcast join: an aggregate
  * would fork the plan and execute the whole upstream lineage TWICE (once
  * for the stats build side, once for the panel it joins back onto — at
  * 100 TB that is two full passes over the differenced panel), while the
  * window pass shares the one (id, ds) sort every surrounding transform
  * already requires. The per-id stats RELATION (save/load state, predict
  * inverse, frozen update) is the distinct of the same window columns, so
  * forward and inverse use numerically identical values; it only
  * materializes when one of those paths actually runs.
  */
sealed abstract class LocalScaler extends TargetTransform {
  /** Adds `__shift`/`__scale` via window aggregates over partitionBy(id).
    * NOTE on accumulation order: the sum-based moments (standard scaler)
    * accumulate in the partition's physical row order. When a scaler is
    * preceded by an ordered window transform (the diff-first chains every
    * test and oracle pin) that order is the (id, ds) sort; a scaler FIRST
    * in the chain aggregates in the source pin's arrival order, which
    * Spark's non-stable sort by id alone does not fix — SQL oracles hold
    * only for integer-valued targets or ordered upstreams there, and the
    * fused state and kernel twins decline it ([[LocalScaler.sumMomentsFirst]]).
    */
  private[forecast] def withStats(df: DataFrame, p: PanelFrame): DataFrame

  private def safeScale(df: DataFrame): DataFrame = LocalScaler.safeScale(df)

  protected def stats(p: PanelFrame): DataFrame = // (id, __shift, __scale)
    safeScale(withStats(p.df, p))
      .select(col(p.idCol), col("__shift"), col("__scale")).distinct()
  // persisted frozen stats: re-apply them, don't recompute over the panel
  override def restore(p: PanelFrame, state: Seq[DataFrame]): FittedTargetTransform =
    ScalerFitted(p, state.head, p.idCol).update(p)
  def fit(p: PanelFrame): FittedTargetTransform = {
    val tf = safeScale(withStats(p.df, p))
      .withColumn(p.targetCol, (p.y - col("__shift")) / col("__scale"))
      .drop("__shift", "__scale")
    ScalerFitted(p.copy(df = tf), stats(p), p.idCol)
  }
}

private[forecast] final case class ScalerFitted(
    transformed: PanelFrame, st: DataFrame, fitIdCol: String,
    shared: Option[TransformState.Shared] = None,
    sharedSt: Option[() => DataFrame] = None) extends FittedTargetTransform {
  // one row per series; pinned lazily at first inverse so repeated
  // predict/CV inverses reuse the stats while one-shot fits stay fused.
  // Fused chains (r14, TransformState) hand a LAZY slice of ONE pinned
  // relation — resolved on first use (state/save included) and broadcast
  // as-is, no second checkpoint.
  private[forecast] lazy val stResolved: DataFrame =
    sharedSt.map(_()).getOrElse(st)
  override def state: Seq[DataFrame] = Seq(stResolved)
  private lazy val stPinned =
    if (sharedSt.isDefined) stResolved else st.localCheckpoint(false)

  override private[forecast] def pinInverseState(): Unit = shared match {
    case Some(s) => s.force()
    case None => stPinned.queryExecution.toRdd.foreachPartition(_ => ())
  }

  override private[forecast] def inverseStateShared: Option[TransformState.Shared] = shared
  def inverse(preds: DataFrame, idCol: String, stepIdx: Column,
              valueCols: Seq[String]): DataFrame = {
    // LEFT join like the BoxCox/diff inverses: a series absent from the
    // fit-time stats keeps its rows with null values instead of silently
    // VANISHING from the forecast frame
    val joined = preds.join(
      broadcast(stPinned.withColumnRenamed(fitIdCol, idCol)), Seq(idCol), "left")
    val inv = valueCols.map { c =>
      c -> (col(s"`$c`") * col("__scale") + col("__shift"))
    }
    joined.withColumns(inv.toMap).drop("__shift", "__scale")
  }

  // Per-series affine: the in-sample inverse is the same stats join as the
  // future-step inverse (no step dependence).
  def inverseFitted(df: DataFrame, idCol: String, timeCol: String,
                    valueCols: Seq[String]): DataFrame =
    inverse(df, idCol, lit(0L), valueCols)

  // Frozen update: new rows are scaled with the ORIGINAL fit stats (the
  // reference does not refit scalers on update) — the same relation
  // state() saves and inverse() broadcasts, so a fused chain never
  // re-runs the unfused stats pass.
  def update(p: PanelFrame): FittedTargetTransform = {
    val tf = p.df.join(broadcast(stResolved.withColumnRenamed(fitIdCol, p.idCol)), Seq(p.idCol))
      .withColumn(p.targetCol, (p.y - col("__shift")) / col("__scale"))
      .drop("__shift", "__scale")
    ScalerFitted(p.copy(df = tf), stResolved, fitIdCol)
  }
}

object LocalScaler {
  /** A standard scaler FIRST in a chain sums its moments in the source's
    * arrival order (see [[LocalScaler.withStats]]), which no time-ordered
    * replay reproduces on float targets — the fused state
    * ([[TransformState.fuseChain]]) and the kernel twins
    * ([[KernelTransforms.chainOf]]) both decline such a chain.
    */
  private[forecast] def sumMomentsFirst(chain: Seq[TargetTransform]): Boolean =
    chain.headOption.exists(_.isInstanceOf[LocalStandardScaler])

  /** sklearn's handle_zeros_in_scale: a zero scale — a constant (or, for
    * robust scalers, zero-spread) series — scales by 1.0 instead of
    * crashing the WHOLE fit with an ANSI DIVIDE_BY_ZERO; the inverse
    * round-trips through the same stored scale, so the affine map stays
    * exact. A null scale (all-null series) also maps to 1.0 — the target
    * is null there regardless. Shared with the fused-state replay
    * ([[TransformState.fuseChain]]) so both paths apply one definition.
    */
  private[forecast] def safeScale(df: DataFrame): DataFrame =
    df.withColumn("__scale",
      when(col("__scale").isNull || col("__scale") === 0.0, lit(1.0))
        .otherwise(col("__scale")))
}

final case class LocalStandardScaler() extends LocalScaler {
  // explicit sum-based moments (not stddev_pop) so results are bit-identical
  // with SQL oracles using the same formula on integer-valued targets
  private[forecast] def withStats(df: DataFrame, p: PanelFrame): DataFrame = {
    val w = Window.partitionBy(p.id)
    val s = sum(p.y).over(w); val n = count(p.y).over(w)
    val ss = sum(p.y * p.y).over(w)
    df.withColumn("__shift", s / n)
      .withColumn("__scale", sqrt(greatest(ss / n - (s / n) * (s / n), lit(0.0))))
  }
}

final case class LocalMinMaxScaler() extends LocalScaler {
  private[forecast] def withStats(df: DataFrame, p: PanelFrame): DataFrame = {
    val w = Window.partitionBy(p.id)
    df.withColumn("__shift", min(p.y).over(w))
      .withColumn("__scale", max(p.y).over(w) - min(p.y).over(w))
  }
}

/** stat = iqr (q75-q25, shift=median) or mad (median absolute deviation). */
final case class LocalRobustScaler(stat: String = "iqr") extends LocalScaler {
  require(Set("iqr", "mad")(stat))
  private[forecast] def withStats(df: DataFrame, p: PanelFrame): DataFrame = {
    val w = Window.partitionBy(p.id)
    stat match {
      case "iqr" =>
        df.withColumn("__shift", percentile(p.y, lit(0.5)).over(w))
          .withColumn("__scale",
            percentile(p.y, lit(0.75)).over(w) - percentile(p.y, lit(0.25)).over(w))
      case "mad" =>
        // two stacked window passes over the same sort: the median first,
        // then the median absolute deviation around it
        df.withColumn("__shift", percentile(p.y, lit(0.5)).over(w))
          .withColumn("__scale",
            percentile(abs(p.y - col("__shift")), lit(0.5)).over(w))
    }
  }
}

/** Global closed-form transform pair, e.g. log1p/expm1 (reference
  * GlobalSklearnTransformer usage, auto.py:321-323).
  */
final case class GlobalFuncTransform(name: String) extends TargetTransform {
  require(Set("log1p", "log", "sqrt")(name))
  private def fwd: Column => Column = name match {
    case "log1p" => log1p
    case "log"   => log
    case "sqrt"  => sqrt
  }
  /** Forward map as a column rewrite — shared by fit and the fused-state
    * replay ([[TransformState.fuseChain]], which must pass the running
    * target through stateless stages with the exact fit arithmetic).
    */
  private[forecast] def forward(df: DataFrame, targetCol: String): DataFrame =
    df.withColumn(targetCol, fwd(col(s"`$targetCol`")))
  def fit(p: PanelFrame): FittedTargetTransform =
    GlobalFuncFitted(p.copy(df = forward(p.df, p.targetCol)), name)
}

private final case class GlobalFuncFitted(transformed: PanelFrame, name: String)
    extends FittedTargetTransform {
  def inverse(preds: DataFrame, idCol: String, stepIdx: Column,
              valueCols: Seq[String]): DataFrame = {
    val inv: Column => Column = name match {
      case "log1p" => expm1
      case "log"   => exp
      case "sqrt"  => c => c * c
    }
    preds.withColumns(valueCols.map(c => c -> inv(col(s"`$c`"))).toMap)
  }

  // Pointwise closed form: step-independent, same as the future inverse.
  def inverseFitted(df: DataFrame, idCol: String, timeCol: String,
                    valueCols: Seq[String]): DataFrame =
    inverse(df, idCol, lit(0L), valueCols)

  // Parameterless closed form: re-applying is the frozen update.
  def update(p: PanelFrame): FittedTargetTransform = GlobalFuncTransform(name).fit(p)
}
