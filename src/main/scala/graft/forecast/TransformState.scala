package graft.forecast

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.PanelFrame

/** Fused per-series transform state (r14, optimization guide §2.4 "remove
  * shuffles outright" / §1.2 "fix the distributed algorithm").
  *
  * A freshly-fit transform chain owns lazy per-series inverse state — one
  * tail relation per difference stage, one stats relation per scaler — and
  * each is a SEPARATE full-panel window pass over the source pin (r13
  * measured three back-to-back ~0.3 s passes on the Differences(1,7) +
  * LocalStandardScaler predict; d20c0ca merely overlapped them). All of
  * that state is derivable in ONE pass: the forward chain is stacked window
  * expressions over the same (id, ds) sort, every intermediate target can
  * ride along as an extra column, and the state rows are the last
  * max(d) rows per series. [[fuseChain]] rebuilds the fitted chain so each
  * transform's state is a cheap slice of that single pinned relation.
  *
  * Exactness: the fused frame replays the chain's own column expressions in
  * fit order — the same diff arithmetic in the panel target's native type,
  * the same scaler window aggregates over rows in the same (id, ds) sorted
  * order (the stats windows stack exactly where the per-transform plans put
  * them, BEFORE the descending tail rank) — so every slice is value-equal
  * to the relation it replaces (TransformStateSpec pins this per family).
  *
  * Scope: fresh fits of Differences / LocalScaler / GlobalFuncTransform
  * chains with at least two state passes to fuse, except chains that open
  * with a standard scaler ([[LocalScaler.sumMomentsFirst]]). Restored chains keep
  * frozen state untouched; BoxCox/auto/global-func-only chains have nothing
  * to fuse; anything unrecognized falls back to the per-transform passes.
  */
private[forecast] object TransformState {

  /** One lazily-pinned relation shared by every slice; identity-equal so
    * callers can dedupe across a chain's transforms.
    */
  final class Shared(fused: DataFrame) {
    /** localCheckpoint(false), built LAZILY: even a lazy checkpoint fires
      * an SQL-execution event (and compiles the plan) at construction, so
      * an eager `val` here taxes every fit whose chain never inverts — the
      * kernel-CV interval path inverts in-task and must stay at its pinned
      * action budget (ActionBudgetSpec). First inverse/save/update use
      * builds it; force() materializes the blocks.
      */
    lazy val pinned: DataFrame = fused.localCheckpoint(false)
    def force(): Unit = pinned.queryExecution.toRdd.foreachPartition(_ => ())
  }

  private[forecast] val FromEnd = "__fs_from_end"

  /** Rebuild `fitted` so DiffFitted tails and ScalerFitted stats slice one
    * fused relation. `transforms(i)` fit `inputs(i)` and produced
    * `fitted(i)`; the caller guarantees NO transform was restored from
    * persisted state (frozen stats must never be recomputed). Returns the
    * chain unchanged when fusion does not apply.
    */
  def fuseChain(transforms: Seq[TargetTransform],
                fitted: Seq[FittedTargetTransform],
                inputs: Seq[PanelFrame]): Seq[FittedTargetTransform] = {
    if (transforms.isEmpty) return fitted
    // every transform must be recognized, else keep the chain as-is
    val fusable = transforms.zip(fitted).forall {
      case (_: Differences, _)         => true
      case (_: LocalScaler, _)         => true
      case (_: GlobalFuncTransform, _) => true
      case _                           => false
    }
    val statePasses = transforms.map {
      case d: Differences => d.ds.size
      case _: LocalScaler => 1
      case _              => 0
    }.sum
    // a single state pass fuses into itself — nothing to win, keep the
    // per-transform shape (and its test surface) untouched
    if (!fusable || statePasses < 2 || LocalScaler.sumMomentsFirst(transforms)) return fitted

    val base = inputs.head
    val tgt = base.targetCol
    val w = Window.partitionBy(base.id).orderBy(base.ds)
    var df = base.df
    // replay the forward chain, keeping each diff stage's pre-diff target
    // and each scaler's (shift, scale) as extra columns
    val tailCols = Seq.newBuilder[(Int, Seq[(Int, String)])] // tfm idx -> (d, col) per stage
    val statCols = Seq.newBuilder[(Int, (String, String))]   // tfm idx -> (shift, scale) cols
    transforms.zipWithIndex.foreach {
      case (d: Differences, ti) =>
        val stages = d.ds.zipWithIndex.map { case (dd, j) =>
          val c = s"__fs_t_${ti}_$j"
          df = df.withColumn(c, col(s"`$tgt`"))
          df = df.withColumn(tgt, col(s"`$tgt`") - lag(col(s"`$tgt`"), dd).over(w))
          (dd, c)
        }
        tailCols += ti -> stages
      case (s: LocalScaler, ti) =>
        val (sh, sc) = (s"__fs_sh_$ti", s"__fs_sc_$ti")
        val pView = inputs(ti).copy(df = df)
        df = LocalScaler.safeScale(s.withStats(df, pView))
        df = df.withColumn(sh, col("__shift")).withColumn(sc, col("__scale"))
          .withColumn(tgt, (col(s"`$tgt`") - col("__shift")) / col("__scale"))
          .drop("__shift", "__scale")
        statCols += ti -> ((sh, sc))
      case (g: GlobalFuncTransform, _) =>
        // stateless; replay the forward map so later stages see its output
        df = g.forward(df, tgt)
      case _ => () // unreachable (fusable guard)
    }
    val tails = tailCols.result().toMap
    val stats = statCols.result().toMap
    val maxTail = math.max(1, transforms.collect {
      case d: Differences => d.ds.max
    }.foldLeft(0)(math.max))
    // descending tail rank LAST, after every stats window, so the scaler
    // aggregates accumulate over the same ascending (id, ds) row order as
    // their standalone plans
    val rn = Window.partitionBy(base.id).orderBy(base.ds.desc)
    val keep = tails.values.flatten.map(_._2).toSeq ++
      stats.values.flatMap { case (a, b) => Seq(a, b) }
    val fused = df
      .withColumn(FromEnd, row_number().over(rn))
      .filter(col(FromEnd) <= maxTail)
      .select((col(base.idCol) +: col(FromEnd) +: keep.map(c => col(s"`$c`"))): _*)
    val shared = new Shared(fused)

    // Slices are THUNKS over the (lazy) pin: building them eagerly would
    // construct the checkpoint (one SQL-execution event + plan compile) on
    // every fit, including chains that never invert (kernel-CV intervals).
    fitted.zipWithIndex.map {
      case (f: DiffFitted, ti) =>
        val stages = tails(ti)
        f.copy(shared = Some(shared), sharedTails = Some(() =>
          stages.map { case (dd, c) =>
            shared.pinned.filter(col(FromEnd) <= dd)
              .select(col(base.idCol).as("__tid"),
                ((lit(dd) - col(FromEnd)) % dd).cast("int").as("__tphase"),
                col(c).cast("double").as("__tail"))
          }))
      case (f: ScalerFitted, ti) =>
        val (sh, sc) = stats(ti)
        f.copy(shared = Some(shared), sharedSt = Some(() =>
          shared.pinned
            .select(col(base.idCol), col(sh).as("__shift"), col(sc).as("__scale"))
            .distinct()))
      case (f, _) => f
    }
  }
}
