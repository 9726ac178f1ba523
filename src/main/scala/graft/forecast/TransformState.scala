package graft.forecast

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.PanelFrame

/** The one builder of per-series transform state (difference tails, scaler
  * stats) and of the forward pass that produces it.
  *
  * A chain's inverse state is derivable in ONE pass: the forward chain is
  * stacked window expressions over the same (id, ds) sort, every
  * intermediate target rides along as an extra column, and the state rows
  * are the last max(d) rows per series. [[chain]] replays each run of
  * Differences / LocalScaler / GlobalFuncTransform stages that way and hands
  * every stage's state out as a cheap slice of that single lazily pinned
  * relation. Fresh fits, restores (`MLForecast.prepare`) and updates
  * (`FittedMLForecast.update`) all go through it, and so does a transform
  * fit on its own (a one-stage chain).
  *
  * Exactness: a stage's transformed panel and its state slice are two
  * projections of the same replayed columns, so the tails ARE the last d
  * values of the stage input and transformed == (input - shift) / scale
  * with the stats slice (TransformStateSpec pins both against values the
  * spec computes itself). A scaler with FROZEN stats enters the replay as a
  * broadcast join of its stats relation instead of a window aggregate:
  * restored and updated scalers, and a standard scaler with no difference
  * stage before it in a run of several stages, whose sum-based moments
  * accumulate in the source's arrival order that a later stage's
  * (id, ds)-sorted window could reorder on float targets
  * ([[LocalScaler.sumsUnordered]]); its stats are its own `stats(p)`
  * window-distinct relation. Fused alone (`LocalStandardScaler().fit(p)`,
  * a one-stage run), it replays its window aggregate: the state relation
  * runs that same window over the same input, followed only by the tail
  * rank.
  *
  * Scope: stages with their own state (BoxCox, the auto transforms, user
  * transforms) are [[Opaque]]: they fit, restore and update themselves and
  * split the chain into separately fused runs.
  */
private[forecast] object TransformState {

  /** One stage of a chain, as the replay sees it. */
  sealed trait Stage
  final case class Diff(ds: Seq[Int]) extends Stage
  /** Scaler whose stats are a window aggregate over the stage input. */
  final case class Scale(scaler: LocalScaler) extends Stage
  /** Scaler with frozen per-series stats `(id, __shift, __scale)`. */
  final case class Frozen(stats: DataFrame) extends Stage
  final case class Func(g: GlobalFuncTransform) extends Stage
  final case class Opaque(run: PanelFrame => FittedTargetTransform) extends Stage

  /** Stage that fits `t`, or restores it from persisted `state` frames. */
  def fitStage(t: TargetTransform, state: Seq[DataFrame]): Stage = t match {
    case Differences(ds)                 => Diff(ds)
    case s: LocalScaler if state.isEmpty => Scale(s)
    case _: LocalScaler                  => Frozen(state.head)
    case g: GlobalFuncTransform          => Func(g)
    case _ if state.isEmpty              => Opaque(t.fit)
    case _                               => Opaque(t.restore(_, state))
  }

  /** Stage that re-applies `f` with frozen parameters to an extended panel. */
  def updateStage(f: FittedTargetTransform): Stage = f match {
    case d: DiffFitted       => Diff(d.ds)
    case s: ScalerFitted     => Frozen(s.st)
    case g: GlobalFuncFitted => Func(GlobalFuncTransform(g.name))
    case _                   => Opaque(f.update)
  }

  /** One lazily pinned relation that every slice of a fused run reads.
    * Plain class: compared by identity.
    */
  final class Shared(val idCol: String, build: => DataFrame) {
    /** localCheckpoint(false), built LAZILY: even a lazy checkpoint fires
      * an SQL-execution event (and compiles the plan) at construction, so
      * an eager `val` here taxes every fit whose chain never inverts — the
      * kernel-CV interval path inverts in-task and must stay at its pinned
      * action budget (ActionBudgetSpec). First inverse/save/update use
      * builds it; force() materializes the blocks.
      */
    lazy val pinned: DataFrame = build.localCheckpoint(false)
    def force(): Unit = pinned.queryExecution.toRdd.foreachPartition(_ => ())

    /** Phase-keyed tail of one difference stage: phase = (d - from_end)
      * mod d over the stage input's last d rows.
      */
    def tail(d: Int, c: String): DataFrame =
      pinned.filter(col(FromEnd) <= d)
        .select(col(idCol).as("__tid"),
          ((lit(d) - col(FromEnd)) % d).cast("int").as("__tphase"),
          col(c).cast("double").as("__tail"))

    def stats(shift: String, scale: String): DataFrame =
      pinned.select(col(idCol), col(shift).as("__shift"), col(scale).as("__scale"))
        .distinct()
  }

  private[forecast] val FromEnd = "__fs_from_end"

  /** Force each shared relation that several of `chain`'s inverse
    * broadcasts read, once, before they run: racing one lazy checkpoint
    * from several broadcast threads can compute its partitions twice. A
    * relation read by one broadcast materializes inside it.
    */
  def force(chain: Seq[FittedTargetTransform]): Unit =
    chain.flatMap {
      case d: DiffFitted   => d.ds.map(_ => d.shared)
      case s: ScalerFitted => Seq(s.shared)
      case _               => Nil
    }.groupBy(identity).foreach { case (s, reads) => if (reads.size > 1) s.force() }

  /** Run `stages` over `base` in order; returns one fitted transform per
    * stage. Every maximal run of non-[[Opaque]] stages shares one state
    * relation.
    */
  def chain(base: PanelFrame, stages: Seq[Stage]): Seq[FittedTargetTransform] = {
    val out = Seq.newBuilder[FittedTargetTransform]
    var p = base
    var rest = stages
    while (rest.nonEmpty) {
      val fs = rest.head match {
        case Opaque(run) => rest = rest.tail; Seq(run(p))
        case _ =>
          val (run, after) = rest.span(!_.isInstanceOf[Opaque])
          rest = after
          fuseChain(p, run)
      }
      out ++= fs
      p = fs.last.transformed
    }
    out.result()
  }

  private def fuseChain(base: PanelFrame, stages: Seq[Stage]): Seq[FittedTargetTransform] = {
    val tgt = base.targetCol
    val y = col(s"`$tgt`")
    val panelCols = base.df.columns.toSeq.map(c => col(s"`$c`"))
    val w = Window.partitionBy(base.id).orderBy(base.ds)
    var df = base.df
    def current = base.copy(df = df.select(panelCols: _*))
    val keep = Seq.newBuilder[String]
    // `withStats` adds __shift/__scale; keep them as this stage's columns
    def scaled(ti: Int, withStats: DataFrame): Shared => FittedTargetTransform = {
      val cols = (s"__fs_sh_$ti", s"__fs_sc_$ti")
      df = withStats.withColumnRenamed("__shift", cols._1).withColumnRenamed("__scale", cols._2)
        .withColumn(tgt, (y - col(cols._1)) / col(cols._2))
      keep ++= Seq(cols._1, cols._2)
      val out = current
      s => ScalerFitted(out, s, cols)
    }
    // a difference window leaves each series' rows in (id, ds) order, which
    // every later window aggregate of the run accumulates in
    var ordered = false
    // each stage's fitted instance, once the shared relation exists
    val slices = stages.zipWithIndex.map { case (stage, ti) =>
      val in = current
      stage match {
        case Diff(ds) =>
          val cols = ds.indices.map(j => s"__fs_t_${ti}_$j")
          ds.zip(cols).foreach { case (d, c) =>
            df = df.withColumn(c, y).withColumn(tgt, y - lag(y, d).over(w))
          }
          keep ++= cols
          ordered = true
          val out = current
          (s: Shared) => DiffFitted(out, in, ds, s, cols)
        case Func(g) =>
          df = g.forward(df, tgt)
          val out = current
          (_: Shared) => GlobalFuncFitted(out, g.name)
        case Scale(s: LocalStandardScaler) if !ordered && stages.size > 1 =>
          scaled(ti, df.join(broadcast(s.stats(in)), Seq(base.idCol)))
        case Scale(s)   => scaled(ti, LocalScaler.safeScale(s.withStats(df, base)))
        case Frozen(st) => scaled(ti, df.join(broadcast(st), Seq(base.idCol)))
        case Opaque(_)  => throw new IllegalArgumentException("opaque stage inside a fused run")
      }
    }
    val replayed = df
    val keepCols = keep.result()
    val maxTail = stages.collect { case Diff(ds) => ds.max }.foldLeft(1)(math.max)
    // descending tail rank LAST, after every stats window, so the scaler
    // aggregates accumulate over the same row order as the forward pass
    val rn = Window.partitionBy(base.id).orderBy(base.ds.desc)
    val shared = new Shared(base.idCol,
      replayed.withColumn(FromEnd, row_number().over(rn))
        .filter(col(FromEnd) <= maxTail)
        .select((base.id +: col(FromEnd) +: keepCols.map(c => col(s"`$c`"))): _*))
    slices.map(_(shared))
  }
}
