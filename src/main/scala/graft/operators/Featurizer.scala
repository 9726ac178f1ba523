package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.core.{Freq, PanelFrame}
import graft.functions._

/** Feature specification: plain lags, lag transforms keyed by lag, and date
  * features — the reference's `lags` / `lag_transforms` / `date_features`
  * constructor args (/root/reference/mlforecast/forecast.py MLForecast.__init__).
  */
final case class FeatureSpec(
    lags: Seq[Int] = Nil,
    lagTransforms: Map[Int, Seq[LagTransform]] = Map.empty,
    dateFeatures: Seq[String] = Nil,
    /** Custom date-feature callables (reference's callable date_features,
      * core.py:826-840): (output name, expression of the time column). */
    customDateFeatures: Seq[(String, Column => Column)] = Nil,
    /** Optional feature-name override (the reference's
      * `lag_transforms_namer`, core.py:278,308-314): feature column names
      * are observable API, so a custom namer rewrites them everywhere —
      * featurize output, features_order_, incremental state.
      */
    namer: Option[(Int, LagTransform) => String] = None,
) {
  // lag 0 (or below) is the current-row target — leakage, and the fused
  // kernels index past their history buffers for it while the window path
  // degrades to nulls; the reference requires lags >= 1 (core.py)
  require(lags.forall(_ >= 1), s"lags must be >= 1, got ${lags.mkString(", ")}")
  require(lagTransforms.keys.forall(_ >= 1),
    s"lagTransforms lags must be >= 1, got ${lagTransforms.keys.mkString(", ")}")
  /** Resolved output name for one (lag, transform). Plain lags keep their
    * fixed `lag{n}` names (the reference's namer covers lag_transforms only).
    */
  def nameOf(l: Int, t: LagTransform): String = t match {
    case _: Lag => t.name(l)
    case _      => namer.map(_(l, t)).getOrElse(t.name(l))
  }

  /** Feature column names in the pinned order (reference `features_order_`,
    * core.py:657-679): lags, then transforms per ascending lag, then date
    * features.
    */
  def featureNames: Seq[String] =
    lags.sorted.map(l => s"lag$l") ++
      lagTransforms.toSeq.sortBy(_._1).flatMap { case (l, ts) => ts.map(nameOf(l, _)) } ++
      dateFeatures ++ customDateFeatures.map(_._1)

  def allTransforms: Seq[(Int, LagTransform)] =
    lags.sorted.map(l => l -> (Lag(): LagTransform)) ++
      lagTransforms.toSeq.sortBy(_._1).flatMap { case (l, ts) => ts.map(l -> _) }

  /** Max per-series history needed for one incremental predict step; None if
    * any transform is unbounded (reference keep_last_n inference, core.py:404-425).
    */
  def updateSamplesBound: Option[Int] = {
    val bounds = allTransforms.map { case (l, t) => t.updateSamples(l) }
    if (bounds.exists(_.isEmpty)) None else Some((0 +: bounds.flatten).max)
  }
}

/** Computes every lag/window feature of a FeatureSpec as columns on the
  * panel. Transforms are grouped by (pooling mode, collapse agg) so each
  * group shares one ordinal computation, one collapse aggregation, and one
  * WindowExec pass — the Spark-native equivalent of the reference's shared
  * `_ts_aggs` per-(bucket, timestamp) aggregate cache (pooled.py:183-218).
  */
object Featurizer {

  // single source of truth for the ordinal column-name contract
  private val OrdCol = graft.functions.Ordinals.OrdCol

  /** NaN keys join as null keys (reference sentinel encoding, pooled.py:21-66).
    * Backticked: a bucket column named with a dot must not parse as a
    * struct-field access.
    */
  private def normalizedKey(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case DoubleType | FloatType =>
        when(isnan(col(s"`$c`")), lit(null)).otherwise(col(s"`$c`"))
      case _ => col(s"`$c`")
    }

  def addFeatures(p: PanelFrame, spec: FeatureSpec): DataFrame = {
    // Two DIFFERENT computations colliding on one output name would
    // silently drop one value column (withColumns keeps one entry per
    // name) while featureNames still lists the name per transform — the
    // model would train on a duplicated column and the colliding feature
    // would never be computed. Reject loudly. Identical computations
    // sharing a name (e.g. lags = Seq(1) plus a Lag() transform at lag 1)
    // are a harmless spec redundancy and stay allowed.
    val namedTfms = spec.allTransforms.map { case (l, t) => spec.nameOf(l, t) -> ((l, t)) }
    val dupTfm = namedTfms.groupBy(_._1)
      .collect { case (n, v) if v.map(_._2).distinct.size > 1 => n }
    val dateNames = spec.dateFeatures ++ spec.customDateFeatures.map(_._1)
    val tfmNames = namedTfms.map(_._1).toSet
    val dupCross = dateNames.filter(tfmNames.contains)
    // duplicates AMONG the date features themselves (a custom date feature
    // shadowing a built-in, or repeats within either list) silently
    // overwrite through withColumns while featureNames lists both
    val dupDate = dateNames.diff(dateNames.distinct)
    val dup = (dupTfm ++ dupCross ++ dupDate).toSeq.distinct
    require(dup.isEmpty,
      s"duplicate feature output name(s) ${dup.mkString(", ")}: distinct " +
        "(lag, transform) pairs, date features, and custom date features " +
        "must resolve to distinct column names (check the custom namer " +
        "and repeated transforms)")
    val yClean = LagTransforms.cleanNaN(p.y.cast("double"))

    // Features already present on the input are kept AS-IS and never
    // recomputed (reference core.py contract, tests/test_core.py:388
    // test_existing_features) — a caller that precomputed lag1 keeps its
    // values; only the missing features are added.
    val existing = p.df.columns.toSet
    var out = p.df
    val groups = spec.allTransforms
      .filterNot { case (l, t) => existing.contains(spec.nameOf(l, t)) }
      .groupBy { case (_, t) => (t.pooling, t.forcedCollapse) }

    // Deterministic group order (local first) keeps plans/tests stable.
    // The full rendering is the final tiebreak: two groups can share
    // (prefix, collapse) while differing in timeAgg, and Map iteration
    // order must never decide column order.
    val orderedGroups = groups.toSeq.sortBy { case ((pl, fc), _) =>
      (if (pl.isLocal) 0 else 1, pl.prefix, fc.getOrElse(""), pl.toString)
    }

    // ONE global calendar rank shared by every global-scoped pooled group,
    // PINNED eagerly on first use (lazy val): the calendar is referenced by
    // the collapse aggregation, the blocked shapes AND every join-back, and
    // re-expanding the distinct/rank lineage per reference re-scanned the
    // source parquet 4x per pooled group at sf0.1. The relation is
    // calendar-sized (one row per distinct timestamp; sub-minute
    // frequencies are refused up-front), so the pin is one narrow job —
    // and it makes the two-evaluation range-consistency concern inside
    // globalCalendar moot for this path (a pinned calendar is evaluated
    // once by construction).
    lazy val globalCal =
      graft.functions.Ordinals.globalCalendar(p.df, p.timeCol, OrdCol)
        .localCheckpoint()
    for (((pooling, collapse), tfms) <- orderedGroups) {
      if (pooling.isLocal) {
        // Local (per-series): the continuity-validated panel is dense per id,
        // so ROWS frames over ds are exact and need no ordinal/collapse.
        // (EWM's forced mean-collapse is the identity on unique timestamps.)
        val ctx = RowsDenseCtx(Seq(p.id), p.ds)
        out = applyStages(out, yClean, ctx, tfms, spec.nameOf)
      } else {
        out = addPooledGroup(out, p, yClean, pooling, collapse, tfms,
          spec.nameOf, () => globalCal)
      }
    }
    out = DateFeatures.add(out, p.ds,
      spec.dateFeatures.filterNot(existing.contains))
    val customMissing = spec.customDateFeatures.filterNot(f => existing.contains(f._1))
    if (customMissing.isEmpty) out
    else out.withColumns(customMissing.map { case (n, f) => n -> f(p.ds) }.toMap)
  }

  private def applyStages(df: DataFrame, v: Column, ctx: WindowCtx,
                          tfms: Seq[(Int, LagTransform)],
                          nameOf: (Int, LagTransform) => String): DataFrame = {
    val planned = tfms.map { case (l, t) =>
      val outName = nameOf(l, t)
      val (helpers, value) = t.stages(v, l, ctx, outName)
      (helpers, outName, value)
    }
    val helpers = planned.flatMap(_._1)
    val withHelpers =
      if (helpers.isEmpty) df
      else df.withColumns(helpers.toMap)
    withHelpers
      .withColumns(planned.map { case (_, n, c) => n -> c }.toMap)
      .drop(helpers.map(_._1): _*)
  }

  /** Blocked evaluation of bounded GLOBAL window transforms: rows are
    * exploded into every ordinal block whose windows reach them (overlap =
    * the transforms' max history need), `eval` computes the features inside
    * each block partition, and only each row's owner-block copy is kept —
    * identical results to a single global window (same frame rows folded in
    * the same order), but distributed across ordinal ranges instead of one
    * task.
    */
  private def applyBlocked(df: DataFrame, need: Long)
                          (eval: (DataFrame, WindowCtx) => DataFrame): DataFrame = {
    val block = math.max(4L * need, 1024L)
    val owner = expr(s"$OrdCol div ${block}L")
    val withBlk = df
      .withColumn("__blk", explode(sequence(owner,
        expr(s"($OrdCol + ${need}L) div ${block}L"))))
    val ctx = RangeOrdCtx(Seq(col("__blk")), col(OrdCol))
    eval(withBlk, ctx)
      .filter(col("__blk") === owner)
      .drop("__blk")
  }

  private def maxNeed(tfms: Seq[(Int, LagTransform)]): Long =
    tfms.map { case (l, t) => t.updateSamples(l).get }.max.toLong

  private def applyBlockedGlobal(df: DataFrame, v: Column,
                                 tfms: Seq[(Int, LagTransform)],
                                 nameOf: (Int, LagTransform) => String): DataFrame =
    applyBlocked(df, maxNeed(tfms))(applyStages(_, v, _, tfms, nameOf))

  /** Evaluate aggregate-fast-path transforms over the per-(bucket, ordinal)
    * component relation in the given window context.
    */
  private def applyComponentStages(comps: DataFrame, ctx: WindowCtx,
                                   tfms: Seq[(Int, LagTransform)],
                                   nameOf: (Int, LagTransform) => String): DataFrame = {
    val comp = AggComponents(col("__s"), col("__c"), col("__ss"),
      col("__mn"), col("__mx"))
    val planned = tfms.map { case (l, t) =>
      val outName = nameOf(l, t)
      val (helpers, value) = t.stagesFromComponents(comp, l, ctx, outName).get
      (helpers, outName, value)
    }
    val helpers = planned.flatMap(_._1)
    val withHelpers =
      if (helpers.isEmpty) comps else comps.withColumns(helpers.toMap)
    withHelpers
      .withColumns(planned.map { case (_, n, c) => n -> c }.toMap)
      .drop(helpers.map(_._1): _*)
  }

  /** Global unbounded transforms (expanding stats, EWM) as sequential-scan
    * tasks; fails fast with the partition_by guidance when a transform's
    * recursion is not scannable (same contract as the row-level unbounded
    * guard — with no partition key every row would cross one task anyway).
    */
  private def scanTasks(tfms: Seq[(Int, LagTransform)],
                        nameOf: (Int, LagTransform) => String): Seq[GlobalScan.ScanTask] = {
    val (ok, bad) = tfms.map { case (l, t) =>
      (t.name(l), GlobalScan.taskOf(l, t, nameOf(l, t)))
    }.partition(_._2.isDefined)
    require(bad.isEmpty,
      s"global pooled transform(s) ${bad.map(_._1).mkString(", ")} " +
        "are unbounded with no built-in sequential-scan form (expanding " +
        "mean/std/min/max and EWM are the scannable shapes): with no " +
        "partition_by the unbounded recursion would funnel every ordinal " +
        "through a single task. Use partition_by/groupby, time_agg, a " +
        "bounded window, or one of the scannable statistics.")
    ok.map(_._2.get)
  }

  /** Unbounded global transforms over the per-ordinal relation, shape
    * picked by the ACTUAL calendar size (r13, optimization guide §1.2 —
    * fix the distributed algorithm to the data, §2.4 — remove shuffles
    * outright):
    *
    *   - at or under `spark.graft.globalScanSequentialMax` ordinals
    *     (default 131072; 0 disables), ONE ordered single-task fold
    *     ([[GlobalScan.scan]] — the bit-exact sequential twin of both
    *     blocked shapes, and of the reference recursion) computes EVERY
    *     task in one pass. Both callers hand a PINNED (localCheckpoint)
    *     relation, so the size probe is a ~ms count over cached
    *     partitions, and the fold itself is single-digit ms at the
    *     threshold — a daily calendar reaches 128k ordinals after ~350
    *     years. This replaces the blocked shapes' fixed stage stack
    *     (block windows + carry fold + broadcast join-back + shifted
    *     self-join, ×2 when EWM and expanding stats coexist) whose job
    *     floors dominated at bench scale (ewm_global_pooled 5.7→, see
    *     OPTIMIZATION_r13.md);
    *   - above it, the DISTRIBUTED blocked two-passes keep the calendar
    *     out of one task: decomposable expanding stats run
    *     [[GlobalScan.blockedScan]], EWM recursions
    *     [[GlobalScan.blockedEwm]] (r12 — affine-map composition).
    *
    * Each returned part carries one row per ordinal.
    */
  private def globalUnboundedParts(comps: DataFrame, calRows: Long,
                                   tfms: Seq[(Int, LagTransform)],
                                   nameOf: (Int, LagTransform) => String): Seq[DataFrame] = {
    val tasks = scanTasks(tfms, nameOf)
    val seqMax = comps.sparkSession.conf
      .get("spark.graft.globalScanSequentialMax", "131072").toLong
    if (seqMax > 0 && calRows <= seqMax)
      Seq(GlobalScan.scan(comps, OrdCol, tasks))
    else {
      val (ewm, exp) = tasks.partition(_.isInstanceOf[GlobalScan.EwmTask])
      Seq(
        if (exp.isEmpty) None else Some(GlobalScan.blockedScan(comps, OrdCol, exp)),
        if (ewm.isEmpty) None else Some(GlobalScan.blockedEwm(comps, OrdCol, ewm))
      ).flatten
    }
  }

  /** Row count of a localCheckpoint-pinned frame straight off its backing
    * RDD — a plain scheduler job over cached partitions, with none of the
    * Catalyst analysis/codegen a `df.count()` action would compile (the
    * routing probe must not cost a plan of its own).
    */
  private def pinnedRowCount(df: DataFrame): Long =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.count()
      case _ => df.count()
    }

  private def addPooledGroup(df: DataFrame, p: PanelFrame, v: Column,
                             pooling: Pooling, collapse: Option[String],
                             tfms: Seq[(Int, LagTransform)],
                             nameOf: (Int, LagTransform) => String,
                             globalCal: () => DataFrame): DataFrame = {
    // Loud scale guard (not a correctness issue — a plan-shape one): at
    // millisecond frequency the global/groupby pooled calendar has one
    // ordinal per distinct millisecond, so the collapsed per-ordinal
    // relation and the calendar rank scale with the ROW count instead of a
    // bounded calendar — the broadcast join-back and the sequential scans
    // below are sized for calendars, not corpora. Refuse before launching a
    // doomed plan; partition_by buckets window per-series and stay
    // distributed at any frequency.
    val rowScaledCalendar = p.freq match {
      case _: Freq.MilliFreq          => true
      case Freq.SecondFreq(s) if s < 60 => true // sub-minute: same blow-up
      case _                          => false
    }
    // The refusal is keyed on FREQUENCY, not on the calendar's actual row
    // count (counting distinct timestamps would add an eager job to a
    // deliberately lazy declaration). Small sub-minute panels are
    // legitimate, so the guard is overridable per session — loud by
    // default, explicit opt-in for workloads that KNOW their calendar is
    // bounded.
    val allowRowScaled = p.df.sparkSession.conf
      .get("spark.graft.allowRowScaledPooledCalendar", "false").toBoolean
    if ((pooling.global || pooling.groupby.nonEmpty) && rowScaledCalendar &&
        !allowRowScaled)
      throw new IllegalArgumentException(
        s"pooled transform(s) ${tfms.map { case (l, t) => t.name(l) }.mkString(", ")} " +
          "use global/groupby pooling at sub-minute frequency: the pooled calendar " +
          "scales with the row count, so the per-ordinal relation cannot stay " +
          "calendar-bounded. Use partition_by (per-series buckets), a coarser " +
          "frequency, or pre-aggregate the panel before featurizing — or, if " +
          "this panel's sub-minute calendar is genuinely small, opt in with " +
          "spark.conf.set(\"spark.graft.allowRowScaledPooledCalendar\", \"true\").")

    val buckets = pooling.bucketCols(p.idCol)
    val parent = pooling.parentScope(p.idCol)

    // PURE-global groups (global calendar AND no bucket columns) take the
    // r13 collapse-first shape: see [[addPureGlobalGroup]].
    if (parent.isEmpty && buckets.isEmpty)
      return addPureGlobalGroup(df, p, v, collapse, tfms, nameOf, globalCal)

    // Ordinal over the parent calendar. Global scope attaches the SHARED
    // distributed calendar rank (built once per featurize, see addFeatures)
    // via a broadcast join rather than funneling all rows through one task.
    // The calendar partitions by NORMALIZED keys (NaN folded to null) so a
    // float parent key's NaN and null rows share ONE calendar — the bucket
    // aggregates and join-backs below normalize the same way, and a raw-key
    // calendar would hand the merged bucket ordinals from two different
    // clocks (silently wrong window contents). Normalization rides on temp
    // columns; the OUTPUT rows keep their raw key values.
    val floatParent = parent.filter(c => df.schema(c).dataType match {
      case DoubleType | FloatType => true
      case _ => false
    })
    val withOrd =
      if (parent.isEmpty) Ordinals.attachCalendar(df, globalCal(), p.timeCol)
      else if (floatParent.isEmpty)
        Ordinals.withOrdinal(df, parent, p.timeCol, OrdCol)
      else {
        val tmp = floatParent.map(c => c -> s"__nk_$c").toMap
        val df2 = floatParent.foldLeft(df)((d, c) =>
          d.withColumn(tmp(c), normalizedKey(d, c)))
        Ordinals.withOrdinal(df2, parent.map(c => tmp.getOrElse(c, c)),
          p.timeCol, OrdCol).drop(tmp.values.toSeq: _*)
      }

    collapse match {
      case None =>
        // Row-level bucket windows. Transforms that decompose over
        // sum/count/sumsq/min/max take the aggregate fast path: window over
        // the per-(bucket, ordinal) component relation — the reference's
        // `_ts_aggs` cache (pooled.py:183-218) as a DataFrame — then join
        // back. Only non-decomposable transforms (quantiles, LookupLag)
        // window over raw rows.
        //
        // IDENTITY COLLAPSE (r14, guide §2.4 "a distinct on data that is
        // already unique"): when the bucket IS the series key itself
        // (groupby = [idCol], nothing else), the per-(bucket, ordinal)
        // relation has exactly one row per panel row — the groupBy
        // exchange, the component windows and the join-back recompute the
        // input at 1:1 scale for nothing. Window the raw rows directly:
        // each per-ordinal component is a singleton (sum(v)=v, count=1,
        // sum(v*v)=v*v), so the row-level window accumulates the same
        // values in the same ordinal order — bit-identical (pinned by
        // LagTransformsSpec "identity collapse…" against the comps path).
        // In the recursive predict loop this removes two exchanges + a
        // broadcast build from EVERY step's plan. Escape hatch:
        // spark.graft.pooledIdentityCollapse=false restores the comps
        // shape (e.g. for frames with duplicate (id, ds) rows, where the
        // two paths differ in float association order — same statistic,
        // last-ulp FP difference).
        val identityCollapse = buckets == Seq(p.idCol) &&
          df.sparkSession.conf
            .get("spark.graft.pooledIdentityCollapse", "true").toBoolean
        val (aggable, rowLevel) =
          if (identityCollapse) (Nil, tfms)
          else tfms.partition { case (l, t) =>
            t.stagesFromComponents(
              AggComponents(lit(0), lit(0), lit(0), lit(0), lit(0)), l,
              RangeOrdCtx(Nil, col(OrdCol)), "probe").isDefined
          }
        var out = withOrd
        if (aggable.nonEmpty) {
          val keyCols = buckets.map(c => normalizedKey(withOrd, c).as(c))
          val comps = withOrd
            .select((keyCols :+ col(OrdCol) :+ v.as("__v")): _*)
            .groupBy((buckets.map(c => col(s"`$c`")) :+ col(OrdCol)): _*)
            .agg(sum(col("__v")).as("__s"), count(col("__v")).as("__c"),
              sum(col("__v") * col("__v")).as("__ss"),
              min(col("__v")).as("__mn"), max(col("__v")).as("__mx"))
          // bucketed component windows partition by the bucket keys —
          // distributed by construction. The relation stays LAZY: bucketed
          // windows reference their comps only a couple of times — measured
          // at sf0.1 (r12), a pin here trades 8->4 scans for extra per-step
          // job floors in the pooled predict loop and loses. (Pure-global
          // groups — where the blocked shapes reference the relation many
          // times — take addPureGlobalGroup's collapse-first pinned shape.)
          val featured = {
            val ctx = RangeOrdCtx(buckets.map(c => col(s"`$c`")), col(OrdCol))
            applyComponentStages(comps, ctx, aggable, nameOf)
          }.drop("__s", "__c", "__ss", "__mn", "__mx")
          val featNames = aggable.map { case (l, t) => nameOf(l, t) }
          val renamed = featured.select(
            (buckets.map(c => col(s"`$c`").as(s"__r_$c")) :+ col(OrdCol).as("__r_ord")) ++
              featNames.map(n => col(s"`$n`")): _*)
          val rhs =
            if (pooling.global || pooling.groupby.nonEmpty) broadcast(renamed) else renamed
          val cond = buckets.map(c => normalizedKey(out, c) <=> col(s"`__r_$c`"))
            .foldLeft(col(OrdCol) === col("__r_ord"))(_ && _)
          out = out.join(rhs, cond, "left")
            .drop(buckets.map(c => s"__r_$c"): _*)
            .drop("__r_ord")
        }
        if (rowLevel.nonEmpty) {
          val ctx = RangeOrdCtx(buckets.map(c => normalizedKey(out, c)), col(OrdCol))
          out = applyStages(out, v, ctx, rowLevel, nameOf)
        }
        out.drop(OrdCol)

      case Some(agg) =>
        // Collapse to one row per (bucket, ordinal) — the reference's
        // `_ts_aggs` relation — compute features there, join back.
        val cv = col("__v")
        val aggExpr = agg match {
          case "sum"   => sum(cv)
          case "count" => count(cv).cast("double")
          case "mean"  => sum(cv) / count(cv) // null when count=0, like the reference
          case "min"   => min(cv)
          case "max"   => max(cv)
        }
        val keyCols = buckets.map(c => normalizedKey(withOrd, c).as(c))
        val collapsed = withOrd
          .select((keyCols :+ col(OrdCol) :+ v.as("__v")): _*)
          .groupBy((buckets.map(c => col(s"`$c`")) :+ col(OrdCol)): _*)
          .agg(aggExpr.as("__cv"))
        val featured = {
          val ctx = RangeOrdCtx(buckets.map(c => col(s"`$c`")), col(OrdCol))
          applyStages(collapsed, col("__cv"), ctx, tfms, nameOf)
        }.drop("__cv")
        val featNames = tfms.map { case (l, t) => nameOf(l, t) }
        val renamed = featured.select(
          (buckets.map(c => col(s"`$c`").as(s"__r_$c")) :+ col(OrdCol).as("__r_ord")) ++
            featNames.map(n => col(s"`$n`")): _*)
        // Small bucket-level relations (global/groupby) broadcast; local
        // partition collapses stay as shuffle joins.
        val rhs =
          if (pooling.global || pooling.groupby.nonEmpty) broadcast(renamed) else renamed
        val cond = buckets.map(c => normalizedKey(withOrd, c) <=> col(s"`__r_$c`"))
          .foldLeft(col(OrdCol) === col("__r_ord"))(_ && _)
        withOrd.join(rhs, cond, "left")
          .drop(buckets.map(c => s"__r_$c"): _*)
          .drop("__r_ord", OrdCol)
    }
  }

  /** PURE-global pooled group (global calendar, no bucket columns) — the
    * r13 collapse-first shape (optimization guide §1.2 "the distributed
    * algorithm", §2.4 "remove shuffles outright"):
    *
    *   1. collapse the panel by the RAW timestamp — one scan + one shuffle
    *      to a calendar-sized relation — and pin THAT;
    *   2. derive the ordinal rank from the pinned calendar-sized relation
    *      ([[Ordinals.globalCalendar]] over ≤ calendar rows) instead of
    *      ranking the raw panel: the old shape's globalCalendar pin
    *      re-scanned and re-shuffled the FULL panel (plus the range
    *      exchange's sampling pass) to rank exactly the timestamps this
    *      collapse enumerates — it was the dominant job of every pure-global
    *      featurize (events_global_rolling_mean: 3.4 s of a 6.2 s warm
    *      trace at sf0.1);
    *   3. compute the features on the per-ordinal relation (blocked
    *      evaluation for bounded transforms, [[globalUnboundedParts]] for
    *      unbounded), re-attach the timestamp through the tiny calendar,
    *      and land them on the panel with ONE null-safe broadcast join on
    *      the raw timestamp — panel rows never carry an ordinal, so the
    *      old shape's second full-panel broadcast join disappears too.
    *
    * Row-level (non-decomposable) bounded transforms still need per-row
    * ordinals; only that sub-path attaches the shared `globalCal` to the
    * panel (same plan as before r13).
    */
  private def addPureGlobalGroup(df: DataFrame, p: PanelFrame, v: Column,
                                 collapse: Option[String],
                                 tfms: Seq[(Int, LagTransform)],
                                 nameOf: (Int, LagTransform) => String,
                                 globalCal: () => DataFrame): DataFrame = {
    val ts = p.timeCol
    // ONE null-safe broadcast join of a per-timestamp feature relation onto
    // the panel (a null timestamp keeps its row and its features)
    def joinBackByTs(out: DataFrame, featuredTs: DataFrame,
                     featNames: Seq[String]): DataFrame = {
      val renamed = featuredTs.select(
        col(ts).as("__r_ts") +: featNames.map(n => col(s"`$n`")): _*)
      out.join(broadcast(renamed), col(ts) <=> col("__r_ts"), "left")
        .drop("__r_ts")
    }
    // per-ordinal feature parts -> one per-timestamp relation (parts carry
    // one row per ordinal; the blocked parts keep the timestamp column, the
    // sequential-scan part carries only (ordinal, features) — normalize to
    // the ordinal, then re-attach the timestamp through the tiny calendar)
    def featuredByTs(parts: Seq[DataFrame], cal: DataFrame): DataFrame = {
      val featured = parts.map(_.drop(ts)).reduce(_.join(_, OrdCol))
      featured.join(broadcast(cal), Seq(OrdCol))
    }

    collapse match {
      case None =>
        val (aggable, rowLevel) = tfms.partition { case (l, t) =>
          t.stagesFromComponents(
            AggComponents(lit(0), lit(0), lit(0), lit(0), lit(0)), l,
            RangeOrdCtx(Nil, col(OrdCol)), "probe").isDefined
        }
        var out = df
        if (aggable.nonEmpty) {
          val comps0 = df.select(col(ts), v.as("__v"))
            .groupBy(col(ts))
            .agg(sum(col("__v")).as("__s"), count(col("__v")).as("__c"),
              sum(col("__v") * col("__v")).as("__ss"),
              min(col("__v")).as("__mn"), max(col("__v")).as("__mx"))
          // calendar-sized by the row-scaled guard — pin eagerly: the
          // blocked shapes below reference this relation many times and
          // would re-run the panel aggregation (and source scan) per
          // reference otherwise
          val pinned0 = comps0.localCheckpoint()
          // the rank over the PINNED calendar-sized relation is trivial to
          // run but NOT to plan: its triangular-prefix lineage (~6
          // exchanges) is referenced by every feature part and join-back,
          // and left lazy it re-expands per reference (the first cut of
          // this shape planned 36 exchanges — the Catalyst/codegen cost
          // dominated these one-shot queries). Pin it: every reference
          // becomes a LogicalRDD leaf.
          val cal = Ordinals.globalCalendar(pinned0.select(col(ts)), ts)
            .localCheckpoint()
          val comps = Ordinals.attachCalendar(pinned0, cal, ts)
          val (bounded, unbounded) = aggable.partition { case (l, t) =>
            t.updateSamples(l).isDefined
          }
          val parts = Seq(
            if (bounded.isEmpty) None
            else Some(applyBlocked(comps, maxNeed(bounded))(
              applyComponentStages(_, _, bounded, nameOf))
              .drop("__s", "__c", "__ss", "__mn", "__mx"))
          ).flatten ++
            (if (unbounded.isEmpty) Nil
             else globalUnboundedParts(comps, pinnedRowCount(pinned0),
               unbounded, nameOf))
          out = joinBackByTs(out, featuredByTs(parts, cal),
            aggable.map { case (l, t) => nameOf(l, t) })
        }
        if (rowLevel.nonEmpty) {
          // Global row-level windows have no partition key: a plain
          // WindowSpec would funnel ALL rows through one task. Bounded
          // transforms get a blocked evaluation (range-partition the
          // ordinal axis, duplicate each row into every block whose
          // windows reach it, compute per block, keep owner rows);
          // unbounded ones cannot bound the overlap — fail fast.
          val (bounded, unbounded) = rowLevel.partition { case (l, t) =>
            t.updateSamples(l).isDefined
          }
          require(unbounded.isEmpty,
            s"global pooled transform(s) ${unbounded.map { case (l, t) => t.name(l) }.mkString(", ")} " +
              "are unbounded and non-decomposable: with no partition_by every row would go " +
              "through a single task. Use partition_by/groupby, time_agg, or a decomposable statistic.")
          out = applyBlockedGlobal(
            Ordinals.attachCalendar(out, globalCal(), ts), v, bounded, nameOf)
            .drop(OrdCol)
        }
        out

      case Some(agg) =>
        val cv = col("__v")
        val aggExpr = agg match {
          case "sum"   => sum(cv)
          case "count" => count(cv).cast("double")
          case "mean"  => sum(cv) / count(cv) // null when count=0, like the reference
          case "min"   => min(cv)
          case "max"   => max(cv)
        }
        val collapsed0 = df.select(col(ts), v.as("__v"))
          .groupBy(col(ts)).agg(aggExpr.as("__cv"))
        // calendar-sized — pin eagerly, same rationale as the component
        // branch above
        val pinnedCollapsed = collapsed0.localCheckpoint()
        // pinned for the same plan-size reason as the component branch
        val cal = Ordinals.globalCalendar(pinnedCollapsed.select(col(ts)), ts)
          .localCheckpoint()
        val collapsed = Ordinals.attachCalendar(pinnedCollapsed, cal, ts)
        val (bounded, unbounded) = tfms.partition { case (l, t) =>
          t.updateSamples(l).isDefined
        }
        // component columns derived from the collapsed value replay the
        // window arithmetic exactly
        val compsFromCv = collapsed.select(col(OrdCol),
          col("__cv").as("__s"),
          when(col("__cv").isNotNull, lit(1L)).otherwise(lit(0L)).as("__c"),
          (col("__cv") * col("__cv")).as("__ss"),
          col("__cv").as("__mn"), col("__cv").as("__mx"))
        val parts = Seq(
          if (bounded.isEmpty) None
          else Some(applyBlockedGlobal(collapsed, col("__cv"), bounded, nameOf)
            .drop("__cv"))
        ).flatten ++
          (if (unbounded.isEmpty) Nil
           else globalUnboundedParts(compsFromCv,
             pinnedRowCount(pinnedCollapsed), unbounded, nameOf))
        joinBackByTs(df, featuredByTs(parts, cal),
          tfms.map { case (l, t) => nameOf(l, t) })
    }
  }
}
