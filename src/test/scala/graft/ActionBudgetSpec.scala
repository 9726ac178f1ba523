package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Driver-action budget locks for the driver-loop workloads (recursive
  * predict, CV, update, intervals). Each of these runs a bounded driver
  * loop by DESIGN (h fused steps, nWindows evals, one conformal pass);
  * the distinct-SQL-execution count is the design quantity — independent
  * of data scale — and bench creep from an accidentally-doubled loop
  * shows up here as a failing spec in the same commit, not as a slow
  * bench two rounds later.
  *
  * Budgets are the EXACT measured counts (tools/ActionCount, sf0.001,
  * r8). A deliberate plan change that adds or removes actions must update
  * the budget in the same commit and say why in its message.
  */
class ActionBudgetSpec extends SparkSpec {

  private val SfDir = "/root/testdata/sf0.001"

  // query -> exact distinct-execution budget (AQE stage-jobs excluded:
  // executions are blocking driver round-trips, the design quantity)
  // r11: cv_2x7 3->2 and cv_intervals 7->3 (shared fused kernel pass +
  // data-free CV skips the window-0 slice fit), bday/wmon 5->3 (same
  // data-free path), update stays 8 but swaps two validation takes for one
  // merged collect plus the oracle query's shared panel pin.
  private val Budgets: Seq[(String, Int)] = Seq(
    "predict_recursive_h14" -> 2,
    "predict_recursive_diff_naive" -> 4,
    "predict_bday_recursive" -> 3,
    "predict_wmon_recursive" -> 3,
    "update_then_predict_diff_naive" -> 8,
    "cv_2x7_snaive" -> 2,
    // r14: refit CV skips the window-0 driver fit outright (kernel-refit
    // stub — the fused kernel refits every scheduled window in-task, so
    // the driver-trained state and its eager train-slice pin were dead
    // weight); cv_refit_every2 3->2, automl_halving 6->4
    "cv_refit_every2_mean" -> 2,
    "cv_intervals_snaive" -> 3,
    // r13: the shared backtest runs as ONE fused kernel pass (per-cutoff
    // transform refit inside the task, KernelTransforms) — 4 executions
    // (panel pin + kernel pass checkpoint + conformal + output) vs the
    // r12 driver-loop backtest's 20
    "cv_intervals_diff_scaler" -> 4,
    // r12: sidecar writes/reads threaded (max-of-jobs, not sum) — the
    // count is now fit-pin + panel write + load pins + predict
    "save_load_predict_diff_naive" -> 6,
    // the pooled lockstep kernel: its history and step jobs are plain RDD
    // jobs outside any SQL execution (one job per step, pinned by the
    // job-count test below); 7 -> 3 from the driver lockstep loop
    "predict_pooled_groupby_rmean" -> 3,
    "predict_intervals_weighted" -> 2,
    "aci_path_snaive" -> 1,
    "predict_ses_h3" -> 2,
    // r12: one gram pass — the (doc, bucket) counts checkpoint + the
    // scoring/sampling action (was materializing the gram-level relation)
    "doc_dsir_sample" -> 2,
    // r13: every rung's candidate losses collect in ONE action over a
    // tagged union — the count is the panel pin + one loss collect per
    // rung (+ the result materialization); per-candidate collects would
    // blow these by ~the pool size
    "automl_best_config" -> 3,
    "automl_halving_best" -> 4)

  // measured: the panel pin, the pooled table's partials job, and the
  // linear regression's passes over the cached kernel training frame
  private val PooledFitJobs = 6

  private def materialize(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("driver-loop workloads stay inside their pinned execution budgets") {
    val execs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null) {
          Option(js.properties.getProperty("spark.sql.execution.root.id"))
            .orElse(Option(js.properties.getProperty("spark.sql.execution.id")))
            .foreach(execs.add)
        }
    }
    val over = scala.collection.mutable.ArrayBuffer.empty[String]
    Budgets.foreach { case (name, budget) =>
      val fn = SparkEntry.queries.getOrElse(name, fail(s"unknown query $name"))
      materialize(fn(spark, SfDir)) // warm: classes, codegen — uncounted
      org.apache.spark.sql.graft.bridge.waitForListeners(spark)
      execs.clear()
      spark.sparkContext.addSparkListener(listener)
      try {
        materialize(fn(spark, SfDir))
        org.apache.spark.sql.graft.bridge.waitForListeners(spark)
      } finally spark.sparkContext.removeSparkListener(listener)
      val e = execs.size()
      info(f"$name%-32s executions=$e%3d budget=$budget%3d")
      if (e > budget) over += s"$name: $e executions > budget $budget"
    }
    assert(over.isEmpty,
      s"driver-loop action budgets exceeded:\n${over.mkString("\n")}")
  }

  /** Spark jobs `body` starts, after one uncounted warm run. */
  private def jobsOf(body: => Unit): Int = {
    body // warm
    org.apache.spark.sql.graft.bridge.waitForListeners(spark)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.graft.bridge.waitForListeners(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  /** 12 integer-day series in 3 groups and a pipeline with a groupby
    * rolling mean: the lockstep predict and the kernel featurize shape.
    */
  private def pooledPipeline() = {
    import graft.core.{Freq, PanelFrame}
    import graft.forecast.{MLForecast, Models, SparkLinearRegression}
    import graft.functions.{Pooling, RollingMean}
    import graft.operators.FeatureSpec
    import spark.implicits._
    val rows = for (s <- 0 until 12; t <- 0 until 60)
      yield (s"s$s", t.toLong, ((s * 7 + t * 3) % 11).toDouble, (s % 3).toDouble)
    val p = PanelFrame(rows.toDF("unique_id", "ds", "y", "grp"), freq = Freq.IntFreq(1),
      staticCols = Seq("grp"))
    val conf = MLForecast(Seq(SparkLinearRegression(), Models.naive), Freq.IntFreq(1),
      FeatureSpec(lags = Seq(1, 7), lagTransforms =
        Map(1 -> Seq(RollingMean(7, pooling = Pooling(groupby = Seq("grp")))))),
      staticFeatures = Seq("grp"))
    (conf, p)
  }

  test("a pooled lockstep predict runs one Spark job per step") {
    val (conf, p) = pooledPipeline()
    val fitted = conf.fit(p)
    def jobsAt(h: Int): Int = jobsOf(fitted.predict(h).collect())
    val (j2, j7) = (jobsAt(2), jobsAt(7))
    info(s"pooled predict jobs: h=2 $j2, h=7 $j7")
    assert(j7 - j2 <= 5, s"h=7 ran $j7 jobs, h=2 ran $j2: more than one job per step")
  }

  test("a pooled fit featurizes in the kernel inside its pinned job count") {
    val (conf, p) = pooledPipeline()
    assert(graft.forecast.LocalLoop.featurizes(conf, p, Nil))
    val jobs = jobsOf(conf.fit(p))
    info(s"pooled fit jobs: $jobs")
    assert(jobs == PooledFitJobs, s"a pooled fit ran $jobs jobs, pinned at $PooledFitJobs")
  }
}
