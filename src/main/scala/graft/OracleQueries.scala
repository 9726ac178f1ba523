package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Freq, PanelFrame, Validation}
import graft.functions._
import graft.operators.{FeatureSpec, Featurizer}
import graft.sources.Panels

/** The oracle-checked query registry: one entry per implemented operator
  * (SURVEY.md §2), each with a DuckDB-SQL twin over the same parquet tables.
  *
  * Exactness contract: every SQL oracle mirrors the Spark expression's
  * arithmetic FORMULA AND ORDER (sum/count/sumsq compositions over
  * integer-valued targets), so results hash-match bit-for-bit, not just
  * approximately — the same move as the reference's SQLite oracle
  * (/root/reference/tests/test_pooled_sqlite_oracle.py).
  */
final case class OracleQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    sql: Option[String],
)

object OracleQueries {

  /** Dense per-series panel on an integer ordinal axis (ds = 0..n-1). */
  private def dense(s: SparkSession, dir: String): PanelFrame =
    Panels.densePanel(s, dir)

  /** SQL prefix: `dense(unique_id, ds, ord, y)`; window queries use ord. */
  private val P = Panels.panelSql

  /** Feature query helper: compute one transform, emit (unique_id, ds, alias). */
  private def feat(t: LagTransform, lag: Int, alias: String)(
      s: SparkSession, dir: String): DataFrame = {
    val p = dense(s, dir)
    val spec = FeatureSpec(lagTransforms = Map(lag -> Seq(t)))
    Featurizer.addFeatures(p, spec)
      .select(col("unique_id"), col("ds"),
        col(s"`${t.name(lag)}`").cast("double").as(alias))
  }

  private def lagQ(k: Int)(s: SparkSession, dir: String): DataFrame = {
    val p = dense(s, dir)
    Featurizer.addFeatures(p, FeatureSpec(lags = Seq(k)))
      .select(col("unique_id"), col("ds"), col(s"lag$k").cast("double").as(s"lag$k"))
  }

  /** Shared window-SQL skeleton over the dense panel. */
  private def winSql(expr: String, alias: String, frame: String): String =
    s"""$P
       |SELECT unique_id, ord AS ds, CAST(($expr) AS DOUBLE) AS $alias
       |FROM dense
       |WINDOW w AS (PARTITION BY unique_id ORDER BY ord $frame)""".stripMargin

  private def rollFrame(lag: Int, w: Int): String =
    s"ROWS BETWEEN ${lag + w - 1} PRECEDING AND $lag PRECEDING"
  private def expFrame(lag: Int): String =
    s"ROWS BETWEEN UNBOUNDED PRECEDING AND $lag PRECEDING"

  /** std via the exact Spark formula (stdFromSums). */
  private def stdSql(s: String, ss: String, n: String): String =
    s"SQRT(GREATEST(($ss - $s * $s / $n) / ($n - 1), 0.0))"

  // ---------------------------------------------------------------- batch 1:
  // local (per-series) window transforms on the dense ordinal panel

  private val localWindows: Seq[OracleQuery] = Seq(
    OracleQuery("lag7", lagQ(7),
      Some(winSql("MAX(y) OVER w", "lag7", "ROWS BETWEEN 7 PRECEDING AND 7 PRECEDING"))),

    OracleQuery("rolling_mean_l1_w7", feat(RollingMean(7), 1, "rm"),
      Some(winSql(
        "CASE WHEN COUNT(y) OVER w >= 7 AND COUNT(y) OVER w > 0 THEN SUM(y) OVER w / COUNT(y) OVER w END",
        "rm", rollFrame(1, 7)))),

    OracleQuery("rolling_mean_minsamples", feat(RollingMean(7, minSamples = Some(2)), 1, "rm"),
      Some(winSql(
        "CASE WHEN COUNT(y) OVER w >= 2 AND COUNT(y) OVER w > 0 THEN SUM(y) OVER w / COUNT(y) OVER w END",
        "rm", rollFrame(1, 7)))),

    OracleQuery("rolling_std_l1_w7", feat(RollingStd(7), 1, "rs"),
      Some(winSql(
        s"CASE WHEN COUNT(y) OVER w >= 7 AND COUNT(y) OVER w > 1 THEN ${stdSql("SUM(y) OVER w", "SUM(y*y) OVER w", "COUNT(y) OVER w")} END",
        "rs", rollFrame(1, 7)))),

    OracleQuery("rolling_min_l7_w14", feat(RollingMin(14), 7, "rmin"),
      Some(winSql(
        "CASE WHEN COUNT(y) OVER w >= 14 AND COUNT(y) OVER w > 0 THEN MIN(y) OVER w END",
        "rmin", rollFrame(7, 14)))),

    OracleQuery("rolling_max_l7_w14", feat(RollingMax(14), 7, "rmax"),
      Some(winSql(
        "CASE WHEN COUNT(y) OVER w >= 14 AND COUNT(y) OVER w > 0 THEN MAX(y) OVER w END",
        "rmax", rollFrame(7, 14)))),

    OracleQuery("rolling_quantile_l1_w7_p50", feat(RollingQuantile(0.5, 7), 1, "rq"),
      Some(winSql(
        "CASE WHEN COUNT(y) OVER w >= 7 AND COUNT(y) OVER w > 0 THEN QUANTILE_CONT(y, 0.5) OVER w END",
        "rq", rollFrame(1, 7)))),

    OracleQuery("expanding_mean_l1", feat(ExpandingMean(), 1, "em"),
      Some(winSql(
        "CASE WHEN COUNT(y) OVER w > 0 THEN SUM(y) OVER w / COUNT(y) OVER w END",
        "em", expFrame(1)))),

    OracleQuery("expanding_std_l1", feat(ExpandingStd(), 1, "es"),
      Some(winSql(
        s"CASE WHEN COUNT(y) OVER w > 1 THEN ${stdSql("SUM(y) OVER w", "SUM(y*y) OVER w", "COUNT(y) OVER w")} END",
        "es", expFrame(1)))),

    OracleQuery("expanding_min_l2", feat(ExpandingMin(), 2, "emin"),
      Some(winSql("MIN(y) OVER w", "emin", expFrame(2)))),

    OracleQuery("expanding_max_l2", feat(ExpandingMax(), 2, "emax"),
      Some(winSql("MAX(y) OVER w", "emax", expFrame(2)))),

    OracleQuery("expanding_quantile_l1_p50", feat(ExpandingQuantile(0.5), 1, "eq"),
      Some(winSql("QUANTILE_CONT(y, 0.5) OVER w", "eq", expFrame(1)))),
  )

  // seasonal windows: w single-ordinal frames combined arithmetically — the
  // SQL mirrors the Spark formulation frame-for-frame
  private def seasonalSql(parts: Seq[String], combined: String, alias: String,
                          frames: Seq[(String, Int)]): String = {
    val windows = frames.map { case (wn, off) =>
      s"$wn AS (PARTITION BY unique_id ORDER BY ord ROWS BETWEEN $off PRECEDING AND $off PRECEDING)"
    }.mkString(", ")
    s"""$P
       |SELECT unique_id, ord AS ds, CAST(($combined) AS DOUBLE) AS $alias
       |FROM dense
       |WINDOW $windows""".stripMargin
  }

  private def offsets(lag: Int, sl: Int, w: Int): Seq[Int] =
    (0 until w).map(i => lag + i * sl)

  private val seasonalWindows: Seq[OracleQuery] = {
    def cnt(fs: Seq[Int]) =
      fs.zipWithIndex.map { case (_, i) => s"COALESCE(COUNT(y) OVER w$i, 0)" }.mkString(" + ")
    def tot(fs: Seq[Int]) =
      fs.zipWithIndex.map { case (_, i) => s"COALESCE(SUM(y) OVER w$i, 0.0)" }.mkString(" + ")
    def frames(fs: Seq[Int]) = fs.zipWithIndex.map { case (off, i) => (s"w$i", off) }

    val fsMean = offsets(1, 7, 4)
    val fsStd = offsets(1, 7, 4)
    val fsMin = offsets(2, 7, 3)

    Seq(
      OracleQuery("seasonal_rolling_mean_l1_s7_w4",
        feat(SeasonalRollingMean(7, 4), 1, "srm"),
        Some(seasonalSql(Nil,
          s"CASE WHEN (${cnt(fsMean)}) >= 4 AND (${cnt(fsMean)}) > 0 THEN (${tot(fsMean)}) / (${cnt(fsMean)}) END",
          "srm", frames(fsMean)))),

      OracleQuery("seasonal_rolling_std_l1_s7_w4",
        feat(SeasonalRollingStd(7, 4), 1, "srs"),
        Some(seasonalSql(Nil, {
          val n = s"(${cnt(fsStd)})"
          val s = s"(${tot(fsStd)})"
          val ss = "(" + fsStd.indices.map(i => s"COALESCE(SUM(y*y) OVER w$i, 0.0)").mkString(" + ") + ")"
          s"CASE WHEN $n >= 4 AND $n > 1 THEN ${stdSql(s, ss, n)} END"
        }, "srs", frames(fsStd)))),

      OracleQuery("seasonal_rolling_min_l2_s7_w3",
        feat(SeasonalRollingMin(7, 3), 2, "srmin"),
        Some(seasonalSql(Nil, {
          val n = s"(${cnt(fsMin)})"
          val m = "LEAST(" + fsMin.indices.map(i => s"MIN(y) OVER w$i").mkString(", ") + ")"
          s"CASE WHEN $n >= 3 AND $n > 0 THEN $m END"
        }, "srmin", frames(fsMin)))),

      OracleQuery("seasonal_rolling_max_l2_s7_w3",
        feat(SeasonalRollingMax(7, 3), 2, "srmax"),
        Some(seasonalSql(Nil, {
          val n = s"(${cnt(fsMin)})"
          val m = "GREATEST(" + fsMin.indices.map(i => s"MAX(y) OVER w$i").mkString(", ") + ")"
          s"CASE WHEN $n >= 3 AND $n > 0 THEN $m END"
        }, "srmax", frames(fsMin)))),
    )
  }

  // EWM: alpha = 0.5 so (1 - alpha) is exact; the oracle replays the same
  // recursion with list_reduce over the ordered prefix
  private val ewmQ = OracleQuery("ewm_l1_a05",
    feat(ExponentiallyWeightedMean(0.5), 1, "ewm"),
    Some(s"""$P
       |SELECT unique_id, ord AS ds,
       |  CASE WHEN len(pfx) > 0
       |       THEN CAST(list_reduce(pfx, (acc, x) -> 0.5 * x + 0.5 * acc) AS DOUBLE)
       |  END AS ewm
       |FROM (
       |  SELECT unique_id, ord,
       |         list(y) OVER (PARTITION BY unique_id ORDER BY ord
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pfx
       |  FROM dense)""".stripMargin))

  // Offset and Combine
  private val comboQs = Seq(
    OracleQuery("offset_rolling_mean",
      feat(Offset(RollingMean(7), 3), 1, "orm"),
      Some(winSql(
        "CASE WHEN COUNT(y) OVER w >= 7 AND COUNT(y) OVER w > 0 THEN SUM(y) OVER w / COUNT(y) OVER w END",
        "orm", rollFrame(4, 7)))),

    OracleQuery("combine_ratio",
      feat(Combine(RollingMean(7), RollingMean(14), "truediv"), 1, "cr"),
      Some(s"""$P
         |SELECT unique_id, ord AS ds, CAST((
         |  (CASE WHEN COUNT(y) OVER w7 >= 7 AND COUNT(y) OVER w7 > 0 THEN SUM(y) OVER w7 / COUNT(y) OVER w7 END)
         |  / (CASE WHEN COUNT(y) OVER w14 >= 14 AND COUNT(y) OVER w14 > 0 THEN SUM(y) OVER w14 / COUNT(y) OVER w14 END)
         |) AS DOUBLE) AS cr
         |FROM dense
         |WINDOW w7 AS (PARTITION BY unique_id ORDER BY ord ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING),
         |       w14 AS (PARTITION BY unique_id ORDER BY ord ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)""".stripMargin)),
  )

  // ---------------------------------------------------------------- batch 2:
  // panel / validation / transform operators (non-window)

  private val panelOps: Seq[OracleQuery] = Seq(
    // Hampel spike filter over the dense panel: centered rolling median/MAD
    // window, flags |y - med| > 3 * 1.4826 * mad and replaces flagged rows
    // with the window median. Both engines compute the median as explicit
    // sorted-list selection (half-sum of middles on even length), so the
    // comparison is bit-exact.
    OracleQuery("panel_hampel_k3",
      (s, dir) => {
        import graft.operators.Outliers
        Outliers.hampel(dense(s, dir), k = 3, nSigmas = 3.0)
          .select(col("unique_id"), col("ds"), col("y").cast("double").as("y"),
            col("med"), col("mad"), col("is_outlier"),
            col("y_hampel").cast("double").as("y_hampel"))
      },
      Some(s"""$P
         |, lw AS (SELECT unique_id, ord, CAST(y AS DOUBLE) AS y,
         |    list_sort(list(CAST(y AS DOUBLE)) OVER (PARTITION BY unique_id ORDER BY ord
         |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS arr
         |  FROM dense)
         |, m1 AS (SELECT *, CASE WHEN len(arr) % 2 = 1 THEN arr[(len(arr)+1)//2]
         |    ELSE (arr[len(arr)//2] + arr[len(arr)//2+1]) / 2.0 END AS med FROM lw)
         |, m2 AS (SELECT *, list_sort(list_transform(arr, x -> abs(x - med))) AS dev FROM m1)
         |, m3 AS (SELECT *, CASE WHEN len(dev) % 2 = 1 THEN dev[(len(dev)+1)//2]
         |    ELSE (dev[len(dev)//2] + dev[len(dev)//2+1]) / 2.0 END AS mad FROM m2)
         |SELECT unique_id, ord AS ds, y, med, mad,
         |       COALESCE(abs(y - med) > 3.0 * 1.4826 * mad, FALSE) AS is_outlier,
         |       CASE WHEN COALESCE(abs(y - med) > 3.0 * 1.4826 * mad, FALSE)
         |            THEN med ELSE y END AS y_hampel
         |FROM m3""".stripMargin)),

    // Trailing (causal) Hampel: same median/MAD machinery over the last
    // 2k+1 rows ending at the current one — the window an ingest-time
    // gate maintains incrementally (StreamingOutliers replays it).
    OracleQuery("panel_hampel_trailing_k3",
      (s, dir) => {
        import graft.operators.Outliers
        Outliers.hampelTrailing(dense(s, dir), k = 3, nSigmas = 3.0)
          .select(col("unique_id"), col("ds"), col("y").cast("double").as("y"),
            col("med"), col("mad"), col("is_outlier"),
            col("y_hampel").cast("double").as("y_hampel"))
      },
      Some(s"""$P
         |, lw AS (SELECT unique_id, ord, CAST(y AS DOUBLE) AS y,
         |    list_sort(list(CAST(y AS DOUBLE)) OVER (PARTITION BY unique_id ORDER BY ord
         |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
         |  FROM dense)
         |, m1 AS (SELECT *, CASE WHEN len(arr) % 2 = 1 THEN arr[(len(arr)+1)//2]
         |    ELSE (arr[len(arr)//2] + arr[len(arr)//2+1]) / 2.0 END AS med FROM lw)
         |, m2 AS (SELECT *, list_sort(list_transform(arr, x -> abs(x - med))) AS dev FROM m1)
         |, m3 AS (SELECT *, CASE WHEN len(dev) % 2 = 1 THEN dev[(len(dev)+1)//2]
         |    ELSE (dev[len(dev)//2] + dev[len(dev)//2+1]) / 2.0 END AS mad FROM m2)
         |SELECT unique_id, ord AS ds, y, med, mad,
         |       COALESCE(abs(y - med) > 3.0 * 1.4826 * mad, FALSE) AS is_outlier,
         |       CASE WHEN COALESCE(abs(y - med) > 3.0 * 1.4826 * mad, FALSE)
         |            THEN med ELSE y END AS y_hampel
         |FROM m3""".stripMargin)),

    // Per-series global z-score outlier flags from exact sum/count/sumsq
    // moments (integer-valued y makes the moments bit-reproducible).
    OracleQuery("panel_zscore_outliers",
      (s, dir) => {
        import graft.operators.Outliers
        Outliers.zscoreFlags(dense(s, dir), nSigmas = 3.0)
          .select(col("unique_id"), col("ds"), col("y").cast("double").as("y"),
            col("mean"), col("std"), col("is_outlier"))
      },
      Some(s"""$P
         |, mo AS (SELECT unique_id, ord, CAST(y AS DOUBLE) AS y,
         |    SUM(CAST(y AS DOUBLE)) OVER w AS s1,
         |    SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) OVER w AS s2,
         |    CAST(COUNT(CAST(y AS DOUBLE)) OVER w AS DOUBLE) AS n
         |  FROM dense
         |  WINDOW w AS (PARTITION BY unique_id))
         |SELECT unique_id, ord AS ds, y, s1 / n AS mean,
         |  CASE WHEN n >= 2 THEN sqrt(greatest((s2 - s1 * s1 / n) / (n - 1.0), 0.0)) END AS std,
         |  COALESCE(abs(y - s1 / n) > 3.0 *
         |    (CASE WHEN n >= 2 THEN sqrt(greatest((s2 - s1 * s1 / n) / (n - 1.0), 0.0)) END),
         |    FALSE) AS is_outlier
         |FROM mo""".stripMargin)),

    // Rolling trend strength: Pearson correlation of y against the time
    // ordinal over a trailing 14-row window, from exact integer sums in a
    // fixed expression order (no streaming corr aggregate).
    OracleQuery("panel_rolling_trend_corr",
      (s, dir) => {
        import graft.operators.Stats
        Stats.rollingCorr(dense(s, dir), "ds", w = 14)
          .select(col("unique_id"), col("ds"), col("corr_ds_w14"))
      },
      Some(s"""$P
         |, mo AS (SELECT unique_id, ord,
         |    CAST(COUNT(*) OVER w AS DOUBLE) AS n,
         |    SUM(CAST(ord AS DOUBLE)) OVER w AS sx,
         |    SUM(CAST(y AS DOUBLE)) OVER w AS sy,
         |    SUM(CAST(ord AS DOUBLE) * CAST(ord AS DOUBLE)) OVER w AS sxx,
         |    SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) OVER w AS syy,
         |    SUM(CAST(ord AS DOUBLE) * CAST(y AS DOUBLE)) OVER w AS sxy
         |  FROM dense
         |  WINDOW w AS (PARTITION BY unique_id ORDER BY ord
         |               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         |SELECT unique_id, ord AS ds,
         |  CASE WHEN n >= 2 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
         |       THEN (n * sxy - sx * sy)
         |            / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
         |  END AS corr_ds_w14
         |FROM mo""".stripMargin)),

    // Rolling distribution-shape features: mean/std/skew/kurtosis/OLS
    // slope from exact integer power sums in fixed expression order.
    OracleQuery("panel_rolling_shape_w14",
      (s, dir) => {
        import graft.operators.Stats
        Stats.rollingShape(dense(s, dir), "ds", w = 14)
          .select(col("unique_id"), col("ds"), col("mean_w14"), col("std_w14"),
            col("skew_w14"), col("kurt_w14"), col("slope_w14"))
      },
      Some(s"""$P
         |, mo AS (SELECT unique_id, ord,
         |    CAST(COUNT(*) OVER w AS DOUBLE) AS n,
         |    SUM(CAST(y AS DOUBLE)) OVER w AS s1,
         |    SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) OVER w AS s2,
         |    SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) OVER w AS s3,
         |    SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) * CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) OVER w AS s4,
         |    SUM(CAST(ord AS DOUBLE)) OVER w AS sx,
         |    SUM(CAST(ord AS DOUBLE) * CAST(ord AS DOUBLE)) OVER w AS sxx,
         |    SUM(CAST(ord AS DOUBLE) * CAST(y AS DOUBLE)) OVER w AS sxy
         |  FROM dense
         |  WINDOW w AS (PARTITION BY unique_id ORDER BY ord
         |               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         |, mm AS (SELECT *, s1 / n AS m FROM mo)
         |, vv AS (SELECT *, (s2 - n * m * m) / (n - 1.0e0) AS v FROM mm)
         |SELECT unique_id, ord AS ds,
         |  CASE WHEN n >= 1 THEN m END AS mean_w14,
         |  CASE WHEN n >= 2 THEN sqrt(greatest(v, 0.0e0)) END AS std_w14,
         |  CASE WHEN n >= 3 AND v > 0 THEN
         |    (n * (s3 - 3.0e0 * m * s2 + 2.0e0 * n * m * m * m))
         |    / ((n - 1.0e0) * (n - 2.0e0) * (sqrt(v) * sqrt(v) * sqrt(v)))
         |  END AS skew_w14,
         |  CASE WHEN n >= 4 AND v > 0 THEN
         |    (n * (n + 1.0e0) * (s4 - 4.0e0 * m * s3 + 6.0e0 * m * m * s2 - 3.0e0 * n * m * m * m * m))
         |    / ((n - 1.0e0) * (n - 2.0e0) * (n - 3.0e0) * (v * v))
         |    - (3.0e0 * (n - 1.0e0) * (n - 1.0e0)) / ((n - 2.0e0) * (n - 3.0e0))
         |  END AS kurt_w14,
         |  CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
         |       THEN (n * sxy - sx * s1) / (n * sxx - sx * sx)
         |  END AS slope_w14
         |FROM vv""".stripMargin)),

    // Per-series autocorrelation at lags 1 and 7 (statsmodels acf
    // convention: full-series mean, total-SS denominator) — the
    // seasonality/persistence diagnostic, from exact integer sums.
    OracleQuery("panel_acf_1_7",
      (s, dir) => {
        import graft.operators.Stats
        Stats.acf(dense(s, dir), Seq(1, 7))
      },
      Some(s"""$P
         |, lg AS (SELECT unique_id, CAST(y AS DOUBLE) AS y,
         |    LAG(CAST(y AS DOUBLE), 1) OVER w AS l1,
         |    LAG(CAST(y AS DOUBLE), 7) OVER w AS l7
         |  FROM dense
         |  WINDOW w AS (PARTITION BY unique_id ORDER BY ord))
         |, g AS (SELECT unique_id,
         |    CAST(COUNT(y) AS BIGINT) AS n, SUM(y) AS s, SUM(y * y) AS syy,
         |    SUM(y * l1) AS sk1, SUM(CASE WHEN l1 IS NOT NULL THEN y END) AS h1,
         |    SUM(l1) AS t1, CAST(COUNT(l1) AS DOUBLE) AS nk1,
         |    SUM(y * l7) AS sk7, SUM(CASE WHEN l7 IS NOT NULL THEN y END) AS h7,
         |    SUM(l7) AS t7, CAST(COUNT(l7) AS DOUBLE) AS nk7
         |  FROM lg GROUP BY 1)
         |SELECT unique_id, n,
         |  CASE WHEN n > 1 AND syy - CAST(n AS DOUBLE) * (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)) > 0
         |       THEN (sk1 - (s / CAST(n AS DOUBLE)) * h1 - (s / CAST(n AS DOUBLE)) * t1
         |             + nk1 * (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)))
         |            / (syy - CAST(n AS DOUBLE) * (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)))
         |  END AS acf1,
         |  CASE WHEN n > 7 AND syy - CAST(n AS DOUBLE) * (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)) > 0
         |       THEN (sk7 - (s / CAST(n AS DOUBLE)) * h7 - (s / CAST(n AS DOUBLE)) * t7
         |             + nk7 * (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)))
         |            / (syy - CAST(n AS DOUBLE) * (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)))
         |  END AS acf7
         |FROM g""".stripMargin)),

    // Classical additive seasonal decomposition at period 7: centered MA
    // trend (integer window sums), per-phase detrended means from exact
    // integer sums, phase re-centering via an ordered fold — every float
    // replays bit-for-bit.
    OracleQuery("panel_decompose_p7",
      (s, dir) => {
        import graft.operators.Stats
        Stats.decompose(dense(s, dir), period = 7)
      },
      Some(s"""$P
         |, b AS (SELECT unique_id, ord, CAST(y AS DOUBLE) AS y,
         |    CAST(ord % 7 AS BIGINT) AS phase,
         |    COUNT(*) OVER cw AS cnt, SUM(CAST(y AS DOUBLE)) OVER cw AS ws
         |  FROM dense
         |  WINDOW cw AS (PARTITION BY unique_id ORDER BY ord
         |                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
         |, t AS (SELECT *, CASE WHEN cnt = 7 THEN ws / 7.0e0 END AS trend FROM b)
         |, ph AS (SELECT unique_id, phase, CAST(COUNT(*) AS BIGINT) AS n,
         |    SUM(y) AS sy, SUM(ws) AS sw FROM t WHERE trend IS NOT NULL GROUP BY 1, 2)
         |, pm AS (SELECT unique_id, phase,
         |    (sy - sw / 7.0e0) / CAST(n AS DOUBLE) AS pm FROM ph)
         |, ct AS (SELECT unique_id,
         |    list_reduce(list_prepend(0.0, list(pm ORDER BY phase, pm)),
         |      (a, x) -> a + x) / COUNT(*) AS smean
         |  FROM pm GROUP BY 1)
         |, se AS (SELECT p.unique_id, p.phase, p.pm - c.smean AS seasonal
         |  FROM pm p JOIN ct c USING (unique_id))
         |SELECT t.unique_id, t.ord AS ds, t.y, t.trend, s.seasonal,
         |  CASE WHEN t.trend IS NOT NULL THEN t.y - t.trend - s.seasonal END AS resid
         |FROM t LEFT JOIN se s ON s.unique_id = t.unique_id AND s.phase = t.phase""".stripMargin)),

    // Hyndman tsfeatures trend/seasonal strength from the decomposition
    // components, variances via ordered-IEEE folds.
    OracleQuery("panel_decompose_strengths",
      (s, dir) => {
        import graft.operators.Stats
        Stats.strengths(dense(s, dir), period = 7)
      },
      Some(s"""$P
         |, b AS (SELECT unique_id, ord, CAST(y AS DOUBLE) AS y,
         |    CAST(ord % 7 AS BIGINT) AS phase,
         |    COUNT(*) OVER cw AS cnt, SUM(CAST(y AS DOUBLE)) OVER cw AS ws
         |  FROM dense
         |  WINDOW cw AS (PARTITION BY unique_id ORDER BY ord
         |                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
         |, t AS (SELECT *, CASE WHEN cnt = 7 THEN ws / 7.0e0 END AS trend FROM b)
         |, ph AS (SELECT unique_id, phase, CAST(COUNT(*) AS BIGINT) AS n,
         |    SUM(y) AS sy, SUM(ws) AS sw FROM t WHERE trend IS NOT NULL GROUP BY 1, 2)
         |, pm AS (SELECT unique_id, phase,
         |    (sy - sw / 7.0e0) / CAST(n AS DOUBLE) AS pm FROM ph)
         |, ct AS (SELECT unique_id,
         |    list_reduce(list_prepend(0.0, list(pm ORDER BY phase, pm)),
         |      (a, x) -> a + x) / COUNT(*) AS smean
         |  FROM pm GROUP BY 1)
         |, se AS (SELECT p.unique_id, p.phase, p.pm - c.smean AS seasonal
         |  FROM pm p JOIN ct c USING (unique_id))
         |, rr AS (SELECT t.unique_id, t.ord,
         |    t.y - t.trend - s.seasonal AS resid,
         |    t.y - s.seasonal AS tr, t.y - t.trend AS sr
         |  FROM t JOIN se s ON s.unique_id = t.unique_id AND s.phase = t.phase
         |  WHERE t.trend IS NOT NULL AND s.seasonal IS NOT NULL)
         |, gg AS (SELECT unique_id, CAST(COUNT(*) AS BIGINT) AS n,
         |    list_reduce(list_prepend(0.0, list(resid ORDER BY ord, resid)), (a, x) -> a + x) AS r1,
         |    list_reduce(list_prepend(0.0, list(resid * resid ORDER BY ord, resid * resid)), (a, x) -> a + x) AS r2,
         |    list_reduce(list_prepend(0.0, list(tr ORDER BY ord, tr)), (a, x) -> a + x) AS t1,
         |    list_reduce(list_prepend(0.0, list(tr * tr ORDER BY ord, tr * tr)), (a, x) -> a + x) AS t2,
         |    list_reduce(list_prepend(0.0, list(sr ORDER BY ord, sr)), (a, x) -> a + x) AS s1,
         |    list_reduce(list_prepend(0.0, list(sr * sr ORDER BY ord, sr * sr)), (a, x) -> a + x) AS s2
         |  FROM rr GROUP BY 1)
         |SELECT unique_id, n,
         |  CASE WHEN n >= 2 AND (t2 - t1 * t1 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0e0) > 0
         |       THEN greatest(0.0e0, 1.0e0 -
         |         ((r2 - r1 * r1 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0e0))
         |         / ((t2 - t1 * t1 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0e0)))
         |  END AS trend_strength,
         |  CASE WHEN n >= 2 AND (s2 - s1 * s1 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0e0) > 0
         |       THEN greatest(0.0e0, 1.0e0 -
         |         ((r2 - r1 * r1 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0e0))
         |         / ((s2 - s1 * s1 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0e0)))
         |  END AS seasonal_strength
         |FROM gg""".stripMargin)),

    // Page's sequential CUSUM: monitor the last 14 rows per series against
    // the frozen training mean (exact rational), scalar-pair fold replayed
    // as a recursive CTE over the step index — the online drift alarm.
    OracleQuery("panel_page_cusum", {
      (s, dir) => {
        import graft.operators.Stats
        val d = dense(s, dir).df
        val wDesc = org.apache.spark.sql.expressions.Window
          .partitionBy(col("unique_id")).orderBy(col("ds").desc)
        val marked = d.withColumn("rn_end", row_number().over(wDesc))
        val ref = marked.filter(col("rn_end") > 14)
          .groupBy(col("unique_id"))
          .agg((sum(col("y").cast("double")) / count(col("y"))).as("mu"))
        val test = marked.filter(col("rn_end") <= 14)
          .select(col("unique_id"), col("ds"), col("y").cast("double").as("y"))
        Stats.pageCusum(test, ref, "unique_id", "ds", "y", "mu",
          k = 2.0, h = 8.0)
      }
    }, {
      Some(s"""${P.replaceFirst("WITH ", "WITH RECURSIVE ")}
         |, marked AS (SELECT unique_id, ord, CAST(y AS DOUBLE) AS y,
         |    ROW_NUMBER() OVER (PARTITION BY unique_id ORDER BY ord DESC) AS rn_end
         |  FROM dense)
         |, ref AS (SELECT unique_id, SUM(y) / CAST(COUNT(y) AS DOUBLE) AS mu
         |  FROM marked WHERE rn_end > 14 GROUP BY 1)
         |, test AS (SELECT unique_id, ord, y,
         |    ROW_NUMBER() OVER (PARTITION BY unique_id ORDER BY ord) AS t
         |  FROM marked WHERE rn_end <= 14)
         |, walk(unique_id, t, ds, y, s_pos, s_neg) AS (
         |    SELECT te.unique_id, te.t, te.ord, te.y,
         |           greatest(0.0e0, 0.0e0 + (te.y - c.mu - 2.0e0)),
         |           greatest(0.0e0, 0.0e0 + (c.mu - te.y - 2.0e0))
         |    FROM test te JOIN ref c USING (unique_id)
         |    WHERE te.t = 1
         |  UNION ALL
         |    SELECT te.unique_id, te.t, te.ord, te.y,
         |           greatest(0.0e0, w.s_pos + (te.y - c.mu - 2.0e0)),
         |           greatest(0.0e0, w.s_neg + (c.mu - te.y - 2.0e0))
         |    FROM walk w
         |    JOIN test te ON te.unique_id = w.unique_id AND te.t = w.t + 1
         |    JOIN ref c ON c.unique_id = te.unique_id)
         |SELECT unique_id, ds, y, s_pos, s_neg,
         |       (s_pos > 8.0e0 OR s_neg > 8.0e0) AS alarm
         |FROM walk""".stripMargin)
    }),

    // CUSUM mean-shift changepoints: Brownian-bridge statistic from exact
    // integer cumsums, earliest-argmax location, 95% Kolmogorov bound.
    OracleQuery("panel_cusum_changepoints",
      (s, dir) => {
        import graft.operators.Stats
        Stats.cusumChangepoints(dense(s, dir))
      },
      Some(s"""$P
         |, rows0 AS (SELECT unique_id, ord, CAST(y AS DOUBLE) AS y,
         |    CAST(ROW_NUMBER() OVER w AS DOUBLE) AS t,
         |    SUM(CAST(y AS DOUBLE)) OVER (PARTITION BY unique_id ORDER BY ord
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
         |  FROM dense WINDOW w AS (PARTITION BY unique_id ORDER BY ord))
         |, g AS (SELECT unique_id, CAST(COUNT(y) AS BIGINT) AS n,
         |    SUM(y) AS s, SUM(y * y) AS s2 FROM rows0 GROUP BY 1)
         |, st AS (SELECT unique_id, n, s / CAST(n AS DOUBLE) AS m,
         |    sqrt(greatest((s2 - CAST(n AS DOUBLE) * (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)))
         |      / (CAST(n AS DOUBLE) - 1.0e0), 0.0e0)) AS sd
         |  FROM g)
         |, wd AS (SELECT r.unique_id, r.t, abs(r.cs - r.t * st.m) AS absd
         |  FROM rows0 r JOIN st USING (unique_id))
         |, mxv AS (SELECT unique_id, MAX(absd) AS mx FROM wd GROUP BY 1)
         |, cp AS (SELECT w.unique_id, CAST(MIN(w.t) AS BIGINT) AS cp_pos
         |  FROM wd w JOIN mxv USING (unique_id) WHERE w.absd = mx GROUP BY 1)
         |SELECT st.unique_id, st.n,
         |  CASE WHEN st.n >= 2 AND st.sd > 0 THEN cp.cp_pos END AS cp_pos,
         |  CASE WHEN st.n >= 2 AND st.sd > 0
         |       THEN mxv.mx / (st.sd * sqrt(CAST(st.n AS DOUBLE))) END AS cusum_stat,
         |  COALESCE(CASE WHEN st.n >= 2 AND st.sd > 0
         |       THEN mxv.mx / (st.sd * sqrt(CAST(st.n AS DOUBLE))) > 1.358e0 END,
         |    FALSE) AS has_change
         |FROM st LEFT JOIN cp USING (unique_id) LEFT JOIN mxv USING (unique_id)""".stripMargin)),

    // Intermittent-demand classification (Syntetos-Boylan quadrants) on
    // the deliberately-zeroed panel: ADI / CV-squared from exact integer
    // sums, standard 1.32 / 0.49 cut points.
    OracleQuery("panel_intermittency_class",
      (s, dir) => {
        import graft.operators.Stats
        val p0 = dense(s, dir)
        val inter = p0.copy(df = p0.df.withColumn("y",
          when(col("ds") % 4 < 2, lit(0.0))
            .otherwise(col("y").cast("double"))))
        Stats.intermittencyStats(inter)
      },
      Some(s"""$P
         |, inter AS (SELECT unique_id, ord,
         |    CASE WHEN ord % 4 < 2 THEN 0.0e0 ELSE CAST(y AS DOUBLE) END AS y
         |  FROM dense)
         |, g AS (SELECT unique_id, CAST(COUNT(y) AS BIGINT) AS n,
         |    CAST(COUNT(CASE WHEN y <> 0.0e0 THEN y END) AS BIGINT) AS n_demand,
         |    SUM(CASE WHEN y <> 0.0e0 THEN y END) AS s,
         |    SUM(CASE WHEN y <> 0.0e0 THEN y END * CASE WHEN y <> 0.0e0 THEN y END) AS s2
         |  FROM inter GROUP BY 1)
         |, m AS (SELECT *,
         |    CASE WHEN n_demand > 0 THEN CAST(n AS DOUBLE) / CAST(n_demand AS DOUBLE) END AS adi,
         |    s / CAST(n_demand AS DOUBLE) AS mean
         |  FROM g)
         |, v AS (SELECT *,
         |    CASE WHEN n_demand >= 2 AND mean <> 0.0e0 THEN
         |      ((s2 - CAST(n_demand AS DOUBLE) * mean * mean)
         |        / (CAST(n_demand AS DOUBLE) - 1.0e0)) / (mean * mean) END AS cv2
         |  FROM m)
         |SELECT unique_id, n, n_demand, adi, cv2,
         |  CASE WHEN adi IS NULL OR cv2 IS NULL THEN NULL
         |       WHEN adi < 1.32e0 AND cv2 < 0.49e0 THEN 'smooth'
         |       WHEN adi >= 1.32e0 AND cv2 < 0.49e0 THEN 'intermittent'
         |       WHEN adi < 1.32e0 THEN 'erratic'
         |       ELSE 'lumpy' END AS demand_class
         |FROM v""".stripMargin)),

    // Per-series winsorization at the exact [0.05, 0.95] percentiles
    // (Spark's interpolated percentile, replayed via the shared lerp).
    OracleQuery("panel_winsorize_05_95",
      (s, dir) => {
        import graft.operators.Stats
        Stats.winsorize(dense(s, dir), 0.05, 0.95)
          .select(col("unique_id"), col("ds"), col("y").cast("double").as("y"),
            col("lo"), col("hi"), col("y_wins"))
      },
      Some(s"""$P
         |, qarr AS (SELECT unique_id,
         |    list(CAST(y AS DOUBLE) ORDER BY CAST(y AS DOUBLE)) AS arr,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM dense GROUP BY 1)
         |, cuts AS (SELECT unique_id, ${sparkPctSql("0.05e0")} AS lo,
         |                  ${sparkPctSql("0.95e0")} AS hi
         |  FROM qarr)
         |SELECT d.unique_id, d.ord AS ds, CAST(d.y AS DOUBLE) AS y, c.lo, c.hi,
         |       least(greatest(CAST(d.y AS DOUBLE), c.lo), c.hi) AS y_wins
         |FROM dense d JOIN cuts c USING (unique_id)""".stripMargin)),

    // Hierarchical reconciliation over the natural supplier→nation
    // hierarchy: a deterministic mean-forecast frame per supplier × 3
    // steps, bottom-up to nation level (child-id-ordered fold).
    OracleQuery("hier_bottom_up_nation",
      (s, dir) => {
        import graft.operators.Reconcile
        val panel = Panels.lineitemDaily(s, dir)
        val fc = panel.groupBy(col("unique_id"))
          .agg((sum(col("y")) / count(col("y"))).as("yhat"))
          .select(col("unique_id"), explode(sequence(lit(1), lit(3))).as("step"),
            col("yhat"))
        Reconcile.bottomUp(fc, Panels.supplierStatics(s, dir),
          "unique_id", "nation", "step", "yhat")
      },
      Some(s"""$P
         |, fc AS (SELECT unique_id, step, s / c AS yhat
         |  FROM (SELECT unique_id, SUM(y) AS s, COUNT(y) AS c FROM panel GROUP BY 1),
         |       (SELECT unnest(range(1, 4)) AS step))
         |, mp AS (SELECT s_suppkey AS unique_id, CAST(s_nationkey AS BIGINT) AS nation
         |         FROM supplier)
         |SELECT nation, CAST(step AS INTEGER) AS step,
         |  list_reduce(list_prepend(0.0, list(yhat ORDER BY unique_id, yhat)),
         |    (a, x) -> a + x) AS yhat
         |FROM fc JOIN mp USING (unique_id) GROUP BY 1, 2""".stripMargin)),

    // Top-down: historical proportions (ratio of integer-exact sums) and
    // the round trip — nation-level forecasts distributed back to
    // suppliers by share.
    OracleQuery("hier_top_down_supplier",
      (s, dir) => {
        import graft.operators.Reconcile
        val panel = Panels.lineitemDaily(s, dir)
        val mapping = Panels.supplierStatics(s, dir)
        val fc = panel.groupBy(col("unique_id"))
          .agg((sum(col("y")) / count(col("y"))).as("yhat"))
          .select(col("unique_id"), explode(sequence(lit(1), lit(3))).as("step"),
            col("yhat"))
        val parentFc = Reconcile.bottomUp(fc, mapping, "unique_id", "nation",
          "step", "yhat")
        val shares = Reconcile.topDownShares(panel, mapping, "unique_id",
          "nation", "y")
        Reconcile.topDown(parentFc, shares, "unique_id", "nation", "step", "yhat")
      },
      Some(s"""$P
         |, fc AS (SELECT unique_id, step, s / c AS yhat
         |  FROM (SELECT unique_id, SUM(y) AS s, COUNT(y) AS c FROM panel GROUP BY 1),
         |       (SELECT unnest(range(1, 4)) AS step))
         |, mp AS (SELECT s_suppkey AS unique_id, CAST(s_nationkey AS BIGINT) AS nation
         |         FROM supplier)
         |, pfc AS (SELECT nation, step,
         |    list_reduce(list_prepend(0.0, list(yhat ORDER BY unique_id, yhat)),
         |      (a, x) -> a + x) AS yhat
         |  FROM fc JOIN mp USING (unique_id) GROUP BY 1, 2)
         |, ct AS (SELECT unique_id, nation, SUM(CAST(y AS DOUBLE)) AS cs
         |  FROM panel JOIN mp USING (unique_id) GROUP BY 1, 2)
         |, pt AS (SELECT nation, SUM(cs) AS ps FROM ct GROUP BY 1)
         |, sh AS (SELECT unique_id, nation,
         |    CASE WHEN ps <> 0.0 THEN cs / ps END AS share
         |  FROM ct JOIN pt USING (nation))
         |SELECT s.unique_id, CAST(p.step AS INTEGER) AS step,
         |       p.yhat * s.share AS yhat
         |FROM pfc p JOIN sh s USING (nation)""".stripMargin)),

    // Middle-out over the full 3-level supplier→nation→region hierarchy:
    // bottom-up nation forecasts roll up to regions (nation-id-ordered
    // fold) and distribute down to suppliers by historical share — three
    // coherent levels in one frame.
    OracleQuery("hier_middle_out_region",
      (s, dir) => {
        import graft.operators.Reconcile
        val panel = Panels.lineitemDaily(s, dir)
        val supToNation = Panels.supplierStatics(s, dir)
        val natToRegion = s.read.parquet(s"$dir/nation.parquet")
          .select(col("n_nationkey").cast("long").as("nation"),
            col("n_regionkey").cast("long").as("region"))
        val fc = panel.groupBy(col("unique_id"))
          .agg((sum(col("y")) / count(col("y"))).as("yhat"))
          .select(col("unique_id"), explode(sequence(lit(1), lit(3))).as("step"),
            col("yhat"))
        val midFc = Reconcile.bottomUp(fc, supToNation, "unique_id", "nation",
          "step", "yhat")
        val leafShares = Reconcile.topDownShares(panel, supToNation,
          "unique_id", "nation", "y")
        Reconcile.middleOut(midFc, natToRegion, leafShares,
          "nation", "region", "unique_id", "step", "yhat")
      },
      Some(s"""$P
         |, fc AS (SELECT unique_id, step, s / c AS yhat
         |  FROM (SELECT unique_id, SUM(y) AS s, COUNT(y) AS c FROM panel GROUP BY 1),
         |       (SELECT unnest(range(1, 4)) AS step))
         |, mp AS (SELECT s_suppkey AS unique_id, CAST(s_nationkey AS BIGINT) AS nation
         |         FROM supplier)
         |, nr AS (SELECT CAST(n_nationkey AS BIGINT) AS nation,
         |                CAST(n_regionkey AS BIGINT) AS region FROM nation)
         |, pfc AS (SELECT nation, step,
         |    list_reduce(list_prepend(0.0, list(yhat ORDER BY unique_id, yhat)),
         |      (a, x) -> a + x) AS yhat
         |  FROM fc JOIN mp USING (unique_id) GROUP BY 1, 2)
         |, ct AS (SELECT unique_id, nation, SUM(CAST(y AS DOUBLE)) AS cs
         |  FROM panel JOIN mp USING (unique_id) GROUP BY 1, 2)
         |, pt AS (SELECT nation, SUM(cs) AS ps FROM ct GROUP BY 1)
         |, sh AS (SELECT unique_id, nation,
         |    CASE WHEN ps <> 0.0 THEN cs / ps END AS share
         |  FROM ct JOIN pt USING (nation))
         |SELECT 'top' AS level, CAST(region AS VARCHAR) AS id,
         |       CAST(step AS INTEGER) AS step,
         |       list_reduce(list_prepend(0.0, list(yhat ORDER BY nation, yhat)),
         |         (a, x) -> a + x) AS yhat
         |FROM pfc JOIN nr USING (nation) GROUP BY region, step
         |UNION ALL
         |SELECT 'middle', CAST(nation AS VARCHAR), CAST(step AS INTEGER), yhat
         |FROM pfc
         |UNION ALL
         |SELECT 'bottom', CAST(s.unique_id AS VARCHAR), CAST(p.step AS INTEGER),
         |       p.yhat * s.share
         |FROM pfc p JOIN sh s USING (nation)""".stripMargin)),

    OracleQuery("last_dates",
      (s, dir) => PanelFrame(Panels.lineitemDaily(s, dir)).lastDates
        .select(col("unique_id"), col("last_date")),
      Some(s"""$P
         |SELECT unique_id, MAX(ds) AS last_date FROM panel GROUP BY 1""".stripMargin)),

    OracleQuery("continuity_stats",
      (s, dir) => {
        val p = PanelFrame(Panels.lineitemDaily(s, dir))
        p.df.groupBy(p.id).agg(
          min(p.ds).as("min_ds"), max(p.ds).as("max_ds"),
          count(lit(1)).as("n_rows"), countDistinct(p.ds).as("n_unique"))
      },
      Some(s"""$P
         |SELECT unique_id, MIN(ds) AS min_ds, MAX(ds) AS max_ds,
         |       COUNT(*) AS n_rows, COUNT(DISTINCT ds) AS n_unique
         |FROM panel GROUP BY 1""".stripMargin)),

    OracleQuery("continuity_violations",
      (s, dir) => {
        val p = PanelFrame(Panels.lineitemDaily(s, dir))
        Validation.continuityViolations(p)
          .select(col("unique_id"), col("has_duplicates"), col("has_gaps"))
      },
      Some(s"""$P
         |SELECT unique_id,
         |       (n_rows <> n_unique) AS has_duplicates,
         |       (max_ds <> min_ds + (n_unique - 1) * INTERVAL 1 DAY) AS has_gaps
         |FROM (SELECT unique_id, MIN(ds) min_ds, MAX(ds) max_ds,
         |             COUNT(*) n_rows, COUNT(DISTINCT ds) n_unique
         |      FROM panel GROUP BY 1)
         |WHERE (n_rows <> n_unique) OR (max_ds <> min_ds + (n_unique - 1) * INTERVAL 1 DAY)""".stripMargin)),

    OracleQuery("statics_by_id",
      (s, dir) => {
        val panel = Panels.lineitemDaily(s, dir)
          .join(Panels.supplierStatics(s, dir), Seq("unique_id"))
        PanelFrame(panel, staticCols = Seq("nation")).statics
          .select(col("unique_id"), col("nation"))
      },
      Some(s"""$P
         |SELECT p.unique_id, ARG_MIN(CAST(s.s_nationkey AS BIGINT), p.ds) AS nation
         |FROM panel p JOIN supplier s ON p.unique_id = s.s_suppkey
         |GROUP BY 1""".stripMargin)),

    // static-invariance predicate: series whose "static" column actually
    // changes (corrupted deterministically for every 10th supplier)
    OracleQuery("static_violations",
      (s, dir) => {
        val panel = Panels.lineitemDaily(s, dir)
          .join(Panels.supplierStatics(s, dir), Seq("unique_id"))
        val corrupted = panel.withColumn("nation",
          when(col("unique_id") % 10 === 0 &&
            col("ds") === max(col("ds")).over(
              org.apache.spark.sql.expressions.Window.partitionBy("unique_id")),
            col("nation") + 1).otherwise(col("nation")))
        Validation.staticViolations(PanelFrame(corrupted, staticCols = Seq("nation")))
          .select(col("unique_id"), size(col("changed_columns")).as("n_changed"))
      },
      Some(s"""$P
         |, joined AS (
         |  SELECT p.unique_id, p.ds, CAST(s.s_nationkey AS BIGINT) AS nation
         |  FROM panel p JOIN supplier s ON p.unique_id = s.s_suppkey)
         |, corrupted AS (
         |  SELECT unique_id, ds,
         |         CASE WHEN unique_id % 10 = 0
         |                   AND ds = MAX(ds) OVER (PARTITION BY unique_id)
         |              THEN nation + 1 ELSE nation END AS nation
         |  FROM joined)
         |SELECT unique_id, 1 AS n_changed
         |FROM corrupted
         |GROUP BY unique_id
         |HAVING COUNT(DISTINCT nation) > 1
         |    OR (COUNT(nation) > 0 AND COUNT(nation) < COUNT(*))""".stripMargin)),

    // update start-date predicate: every 7th supplier's update is missing
    // its first row, so its start is last_date + 2 instead of + 1
    OracleQuery("update_start_violations",
      (s, dir) => {
        val p = dense(s, dir)
        val mo = p.df.groupBy(col("unique_id")).agg(max(col("ds")).as("__mo"))
        val withMo = p.df.join(broadcast(mo), Seq("unique_id"))
        val oldP = p.copy(df = withMo.filter(col("ds") <= col("__mo") - 7).drop("__mo"))
        val upd = withMo.filter(col("ds") > col("__mo") - 7 &&
          !(col("unique_id") % 7 === 0 && col("ds") === col("__mo") - 6)).drop("__mo")
        Validation.updateStartViolations(oldP, upd)
          .select(col("unique_id"), col("new_start"), col("expected_start"))
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |SELECT unique_id, mo - 5 AS new_start, mo - 6 AS expected_start
         |FROM last WHERE unique_id % 7 = 0""".stripMargin)),

    OracleQuery("future_grid_h7",
      (s, dir) => PanelFrame(Panels.lineitemDaily(s, dir)).futureGrid(7)
        .select(col("unique_id"), col("ds")),
      Some(s"""$P
         |SELECT unique_id, CAST(last_date + i * INTERVAL 1 DAY AS DATE) AS ds
         |FROM (SELECT unique_id, MAX(ds) AS last_date FROM panel GROUP BY 1),
         |     UNNEST(range(1, 8)) t(i)""".stripMargin)),

    OracleQuery("keep_last_n_28",
      (s, dir) => PanelFrame(Panels.lineitemDaily(s, dir)).keepLastN(28).df
        .select(col("unique_id"), col("ds"), col("y")),
      Some(s"""$P
         |SELECT unique_id, ds, y FROM (
         |  SELECT unique_id, ds, y,
         |         ROW_NUMBER() OVER (PARTITION BY unique_id ORDER BY ds DESC) AS rn
         |  FROM panel)
         |WHERE rn <= 28""".stripMargin)),
  )

  // target transforms: forward transform emitted per row
  private val transformQs: Seq[OracleQuery] = Seq(
    OracleQuery("differences_1_7",
      (s, dir) => {
        val p = dense(s, dir)
        val f = graft.forecast.Differences(Seq(1, 7)).fit(p)
        f.transformed.df.select(col("unique_id"), col("ds"), col("y").as("yd"))
      },
      Some(s"""$P
         |, d1 AS (
         |  SELECT unique_id, ord, y - LAG(y, 1) OVER (PARTITION BY unique_id ORDER BY ord) AS y
         |  FROM dense)
         |SELECT unique_id, ord AS ds,
         |       y - LAG(y, 7) OVER (PARTITION BY unique_id ORDER BY ord) AS yd
         |FROM d1""".stripMargin)),

    OracleQuery("standard_scaler",
      (s, dir) => {
        val p = dense(s, dir)
        val f = graft.forecast.LocalStandardScaler().fit(p)
        f.transformed.df.select(col("unique_id"), col("ds"), col("y").as("ys"))
      },
      Some(s"""$P
         |, st AS (
         |  SELECT unique_id,
         |         SUM(y) / COUNT(y) AS mu,
         |         SQRT(GREATEST(SUM(y*y) / COUNT(y) - (SUM(y) / COUNT(y)) * (SUM(y) / COUNT(y)), 0.0)) AS sigma
         |  FROM dense GROUP BY 1)
         |SELECT d.unique_id, d.ord AS ds, (d.y - st.mu) / st.sigma AS ys
         |FROM dense d JOIN st ON d.unique_id = st.unique_id""".stripMargin)),

    OracleQuery("minmax_scaler",
      (s, dir) => {
        val p = dense(s, dir)
        val f = graft.forecast.LocalMinMaxScaler().fit(p)
        f.transformed.df.select(col("unique_id"), col("ds"), col("y").as("ys"))
      },
      Some(s"""$P
         |, st AS (SELECT unique_id, MIN(y) mn, MAX(y) - MIN(y) rng FROM dense GROUP BY 1)
         |SELECT d.unique_id, d.ord AS ds, (d.y - st.mn) / st.rng AS ys
         |FROM dense d JOIN st ON d.unique_id = st.unique_id""".stripMargin)),

    OracleQuery("robust_scaler_iqr",
      (s, dir) => {
        val p = dense(s, dir)
        val f = graft.forecast.LocalRobustScaler("iqr").fit(p)
        f.transformed.df.select(col("unique_id"), col("ds"), col("y").as("ys"))
      },
      Some(s"""$P
         |, st AS (
         |  SELECT unique_id, QUANTILE_CONT(y, 0.5) med,
         |         QUANTILE_CONT(y, 0.75) - QUANTILE_CONT(y, 0.25) iqr
         |  FROM dense GROUP BY 1)
         |SELECT d.unique_id, d.ord AS ds, (d.y - st.med) / st.iqr AS ys
         |FROM dense d JOIN st ON d.unique_id = st.unique_id""".stripMargin)),

    // mad variant: shift = per-series median, scale = median |y - med|. The
    // median of integer-valued y is k or k+0.5 (exact), so |y - med| is exact
    // and the percentile interpolation parity carries the rest.
    OracleQuery("robust_scaler_mad",
      (s, dir) => {
        val p = dense(s, dir)
        val f = graft.forecast.LocalRobustScaler("mad").fit(p)
        f.transformed.df.select(col("unique_id"), col("ds"), col("y").as("ys"))
      },
      Some(s"""$P
         |, med AS (SELECT unique_id, QUANTILE_CONT(y, 0.5) med FROM dense GROUP BY 1)
         |, st AS (
         |  SELECT d.unique_id, MIN(m.med) med,
         |         QUANTILE_CONT(ABS(d.y - m.med), 0.5) mad
         |  FROM dense d JOIN med m ON d.unique_id = m.unique_id
         |  GROUP BY 1)
         |SELECT d.unique_id, d.ord AS ds, (d.y - st.med) / st.mad AS ys
         |FROM dense d JOIN st ON d.unique_id = st.unique_id""".stripMargin)),

    // sqrt (not log/log1p): JVM Math.log and DuckDB's libm differ by 1 ulp on
    // some inputs; IEEE-754 requires sqrt to be correctly rounded, so the
    // sqrt pair is bit-identical across engines
    OracleQuery("global_sqrt",
      (s, dir) => {
        val p = dense(s, dir)
        val f = graft.forecast.GlobalFuncTransform("sqrt").fit(p)
        f.transformed.df.select(col("unique_id"), col("ds"), col("y").as("ys"))
      },
      Some(s"""$P
         |SELECT unique_id, ord AS ds, SQRT(y) AS ys FROM dense""".stripMargin)),
  )

  // date features on the real calendar panel
  private val dateQ = OracleQuery("date_features",
    (s, dir) => {
      val df = Panels.lineitemDaily(s, dir)
      DateFeatures.add(df, col("ds"),
        Seq("year", "month", "day", "dayofweek", "dayofyear", "week", "quarter",
          "daysinmonth", "is_month_start", "is_month_end", "is_year_start", "is_year_end"))
        .select(col("unique_id"), col("ds"),
          col("year").cast("int").as("year"), col("month").cast("int").as("month"),
          col("day").cast("int").as("day"), col("dayofweek").cast("int").as("dayofweek"),
          col("dayofyear").cast("int").as("dayofyear"), col("week").cast("int").as("week"),
          col("quarter").cast("int").as("quarter"), col("daysinmonth").cast("int").as("daysinmonth"),
          col("is_month_start").cast("int").as("is_month_start"),
          col("is_month_end").cast("int").as("is_month_end"),
          col("is_year_start").cast("int").as("is_year_start"),
          col("is_year_end").cast("int").as("is_year_end"))
    },
    Some(s"""$P
       |SELECT unique_id, ds,
       |  CAST(year(ds) AS INT) AS year, CAST(month(ds) AS INT) AS month,
       |  CAST(day(ds) AS INT) AS day, CAST(isodow(ds) - 1 AS INT) AS dayofweek,
       |  CAST(dayofyear(ds) AS INT) AS dayofyear, CAST(weekofyear(ds) AS INT) AS week,
       |  CAST(quarter(ds) AS INT) AS quarter, CAST(day(last_day(ds)) AS INT) AS daysinmonth,
       |  CAST(day(ds) = 1 AS INT) AS is_month_start,
       |  CAST(ds = last_day(ds) AS INT) AS is_month_end,
       |  CAST(dayofyear(ds) = 1 AS INT) AS is_year_start,
       |  CAST(month(ds) = 12 AND day(ds) = 31 AS INT) AS is_year_end
       |FROM panel""".stripMargin))

  // ---------------------------------------------------------------- batch 3:
  // pooled (cross-series) modes — the fork's novel operator dimension.
  // Calendar-date panels so the dense-rank ordinal is genuinely exercised.

  private val R = Panels.rowsSql

  /** Calendar panel (real dates) + a pooled transform; emits (unique_id, ds, alias). */
  private def pooledCal(t: LagTransform, lag: Int, alias: String,
                        withNation: Boolean = false)(
      s: SparkSession, dir: String): DataFrame = {
    var df = Panels.lineitemDaily(s, dir)
    if (withNation) df = df.join(Panels.supplierStatics(s, dir), Seq("unique_id"))
    val p = PanelFrame(df, freq = Freq.Day)
    Featurizer.addFeatures(p, FeatureSpec(lagTransforms = Map(lag -> Seq(t))))
      .select(col("unique_id"), col("ds"),
        col(s"`${t.name(lag)}`").cast("double").as(alias))
  }

  /** Row-level panel (ties per timestamp) + a pooled transform; emits
    * (unique_id, ds, okey, lineno, alias) so every output row is keyed.
    */
  private def pooledRows(t: LagTransform, lag: Int, alias: String)(
      s: SparkSession, dir: String): DataFrame = {
    val p = PanelFrame(Panels.lineitemRows(s, dir), freq = Freq.Day)
    Featurizer.addFeatures(p, FeatureSpec(lagTransforms = Map(lag -> Seq(t))))
      .select(col("unique_id"), col("ds"), col("okey"), col("lineno"),
        col(s"`${t.name(lag)}`").cast("double").as(alias))
  }

  private val pooledQs: Seq[OracleQuery] = Seq(
    // global bucket, global distinct-date calendar
    OracleQuery("global_rolling_mean",
      pooledCal(RollingMean(7, pooling = Pooling(global = true)), 1, "grm"),
      Some(s"""$P
         |, cal AS (SELECT ds, CAST(DENSE_RANK() OVER (ORDER BY ds) - 1 AS BIGINT) AS o
         |          FROM (SELECT DISTINCT ds FROM panel))
         |, pd AS (SELECT p.unique_id, p.ds, p.y, c.o FROM panel p JOIN cal c USING (ds))
         |SELECT unique_id, ds, CAST((CASE WHEN COUNT(y) OVER w >= 7 AND COUNT(y) OVER w > 0
         |       THEN SUM(y) OVER w / COUNT(y) OVER w END) AS DOUBLE) AS grm
         |FROM pd
         |WINDOW w AS (ORDER BY o RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)""".stripMargin)),

    // groupby buckets (nation), per-group calendars
    OracleQuery("groupby_nation_rolling_std",
      pooledCal(RollingStd(7, pooling = Pooling(groupby = Seq("nation"))), 1, "gstd",
        withNation = true),
      Some {
        val n = "COUNT(y) OVER w"
        s"""$P
           |, pd AS (
           |  SELECT p.unique_id, p.ds, p.y, CAST(s.s_nationkey AS BIGINT) AS nation,
           |         CAST(DENSE_RANK() OVER (PARTITION BY s.s_nationkey ORDER BY p.ds) - 1 AS BIGINT) AS o
           |  FROM panel p JOIN supplier s ON p.unique_id = s.s_suppkey)
           |SELECT unique_id, ds, CAST((CASE WHEN $n >= 7 AND $n > 1
           |       THEN ${stdSql("SUM(y) OVER w", "SUM(y*y) OVER w", n)} END) AS DOUBLE) AS gstd
           |FROM pd
           |WINDOW w AS (PARTITION BY nation ORDER BY o RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)""".stripMargin
      }),

    // groupby + time_agg: collapse rows per (nation, date) by SUM, window over
    // the collapsed relation, join back (min_samples counts timestamps)
    OracleQuery("groupby_time_agg_sum",
      pooledCal(RollingMean(4,
          pooling = Pooling(groupby = Seq("nation"), timeAgg = Some("sum"))),
        1, "tam", withNation = true),
      Some(s"""$P
         |, pd AS (
         |  SELECT p.unique_id, p.ds, p.y, CAST(s.s_nationkey AS BIGINT) AS nation,
         |         CAST(DENSE_RANK() OVER (PARTITION BY s.s_nationkey ORDER BY p.ds) - 1 AS BIGINT) AS o
         |  FROM panel p JOIN supplier s ON p.unique_id = s.s_suppkey)
         |, collapsed AS (SELECT nation, o, SUM(y) AS cv FROM pd GROUP BY 1, 2)
         |, feat AS (
         |  SELECT nation, o, CASE WHEN COUNT(cv) OVER w >= 4 AND COUNT(cv) OVER w > 0
         |         THEN SUM(cv) OVER w / COUNT(cv) OVER w END AS tam
         |  FROM collapsed
         |  WINDOW w AS (PARTITION BY nation ORDER BY o RANGE BETWEEN 4 PRECEDING AND 1 PRECEDING))
         |SELECT pd.unique_id, pd.ds, CAST(feat.tam AS DOUBLE) AS tam
         |FROM pd JOIN feat ON pd.nation = feat.nation AND pd.o = feat.o""".stripMargin)),

    // local partition mode: bucket (id, rflag), parent = the series' calendar,
    // default min_samples = 1, holes stay holes
    OracleQuery("partby_rolling_mean",
      pooledRows(RollingMean(7, pooling = Pooling(partitionBy = Seq("rflag"))), 1, "prm"),
      Some(s"""$R
         |, pd AS (SELECT r.*, CAST(DENSE_RANK() OVER (PARTITION BY unique_id ORDER BY ds) - 1 AS BIGINT) AS o
         |         FROM rows_panel r)
         |SELECT unique_id, ds, okey, lineno,
         |       CAST((CASE WHEN COUNT(y) OVER w >= 1 AND COUNT(y) OVER w > 0
         |             THEN SUM(y) OVER w / COUNT(y) OVER w END) AS DOUBLE) AS prm
         |FROM pd
         |WINDOW w AS (PARTITION BY unique_id, rflag ORDER BY o RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)""".stripMargin)),

    // nonlocal: global + partition_by — bucket (rflag), parent = global calendar
    OracleQuery("global_partby_expanding_mean",
      pooledRows(ExpandingMean(pooling = Pooling(global = true,
        partitionBy = Seq("rflag"))), 1, "gpe"),
      Some(s"""$R
         |, cal AS (SELECT ds, CAST(DENSE_RANK() OVER (ORDER BY ds) - 1 AS BIGINT) AS o
         |          FROM (SELECT DISTINCT ds FROM rows_panel))
         |, pd AS (SELECT r.*, c.o FROM rows_panel r JOIN cal c USING (ds))
         |SELECT unique_id, ds, okey, lineno,
         |       CAST((CASE WHEN COUNT(y) OVER w > 0
         |             THEN SUM(y) OVER w / COUNT(y) OVER w END) AS DOUBLE) AS gpe
         |FROM pd
         |WINDOW w AS (PARTITION BY rflag ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin)),

    // pooled EWM: forced mean-collapse per (bucket, date), recursion over the
    // collapsed series, hole-safe shift, join back
    OracleQuery("ewm_global_pooled",
      pooledCal(ExponentiallyWeightedMean(0.5, Pooling(global = true)), 1, "gewm"),
      Some(s"""$P
         |, cal AS (SELECT ds, CAST(DENSE_RANK() OVER (ORDER BY ds) - 1 AS BIGINT) AS o
         |          FROM (SELECT DISTINCT ds FROM panel))
         |, pd AS (SELECT p.unique_id, p.ds, p.y, c.o FROM panel p JOIN cal c USING (ds))
         |, collapsed AS (SELECT o, SUM(y) / COUNT(y) AS cv FROM pd GROUP BY 1)
         |, ew AS (
         |  SELECT o, CASE WHEN len(pfx) > 0
         |         THEN CAST(list_reduce(pfx, (acc, x) -> 0.5 * x + 0.5 * acc) AS DOUBLE) END AS gewm
         |  FROM (SELECT o, list(cv) OVER (ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pfx
         |        FROM collapsed))
         |SELECT pd.unique_id, pd.ds, ew.gewm FROM pd JOIN ew USING (o)""".stripMargin)),

    // pure-global UNBOUNDED decomposable stats: since r10 these run
    // GlobalScan.blockedScan — block-partitioned running windows + a carry
    // fold over the tiny block-summary relation — instead of the
    // single-task sequential fold. The panel's y is integer-valued, so the
    // two-level fold's sums are exact and the straightforward window twin
    // hash-matches bit-for-bit.
    OracleQuery("global_expanding_stats",
      (s, dir) => {
        val p = PanelFrame(Panels.lineitemDaily(s, dir), freq = Freq.Day)
        val em = ExpandingMean(pooling = Pooling(global = true))
        val es = ExpandingStd(pooling = Pooling(global = true))
        Featurizer.addFeatures(p, FeatureSpec(lagTransforms = Map(1 -> Seq(em, es))))
          .select(col("unique_id"), col("ds"),
            col(s"`${em.name(1)}`").cast("double").as("gem"),
            col(s"`${es.name(1)}`").cast("double").as("ges"))
      },
      Some(s"""$P
         |, cal AS (SELECT ds, CAST(DENSE_RANK() OVER (ORDER BY ds) - 1 AS BIGINT) AS o
         |          FROM (SELECT DISTINCT ds FROM panel))
         |, pd AS (SELECT p.unique_id, p.ds, p.y, c.o FROM panel p JOIN cal c USING (ds))
         |SELECT unique_id, ds,
         |       CAST((CASE WHEN COUNT(y) OVER w > 0
         |             THEN SUM(y) OVER w / COUNT(y) OVER w END) AS DOUBLE) AS gem,
         |       CAST((CASE WHEN COUNT(y) OVER w > 1
         |             THEN ${stdSql("SUM(y) OVER w", "SUM(y*y) OVER w", "COUNT(y) OVER w")} END) AS DOUBLE) AS ges
         |FROM pd
         |WINDOW w AS (ORDER BY o RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin)),

    // LookupLag: k-th previous occurrence within (id, partition) bucket with
    // explicit deterministic tie order
    OracleQuery("lookup_lag_partby",
      pooledRows(LookupLag(Pooling(partitionBy = Seq("rflag")),
        tiebreak = Seq("okey", "lineno")), 2, "ll"),
      Some(s"""$R
         |, pd AS (SELECT r.*, CAST(DENSE_RANK() OVER (PARTITION BY unique_id ORDER BY ds) - 1 AS BIGINT) AS o
         |         FROM rows_panel r)
         |SELECT unique_id, ds, okey, lineno,
         |       CAST(LAG(y, 2) OVER (PARTITION BY unique_id, rflag ORDER BY o, okey, lineno) AS DOUBLE) AS ll
         |FROM pd""".stripMargin)),

    // non-decomposable pooled stat: quantile over raw rows in the bucket window
    OracleQuery("partby_rolling_quantile",
      pooledRows(RollingQuantile(0.5, 4, pooling = Pooling(partitionBy = Seq("rflag"))), 1, "pq"),
      Some(s"""$R
         |, pd AS (SELECT r.*, CAST(DENSE_RANK() OVER (PARTITION BY unique_id ORDER BY ds) - 1 AS BIGINT) AS o
         |         FROM rows_panel r)
         |SELECT unique_id, ds, okey, lineno,
         |       CAST((CASE WHEN COUNT(y) OVER w >= 1 AND COUNT(y) OVER w > 0
         |             THEN QUANTILE_CONT(y, 0.5) OVER w END) AS DOUBLE) AS pq
         |FROM pd
         |WINDOW w AS (PARTITION BY unique_id, rflag ORDER BY o RANGE BETWEEN 4 PRECEDING AND 1 PRECEDING)""".stripMargin)),

    // NaN float keys fold into the null bucket (reference sentinel encoding)
    OracleQuery("partby_nan_null_keys",
      (s, dir) => {
        val raw = s.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_suppkey").as("unique_id"),
            to_date(col("l_shipdate")).as("ds"),
            col("l_quantity").as("y"),
            when(col("l_linenumber") === 3, lit(Double.NaN))
              .otherwise(col("l_discount")).as("fkey"),
            col("l_orderkey").as("okey"), col("l_linenumber").as("lineno"))
        val p = PanelFrame(raw, freq = Freq.Day)
        val t = RollingMean(4, pooling = Pooling(partitionBy = Seq("fkey")))
        Featurizer.addFeatures(p, FeatureSpec(lagTransforms = Map(1 -> Seq(t))))
          .select(col("unique_id"), col("ds"), col("okey"), col("lineno"),
            col(s"`${t.name(1)}`").cast("double").as("nkm"))
      },
      Some(s"""WITH raw AS (
         |  SELECT l_suppkey AS unique_id, CAST(l_shipdate AS DATE) AS ds,
         |         l_quantity AS y,
         |         CASE WHEN l_linenumber = 3 THEN CAST('NaN' AS DOUBLE) ELSE l_discount END AS fkey,
         |         l_orderkey AS okey, l_linenumber AS lineno
         |  FROM lineitem)
         |, pd AS (SELECT r.*,
         |         CASE WHEN isnan(fkey) THEN NULL ELSE fkey END AS fk,
         |         CAST(DENSE_RANK() OVER (PARTITION BY unique_id ORDER BY ds) - 1 AS BIGINT) AS o
         |         FROM raw r)
         |SELECT unique_id, ds, okey, lineno,
         |       CAST((CASE WHEN COUNT(y) OVER w >= 1 AND COUNT(y) OVER w > 0
         |             THEN SUM(y) OVER w / COUNT(y) OVER w END) AS DOUBLE) AS nkm
         |FROM pd
         |WINDOW w AS (PARTITION BY unique_id, fk ORDER BY o RANGE BETWEEN 4 PRECEDING AND 1 PRECEDING)""".stripMargin)),
  )

  // ---------------------------------------------------------------- batch 4:
  // full pipeline operators (fit → recursive/direct predict → inverse
  // transforms → CV → conformity scores) with closed-form FeatureEcho models,
  // so the entire pipeline is SQL-expressible (the reason those models exist).

  import graft.forecast.{Conformal, Differences, MLForecast, MLForecastIO, Models}

  private val pipelineQs: Seq[OracleQuery] = Seq(
    // Recursive h=14 with naive (lag1 echo) + seasonal naive (lag7 echo):
    // steps 8-14 of the seasonal naive consume the loop's own appended
    // predictions, so the full state-append machinery is exercised.
    // Closed form: naive(s) = y(mo); snaive7(s) = y(mo + ((s-1) mod 7) - 6).
    // Per-series champion selection + routing: in-sample naive vs
    // seasonal-naive MAE (integer-exact avg), argmin with first-listed
    // ties, every row re-routed through its series' winner.
    OracleQuery("ensemble_champion_route",
      (s, dir) => {
        import graft.forecast.Losses
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("unique_id")).orderBy(col("ds"))
        val frame = dense(s, dir).df
          .withColumn("naive", lag(col("y"), 1).over(w))
          .withColumn("snaive", lag(col("y"), 7).over(w))
          .filter(col("snaive").isNotNull)
          .select(col("unique_id"), col("ds"), col("y").cast("double").as("y"),
            col("naive").cast("double").as("naive"),
            col("snaive").cast("double").as("snaive"))
          // both the loss side and the routing side read this frame; pinned,
          // the scan -> panel agg -> double-window lineage runs once (r13 —
          // the un-pinned plan computed it per consumer)
          .localCheckpoint()
        val champs = Losses.championByLoss(frame, "unique_id", "y",
          Seq("naive", "snaive"), "mae")
        Losses.routeChampion(frame, champs, "unique_id", Seq("naive", "snaive"))
          .select(col("unique_id"), col("ds"), col("champion"),
            col("champion_pred"))
      },
      Some(s"""$P
         |, fr AS (SELECT unique_id, ord, CAST(y AS DOUBLE) AS y,
         |    LAG(CAST(y AS DOUBLE), 1) OVER w AS naive,
         |    LAG(CAST(y AS DOUBLE), 7) OVER w AS snaive
         |  FROM dense
         |  WINDOW w AS (PARTITION BY unique_id ORDER BY ord))
         |, fr2 AS (SELECT * FROM fr WHERE snaive IS NOT NULL)
         |, lo AS (SELECT unique_id, AVG(abs(y - naive)) AS mnaive,
         |    AVG(abs(y - snaive)) AS msnaive
         |  FROM fr2 GROUP BY 1)
         |, ch AS (SELECT unique_id,
         |    CASE WHEN msnaive IS NOT NULL AND (mnaive IS NULL OR msnaive < mnaive)
         |         THEN 'snaive' ELSE 'naive' END AS champion
         |  FROM lo)
         |SELECT f.unique_id, f.ord AS ds, c.champion,
         |  CASE WHEN c.champion = 'snaive' THEN f.snaive
         |       WHEN c.champion = 'naive' THEN f.naive END AS champion_pred
         |FROM fr2 f JOIN ch c USING (unique_id)""".stripMargin)),

    // Inverse-loss weighted ensemble on the same contest: Bates-Granger
    // style weights from per-series MAE (epsilon-guarded), combination as
    // a fixed-order weighted fold over the listed models.
    OracleQuery("ensemble_weighted_combo",
      (s, dir) => {
        import graft.forecast.Losses
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("unique_id")).orderBy(col("ds"))
        val frame = dense(s, dir).df
          .withColumn("naive", lag(col("y"), 1).over(w))
          .withColumn("snaive", lag(col("y"), 7).over(w))
          .filter(col("snaive").isNotNull)
          .select(col("unique_id"), col("ds"), col("y").cast("double").as("y"),
            col("naive").cast("double").as("naive"),
            col("snaive").cast("double").as("snaive"))
          // shared by the weight and combination sides — pinned like
          // ensemble_champion_route's frame (r13)
          .localCheckpoint()
        val wts = Losses.inverseLossWeights(frame, "unique_id", "y",
          Seq("naive", "snaive"), "mae")
        Losses.combineWeighted(frame, wts, "unique_id", Seq("naive", "snaive"))
          .select(col("unique_id"), col("ds"), col("w_naive"), col("w_snaive"),
            col("ensemble_pred"))
      },
      Some(s"""$P
         |, fr AS (SELECT unique_id, ord, CAST(y AS DOUBLE) AS y,
         |    LAG(CAST(y AS DOUBLE), 1) OVER w AS naive,
         |    LAG(CAST(y AS DOUBLE), 7) OVER w AS snaive
         |  FROM dense
         |  WINDOW w AS (PARTITION BY unique_id ORDER BY ord))
         |, fr2 AS (SELECT * FROM fr WHERE snaive IS NOT NULL)
         |, lo AS (SELECT unique_id, AVG(abs(y - naive)) AS mnaive,
         |    AVG(abs(y - snaive)) AS msnaive
         |  FROM fr2 GROUP BY 1)
         |, wr AS (SELECT unique_id,
         |    CASE WHEN mnaive IS NOT NULL THEN 1.0e0 / (mnaive + 1.0e-9) END AS rn_,
         |    CASE WHEN msnaive IS NOT NULL THEN 1.0e0 / (msnaive + 1.0e-9) END AS rs_
         |  FROM lo)
         |, wt AS (SELECT unique_id, rn_, rs_,
         |    COALESCE(rn_, 0.0e0) + COALESCE(rs_, 0.0e0) AS tot FROM wr)
         |, ww AS (SELECT unique_id,
         |    CASE WHEN rn_ IS NOT NULL AND tot > 0 THEN rn_ / tot END AS w_naive,
         |    CASE WHEN rs_ IS NOT NULL AND tot > 0 THEN rs_ / tot END AS w_snaive
         |  FROM wt)
         |SELECT f.unique_id, f.ord AS ds, w.w_naive, w.w_snaive,
         |  CASE WHEN w.w_naive IS NOT NULL OR w.w_snaive IS NOT NULL THEN
         |    CASE WHEN w.w_naive IS NOT NULL THEN w.w_naive * f.naive ELSE 0.0e0 END
         |    + CASE WHEN w.w_snaive IS NOT NULL THEN w.w_snaive * f.snaive ELSE 0.0e0 END
         |  END AS ensemble_pred
         |FROM fr2 f LEFT JOIN ww w USING (unique_id)""".stripMargin)),

    // SES baseline through the full pipeline: the per-series level folds
    // over the dropna-surviving labels (lag1 drops the first row) in time
    // order — list_reduce seeds with the first label, exactly the l1 = y1
    // recursion; flat forecast joined to the future grid.
    OracleQuery("predict_ses_h3",
      (s, dir) => {
        MLForecast(Seq(Models.ses(0.25)), Freq.IntFreq(1),
            FeatureSpec(lags = Seq(1)))
          .fit(dense(s, dir)).predict(3)
          .select(col("unique_id"), col("ds"), col("ses").cast("double").as("ses"))
      },
      Some(s"""$P
         |, lv AS (SELECT unique_id,
         |    list_reduce(list(CAST(y AS DOUBLE) ORDER BY ord),
         |      (acc, x) -> 0.25e0 * x + 0.75e0 * acc) AS level
         |  FROM dense WHERE ord >= 1 GROUP BY 1)
         |, lastd AS (SELECT unique_id, MAX(ord) AS lo FROM dense GROUP BY 1)
         |SELECT l.unique_id, l.lo + st.step AS ds, lv.level AS ses
         |FROM lastd l JOIN lv USING (unique_id),
         |     (SELECT unnest(range(1, 4)) AS step) st""".stripMargin)),

    // Croston classic on a deliberately intermittent panel (half the grid
    // zeroed): SES over nonzero demand sizes and inter-demand intervals,
    // forecast z/p — both folds replayed with 1-based index lambdas.
    OracleQuery("predict_croston_h3",
      (s, dir) => {
        val p0 = dense(s, dir)
        val inter = p0.copy(df = p0.df.withColumn("y",
          when(col("ds") % 4 < 2, lit(0.0))
            .otherwise(col("y").cast("double"))))
        MLForecast(Seq(Models.croston(0.25)), Freq.IntFreq(1),
            FeatureSpec(lags = Seq(1)))
          .fit(inter).predict(3)
          .select(col("unique_id"), col("ds"),
            col("croston").cast("double").as("croston"))
      },
      Some(s"""$P
         |, inter AS (SELECT unique_id, ord,
         |    CASE WHEN ord % 4 < 2 THEN 0.0e0 ELSE CAST(y AS DOUBLE) END AS y
         |  FROM dense)
         |, seqv AS (SELECT unique_id, list(y ORDER BY ord) AS vals
         |  FROM inter WHERE ord >= 1 GROUP BY 1)
         |, nz AS (SELECT unique_id,
         |    list_filter(list_transform(vals, (x, i) -> {'x': x, 'i': i}),
         |      s -> s.x <> 0.0e0) AS prs
         |  FROM seqv)
         |, zl AS (SELECT unique_id,
         |    list_reduce(list_transform(prs, s -> s.x),
         |      (a, b) -> 0.25e0 * b + 0.75e0 * a) AS z,
         |    list_reduce(list_prepend(CAST(prs[1].i AS DOUBLE),
         |        list_transform(range(2, len(prs) + 1),
         |          k -> CAST(prs[k].i - prs[k - 1].i AS DOUBLE))),
         |      (a, b) -> 0.25e0 * b + 0.75e0 * a) AS p
         |  FROM nz WHERE len(prs) > 0)
         |, lastd AS (SELECT unique_id, MAX(ord) AS lo FROM inter GROUP BY 1)
         |SELECT l.unique_id, l.lo + st.step AS ds, zl.z / zl.p AS croston
         |FROM lastd l LEFT JOIN zl USING (unique_id),
         |     (SELECT unnest(range(1, 4)) AS step) st""".stripMargin)),

    // TSB on the same intermittent panel: probability fold over every
    // period's demand indicator, size fold over nonzero demands, forecast
    // p*z (decays through demand-free stretches, unlike Croston).
    OracleQuery("predict_tsb_h3",
      (s, dir) => {
        val p0 = dense(s, dir)
        val inter = p0.copy(df = p0.df.withColumn("y",
          when(col("ds") % 4 < 2, lit(0.0))
            .otherwise(col("y").cast("double"))))
        MLForecast(Seq(Models.tsb(0.25, 0.25)), Freq.IntFreq(1),
            FeatureSpec(lags = Seq(1)))
          .fit(inter).predict(3)
          .select(col("unique_id"), col("ds"),
            col("tsb").cast("double").as("tsb"))
      },
      Some(s"""$P
         |, inter AS (SELECT unique_id, ord,
         |    CASE WHEN ord % 4 < 2 THEN 0.0e0 ELSE CAST(y AS DOUBLE) END AS y
         |  FROM dense)
         |, seqv AS (SELECT unique_id, list(y ORDER BY ord) AS vals
         |  FROM inter WHERE ord >= 1 GROUP BY 1)
         |, zl AS (SELECT unique_id,
         |    list_reduce(list_transform(vals,
         |        x -> CASE WHEN x <> 0.0e0 THEN 1.0e0 ELSE 0.0e0 END),
         |      (a, b) -> 0.25e0 * b + 0.75e0 * a) AS p,
         |    CASE WHEN len(list_filter(vals, x -> x <> 0.0e0)) = 0 THEN NULL
         |         ELSE list_reduce(list_filter(vals, x -> x <> 0.0e0),
         |                (a, b) -> 0.25e0 * b + 0.75e0 * a) END AS z
         |  FROM seqv)
         |, lastd AS (SELECT unique_id, MAX(ord) AS lo FROM inter GROUP BY 1)
         |SELECT l.unique_id, l.lo + st.step AS ds, zl.p * zl.z AS tsb
         |FROM lastd l JOIN zl USING (unique_id),
         |     (SELECT unnest(range(1, 4)) AS step) st""".stripMargin)),

    OracleQuery("predict_recursive_h14",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.naive, Models.seasonalNaive(7)),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(1, 7)))
        conf.fit(dense(s, dir)).predict(14)
          .select(col("unique_id"), col("ds"),
            col("naive").cast("double").as("naive"),
            col("seasonal_naive7").cast("double").as("seasonal_naive7"))
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, steps AS (SELECT unique_id, mo, CAST(i AS BIGINT) AS step
         |            FROM last, UNNEST(range(1, 15)) t(i))
         |SELECT s.unique_id, s.mo + s.step AS ds,
         |       CAST(n.y AS DOUBLE) AS naive,
         |       CAST(sn.y AS DOUBLE) AS seasonal_naive7
         |FROM steps s
         |LEFT JOIN dense n  ON n.unique_id = s.unique_id AND n.ord = s.mo
         |LEFT JOIN dense sn ON sn.unique_id = s.unique_id
         |                  AND sn.ord = s.mo + ((s.step - 1) % 7) - 6""".stripMargin)),

    // Differences(1) + naive: the diffed series' naive prediction is the
    // constant d = y(mo) - y(mo-1) every step; the distributed inverse
    // (phase cumsum + tail) reconstructs y(mo) + s*d. Integer-valued y keeps
    // cumsum-of-constant == multiplication exact in fp.
    OracleQuery("predict_recursive_diff_naive",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.naive),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(1)),
          targetTransforms = Seq(Differences(Seq(1))))
        conf.fit(dense(s, dir)).predict(7)
          .select(col("unique_id"), col("ds"), col("naive").cast("double").as("naive"))
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, tl AS (
         |  SELECT l.unique_id, l.mo,
         |         CAST(y0.y AS DOUBLE) AS ylast, CAST(y1.y AS DOUBLE) AS yprev
         |  FROM last l
         |  JOIN dense y0 ON y0.unique_id = l.unique_id AND y0.ord = l.mo
         |  JOIN dense y1 ON y1.unique_id = l.unique_id AND y1.ord = l.mo - 1)
         |SELECT unique_id, mo + CAST(i AS BIGINT) AS ds,
         |       CAST(ylast + i * (ylast - yprev) AS DOUBLE) AS naive
         |FROM tl, UNNEST(range(1, 8)) t(i)""".stripMargin)),

    // After-predict callback (reference core.py:1661-1672 /
    // callbacks.py): clip each step's TRANSFORMED-scale prediction at 0
    // BEFORE it feeds back as the next step's lag. Differences(1) +
    // seasonal_naive2 at h=4 makes the feedback observable: steps 3-4 echo
    // the CLIPPED steps 1-2 (lag2 reads the appended feedback), so the
    // twin must replay the clamp inside the recursion, not just clamp the
    // output. Integer-valued y keeps the phase-cumsum inverse exact in fp.
    OracleQuery("predict_clip_recursive",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.seasonalNaive(2)),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(2)),
          targetTransforms = Seq(Differences(Seq(1))))
        conf.fit(dense(s, dir))
          .predict(4, callback = Some(new graft.forecast.ClipPredictions(lo = 0.0)))
          .select(col("unique_id"), col("ds"),
            col("seasonal_naive2").cast("double").as("seasonal_naive2"))
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, tl AS (
         |  SELECT l.unique_id, l.mo,
         |         CAST(y0.y AS DOUBLE) AS ylast,
         |         GREATEST(CAST(y1.y AS DOUBLE) - CAST(y2.y AS DOUBLE), 0.0e0) AS g1,
         |         GREATEST(CAST(y0.y AS DOUBLE) - CAST(y1.y AS DOUBLE), 0.0e0) AS g2
         |  FROM last l
         |  JOIN dense y0 ON y0.unique_id = l.unique_id AND y0.ord = l.mo
         |  JOIN dense y1 ON y1.unique_id = l.unique_id AND y1.ord = l.mo - 1
         |  JOIN dense y2 ON y2.unique_id = l.unique_id AND y2.ord = l.mo - 2)
         |SELECT unique_id, mo + CAST(i AS BIGINT) AS ds,
         |       CAST(ylast
         |            + CASE WHEN i >= 1 THEN g1 ELSE 0.0e0 END
         |            + CASE WHEN i >= 2 THEN g2 ELSE 0.0e0 END
         |            + CASE WHEN i >= 3 THEN g1 ELSE 0.0e0 END
         |            + CASE WHEN i >= 4 THEN g2 ELSE 0.0e0 END AS DOUBLE)
         |         AS seasonal_naive2
         |FROM tl, UNNEST(range(1, 5)) t(i)""".stripMargin)),

    // Sliding-window CV, 2 windows × h=7, refit: per-series cutoffs at
    // mo-14 and mo-7; the prediction at cutoff+s is y(cutoff+s-7).
    OracleQuery("cv_2x7_snaive",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.seasonalNaive(7)),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(7)))
        conf.fit(dense(s, dir)).crossValidation(nWindows = 2, h = 7)
          .select(col("unique_id"), col("ds"), col("cutoff"),
            col("y").cast("double").as("y"),
            col("seasonal_naive7").cast("double").as("seasonal_naive7"))
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, wins AS (SELECT unique_id, mo - 14 AS cutoff FROM last
         |           UNION ALL SELECT unique_id, mo - 7 FROM last)
         |, steps AS (SELECT unique_id, cutoff, cutoff + CAST(i AS BIGINT) AS ds
         |            FROM wins, UNNEST(range(1, 8)) t(i))
         |SELECT st.unique_id, st.ds, st.cutoff,
         |       CAST(a.y AS DOUBLE) AS y,
         |       CAST(p.y AS DOUBLE) AS seasonal_naive7
         |FROM steps st
         |JOIN dense a ON a.unique_id = st.unique_id AND a.ord = st.ds
         |JOIN dense p ON p.unique_id = st.unique_id AND p.ord = st.ds - 7""".stripMargin)),

    // Adaptive conformal inference (Gibbs-Candes 2021): per-series ACI
    // walk over the last 14 rows with seasonal-naive predictions, split
    // calibration on the earlier rows. The scalar alpha fold replays in
    // DuckDB as a recursive CTE over the step index — bit-exact, infinite
    // bands included.
    OracleQuery("aci_path_snaive", {
      (s, dir) => {
        import graft.forecast.Conformal
        val p = dense(s, dir)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("unique_id")).orderBy(col("ds"))
        val wDesc = org.apache.spark.sql.expressions.Window
          .partitionBy(col("unique_id")).orderBy(col("ds").desc)
        val lagd = p.df
          .withColumn("yhat", lag(col("y"), 7).over(w))
          .withColumn("rn_end", row_number().over(wDesc))
        val test = lagd.filter(col("rn_end") <= 14 && col("yhat").isNotNull)
          .select(col("unique_id"), col("ds"),
            col("y").cast("double").as("y"), col("yhat").cast("double").as("yhat"))
        val calib = lagd.filter(col("rn_end") > 14 && col("yhat").isNotNull)
          .select(col("unique_id"),
            abs(col("y").cast("double") - col("yhat").cast("double")).as("score"))
        Conformal.aciPath(calib, test, "unique_id", "ds", "y", "yhat", "score",
          alpha = 0.1, gamma = 0.05)
      }
    }, {
      val aNext = "least(1.0e0, greatest(0.0e0, w.alpha + 0.05e0 * (0.1e0 - w.err)))"
      def kOf(a: String) = s"CAST(ceil((1.0e0 - ($a)) * (c.n + 1)) AS BIGINT)"
      def qOf(a: String) =
        s"""CASE WHEN ${kOf(a)} <= 0 THEN 0.0e0
           |         WHEN ${kOf(a)} > c.n THEN 'infinity'::DOUBLE
           |         ELSE c.arr[CAST(${kOf(a)} AS INTEGER)] END""".stripMargin
      def errOf(a: String) =
        s"CASE WHEN abs(te.y - te.yhat) > ${qOf(a)} THEN 1.0e0 ELSE 0.0e0 END"
      Some(s"""${P.replaceFirst("WITH ", "WITH RECURSIVE ")}
         |, lagd AS (SELECT unique_id, ord, CAST(y AS DOUBLE) AS y,
         |    LAG(CAST(y AS DOUBLE), 7) OVER (PARTITION BY unique_id ORDER BY ord) AS yhat,
         |    ROW_NUMBER() OVER (PARTITION BY unique_id ORDER BY ord DESC) AS rn_end
         |  FROM dense)
         |, calset AS (SELECT unique_id,
         |    list(abs(y - yhat) ORDER BY abs(y - yhat)) AS arr,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM lagd WHERE rn_end > 14 AND yhat IS NOT NULL GROUP BY 1)
         |, test AS (SELECT unique_id, ord, y, yhat,
         |    ROW_NUMBER() OVER (PARTITION BY unique_id ORDER BY ord) AS t
         |  FROM lagd WHERE rn_end <= 14 AND yhat IS NOT NULL)
         |, walk(unique_id, t, ds, y, yhat, alpha, qhat, err) AS (
         |    SELECT te.unique_id, te.t, te.ord, te.y, te.yhat, 0.1e0,
         |           ${qOf("0.1e0")}, ${errOf("0.1e0")}
         |    FROM test te JOIN calset c USING (unique_id)
         |    WHERE te.t = 1
         |  UNION ALL
         |    SELECT te.unique_id, te.t, te.ord, te.y, te.yhat, $aNext,
         |           ${qOf(aNext)}, ${errOf(aNext)}
         |    FROM walk w
         |    JOIN test te ON te.unique_id = w.unique_id AND te.t = w.t + 1
         |    JOIN calset c ON c.unique_id = te.unique_id)
         |SELECT unique_id, ds, y, yhat, alpha AS alpha_t, qhat, err,
         |       yhat - qhat AS lo, yhat + qhat AS hi
         |FROM walk""".stripMargin)
    }),

    // Conformity scores from the same CV: |y - yhat| per (id, window, step).
    OracleQuery("conformity_scores_snaive",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.seasonalNaive(7)),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(7)))
        val cv = conf.fit(dense(s, dir)).crossValidation(nWindows = 2, h = 7)
        Conformal.conformityScores(cv, "unique_id", "ds", "y", Seq("seasonal_naive7"))
          .select(col("unique_id"), col("__step").as("step"),
            col("`__score_seasonal_naive7`").cast("double").as("score"))
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, wins AS (SELECT unique_id, mo - 14 AS cutoff FROM last
         |           UNION ALL SELECT unique_id, mo - 7 FROM last)
         |, steps AS (SELECT unique_id, cutoff, CAST(i AS INT) AS step,
         |                   cutoff + CAST(i AS BIGINT) AS ds
         |            FROM wins, UNNEST(range(1, 8)) t(i))
         |SELECT st.unique_id, st.step,
         |       CAST(ABS(CAST(a.y AS DOUBLE) - CAST(p.y AS DOUBLE)) AS DOUBLE) AS score
         |FROM steps st
         |JOIN dense a ON a.unique_id = st.unique_id AND a.ord = st.ds
         |JOIN dense p ON p.unique_id = st.unique_id AND p.ord = st.ds - 7""".stripMargin)),

    // Tibshirani weighted quantile over pooled per-step conformity scores
    // (weights derived deterministically from series ids): the SQL twin
    // replays the same normalized cumsum + first-crossing search.
    OracleQuery("weighted_quantile_by_step",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.seasonalNaive(7)),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(7)))
        val cv = conf.fit(dense(s, dir)).crossValidation(nWindows = 2, h = 7)
        val scores = Conformal.conformityScores(cv, "unique_id", "ds", "y", Seq("seasonal_naive7"))
          .withColumn("w", lit(1.0) + (col("unique_id") % 5).cast("double"))
        val wTest = scores.agg(avg(col("w")).as("__wtest"))
        graft.forecast.ConformalTransfer.weightedQuantiles(
          scores.crossJoin(broadcast(wTest)), Seq("__step"),
          "__score_seasonal_naive7", "w", col("__wtest"), Seq(0.8, 0.95))
          .select(col("__step").as("step"),
            col("__q_0").as("q80"), col("__q_1").as("q95"))
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, wins AS (SELECT unique_id, mo - 14 AS cutoff FROM last
         |           UNION ALL SELECT unique_id, mo - 7 FROM last)
         |, steps AS (SELECT unique_id, cutoff, CAST(i AS INT) AS step,
         |                   cutoff + CAST(i AS BIGINT) AS ds
         |            FROM wins, UNNEST(range(1, 8)) t(i))
         |, sc AS (
         |  SELECT st.unique_id, st.step,
         |         CAST(ABS(CAST(a.y AS DOUBLE) - CAST(p.y AS DOUBLE)) AS DOUBLE) AS score,
         |         1.0 + CAST(st.unique_id % 5 AS DOUBLE) AS w
         |  FROM steps st
         |  JOIN dense a ON a.unique_id = st.unique_id AND a.ord = st.ds
         |  JOIN dense p ON p.unique_id = st.unique_id AND p.ord = st.ds - 7)
         |, wt AS (SELECT AVG(w) AS wtest FROM sc)
         |, tot AS (SELECT step, SUM(w) AS total FROM sc GROUP BY 1)
         |, cum AS (
         |  SELECT sc.step, sc.score,
         |         SUM(sc.w / (tot.total + wt.wtest)) OVER (
         |           PARTITION BY sc.step ORDER BY sc.score
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw
         |  FROM sc, wt, tot WHERE tot.step = sc.step)
         |SELECT step,
         |  COALESCE(MIN(score) FILTER (WHERE cumw >= 1.0 - (1.0 - 0.8)),
         |           CAST('infinity' AS DOUBLE)) AS q80,
         |  COALESCE(MIN(score) FILTER (WHERE cumw >= 1.0 - (1.0 - 0.95)),
         |           CAST('infinity' AS DOUBLE)) AS q95
         |FROM cum GROUP BY 1""".stripMargin)),

    // Per-series conformal scales: sample std of first differences with the
    // data-relative floor (ConformalTransfer.seriesScales, reference
    // _compute_series_scales). Both sides use the explicit moment-sum std —
    // integer-valued dy keeps Σdy/Σdy² exact, so the match is bit-level
    // (STDDEV_SAMP's streaming merges differ in the last bit per engine).
    OracleQuery("series_scales_std",
      (s, dir) => graft.forecast.ConformalTransfer.seriesScales(dense(s, dir), "std")
        .select(col("unique_id"), col("scale").cast("double").as("scale")),
      Some(s"""$P
         |, dy AS (SELECT unique_id,
         |           y - LAG(y) OVER (PARTITION BY unique_id ORDER BY ord) AS dy
         |         FROM dense)
         |, raw AS (SELECT unique_id,
         |            SQRT(GREATEST(SUM(dy*dy) - SUM(dy)*SUM(dy)/COUNT(dy),
         |                          CAST(0 AS DOUBLE))
         |                 / (COUNT(dy) - 1)) AS r
         |          FROM dy GROUP BY 1)
         |, g AS (SELECT QUANTILE_CONT(r, 0.5) AS gmed FROM raw)
         |SELECT unique_id,
         |       CAST(GREATEST(r, GREATEST(0.001 * gmed, 1e-8)) AS DOUBLE) AS scale
         |FROM raw, g""".stripMargin)),

    // Global robust scale ratio IQR(|tgt|)/IQR(|src|) between the odd- and
    // even-supplier halves of the panel (ConformalTransfer.robustScaleRatio,
    // the error_scaled transfer's widening factor).
    OracleQuery("robust_scale_ratio_even_odd",
      (s, dir) => {
        val p = dense(s, dir).df
        val src = p.filter(col("unique_id") % 2 === 1)
          .select(col("y").cast("double").as("v"))
        val tgt = p.filter(col("unique_id") % 2 === 0)
          .select(col("y").cast("double").as("v"))
        graft.forecast.ConformalTransfer.robustScaleRatio(src, tgt, "v")
          .select(col("ratio").cast("double").as("ratio"))
      },
      Some(s"""$P
         |, sa AS (SELECT QUANTILE_CONT(ABS(y), 0.75) - QUANTILE_CONT(ABS(y), 0.25) AS iqr,
         |                COALESCE(STDDEV_POP(y), 0) AS sd, COUNT(*) AS n
         |         FROM dense WHERE unique_id % 2 = 1)
         |, ta AS (SELECT QUANTILE_CONT(ABS(y), 0.75) - QUANTILE_CONT(ABS(y), 0.25) AS iqr,
         |                COALESCE(STDDEV_POP(y), 0) AS sd, COUNT(*) AS n
         |         FROM dense WHERE unique_id % 2 = 0)
         |SELECT CAST(CASE
         |  WHEN sa.iqr >= 1e-10 AND ta.iqr >= 1e-10 THEN ta.iqr / sa.iqr
         |  WHEN (CASE WHEN sa.n > 1 THEN sa.sd ELSE 0 END) >= 1e-10
         |    THEN (CASE WHEN ta.n > 1 THEN ta.sd ELSE 0 END) / GREATEST(sa.sd, 1e-10)
         |  ELSE 1.0 END AS DOUBLE) AS ratio
         |FROM sa, ta""".stripMargin)),

    // predictWithIntervals end-to-end: refit=false CV supplies per-(id,step)
    // |error| scores; conformal_error brackets the prediction with their q80.
    // DuckDB's QUANTILE_CONT over doubles is bit-identical to Spark's
    // percentile interpolation (verified on 300 random pairs); a hand-rolled
    // (1-p)*min + p*max drifts 1e-14 via DuckDB's decimal literals and flips
    // the sign of a zero-width lower bound.
    OracleQuery("predict_intervals_snaive",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.seasonalNaive(7)),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(7)))
        conf.fit(dense(s, dir)).predictWithIntervals(7, Seq(80), nWindows = 2)
          .select(col("unique_id"), col("ds"),
            col("seasonal_naive7").cast("double").as("seasonal_naive7"),
            col("`seasonal_naive7-lo-80`").cast("double").as("lo80"),
            col("`seasonal_naive7-hi-80`").cast("double").as("hi80"))
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, wins AS (SELECT unique_id, mo - 14 AS cutoff FROM last
         |           UNION ALL SELECT unique_id, mo - 7 FROM last)
         |, st AS (SELECT unique_id, cutoff, CAST(i AS INT) AS step,
         |                cutoff + CAST(i AS BIGINT) AS ds
         |          FROM wins, UNNEST(range(1, 8)) t(i))
         |, sc AS (SELECT st.unique_id, st.step,
         |                ABS(CAST(a.y AS DOUBLE) - CAST(p.y AS DOUBLE)) AS score
         |         FROM st
         |         JOIN dense a ON a.unique_id = st.unique_id AND a.ord = st.ds
         |         JOIN dense p ON p.unique_id = st.unique_id AND p.ord = st.ds - 7)
         |, q AS (SELECT unique_id, step, QUANTILE_CONT(score, 0.8) AS q80
         |        FROM sc GROUP BY 1, 2)
         |, steps2 AS (SELECT unique_id, mo, UNNEST(range(1, 8)) AS i FROM last)
         |, preds AS (SELECT s2.unique_id, s2.mo + s2.i AS ds,
         |                   CAST(s2.i AS INT) AS step, CAST(py.y AS DOUBLE) AS yhat
         |            FROM steps2 s2
         |            JOIN dense py ON py.unique_id = s2.unique_id
         |                         AND py.ord = s2.mo + s2.i - 7)
         |SELECT p.unique_id, p.ds, p.yhat AS seasonal_naive7,
         |       CAST(p.yhat - q.q80 AS DOUBLE) AS lo80,
         |       CAST(p.yhat + q.q80 AS DOUBLE) AS hi80
         |FROM preds p JOIN q ON q.unique_id = p.unique_id AND q.step = p.step""".stripMargin)),

    // The OTHER conformal method (the reference's default,
    // conformal_prediction.py _add_conformal_distribution_intervals):
    // per-(id, step) ± error paths across windows, quantiles at
    // (100−l)/200 and 1−(100−l)/200 with linear interpolation.
    OracleQuery("predict_intervals_dist_snaive",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.seasonalNaive(7)),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(7)))
        conf.fit(dense(s, dir)).predictWithIntervals(7, Seq(80), nWindows = 2,
            method = "conformal_distribution")
          .select(col("unique_id"), col("ds"),
            col("seasonal_naive7").cast("double").as("seasonal_naive7"),
            col("`seasonal_naive7-lo-80`").cast("double").as("lo80"),
            col("`seasonal_naive7-hi-80`").cast("double").as("hi80"))
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, wins AS (SELECT unique_id, mo - 14 AS cutoff FROM last
         |           UNION ALL SELECT unique_id, mo - 7 FROM last)
         |, st AS (SELECT unique_id, cutoff, CAST(i AS INT) AS step,
         |                cutoff + CAST(i AS BIGINT) AS ds
         |          FROM wins, UNNEST(range(1, 8)) t(i))
         |, sc AS (SELECT st.unique_id, st.step,
         |                ABS(CAST(a.y AS DOUBLE) - CAST(p.y AS DOUBLE)) AS score
         |         FROM st
         |         JOIN dense a ON a.unique_id = st.unique_id AND a.ord = st.ds
         |         JOIN dense p ON p.unique_id = st.unique_id AND p.ord = st.ds - 7)
         |, steps2 AS (SELECT unique_id, mo, UNNEST(range(1, 8)) AS i FROM last)
         |, preds AS (SELECT s2.unique_id, s2.mo + s2.i AS ds,
         |                   CAST(s2.i AS INT) AS step, CAST(py.y AS DOUBLE) AS yhat
         |            FROM steps2 s2
         |            JOIN dense py ON py.unique_id = s2.unique_id
         |                         AND py.ord = s2.mo + s2.i - 7)
         |, paths AS (
         |    SELECT p.unique_id, p.step, p.ds, p.yhat, p.yhat - sc.score AS v
         |    FROM preds p JOIN sc ON sc.unique_id = p.unique_id AND sc.step = p.step
         |    UNION ALL
         |    SELECT p.unique_id, p.step, p.ds, p.yhat, p.yhat + sc.score
         |    FROM preds p JOIN sc ON sc.unique_id = p.unique_id AND sc.step = p.step)
         |SELECT unique_id, ds, yhat AS seasonal_naive7,
         |       CAST(QUANTILE_CONT(v, 0.1) AS DOUBLE) AS lo80,
         |       CAST(QUANTILE_CONT(v, 0.9) AS DOUBLE) AS hi80
         |FROM paths GROUP BY unique_id, ds, yhat""".stripMargin)),

    // Weighted-conformal predict END-TO-END (reference weighted transfer
    // path, conformal_prediction.py:630-738 + forecast.py:1553-1857): CV
    // conformity scores with PINNED per-point weights feed the Tibshirani
    // weighted quantile POOLED PER STEP (w_test = global mean weight), and
    // the q80 brackets every series' prediction. The weights stand in for
    // cross-fitted density-ratio output — DRE training itself (a logistic
    // fit) is not SQL-expressible and stays unit-only; everything downstream
    // of the weights (the assembly the reference wires at predict time) is
    // replayed here term by term.
    OracleQuery("predict_intervals_weighted",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.seasonalNaive(7)),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(7)))
        val fitted = conf.fit(dense(s, dir))
        val scores = Conformal.conformityScores(
          fitted.crossValidation(nWindows = 2, h = 7),
          "unique_id", "ds", "y", Seq("seasonal_naive7"))
          .withColumn("w", lit(1.0) + (col("unique_id") % 5).cast("double"))
        graft.forecast.ConformalTransfer.addPooledErrorIntervals(
          fitted.predict(7), scores, "unique_id", "ds",
          Seq("seasonal_naive7"), Seq(80), weightCol = Some("w"))
          .select(col("unique_id"), col("ds"),
            col("seasonal_naive7").cast("double").as("seasonal_naive7"),
            col("`seasonal_naive7-lo-80`").cast("double").as("lo80"),
            col("`seasonal_naive7-hi-80`").cast("double").as("hi80"))
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, wins AS (SELECT unique_id, mo - 14 AS cutoff FROM last
         |           UNION ALL SELECT unique_id, mo - 7 FROM last)
         |, st AS (SELECT unique_id, cutoff, CAST(i AS INT) AS step,
         |                cutoff + CAST(i AS BIGINT) AS ds
         |          FROM wins, UNNEST(range(1, 8)) t(i))
         |, sc AS (SELECT st.unique_id, st.step,
         |                ABS(CAST(a.y AS DOUBLE) - CAST(p.y AS DOUBLE)) AS score,
         |                1.0 + CAST(st.unique_id % 5 AS DOUBLE) AS w
         |         FROM st
         |         JOIN dense a ON a.unique_id = st.unique_id AND a.ord = st.ds
         |         JOIN dense p ON p.unique_id = st.unique_id AND p.ord = st.ds - 7)
         |, wt AS (SELECT AVG(w) AS wtest FROM sc)
         |, tot AS (SELECT step, SUM(w) AS total FROM sc GROUP BY 1)
         |, cum AS (
         |  SELECT sc.step, sc.score,
         |         SUM(sc.w / (tot.total + wt.wtest)) OVER (
         |           PARTITION BY sc.step ORDER BY sc.score
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw
         |  FROM sc, wt, tot WHERE tot.step = sc.step)
         |, q AS (SELECT step,
         |          COALESCE(MIN(score) FILTER (WHERE cumw >= 1.0 - (1.0 - 0.8)),
         |                   CAST('infinity' AS DOUBLE)) AS q80
         |        FROM cum GROUP BY 1)
         |, steps2 AS (SELECT unique_id, mo, UNNEST(range(1, 8)) AS i FROM last)
         |, preds AS (SELECT s2.unique_id, s2.mo + s2.i AS ds,
         |                   CAST(s2.i AS INT) AS step, CAST(py.y AS DOUBLE) AS yhat
         |            FROM steps2 s2
         |            JOIN dense py ON py.unique_id = s2.unique_id
         |                         AND py.ord = s2.mo + s2.i - 7)
         |SELECT p.unique_id, p.ds, p.yhat AS seasonal_naive7,
         |       CAST(p.yhat - q.q80 AS DOUBLE) AS lo80,
         |       CAST(p.yhat + q.q80 AS DOUBLE) AS hi80
         |FROM preds p JOIN q ON q.step = p.step""".stripMargin)),

    // CV with conformal interval columns (reference cross_validation with
    // prediction_intervals + level). refit=true => every window is a refit
    // window, so both calibrate at fit time: a nested 2-window refit=false
    // CV on the window's OWN train slice supplies per-(id, step) |err|
    // quantiles. The SQL replays both layers of windowing.
    OracleQuery("cv_intervals_snaive",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.seasonalNaive(7)),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(7)))
        conf.fit(dense(s, dir)).crossValidationWithIntervals(
            nWindows = 2, h = 7, levels = Seq(80))
          .select(col("unique_id"), col("ds"), col("cutoff"),
            col("y").cast("double").as("y"),
            col("seasonal_naive7").cast("double").as("seasonal_naive7"),
            col("`seasonal_naive7-lo-80`").cast("double").as("lo80"),
            col("`seasonal_naive7-hi-80`").cast("double").as("hi80"))
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, wins AS (SELECT unique_id, mo - 14 + 7*CAST(w AS BIGINT) AS cutoff
         |           FROM last, UNNEST(range(0, 2)) t(w))
         |, ncal AS (SELECT unique_id, cutoff,
         |                  cutoff - 14 + 7*CAST(v AS BIGINT) AS ncut
         |           FROM wins, UNNEST(range(0, 2)) t(v))
         |, st AS (SELECT unique_id, cutoff, CAST(i AS INT) AS step,
         |                ncut + CAST(i AS BIGINT) AS ds
         |         FROM ncal, UNNEST(range(1, 8)) t(i))
         |, sc AS (SELECT st.unique_id, st.cutoff, st.step,
         |                ABS(CAST(a.y AS DOUBLE) - CAST(p.y AS DOUBLE)) AS score
         |         FROM st
         |         JOIN dense a ON a.unique_id = st.unique_id AND a.ord = st.ds
         |         JOIN dense p ON p.unique_id = st.unique_id AND p.ord = st.ds - 7)
         |, q AS (SELECT unique_id, cutoff, step, QUANTILE_CONT(score, 0.8) AS q80
         |        FROM sc GROUP BY 1, 2, 3)
         |, pst AS (SELECT unique_id, cutoff, CAST(i AS INT) AS step,
         |                 cutoff + CAST(i AS BIGINT) AS ds
         |          FROM wins, UNNEST(range(1, 8)) t(i))
         |, preds AS (SELECT p0.unique_id, p0.cutoff, p0.ds, p0.step,
         |                   CAST(py.y AS DOUBLE) AS yhat, CAST(a.y AS DOUBLE) AS y
         |            FROM pst p0
         |            JOIN dense py ON py.unique_id = p0.unique_id
         |                         AND py.ord = p0.ds - 7
         |            JOIN dense a ON a.unique_id = p0.unique_id
         |                        AND a.ord = p0.ds)
         |SELECT p.unique_id, p.ds, p.cutoff, p.y, p.yhat AS seasonal_naive7,
         |       CAST(p.yhat - q.q80 AS DOUBLE) AS lo80,
         |       CAST(p.yhat + q.q80 AS DOUBLE) AS hi80
         |FROM preds p
         |JOIN q ON q.unique_id = p.unique_id AND q.cutoff = p.cutoff
         |      AND q.step = p.step""".stripMargin)),

    // CV intervals THROUGH a target-transform pipeline (Differences(1) +
    // LocalStandardScaler — the reference's most common interval config).
    // r12: served by the shared driver-loop backtest (one pass over the
    // union of outer+nested offsets; warmup re-fits diff tails and scaler
    // stats per cutoff, so a data-free prediction at cutoff c is a pure
    // function of history <= c). The SQL replays the transform chain
    // operation-for-operation: per-cutoff slice stats mu = SUM/COUNT and
    // sigma = SQRT(GREATEST(SS/n - mu*mu, 0)) (1.0 when zero/null), the
    // scaled snaive prediction ((dy - mu)/sigma)*sigma + mu, the
    // phase-cumsum-plus-tail difference inverse, then the nested conformal
    // quantiles exactly as cv_intervals_snaive.
    OracleQuery("cv_intervals_diff_scaler",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.seasonalNaive(7)),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(7)),
          targetTransforms = Seq(graft.forecast.Differences(Seq(1)),
            graft.forecast.LocalStandardScaler()))
        conf.fit(dense(s, dir)).crossValidationWithIntervals(
            nWindows = 2, h = 7, levels = Seq(80))
          .select(col("unique_id"), col("ds"), col("cutoff"),
            col("y").cast("double").as("y"),
            col("seasonal_naive7").cast("double").as("seasonal_naive7"),
            col("`seasonal_naive7-lo-80`").cast("double").as("lo80"),
            col("`seasonal_naive7-hi-80`").cast("double").as("hi80"))
      },
      Some(s"""$P
         |, d AS (SELECT unique_id, ord, CAST(y AS DOUBLE) AS y,
         |               CAST(y AS DOUBLE) - LAG(CAST(y AS DOUBLE), 1)
         |                 OVER (PARTITION BY unique_id ORDER BY ord) AS dy
         |        FROM dense)
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, wins AS (SELECT unique_id, mo - 14 + 7*CAST(w AS BIGINT) AS cutoff
         |           FROM last, UNNEST(range(0, 2)) t(w))
         |, allc AS (SELECT DISTINCT unique_id, c FROM (
         |             SELECT unique_id, cutoff AS c FROM wins
         |             UNION ALL
         |             SELECT unique_id, cutoff - 14 + 7*CAST(v AS BIGINT)
         |             FROM wins, UNNEST(range(0, 2)) t(v)))
         |, st AS (SELECT a.unique_id, a.c,
         |                SUM(d.dy) / COUNT(d.dy) AS mu,
         |                SQRT(GREATEST(SUM(d.dy*d.dy) / COUNT(d.dy)
         |                  - (SUM(d.dy)/COUNT(d.dy)) * (SUM(d.dy)/COUNT(d.dy)),
         |                  0.0)) AS sigma0
         |         FROM allc a JOIN d ON d.unique_id = a.unique_id AND d.ord <= a.c
         |         GROUP BY 1, 2)
         |, st2 AS (SELECT unique_id, c, mu,
         |                 CASE WHEN sigma0 IS NULL OR sigma0 = 0.0
         |                      THEN 1.0 ELSE sigma0 END AS sigma
         |          FROM st)
         |, steps AS (SELECT unique_id, c, CAST(i AS INT) AS step,
         |                   c + CAST(i AS BIGINT) AS ds
         |            FROM allc, UNNEST(range(1, 8)) t(i))
         |, dhat AS (SELECT s.unique_id, s.c, s.step, s.ds,
         |                  ((d.dy - t.mu) / t.sigma) * t.sigma + t.mu AS dh
         |           FROM steps s
         |           JOIN d ON d.unique_id = s.unique_id AND d.ord = s.ds - 7
         |           JOIN st2 t ON t.unique_id = s.unique_id AND t.c = s.c)
         |, yhat AS (SELECT dh.unique_id, dh.c, dh.step, dh.ds,
         |                  SUM(dh.dh) OVER (PARTITION BY dh.unique_id, dh.c
         |                    ORDER BY dh.step
         |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |                  + y0.y AS yh
         |           FROM dhat dh
         |           JOIN d y0 ON y0.unique_id = dh.unique_id AND y0.ord = dh.c)
         |, ncal AS (SELECT unique_id, cutoff,
         |                  cutoff - 14 + 7*CAST(v AS BIGINT) AS ncut
         |           FROM wins, UNNEST(range(0, 2)) t(v))
         |, sc AS (SELECT n.unique_id, n.cutoff, yh.step,
         |                ABS(a.y - yh.yh) AS score
         |         FROM ncal n
         |         JOIN yhat yh ON yh.unique_id = n.unique_id AND yh.c = n.ncut
         |         JOIN d a ON a.unique_id = n.unique_id AND a.ord = yh.ds)
         |, q AS (SELECT unique_id, cutoff, step, QUANTILE_CONT(score, 0.8) AS q80
         |        FROM sc GROUP BY 1, 2, 3)
         |, outp AS (SELECT w.unique_id, w.cutoff, yh.step, yh.ds, yh.yh, a.y
         |           FROM wins w
         |           JOIN yhat yh ON yh.unique_id = w.unique_id AND yh.c = w.cutoff
         |           JOIN d a ON a.unique_id = w.unique_id AND a.ord = yh.ds)
         |SELECT o.unique_id, o.ds, o.cutoff, o.y,
         |       o.yh AS seasonal_naive7,
         |       CAST(o.yh - q.q80 AS DOUBLE) AS lo80,
         |       CAST(o.yh + q.q80 AS DOUBLE) AS hi80
         |FROM outp o
         |JOIN q ON q.unique_id = o.unique_id AND q.cutoff = o.cutoff
         |      AND q.step = o.step""".stripMargin)),

    // Interval-evaluation metrics over the CV interval output: empirical
    // coverage, mean band width, Winkler interval score, and pinball
    // losses of the band edges as 0.1/0.9 quantile forecasts. The 2/alpha
    // penalty is SPELLED as (2 / ((100-80)/100)) on both sides — the IEEE
    // result is 9.999999999999998, not 10, and pre-simplifying on one side
    // would break the hash.
    OracleQuery("cv_interval_metrics_snaive",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.seasonalNaive(7)),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(7)))
        // both metric families aggregate the SAME interval-CV frame; pin it
        // lazily so the CV plan executes once, not once per consumer
        val cv = conf.fit(dense(s, dir)).crossValidationWithIntervals(
          nWindows = 2, h = 7, levels = Seq(80)).localCheckpoint(false)
        val im = graft.forecast.Losses.intervalMetricsById(
            cv, "unique_id", "ds", "y", Seq("seasonal_naive7"), Seq(80))
          .select(col("unique_id"),
            col("`seasonal_naive7-coverage-80`").as("cov80"),
            col("`seasonal_naive7-width-80`").as("width80"),
            col("`seasonal_naive7-winkler-80`").as("winkler80"))
        val ql = graft.forecast.Losses.quantileLossById(cv, "unique_id", "ds",
            "y",
            Seq(0.1 -> "seasonal_naive7-lo-80", 0.9 -> "seasonal_naive7-hi-80"))
          .select(col("unique_id"),
            col("`seasonal_naive7-lo-80-ql`").as("lo_ql"),
            col("`seasonal_naive7-hi-80-ql`").as("hi_ql"),
            col("mqloss"))
        im.join(ql, Seq("unique_id"))
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, wins AS (SELECT unique_id, mo - 14 + 7*CAST(w AS BIGINT) AS cutoff
         |           FROM last, UNNEST(range(0, 2)) t(w))
         |, ncal AS (SELECT unique_id, cutoff,
         |                  cutoff - 14 + 7*CAST(v AS BIGINT) AS ncut
         |           FROM wins, UNNEST(range(0, 2)) t(v))
         |, st AS (SELECT unique_id, cutoff, CAST(i AS INT) AS step,
         |                ncut + CAST(i AS BIGINT) AS ds
         |         FROM ncal, UNNEST(range(1, 8)) t(i))
         |, sc AS (SELECT st.unique_id, st.cutoff, st.step,
         |                ABS(CAST(a.y AS DOUBLE) - CAST(p.y AS DOUBLE)) AS score
         |         FROM st
         |         JOIN dense a ON a.unique_id = st.unique_id AND a.ord = st.ds
         |         JOIN dense p ON p.unique_id = st.unique_id AND p.ord = st.ds - 7)
         |, q AS (SELECT unique_id, cutoff, step, QUANTILE_CONT(score, 0.8) AS q80
         |        FROM sc GROUP BY 1, 2, 3)
         |, pst AS (SELECT unique_id, cutoff, CAST(i AS INT) AS step,
         |                 cutoff + CAST(i AS BIGINT) AS ds
         |          FROM wins, UNNEST(range(1, 8)) t(i))
         |, preds AS (SELECT p0.unique_id, p0.cutoff, p0.step, p0.ds,
         |                   CAST(py.y AS DOUBLE) AS yhat, CAST(a.y AS DOUBLE) AS y
         |            FROM pst p0
         |            JOIN dense py ON py.unique_id = p0.unique_id
         |                         AND py.ord = p0.ds - 7
         |            JOIN dense a ON a.unique_id = p0.unique_id
         |                        AND a.ord = p0.ds)
         |, band AS (SELECT p.unique_id, p.ds, p.y,
         |                  p.yhat - q.q80 AS lo, p.yhat + q.q80 AS hi
         |           FROM preds p
         |           JOIN q ON q.unique_id = p.unique_id AND q.cutoff = p.cutoff
         |                 AND q.step = p.step)
         |, terms AS (SELECT unique_id, ds, y, lo, hi,
         |                   hi - lo AS width,
         |                   (hi - lo)
         |                   + (CASE WHEN y < lo
         |                      THEN (lo - y) * (2.0e0 / ((100.0e0 - 80.0e0) / 100.0e0))
         |                      ELSE 0.0e0 END)
         |                   + (CASE WHEN y > hi
         |                      THEN (y - hi) * (2.0e0 / ((100.0e0 - 80.0e0) / 100.0e0))
         |                      ELSE 0.0e0 END) AS winkler,
         |                   GREATEST(0.1e0 * (y - lo), (0.1e0 - 1.0e0) * (y - lo)) AS qlo,
         |                   GREATEST(0.9e0 * (y - hi), (0.9e0 - 1.0e0) * (y - hi)) AS qhi
         |            FROM band)
         |, agg AS (SELECT unique_id,
         |    AVG(CASE WHEN y >= lo AND y <= hi THEN 1.0e0 ELSE 0.0e0 END) AS cov80,
         |    list_reduce(list_prepend(0.0, list(width ORDER BY ds, width)),
         |      (a, x) -> a + x) / COUNT(*) AS width80,
         |    list_reduce(list_prepend(0.0, list(winkler ORDER BY ds, winkler)),
         |      (a, x) -> a + x) / COUNT(*) AS winkler80,
         |    list_reduce(list_prepend(0.0, list(qlo ORDER BY ds, qlo)),
         |      (a, x) -> a + x) / COUNT(*) AS lo_ql,
         |    list_reduce(list_prepend(0.0, list(qhi ORDER BY ds, qhi)),
         |      (a, x) -> a + x) / COUNT(*) AS hi_ql
         |  FROM terms GROUP BY 1)
         |SELECT unique_id, cov80, width80, winkler80, lo_ql, hi_ql,
         |       (lo_ql + hi_ql) / 2.0e0 AS mqloss
         |FROM agg""".stripMargin)),

    // CV fitted values (reference cross_validation fitted=True +
    // cross_validation_fitted_values): per fold, the in-sample h=1 fitted
    // values of that fold's train slice (ord <= cutoff_fold), post-dropna
    // on the lag-7 feature.
    OracleQuery("cv_fitted_values_snaive",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.seasonalNaive(7)),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(7)))
        conf.fit(dense(s, dir)).crossValidationFittedValues(nWindows = 2, h = 7)
          .select(col("unique_id"), col("ds"), col("fold"),
            col("y").cast("double").as("y"),
            col("seasonal_naive7").cast("double").as("seasonal_naive7"),
            col("h"))
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, wins AS (SELECT unique_id, CAST(w AS INT) AS fold,
         |                  mo - 14 + 7*CAST(w AS BIGINT) AS cutoff
         |           FROM last, UNNEST(range(0, 2)) t(w))
         |SELECT d.unique_id, d.ord AS ds, w.fold, CAST(d.y AS DOUBLE) AS y,
         |       CAST(p.y AS DOUBLE) AS seasonal_naive7, CAST(1 AS BIGINT) AS h
         |FROM dense d
         |JOIN wins w ON w.unique_id = d.unique_id AND d.ord <= w.cutoff
         |JOIN dense p ON p.unique_id = d.unique_id AND p.ord = d.ord - 7""".stripMargin)),

    // Recursive predict through the LOCKSTEP kernel: a pooled (groupby)
    // rolling mean takes the step-synchronous kernel — per-step pooled
    // ordinals and component windows run on the driver over per-(bucket,
    // ds) partials, one Spark job per step. Buckets of one
    // series keep the value SQL-expressible: a 3-step rolling-mean
    // recursion whose step sums append earlier predictions in ordinal
    // order (integer history sums are exact; the appended doubles are
    // added last, matching the component-window accumulation order).
    OracleQuery("predict_pooled_groupby_rmean",
      (s, dir) => {
        val fname = "groupby_unique_id_rolling_mean_lag1_window_size7"
        val conf = MLForecast(
          models = Seq(graft.forecast.FeatureEcho("prm", fname)),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lagTransforms = Map(1 ->
            Seq(RollingMean(7, pooling = Pooling(groupby = Seq("unique_id")))))))
        conf.fit(dense(s, dir)).predict(3)
          .select(col("unique_id"), col("ds"), col("prm").cast("double").as("prm"))
      },
      Some(s"""$P
         |, tails AS (SELECT unique_id, LIST(y ORDER BY ord DESC)[:7] AS t7,
         |                   MAX(ord) AS mo
         |            FROM dense GROUP BY 1)
         |, m AS (SELECT unique_id, mo,
         |          CAST(t7[1]+t7[2]+t7[3]+t7[4]+t7[5]+t7[6]+t7[7] AS DOUBLE)/7 AS m1
         |        FROM tails)
         |, m2t AS (SELECT tails.unique_id, tails.mo, m.m1,
         |            (CAST(t7[1]+t7[2]+t7[3]+t7[4]+t7[5]+t7[6] AS DOUBLE) + m.m1)/7 AS m2
         |          FROM tails JOIN m USING (unique_id))
         |, m3t AS (SELECT unique_id, mo, m1, m2,
         |            ((SELECT CAST(t7[1]+t7[2]+t7[3]+t7[4]+t7[5] AS DOUBLE)
         |              FROM tails t WHERE t.unique_id = m2t.unique_id) + m1 + m2)/7 AS m3
         |          FROM m2t)
         |SELECT unique_id, mo + 1 AS ds, m1 AS prm FROM m3t
         |UNION ALL SELECT unique_id, mo + 2, m2 FROM m3t
         |UNION ALL SELECT unique_id, mo + 3, m3 FROM m3t""".stripMargin)),

    // AutoDifferences per-series decision: the KPSS level statistic
    // (Bartlett long-run variance, l = ⌊3√n/13⌋ lags) against the 5%
    // critical value — the SQL replays the kernel's formula term by term.
    // Decision margins to 0.463 are >= 8e-4 on this data (checked at sf0.01
    // and sf0.1), far above cross-engine FP noise, so the hard threshold
    // cannot flip between engines.
    OracleQuery("auto_diff_decisions",
      (s, dir) => graft.forecast.AutoDifferences(1).fit(dense(s, dir))
        .asInstanceOf[graft.forecast.AutoDiffFitted]
        .meta.select(col("unique_id"), col("n_diffs"), col("lag")),
      Some(s"""$P
         |, stats AS (SELECT unique_id, AVG(y) AS mu, COUNT(*) AS n FROM dense GROUP BY 1)
         |, e AS (SELECT d.unique_id, d.ord, d.y - st.mu AS e, st.n
         |        FROM dense d JOIN stats st USING (unique_id))
         |, s AS (SELECT unique_id, ord, e, n,
         |          SUM(e) OVER (PARTITION BY unique_id ORDER BY ord) AS cs FROM e)
         |, eta AS (SELECT unique_id, SUM(cs*cs)/(MAX(n)*MAX(n)*1.0) AS eta,
         |                 SUM(e*e)/MAX(n) AS s20, MAX(n) AS n,
         |                 CAST(FLOOR(3*SQRT(MAX(n))/13) AS BIGINT) AS l
         |          FROM s GROUP BY 1)
         |, js AS (SELECT unique_id, UNNEST(range(1, l + 1)) AS j FROM eta)
         |, covs AS (SELECT a.unique_id, js.j, SUM(a.e * b.e) AS cov
         |           FROM js JOIN e a USING (unique_id)
         |           JOIN e b ON b.unique_id = a.unique_id AND b.ord = a.ord - js.j
         |           GROUP BY 1, 2)
         |, s2 AS (SELECT eta.unique_id, eta.eta,
         |                eta.s20 + COALESCE(SUM(2*(1 - covs.j/(eta.l + 1.0))*covs.cov/eta.n), 0) AS s2
         |         FROM eta LEFT JOIN covs ON covs.unique_id = eta.unique_id
         |         GROUP BY 1, 2, eta.s20)
         |SELECT unique_id,
         |       CASE WHEN eta/s2 >= 0.463 THEN 1 ELSE 0 END AS n_diffs,
         |       1 AS lag
         |FROM s2""".stripMargin)),

    // AutoSeasonalDifferences decision (maxDiffs=1): seasonally difference
    // when the Wang-Smith-Hyndman seasonal strength at period 7 exceeds
    // 0.64. The strength replays the centered-MA decomposition exactly as
    // panel_decompose_strengths does (phase re-centering shifts the
    // remainder by a constant, so its variance — and the decision — is
    // identical to the kernel's un-recentered remainder).
    OracleQuery("auto_season_diff_decisions",
      (s, dir) => {
        val p = dense(s, dir)
        // the raw panel's weekly signal sits below the 0.64 cut everywhere;
        // boost a portable-hash-chosen 2/3 of the series with a strong
        // weekly pattern so the decision splits BOTH ways
        val amp = expr("cast(conv(substring(md5(concat('sd:', unique_id)), 1, 15), 16, 10) as bigint)") % 3
        val boosted = p.copy(df = p.df.withColumn("y",
          col("y") + pmod(col("ds"), lit(7)) * lit(25.0) * amp.cast("double")))
        graft.forecast.AutoSeasonalDifferences(7, 1).fit(boosted)
          .asInstanceOf[graft.forecast.AutoDiffFitted]
          .meta.select(col("unique_id"), col("n_diffs"), col("lag"))
      },
      Some(s"""$P
         |, seas AS (SELECT unique_id, ord,
         |    y + (ord % 7) * 25.0e0 *
         |      CAST(('0x'||substr(md5('sd:'||unique_id),1,15))::BIGINT % 3 AS DOUBLE) AS y
         |  FROM dense)
         |, b AS (SELECT unique_id, ord, CAST(y AS DOUBLE) AS y,
         |    CAST(ord % 7 AS BIGINT) AS phase,
         |    COUNT(*) OVER cw AS cnt, SUM(CAST(y AS DOUBLE)) OVER cw AS ws
         |  FROM seas
         |  WINDOW cw AS (PARTITION BY unique_id ORDER BY ord
         |                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
         |, t AS (SELECT *, CASE WHEN cnt = 7 THEN ws / 7.0e0 END AS trend FROM b)
         |, ph AS (SELECT unique_id, phase, CAST(COUNT(*) AS BIGINT) AS n,
         |    SUM(y) AS sy, SUM(ws) AS sw FROM t WHERE trend IS NOT NULL GROUP BY 1, 2)
         |, pm AS (SELECT unique_id, phase,
         |    (sy - sw / 7.0e0) / CAST(n AS DOUBLE) AS pm FROM ph)
         |, rr AS (SELECT t.unique_id, t.ord,
         |    t.y - t.trend - p.pm AS rem,
         |    t.y - t.trend AS det
         |  FROM t JOIN pm p ON p.unique_id = t.unique_id AND p.phase = t.phase
         |  WHERE t.trend IS NOT NULL)
         |, gg AS (SELECT unique_id, CAST(COUNT(*) AS BIGINT) AS n,
         |    list_reduce(list_prepend(0.0, list(rem ORDER BY ord, rem)), (a, x) -> a + x) AS r1,
         |    list_reduce(list_prepend(0.0, list(rem * rem ORDER BY ord, rem * rem)), (a, x) -> a + x) AS r2,
         |    list_reduce(list_prepend(0.0, list(det ORDER BY ord, det)), (a, x) -> a + x) AS d1,
         |    list_reduce(list_prepend(0.0, list(det * det ORDER BY ord, det * det)), (a, x) -> a + x) AS d2
         |  FROM rr GROUP BY 1)
         |, strength AS (SELECT unique_id,
         |    CASE WHEN n >= 2 AND (d2 - d1 * d1 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0e0) > 0
         |         THEN greatest(0.0e0, 1.0e0 -
         |           ((r2 - r1 * r1 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0e0))
         |           / ((d2 - d1 * d1 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0e0)))
         |         ELSE 0.0e0 END AS ss
         |  FROM gg)
         |SELECT unique_id,
         |       CASE WHEN ss > 0.64 THEN 1 ELSE 0 END AS n_diffs,
         |       7 AS lag
         |FROM strength""".stripMargin)),

    // AutoSeasonalityAndDifferences season inference: per-series ACF argmax
    // over candidate lags 2..10 (>= 2 full cycles of data; no positive
    // autocorrelation -> no season, lag 1). First-wins ties = ORDER BY acf
    // DESC, lag ASC. Decision margins >= 2.7e-5 at both checked SFs.
    OracleQuery("auto_season_lags",
      (s, dir) => graft.forecast.AutoSeasonalityAndDifferences(10, 1).fit(dense(s, dir))
        .asInstanceOf[graft.forecast.AutoDiffFitted]
        .meta.select(col("unique_id"), col("lag")),
      Some(s"""$P
         |, stats AS (SELECT unique_id, AVG(y) AS mu, COUNT(*) AS n FROM dense GROUP BY 1)
         |, e AS (SELECT d.unique_id, d.ord, d.y - st.mu AS e, st.n
         |        FROM dense d JOIN stats st USING (unique_id))
         |, c0 AS (SELECT unique_id, SUM(e*e) AS c0, MAX(n) AS n FROM e GROUP BY 1)
         |, cand AS (SELECT unique_id, UNNEST(range(2, 11)) AS lagc FROM c0)
         |, acf AS (SELECT a.unique_id, cand.lagc, SUM(a.e * b.e) AS num
         |          FROM cand JOIN e a USING (unique_id)
         |          JOIN e b ON b.unique_id = a.unique_id AND b.ord = a.ord - cand.lagc
         |          JOIN c0 ON c0.unique_id = a.unique_id
         |          WHERE cand.lagc * 2 <= c0.n
         |          GROUP BY 1, 2)
         |, ranked AS (SELECT acf.unique_id, acf.lagc, acf.num / c0.c0 AS a,
         |                    ROW_NUMBER() OVER (PARTITION BY acf.unique_id
         |                      ORDER BY acf.num / c0.c0 DESC, acf.lagc ASC) AS rn
         |             FROM acf JOIN c0 USING (unique_id))
         |SELECT c0.unique_id,
         |       CAST(COALESCE((SELECT r.lagc FROM ranked r
         |                      WHERE r.unique_id = c0.unique_id AND r.rn = 1
         |                        AND r.a > 0), 1) AS INT) AS lag
         |FROM c0""".stripMargin)),

    // LocalBoxCox per-series λ: profile-log-likelihood argmax on the FIXED
    // two-stage grid (coarse 0.05 step over [0,2], fine 0.0025 step around
    // the coarse winner; ties → lower λ; all-degenerate → 1.0). Every
    // candidate λ is exact grid arithmetic (identical doubles in both
    // engines) and every sum folds in time order (list_reduce), so the only
    // cross-engine noise is pow/ln ULPs — far below the grid-argmax margins
    // (checked at sf0.01 and sf0.1).
    OracleQuery("boxcox_lambda_decisions",
      (s, dir) => (graft.forecast.LocalBoxCox().fit(dense(s, dir)) match {
        case b: graft.forecast.BoxCoxFitted => b.lambdas
      }).select(col("unique_id"), col("__lambda").as("lambda")),
      Some(s"""$P
         |, pos AS (SELECT unique_id, ord, CAST(y AS DOUBLE) AS y
         |          FROM dense WHERE y > 0)
         |, st AS (SELECT unique_id, CAST(COUNT(*) AS DOUBLE) AS n,
         |    list_reduce(list_prepend(0.0e0, list(ln(y) ORDER BY ord)),
         |                (a, x) -> a + x) AS sumlog
         |  FROM pos GROUP BY 1 HAVING COUNT(*) >= 2)
         |, cg AS (SELECT unique_id, n, sumlog,
         |    UNNEST(range(0, 41)) * 0.05e0 AS lam FROM st)
         |, ctr AS (SELECT c.unique_id, c.lam, c.n, c.sumlog, p.ord,
         |    CASE WHEN abs(c.lam) < 1e-10 THEN ln(p.y)
         |         ELSE (pow(p.y, c.lam) - 1.0e0) / c.lam END AS tr
         |  FROM cg c JOIN pos p USING (unique_id))
         |, cmu AS (SELECT unique_id, lam, MAX(n) AS n, MAX(sumlog) AS sumlog,
         |    list_reduce(list_prepend(0.0e0, list(tr ORDER BY ord)),
         |                (a, x) -> a + x) / MAX(n) AS mu
         |  FROM ctr GROUP BY 1, 2)
         |, cvar AS (SELECT t.unique_id, t.lam, m.n, m.sumlog,
         |    list_reduce(list_prepend(0.0e0,
         |        list((t.tr - m.mu) * (t.tr - m.mu) ORDER BY t.ord)),
         |        (a, x) -> a + x) / m.n AS v
         |  FROM ctr t JOIN cmu m ON m.unique_id = t.unique_id AND m.lam = t.lam
         |  GROUP BY 1, 2, m.n, m.sumlog)
         |, cllf AS (SELECT unique_id, lam, n, sumlog,
         |    CASE WHEN v > 0 THEN -n / 2.0e0 * ln(v) + (lam - 1.0e0) * sumlog
         |         END AS llf
         |  FROM cvar)
         |, cbest AS (SELECT unique_id, n, sumlog,
         |    CASE WHEN llf IS NULL THEN 1.0e0 ELSE lam END AS clam
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY unique_id
         |          ORDER BY (llf IS NULL) ASC, llf DESC, lam ASC) AS rn
         |        FROM cllf) WHERE rn = 1)
         |, fg AS (SELECT unique_id, n, sumlog,
         |    clam + (UNNEST(range(0, 41)) - 20) * 0.0025e0 AS lam FROM cbest)
         |, fgb AS (SELECT * FROM fg WHERE lam >= 0.0e0 AND lam <= 2.0e0)
         |, ftr AS (SELECT c.unique_id, c.lam, c.n, c.sumlog, p.ord,
         |    CASE WHEN abs(c.lam) < 1e-10 THEN ln(p.y)
         |         ELSE (pow(p.y, c.lam) - 1.0e0) / c.lam END AS tr
         |  FROM fgb c JOIN pos p USING (unique_id))
         |, fmu AS (SELECT unique_id, lam, MAX(n) AS n, MAX(sumlog) AS sumlog,
         |    list_reduce(list_prepend(0.0e0, list(tr ORDER BY ord)),
         |                (a, x) -> a + x) / MAX(n) AS mu
         |  FROM ftr GROUP BY 1, 2)
         |, fvar AS (SELECT t.unique_id, t.lam, m.n, m.sumlog,
         |    list_reduce(list_prepend(0.0e0,
         |        list((t.tr - m.mu) * (t.tr - m.mu) ORDER BY t.ord)),
         |        (a, x) -> a + x) / m.n AS v
         |  FROM ftr t JOIN fmu m ON m.unique_id = t.unique_id AND m.lam = t.lam
         |  GROUP BY 1, 2, m.n, m.sumlog)
         |, fllf AS (SELECT unique_id, lam,
         |    CASE WHEN v > 0 THEN -n / 2.0e0 * ln(v) + (lam - 1.0e0) * sumlog
         |         END AS llf
         |  FROM fvar)
         |, smallseries AS (SELECT d.unique_id, 1.0e0 AS lambda FROM
         |    (SELECT unique_id FROM dense GROUP BY 1) d
         |    LEFT JOIN st ON st.unique_id = d.unique_id WHERE st.unique_id IS NULL)
         |SELECT unique_id,
         |       CASE WHEN llf IS NULL THEN 1.0e0 ELSE lam END AS lambda
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY unique_id
         |        ORDER BY (llf IS NULL) ASC, llf DESC, lam ASC) AS rn
         |      FROM fllf) WHERE rn = 1
         |UNION ALL SELECT * FROM smallseries""".stripMargin)),

    // Direct-mode lead-expanded training relation (horizon 1-indexed),
    // after the feature/target dropna.
    OracleQuery("expand_target_h3",
      (s, dir) => {
        val conf = MLForecast(
          models = Nil,
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(1)),
          maxHorizon = Some(3))
        conf.expandedTarget(dense(s, dir))
          .select(col("unique_id"), col("ds"),
            col("lag1").cast("double").as("lag1"),
            col("__tgt").cast("double").as("tgt"),
            col("horizon"))
      },
      Some(s"""$P
         |, f AS (SELECT unique_id, ord, y,
         |          LAG(y, 1) OVER (PARTITION BY unique_id ORDER BY ord) AS lag1
         |        FROM dense)
         |SELECT unique_id, ord AS ds, CAST(lag1 AS DOUBLE) AS lag1,
         |       CAST(tgt AS DOUBLE) AS tgt, horizon
         |FROM (
         |  SELECT unique_id, ord, lag1, y AS tgt, 1 AS horizon FROM f
         |  UNION ALL
         |  SELECT unique_id, ord, lag1,
         |         LEAD(y, 1) OVER (PARTITION BY unique_id ORDER BY ord), 2 FROM f
         |  UNION ALL
         |  SELECT unique_id, ord, lag1,
         |         LEAD(y, 2) OVER (PARTITION BY unique_id ORDER BY ord), 3 FROM f)
         |WHERE lag1 IS NOT NULL AND tgt IS NOT NULL""".stripMargin)),

    // Direct-mode horizon_features routing (reference forecast.py:296-421):
    // exog x_1/x_2 are template-routed to horizons 1/2, so horizon 1's
    // training frame ignores x_2 entirely — its injected nulls drop rows
    // ONLY from horizon 2 (whose exog are aligned at the target date ord+1).
    OracleQuery("direct_routed_expand_h2",
      (s, dir) => {
        val p = dense(s, dir)
        val df = p.df
          .withColumn("x_1", (col("ds") % 5).cast("double"))
          .withColumn("x_2",
            when(col("ds") % 97 === 0, lit(null))
              .otherwise(col("ds") % 3).cast("double"))
        val conf = MLForecast(
          models = Nil,
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(1)),
          maxHorizon = Some(2),
          horizonFeatureTemplates = Seq("x_{h}"))
        conf.expandedTarget(p.copy(df = df))
          .select(col("unique_id"), col("ds"), col("horizon"),
            col("lag1").cast("double").as("lag1"),
            col("__tgt").cast("double").as("tgt"),
            col("x_1").cast("double").as("x_1"),
            col("x_2").cast("double").as("x_2"))
      },
      Some(s"""$P
         |, f AS (SELECT unique_id, ord, y,
         |          LAG(y, 1) OVER (PARTITION BY unique_id ORDER BY ord) AS lag1,
         |          LEAD(y, 1) OVER (PARTITION BY unique_id ORDER BY ord) AS ylead
         |        FROM dense)
         |SELECT unique_id, ord AS ds, horizon, CAST(lag1 AS DOUBLE) AS lag1,
         |       CAST(tgt AS DOUBLE) AS tgt, x_1, x_2
         |FROM (
         |  SELECT unique_id, ord, lag1, y AS tgt, 1 AS horizon,
         |         CAST(ord % 5 AS DOUBLE) AS x_1,
         |         CASE WHEN ord % 97 = 0 THEN NULL
         |              ELSE CAST(ord % 3 AS DOUBLE) END AS x_2
         |  FROM f
         |  UNION ALL
         |  SELECT unique_id, ord, lag1, ylead, 2,
         |         CAST((ord + 1) % 5 AS DOUBLE),
         |         CASE WHEN (ord + 1) % 97 = 0 THEN NULL
         |              ELSE CAST((ord + 1) % 3 AS DOUBLE) END
         |  FROM f)
         |WHERE lag1 IS NOT NULL AND tgt IS NOT NULL
         |  AND (horizon = 1 AND x_1 IS NOT NULL
         |       OR horizon = 2 AND x_2 IS NOT NULL)""".stripMargin)),

    // update(): fit on history truncated 7 steps early, append the tail via
    // update (frozen transform params, difference tails advance), predict.
    // The closed form is the SAME as predicting from a full fit — if update
    // failed to advance the difference tails or last_dates, this diverges.
    OracleQuery("update_then_predict_diff_naive",
      (s, dir) => {
        val p = dense(s, dir)
        // the old/new split and the max-ds frame all read the panel build;
        // pin it lazily so the expensive dense-ordinal lineage runs once
        // (fit's pin and update's pin would otherwise each rebuild it)
        val pd = p.df.localCheckpoint(false)
        val mo = pd.groupBy(col("unique_id")).agg(max(col("ds")).as("__mo"))
        val withMo = pd.join(broadcast(mo), Seq("unique_id"))
        val oldDf = withMo.filter(col("ds") <= col("__mo") - 7).drop("__mo")
        val newDf = withMo.filter(col("ds") > col("__mo") - 7).drop("__mo")
        val conf = MLForecast(
          models = Seq(Models.naive),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(1)),
          targetTransforms = Seq(Differences(Seq(1))))
        conf.fit(p.copy(df = oldDf))
          .update(newDf, validateNewData = true)
          .predict(7)
          .select(col("unique_id"), col("ds"), col("naive").cast("double").as("naive"))
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, tl AS (
         |  SELECT l.unique_id, l.mo,
         |         CAST(y0.y AS DOUBLE) AS ylast, CAST(y1.y AS DOUBLE) AS yprev
         |  FROM last l
         |  JOIN dense y0 ON y0.unique_id = l.unique_id AND y0.ord = l.mo
         |  JOIN dense y1 ON y1.unique_id = l.unique_id AND y1.ord = l.mo - 1)
         |SELECT unique_id, mo + CAST(i AS BIGINT) AS ds,
         |       CAST(ylast + i * (ylast - yprev) AS DOUBLE) AS naive
         |FROM tl, UNNEST(range(1, 8)) t(i)""".stripMargin)),

    // save/load round-trip (reference forecast.py:2088-2124): persist the
    // fitted pipeline (panel parquet + config/model blob), reload into a
    // fresh state rebuild, and predict — the closed form is identical to
    // predicting from the in-memory fit, so any drift in the persisted
    // transform state (difference tails, last_dates) shows up as a mismatch.
    OracleQuery("save_load_predict_diff_naive",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.naive),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(1)),
          targetTransforms = Seq(Differences(Seq(1))))
        // unique per invocation: a fixed path would let concurrent
        // Bench/Verify runs clobber each other between save and load
        val path = s"/tmp/graft_oracle_io_${java.util.UUID.randomUUID}"
        MLForecastIO.save(conf.fit(dense(s, dir)), path)
        MLForecastIO.load(s, path).predict(7)
          .select(col("unique_id"), col("ds"), col("naive").cast("double").as("naive"))
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, tl AS (
         |  SELECT l.unique_id, l.mo,
         |         CAST(y0.y AS DOUBLE) AS ylast, CAST(y1.y AS DOUBLE) AS yprev
         |  FROM last l
         |  JOIN dense y0 ON y0.unique_id = l.unique_id AND y0.ord = l.mo
         |  JOIN dense y1 ON y1.unique_id = l.unique_id AND y1.ord = l.mo - 1)
         |SELECT unique_id, mo + CAST(i AS BIGINT) AS ds,
         |       CAST(ylast + i * (ylast - yprev) AS DOUBLE) AS naive
         |FROM tl, UNNEST(range(1, 8)) t(i)""".stripMargin)),

    // loss metrics over the CV frame (per-series mean absolute error and
    // root of per-series MSE) — reference lgb_cv.py:27-68
    OracleQuery("cv_loss_by_id",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.seasonalNaive(7)),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(7)))
        // both loss families aggregate the SAME CV frame; pin it lazily so
        // the CV pass executes once, not once per consumer
        val cv = conf.fit(dense(s, dir)).crossValidation(nWindows = 2, h = 7)
          .localCheckpoint(false)
        val mae = graft.forecast.Losses.byId(cv, "unique_id", "y",
          Seq("seasonal_naive7"), "mae")
          .withColumnRenamed("seasonal_naive7", "mae")
        val rmse = graft.forecast.Losses.byId(cv, "unique_id", "y",
          Seq("seasonal_naive7"), "rmse")
          .withColumnRenamed("seasonal_naive7", "rmse")
        mae.join(rmse, Seq("unique_id"))
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, wins AS (SELECT unique_id, mo - 14 AS cutoff FROM last
         |           UNION ALL SELECT unique_id, mo - 7 FROM last)
         |, steps AS (SELECT unique_id, cutoff, cutoff + CAST(i AS BIGINT) AS ds
         |            FROM wins, UNNEST(range(1, 8)) t(i))
         |, cv AS (
         |  SELECT st.unique_id,
         |         CAST(a.y AS DOUBLE) AS y, CAST(p.y AS DOUBLE) AS yhat
         |  FROM steps st
         |  JOIN dense a ON a.unique_id = st.unique_id AND a.ord = st.ds
         |  JOIN dense p ON p.unique_id = st.unique_id AND p.ord = st.ds - 7)
         |SELECT unique_id,
         |       AVG(ABS(y - yhat)) AS mae,
         |       SQRT(AVG((y - yhat) * (y - yhat))) AS rmse
         |FROM cv GROUP BY 1""".stripMargin)),

    // MASE: CV MAE scaled by the training panel's in-sample seasonal-naive
    // MAE. Integer-valued y keeps every sum exact, so the twin's plain AVG
    // equals the ordered fold bit-for-bit; the ratio is one division with
    // try_divide's zero->null spelled as CASE.
    OracleQuery("cv_mase_by_id",
      (s, dir) => {
        val panel = dense(s, dir)
        val conf = MLForecast(
          models = Seq(Models.seasonalNaive(7)),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(7)))
        val cv = conf.fit(panel).crossValidation(nWindows = 2, h = 7)
        graft.forecast.Losses.maseById(cv, panel.df, "unique_id", "ds", "y",
            Seq("seasonal_naive7"), season = 7)
          .withColumnRenamed("seasonal_naive7", "mase")
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, wins AS (SELECT unique_id, mo - 14 AS cutoff FROM last
         |           UNION ALL SELECT unique_id, mo - 7 FROM last)
         |, steps AS (SELECT unique_id, cutoff, cutoff + CAST(i AS BIGINT) AS ds
         |            FROM wins, UNNEST(range(1, 8)) t(i))
         |, cv AS (
         |  SELECT st.unique_id,
         |         CAST(a.y AS DOUBLE) AS y, CAST(p.y AS DOUBLE) AS yhat
         |  FROM steps st
         |  JOIN dense a ON a.unique_id = st.unique_id AND a.ord = st.ds
         |  JOIN dense p ON p.unique_id = st.unique_id AND p.ord = st.ds - 7)
         |, mae AS (SELECT unique_id, AVG(ABS(y - yhat)) AS m FROM cv GROUP BY 1)
         |, sdiff AS (
         |  SELECT a.unique_id,
         |         ABS(CAST(a.y AS DOUBLE) - CAST(b.y AS DOUBLE)) AS ad
         |  FROM dense a JOIN dense b
         |    ON b.unique_id = a.unique_id AND b.ord = a.ord - 7)
         |, scale AS (SELECT unique_id, AVG(ad) AS s FROM sdiff GROUP BY 1)
         |SELECT mae.unique_id,
         |       CASE WHEN scale.s = 0 THEN NULL ELSE mae.m / scale.s END AS mase
         |FROM mae LEFT JOIN scale USING (unique_id)""".stripMargin)),

    // Relative MAE: naive vs the seasonal-naive baseline on the same CV
    // frame. The naive model forecasts flat at y(cutoff) recursively, so
    // the twin joins the cutoff row; integer y keeps the AVGs exact.
    OracleQuery("cv_rmae_by_id",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.seasonalNaive(7), Models.naive),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(1, 7)))
        val cv = conf.fit(dense(s, dir)).crossValidation(nWindows = 2, h = 7)
        graft.forecast.Losses.rmaeById(cv, "unique_id", "ds", "y",
            Seq("naive"), baseline = "seasonal_naive7")
          .withColumnRenamed("naive", "rmae")
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, wins AS (SELECT unique_id, mo - 14 AS cutoff FROM last
         |           UNION ALL SELECT unique_id, mo - 7 FROM last)
         |, steps AS (SELECT unique_id, cutoff, cutoff + CAST(i AS BIGINT) AS ds
         |            FROM wins, UNNEST(range(1, 8)) t(i))
         |, cv AS (
         |  SELECT st.unique_id,
         |         CAST(a.y AS DOUBLE) AS y,
         |         CAST(p.y AS DOUBLE) AS sn, CAST(n.y AS DOUBLE) AS nv
         |  FROM steps st
         |  JOIN dense a ON a.unique_id = st.unique_id AND a.ord = st.ds
         |  JOIN dense p ON p.unique_id = st.unique_id AND p.ord = st.ds - 7
         |  JOIN dense n ON n.unique_id = st.unique_id AND n.ord = st.cutoff)
         |, m AS (SELECT unique_id, AVG(ABS(y - nv)) AS mn,
         |               AVG(ABS(y - sn)) AS ms
         |        FROM cv GROUP BY 1)
         |SELECT unique_id,
         |       CASE WHEN ms = 0 THEN NULL ELSE mn / ms END AS rmae
         |FROM m""".stripMargin)),

    // Long-format evaluate() facade: one row per (series, metric), model
    // columns stacked by metric name. mae/rmse only in the oracle — their
    // per-id sums are exact on this data (integer y), so plain AVG
    // hash-matches; ratio metrics are unit-tested instead.
    OracleQuery("cv_evaluate_snaive",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.seasonalNaive(7)),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(7)))
        val cv = conf.fit(dense(s, dir)).crossValidation(nWindows = 2, h = 7)
        graft.forecast.Losses.evaluate(cv, "unique_id", "y",
          Seq("seasonal_naive7"), Seq("mae", "rmse"))
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, wins AS (SELECT unique_id, mo - 14 AS cutoff FROM last
         |           UNION ALL SELECT unique_id, mo - 7 FROM last)
         |, steps AS (SELECT unique_id, cutoff, cutoff + CAST(i AS BIGINT) AS ds
         |            FROM wins, UNNEST(range(1, 8)) t(i))
         |, cv AS (
         |  SELECT st.unique_id,
         |         CAST(a.y AS DOUBLE) AS y, CAST(p.y AS DOUBLE) AS yhat
         |  FROM steps st
         |  JOIN dense a ON a.unique_id = st.unique_id AND a.ord = st.ds
         |  JOIN dense p ON p.unique_id = st.unique_id AND p.ord = st.ds - 7)
         |SELECT unique_id, 'mae' AS metric, AVG(ABS(y - yhat)) AS seasonal_naive7
         |FROM cv GROUP BY 1
         |UNION ALL
         |SELECT unique_id, 'rmse' AS metric,
         |       SQRT(AVG((y - yhat) * (y - yhat))) AS seasonal_naive7
         |FROM cv GROUP BY 1""".stripMargin)),

    // CV refit schedule (reference refit: Union[bool, int], should_fit at
    // forecast.py:1940): refitEvery=2 over 3 windows (h=3) retrains on
    // windows 0 and 2 only, so window 1 predicts with window 0's FROZEN
    // per-series means — observable because SeriesMean is data-dependent.
    // Window i's training slice is ds <= mo - (9 - 3i); the mean skips
    // ord 0 (lag1 null drops it from the training frame).
    OracleQuery("cv_refit_every2_mean",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.seriesMean),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(1)))
        conf.fit(dense(s, dir))
          .crossValidation(nWindows = 3, h = 3, refitEvery = Some(2))
          .select(col("unique_id"), col("ds"), col("cutoff"),
            col("y").cast("double").as("y"),
            col("series_mean").cast("double").as("series_mean"))
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, wins AS (SELECT unique_id, mo, i,
         |                  mo - (9 - 3 * i) AS cutoff,
         |                  mo - (9 - 3 * (i - i % 2)) AS tcut
         |           FROM last, UNNEST(range(0, 3)) t(i))
         |, m AS (SELECT w.unique_id, w.i, w.cutoff,
         |               SUM(d.y) / COUNT(d.y) AS mean_y
         |        FROM wins w
         |        JOIN dense d ON d.unique_id = w.unique_id
         |                    AND d.ord >= 1 AND d.ord <= w.tcut
         |        GROUP BY 1, 2, 3)
         |, steps AS (SELECT unique_id, cutoff, mean_y,
         |                   cutoff + CAST(s AS BIGINT) AS ds
         |            FROM m, UNNEST(range(1, 4)) t(s))
         |SELECT st.unique_id, st.ds, st.cutoff,
         |       CAST(a.y AS DOUBLE) AS y,
         |       CAST(st.mean_y AS DOUBLE) AS series_mean
         |FROM steps st
         |JOIN dense a ON a.unique_id = st.unique_id AND a.ord = st.ds""".stripMargin)),

    // CV input_size cap (reference forecast.py:1859-2077): each window
    // trains on only the last 14 rows before its cutoff; featurization runs
    // on the capped slice, so lag1 voids its first row and the per-series
    // mean covers exactly ord in [cutoff-12, cutoff].
    OracleQuery("cv_input_size14_mean",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.seriesMean),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(1)))
        conf.fit(dense(s, dir))
          .crossValidation(nWindows = 2, h = 3, inputSize = Some(14))
          .select(col("unique_id"), col("ds"), col("cutoff"),
            col("y").cast("double").as("y"),
            col("series_mean").cast("double").as("series_mean"))
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, wins AS (SELECT unique_id, mo, mo - (6 - 3 * i) AS cutoff
         |           FROM last, UNNEST(range(0, 2)) t(i))
         |, m AS (SELECT w.unique_id, w.cutoff,
         |               SUM(d.y) / COUNT(d.y) AS mean_y
         |        FROM wins w
         |        JOIN dense d ON d.unique_id = w.unique_id
         |                    AND d.ord >= w.cutoff - 12 AND d.ord <= w.cutoff
         |        GROUP BY 1, 2)
         |, steps AS (SELECT unique_id, cutoff, mean_y,
         |                   cutoff + CAST(s AS BIGINT) AS ds
         |            FROM m, UNNEST(range(1, 4)) t(s))
         |SELECT st.unique_id, st.ds, st.cutoff,
         |       CAST(a.y AS DOUBLE) AS y,
         |       CAST(st.mean_y AS DOUBLE) AS series_mean
         |FROM steps st
         |JOIN dense a ON a.unique_id = st.unique_id AND a.ord = st.ds""".stripMargin)),

    // ids-subset predict (reference core.py:1878-1898): restrict every
    // state relation to the requested series before the recursive loop.
    OracleQuery("predict_ids_subset",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.naive),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(1)))
        conf.fit(dense(s, dir)).predict(7, ids = Some(Seq(0, 1, 2, 3, 4)))
          .select(col("unique_id"), col("ds"),
            col("naive").cast("double").as("naive"))
      },
      Some(s"""$P
         |, tl AS (SELECT unique_id, MAX(ord) AS mo FROM dense
         |         WHERE unique_id <= 4 GROUP BY 1)
         |, lastv AS (SELECT t.unique_id, t.mo, CAST(d.y AS DOUBLE) AS ylast
         |            FROM tl t JOIN dense d ON d.unique_id = t.unique_id
         |                                  AND d.ord = t.mo)
         |SELECT unique_id, mo + CAST(i AS BIGINT) AS ds, ylast AS naive
         |FROM lastv, UNNEST(range(1, 8)) t(i)""".stripMargin)),

    // SaveFeatures predict callback (reference callbacks.py:12-42): the
    // captured step-s feature frame carries lag7 = y(mo + s - 7).
    OracleQuery("save_features_lag7",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.seasonalNaive(7)),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(7)))
        val cb = new graft.forecast.SaveFeatures
        conf.fit(dense(s, dir)).predict(3, callback = Some(cb))
        cb.features(withStep = true)
          .select(col("unique_id"), col("step"),
            col("lag7").cast("double").as("lag7"))
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, steps AS (SELECT unique_id, mo, CAST(i AS INT) AS step
         |            FROM last, UNNEST(range(1, 4)) t(i))
         |SELECT s.unique_id, s.step, CAST(p.y AS DOUBLE) AS lag7
         |FROM steps s
         |JOIN dense p ON p.unique_id = s.unique_id
         |            AND p.ord = s.mo + s.step - 7""".stripMargin)),

    // one-hot date dummies with the fixed vocabulary
    OracleQuery("date_dummies_dayofweek",
      (s, dir) => {
        val df = Panels.lineitemDaily(s, dir)
        DateFeatures.addDummies(df, col("ds"), Seq("dayofweek"))
          .select(col("unique_id") +: col("ds") +:
            (0 until 7).map(i => col(s"dayofweek_$i")): _*)
      },
      Some(s"""$P
         |SELECT unique_id, ds,
         |${(0 until 7).map(i => s"  CAST(CASE WHEN isodow(ds) - 1 = $i THEN 1 ELSE 0 END AS INT) AS dayofweek_$i").mkString(",\n")}
         |FROM panel""".stripMargin)),

    // transform_exog: lag features over a NON-target column (daily item
    // count), prefixed with the column name.
    OracleQuery("transform_exog_items",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val base = s.read.parquet(s"$dir/lineitem.parquet")
          .groupBy(col("l_suppkey").as("unique_id"), to_date(col("l_shipdate")).as("ds"))
          .agg(count(lit(1)).as("n_items"))
        val denseExog = base.withColumn("ord",
          (row_number().over(Window.partitionBy("unique_id").orderBy("ds")) - 1).cast("long"))
          .select(col("unique_id"), col("ord").as("ds"), col("n_items"))
        graft.operators.TransformExog(denseExog, lags = Seq(1),
          lagTransforms = Map(1 -> Seq(RollingMean(7))), freq = Freq.IntFreq(1))
          .select(col("unique_id"), col("ds"),
            col("n_items_lag1").cast("double").as("n_lag1"),
            col("`n_items_rolling_mean_lag1_window_size7`").cast("double").as("n_rm7"))
      },
      Some("""WITH panel AS (
         |  SELECT l_suppkey AS unique_id, CAST(l_shipdate AS DATE) AS ds, COUNT(*) AS n
         |  FROM lineitem GROUP BY 1, 2)
         |, dense AS (
         |  SELECT unique_id,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY unique_id ORDER BY ds) - 1 AS BIGINT) AS ord,
         |         n
         |  FROM panel)
         |SELECT unique_id, ord AS ds,
         |  CAST(LAG(n, 1) OVER (PARTITION BY unique_id ORDER BY ord) AS DOUBLE) AS n_lag1,
         |  CAST((CASE WHEN COUNT(n) OVER w >= 7 AND COUNT(n) OVER w > 0
         |        THEN SUM(n) OVER w / COUNT(n) OVER w END) AS DOUBLE) AS n_rm7
         |FROM dense
         |WINDOW w AS (PARTITION BY unique_id ORDER BY ord ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)""".stripMargin)),

    // Seasonal rolling quantile (the one §2.5 transform without an oracle):
    // exact interpolated quantile over the 4 season-stride samples.
    OracleQuery("seasonal_rolling_quantile_l1_s7_w4",
      feat(SeasonalRollingQuantile(0.5, 7, 4), 1, "srq"),
      Some(s"""$P
         |, f AS (SELECT unique_id, ord,
         |          list_sort(list_filter(
         |            [CAST(LAG(y, 1) OVER w AS DOUBLE), CAST(LAG(y, 8) OVER w AS DOUBLE),
         |             CAST(LAG(y, 15) OVER w AS DOUBLE), CAST(LAG(y, 22) OVER w AS DOUBLE)],
         |            x -> x IS NOT NULL)) AS vals
         |        FROM dense WINDOW w AS (PARTITION BY unique_id ORDER BY ord))
         |SELECT unique_id, ord AS ds,
         |  CAST(CASE WHEN len(vals) >= 4 AND len(vals) > 0 THEN
         |    vals[CAST(floor(0.5 * (len(vals) - 1)) AS INT) + 1]
         |      * (1.0 - (0.5 * (len(vals) - 1) - floor(0.5 * (len(vals) - 1))))
         |    + vals[CAST(ceil(0.5 * (len(vals) - 1)) AS INT) + 1]
         |      * (0.5 * (len(vals) - 1) - floor(0.5 * (len(vals) - 1)))
         |  END AS DOUBLE) AS srq
         |FROM f""".stripMargin)),

    // Direct mode with SPARSE horizons (1 and 3 of maxHorizon 3): per-horizon
    // echo models see the features computed once at the forecast origin
    // (ord = mo+1), so naive = y(mo) and snaive7 = y(mo-6) at BOTH emitted
    // steps — and step 2 is absent (reference horizons=[...], core.py:162-190).
    OracleQuery("predict_direct_sparse_h3",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.naive, Models.seasonalNaive(7)),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(1, 7)),
          horizons = Some(Seq(1, 3)))
        conf.fit(dense(s, dir)).predict(3)
          .select(col("unique_id"), col("ds"),
            col("naive").cast("double").as("naive"),
            col("seasonal_naive7").cast("double").as("seasonal_naive7"))
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, steps AS (SELECT unique_id, mo, CAST(i AS BIGINT) AS step
         |            FROM last, UNNEST([1, 3]) t(i))
         |SELECT s.unique_id, s.mo + s.step AS ds,
         |       CAST(n.y AS DOUBLE) AS naive,
         |       CAST(sn.y AS DOUBLE) AS seasonal_naive7
         |FROM steps s
         |JOIN dense n  ON n.unique_id = s.unique_id AND n.ord = s.mo
         |JOIN dense sn ON sn.unique_id = s.unique_id AND sn.ord = s.mo - 6""".stripMargin)),

    // Per-series MAD conformal scales (the other seriesScales estimator):
    // median |Δy - median Δy| with the same data-relative floor.
    OracleQuery("series_scales_mad",
      (s, dir) => graft.forecast.ConformalTransfer.seriesScales(dense(s, dir), "mad")
        .select(col("unique_id"), col("scale").cast("double").as("scale")),
      Some(s"""$P
         |, dy AS (SELECT unique_id,
         |           y - LAG(y) OVER (PARTITION BY unique_id ORDER BY ord) AS dy
         |         FROM dense)
         |, med AS (SELECT unique_id, QUANTILE_CONT(dy, 0.5) med FROM dy GROUP BY 1)
         |, raw AS (SELECT d.unique_id, QUANTILE_CONT(ABS(d.dy - m.med), 0.5) AS r
         |          FROM dy d JOIN med m ON d.unique_id = m.unique_id
         |          GROUP BY 1)
         |, g AS (SELECT QUANTILE_CONT(r, 0.5) AS gmed FROM raw)
         |SELECT unique_id,
         |       CAST(GREATEST(r, GREATEST(0.001 * gmed, 1e-8)) AS DOUBLE) AS scale
         |FROM raw, g""".stripMargin)),

    // AutoMLForecast decision: grid of two candidate configs scored by
    // pooled-MAE backtest (2×7 windows); the SQL twin replays both CV loops
    // closed-form and takes the same first-minimum argmin.
    OracleQuery("automl_best_config",
      (s, dir) => {
        val auto = graft.forecast.AutoMLForecast(
          candidates = Seq(
            "seasonal" -> MLForecast(Seq(Models.seasonalNaive(7)),
              Freq.IntFreq(1), FeatureSpec(lags = Seq(7))),
            "naive" -> MLForecast(Seq(Models.naive),
              Freq.IntFreq(1), FeatureSpec(lags = Seq(1)))),
          h = 7, nWindows = 2, metric = "mae")
        val r = auto.fit(dense(s, dir))
        import s.implicits._
        Seq((r.bestConfig, r.bestModel)).toDF("best_config", "best_model")
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, wins AS (SELECT unique_id, mo - 14 AS cutoff FROM last
         |           UNION ALL SELECT unique_id, mo - 7 FROM last)
         |, steps AS (SELECT unique_id, cutoff, cutoff + CAST(i AS BIGINT) AS ds
         |            FROM wins, UNNEST(range(1, 8)) t(i))
         |, cv AS (
         |  SELECT st.unique_id, CAST(a.y AS DOUBLE) AS y,
         |         CAST(p7.y AS DOUBLE) AS s7, CAST(p1.y AS DOUBLE) AS n1
         |  FROM steps st
         |  JOIN dense a  ON a.unique_id = st.unique_id AND a.ord = st.ds
         |  JOIN dense p7 ON p7.unique_id = st.unique_id AND p7.ord = st.ds - 7
         |  JOIN dense p1 ON p1.unique_id = st.unique_id AND p1.ord = st.cutoff)
         |, perid AS (SELECT unique_id, AVG(ABS(y - s7)) AS ls, AVG(ABS(y - n1)) AS ln
         |            FROM cv GROUP BY 1)
         |, pooled AS (SELECT AVG(ls) AS ls, AVG(ln) AS ln FROM perid)
         |SELECT CASE WHEN ls <= ln THEN 'seasonal' ELSE 'naive' END AS best_config,
         |       CASE WHEN ls <= ln THEN 'seasonal_naive7' ELSE 'naive' END AS best_model
         |FROM pooled""".stripMargin)),

    // Successive-halving adaptive search (the reference's optuna sampler
    // role, deterministic): rung 0 scores 3 candidates on ONE window
    // (cutoff mo-7) and eliminates the worst (ties keep earlier candidate
    // order); rung 1 scores the 2 survivors on the full 2 windows
    // (cutoffs mo-14, mo-7). The oracle replays both rungs in SQL.
    OracleQuery("automl_halving_best",
      (s, dir) => {
        val auto = graft.forecast.AutoMLForecast(
          candidates = Seq(
            "seasonal" -> MLForecast(Seq(Models.seasonalNaive(7)),
              Freq.IntFreq(1), FeatureSpec(lags = Seq(7))),
            "naive" -> MLForecast(Seq(Models.naive),
              Freq.IntFreq(1), FeatureSpec(lags = Seq(1))),
            "mean" -> MLForecast(Seq(Models.seriesMean),
              Freq.IntFreq(1), FeatureSpec(lags = Seq(1)))),
          h = 7, nWindows = 2, metric = "mae",
          search = graft.forecast.SuccessiveHalving(eta = 2, minWindows = 1))
        val r = auto.fit(dense(s, dir))
        import s.implicits._
        Seq((r.bestConfig, r.bestModel)).toDF("best_config", "best_model")
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, wins AS (SELECT unique_id, mo - 7 AS cutoff, 1 AS w1 FROM last
         |           UNION ALL SELECT unique_id, mo - 14, 0 FROM last)
         |, m AS (SELECT w.unique_id, w.cutoff, SUM(d.y) / COUNT(d.y) AS mean_y
         |        FROM wins w JOIN dense d ON d.unique_id = w.unique_id
         |                                AND d.ord >= 1 AND d.ord <= w.cutoff
         |        GROUP BY 1, 2)
         |, steps AS (SELECT unique_id, cutoff, w1, cutoff + CAST(i AS BIGINT) AS ds
         |            FROM wins, UNNEST(range(1, 8)) t(i))
         |, cv AS (SELECT st.unique_id, st.w1, CAST(a.y AS DOUBLE) AS y,
         |                CAST(p7.y AS DOUBLE) AS ps, CAST(p1.y AS DOUBLE) AS pn,
         |                CAST(mm.mean_y AS DOUBLE) AS pm
         |         FROM steps st
         |         JOIN dense a  ON a.unique_id = st.unique_id AND a.ord = st.ds
         |         JOIN dense p7 ON p7.unique_id = st.unique_id AND p7.ord = st.ds - 7
         |         JOIN dense p1 ON p1.unique_id = st.unique_id AND p1.ord = st.cutoff
         |         JOIN m mm     ON mm.unique_id = st.unique_id AND mm.cutoff = st.cutoff)
         |, r1 AS (SELECT AVG(ls) AS s1, AVG(ln) AS n1, AVG(lm) AS m1 FROM (
         |    SELECT unique_id, AVG(ABS(y - ps)) AS ls, AVG(ABS(y - pn)) AS ln,
         |           AVG(ABS(y - pm)) AS lm
         |    FROM cv WHERE w1 = 1 GROUP BY 1))
         |, r2 AS (SELECT AVG(ls) AS s2, AVG(ln) AS n2, AVG(lm) AS m2 FROM (
         |    SELECT unique_id, AVG(ABS(y - ps)) AS ls, AVG(ABS(y - pn)) AS ln,
         |           AVG(ABS(y - pm)) AS lm
         |    FROM cv GROUP BY 1))
         |, pick AS (SELECT
         |    CASE WHEN s1 > n1 AND s1 > m1 THEN 's'
         |         WHEN n1 >= s1 AND n1 > m1 THEN 'n'
         |         ELSE 'm' END AS elim, s2, n2, m2
         |  FROM r1, r2)
         |SELECT CASE elim
         |         WHEN 's' THEN (CASE WHEN n2 <= m2 THEN 'naive' ELSE 'mean' END)
         |         WHEN 'n' THEN (CASE WHEN s2 <= m2 THEN 'seasonal' ELSE 'mean' END)
         |         ELSE          (CASE WHEN s2 <= n2 THEN 'seasonal' ELSE 'naive' END)
         |       END AS best_config,
         |       CASE elim
         |         WHEN 's' THEN (CASE WHEN n2 <= m2 THEN 'naive' ELSE 'series_mean' END)
         |         WHEN 'n' THEN (CASE WHEN s2 <= m2 THEN 'seasonal_naive7' ELSE 'series_mean' END)
         |         ELSE          (CASE WHEN s2 <= n2 THEN 'seasonal_naive7' ELSE 'naive' END)
         |       END AS best_model
         |FROM pick""".stripMargin)),

    // Pooled update completeness (reference core.py:2035-2053): every series
    // must be present at every appended timestamp; every 5th series' update
    // is missing its final row, so those timestamps come up short.
    OracleQuery("update_completeness_violations",
      (s, dir) => {
        val p = dense(s, dir)
        val mo = p.df.groupBy(col("unique_id")).agg(max(col("ds")).as("__mo"))
        val withMo = p.df.join(broadcast(mo), Seq("unique_id"))
        val oldP = p.copy(df = withMo.filter(col("ds") <= col("__mo") - 7).drop("__mo"))
        val upd = withMo.filter(col("ds") > col("__mo") - 7 &&
          !(col("unique_id") % 5 === 0 && col("ds") === col("__mo"))).drop("__mo")
        Validation.updateCompletenessViolations(oldP, upd)
          .select(col("ds").cast("long").as("ds"),
            col("n_ids").cast("long").as("n_ids"),
            col("expected_ids").cast("long").as("expected_ids"))
      },
      Some(s"""$P
         |, last AS (SELECT unique_id, MAX(ord) AS mo FROM dense GROUP BY 1)
         |, upd AS (
         |  SELECT d.unique_id, d.ord
         |  FROM dense d JOIN last l ON d.unique_id = l.unique_id
         |  WHERE d.ord > l.mo - 7 AND NOT (d.unique_id % 5 = 0 AND d.ord = l.mo))
         |, e AS (SELECT COUNT(DISTINCT unique_id) AS expected_ids FROM dense)
         |, counts AS (SELECT ord AS ds, COUNT(DISTINCT unique_id) AS n_ids
         |             FROM upd GROUP BY 1)
         |SELECT CAST(c.ds AS BIGINT) AS ds, CAST(c.n_ids AS BIGINT) AS n_ids,
         |       CAST(e.expected_ids AS BIGINT) AS expected_ids
         |FROM counts c, e WHERE c.n_ids <> e.expected_ids""".stripMargin)),

    // In-sample fitted values through Differences(1) + naive echo
    // (fit(fitted=True) → forecast_fitted_values, forecast.py:805-975):
    // pred on the diffed series is diff(t-1) = y(t-1)-y(t-2); the in-sample
    // inverse adds back orig-trans = y(t-1), so the fitted prediction is
    // 2*y(t-1) - y(t-2) and the y column inverts to the original target.
    // Business-day frequency end-to-end (pandas "B"): the dense ordinal
    // panel mapped onto the Mon-Fri grid anchored at Monday 1995-01-02,
    // continuity-validated under BusinessDayFreq (max_ds must equal
    // advance(min_ds, n-1) THROUGH weekend skips), then a recursive h=7
    // predict whose forecast dates hop Saturdays/Sundays. naive echoes
    // lag1; rm7 rolls a 7-wide mean through its own predictions.
    OracleQuery("predict_bday_recursive", {
      (s, dir) => {
        val base = Panels.lineitemDense(s, dir)
        val anchor = lit(java.sql.Date.valueOf("1995-01-02")) // a Monday
        val bdf = base.select(col("unique_id"),
          date_add(anchor,
            (floor(col("ord") / 5).cast("int") * 7 +
              pmod(col("ord"), lit(5)).cast("int"))).as("ds"),
          col("y"))
        val freq = Freq.parse("B")
        val conf = MLForecast(
          models = Seq(Models.naive,
            graft.forecast.FeatureEcho("rm7", "rolling_mean_lag1_window_size7")),
          freq = freq,
          spec = FeatureSpec(lags = Seq(1), lagTransforms = Map(1 -> Seq(RollingMean(7)))),
          validate = true)
        conf.fit(PanelFrame(bdf, freq = freq)).predict(7)
          .select(col("unique_id"), col("ds"),
            col("naive").cast("double").as("naive"),
            col("rm7").cast("double").as("rm7"))
      }
    }, Some(bdayPredictSql)),

    // Monday-anchored weekly grid (pandas W-MON): the anchor passes grid
    // validation at fit, the recursive predict advances 7 days per step.
    OracleQuery("predict_wmon_recursive", {
      (s, dir) => {
        val base = Panels.lineitemDense(s, dir)
        val anchor = lit(java.sql.Date.valueOf("1995-01-02")) // a Monday
        val wdf = base.select(col("unique_id"),
          date_add(anchor, (col("ord") * 7).cast("int")).as("ds"),
          col("y"))
        val freq = Freq.parse("W-MON")
        val conf = MLForecast(
          models = Seq(Models.naive,
            graft.forecast.FeatureEcho("rm7", "rolling_mean_lag1_window_size7")),
          freq = freq,
          spec = FeatureSpec(lags = Seq(1), lagTransforms = Map(1 -> Seq(RollingMean(7)))),
          validate = true)
        conf.fit(PanelFrame(wdf, freq = freq)).predict(7)
          .select(col("unique_id"), col("ds"),
            col("naive").cast("double").as("naive"),
            col("rm7").cast("double").as("rm7"))
      }
    }, Some(wmonPredictSql)),

    // Month-END frequency (pandas "M"): the grid lives on last-of-month
    // dates, where a bare add_months chain would clamp off-grid
    // (Jan 31 -> Feb 29 -> Mar 29). Same naive + rolling-mean recursion as
    // the W-MON twin; the SQL replays MonthEndFreq.advance as
    // last_day(anchor + k months).
    OracleQuery("predict_mend_recursive", {
      (s, dir) => {
        val base = Panels.lineitemDense(s, dir)
        val anchor = lit(java.sql.Date.valueOf("1995-01-01"))
        val mdf = base.select(col("unique_id"),
          last_day(add_months(anchor, col("ord").cast("int"))).as("ds"),
          col("y"))
        val freq = Freq.parse("M")
        val conf = MLForecast(
          models = Seq(Models.naive,
            graft.forecast.FeatureEcho("rm7", "rolling_mean_lag1_window_size7")),
          freq = freq,
          spec = FeatureSpec(lags = Seq(1), lagTransforms = Map(1 -> Seq(RollingMean(7)))),
          validate = true)
        conf.fit(PanelFrame(mdf, freq = freq)).predict(7)
          .select(col("unique_id"), col("ds"),
            col("naive").cast("double").as("naive"),
            col("rm7").cast("double").as("rm7"))
      }
    }, Some(mendPredictSql)),

    // Recursive multi-step in-sample rollout (reference
    // forecast_fitted_values(h=3)): per origin o, p1 = (y[o-1]+y[o])/2,
    // p2 = (y[o]+p1)/2, p3 = (p1+p2)/2 (window sums in ascending position
    // order); naive echoes y[o] through every step. Valid origins are those
    // whose FIRST forecast row survives one-step dropna (ord >= 2, so
    // o >= 1) with 3 future rows present.
    OracleQuery("fitted_values_recursive_h3",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.naive,
            graft.forecast.FeatureEcho("rm2", "rolling_mean_lag1_window_size2")),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(1), lagTransforms = Map(1 -> Seq(RollingMean(2)))))
        conf.fit(dense(s, dir)).fittedValues(h = 3)
          .select(col("unique_id"), col("ds"), col("y").cast("double").as("y"),
            col("naive").cast("double").as("naive"),
            col("rm2").cast("double").as("rm2"), col("h"))
      },
      Some(s"""$P
         |, f AS (
         |  SELECT unique_id, ord,
         |         LAG(y, 1) OVER w AS ym1, y AS y0,
         |         LEAD(y, 3) OVER w AS y3,
         |         LEAD(ord, 3) OVER w AS ord3
         |  FROM dense
         |  WINDOW w AS (PARTITION BY unique_id ORDER BY ord))
         |, roll AS (
         |  SELECT unique_id, ord3 AS ds, y3, y0 AS naive,
         |         (ym1 + y0) / 2 AS p1
         |  FROM f
         |  WHERE ym1 IS NOT NULL AND ord3 IS NOT NULL)
         |SELECT unique_id, ds, CAST(y3 AS DOUBLE) AS y,
         |       CAST(naive AS DOUBLE) AS naive,
         |       CAST((p1 + (naive + p1) / 2) / 2 AS DOUBLE) AS rm2,
         |       CAST(3 AS BIGINT) AS h
         |FROM roll""".stripMargin)),

    OracleQuery("fitted_values_diff_naive",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.naive),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(1)),
          targetTransforms = Seq(Differences(Seq(1))))
        conf.fit(dense(s, dir)).fittedValues()
          .select(col("unique_id"), col("ds"), col("y").cast("double").as("y"),
            col("naive").cast("double").as("naive"), col("h"))
      },
      Some(s"""$P
         |, f AS (
         |  SELECT unique_id, ord, y,
         |         LAG(y, 1) OVER w AS l1, LAG(y, 2) OVER w AS l2
         |  FROM dense
         |  WINDOW w AS (PARTITION BY unique_id ORDER BY ord))
         |SELECT unique_id, ord AS ds, CAST(y AS DOUBLE) AS y,
         |       CAST(2 * l1 - l2 AS DOUBLE) AS naive, CAST(1 AS BIGINT) AS h
         |FROM f
         |WHERE y IS NOT NULL AND l1 IS NOT NULL AND l2 IS NOT NULL""".stripMargin)),

    // Direct-mode fitted values at h=2 (echo of lag7 trained per horizon):
    // the origin's frozen lag7 feature scores the observation one step
    // later, so ds is origin+1 and the prediction is y(ds-8).
    OracleQuery("fitted_values_direct_h2",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(graft.forecast.FeatureEcho("echo7", "lag7")),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(7)),
          maxHorizon = Some(2))
        conf.fit(dense(s, dir)).fittedValues(h = 2)
          .select(col("unique_id"), col("ds"), col("y").cast("double").as("y"),
            col("echo7").cast("double").as("echo7"), col("h"))
      },
      Some(s"""$P
         |, f AS (
         |  SELECT unique_id, ord, y,
         |         LAG(y, 7) OVER w AS l7, LEAD(y, 1) OVER w AS tgt
         |  FROM dense
         |  WINDOW w AS (PARTITION BY unique_id ORDER BY ord))
         |SELECT unique_id, ord + 1 AS ds, CAST(tgt AS DOUBLE) AS y,
         |       CAST(l7 AS DOUBLE) AS echo7, CAST(2 AS BIGINT) AS h
         |FROM f
         |WHERE l7 IS NOT NULL AND tgt IS NOT NULL""".stripMargin)),

    // Fitted values with in-sample interval levels through a standard
    // scaler: the naive echo round-trips to fl*sc+mu and the 80% bounds add
    // each series' empirical 0.1/0.9 residual quantiles (utilsforecast
    // add_insample_levels semantics). Every arithmetic step mirrors the
    // Spark formula order so the hash matches bit-for-bit.
    OracleQuery("fitted_values_levels",
      (s, dir) => {
        val conf = MLForecast(
          models = Seq(Models.naive),
          freq = Freq.IntFreq(1),
          spec = FeatureSpec(lags = Seq(1)),
          targetTransforms = Seq(graft.forecast.LocalStandardScaler()))
        conf.fit(dense(s, dir)).fittedValues(levels = Seq(80))
          .select(col("unique_id"), col("ds"),
            col("naive").cast("double").as("naive"),
            col("`naive-lo-80`").cast("double").as("naive-lo-80"),
            col("`naive-hi-80`").cast("double").as("naive-hi-80"))
      },
      Some(s"""$P
         |, stats AS (
         |  SELECT unique_id, SUM(y) / COUNT(y) AS mu,
         |         SQRT(GREATEST(SUM(y*y) / COUNT(y) - (SUM(y) / COUNT(y)) * (SUM(y) / COUNT(y)), 0.0)) AS sc
         |  FROM dense GROUP BY 1)
         |, tr AS (
         |  SELECT d.unique_id, d.ord, (d.y - s.mu) / s.sc AS ty, s.mu, s.sc
         |  FROM dense d JOIN stats s USING (unique_id))
         |, f AS (
         |  SELECT unique_id, ord, ty, mu, sc,
         |         LAG(ty, 1) OVER (PARTITION BY unique_id ORDER BY ord) AS fl
         |  FROM tr)
         |, t AS (
         |  SELECT unique_id, ord, ty * sc + mu AS ytr, fl * sc + mu AS pred
         |  FROM f WHERE ty IS NOT NULL AND fl IS NOT NULL)
         |, rq AS (
         |  SELECT unique_id, list(ytr - pred ORDER BY ytr - pred) AS arr,
         |         CAST(COUNT(*) AS BIGINT) AS n
         |  FROM t GROUP BY 1)
         |-- Spark percentile semantics, read from the 4.1.2 bytecode:
         |-- equal endpoint KEYS return the key exactly (distinct-value map
         |-- collapse); otherwise (ceil(pos)-pos)*a + (pos-floor(pos))*b.
         |-- QUANTILE_CONT evaluates differently and can land one ulp away.
         |, q AS (
         |  SELECT unique_id,
         |         CASE WHEN arr[CAST(floor(0.1e0 * (n - 1)) AS BIGINT) + 1] = arr[CAST(ceil(0.1e0 * (n - 1)) AS BIGINT) + 1] THEN arr[CAST(floor(0.1e0 * (n - 1)) AS BIGINT) + 1]
         |                ELSE (ceil(0.1e0 * (n - 1)) - (0.1e0 * (n - 1))) * arr[CAST(floor(0.1e0 * (n - 1)) AS BIGINT) + 1]
         |                     + ((0.1e0 * (n - 1)) - floor(0.1e0 * (n - 1))) * arr[CAST(ceil(0.1e0 * (n - 1)) AS BIGINT) + 1] END AS qlo,
         |         CASE WHEN arr[CAST(floor(0.9e0 * (n - 1)) AS BIGINT) + 1] = arr[CAST(ceil(0.9e0 * (n - 1)) AS BIGINT) + 1] THEN arr[CAST(floor(0.9e0 * (n - 1)) AS BIGINT) + 1]
         |                ELSE (ceil(0.9e0 * (n - 1)) - (0.9e0 * (n - 1))) * arr[CAST(floor(0.9e0 * (n - 1)) AS BIGINT) + 1]
         |                     + ((0.9e0 * (n - 1)) - floor(0.9e0 * (n - 1))) * arr[CAST(ceil(0.9e0 * (n - 1)) AS BIGINT) + 1] END AS qhi
         |  FROM rq)
         |SELECT t.unique_id, t.ord AS ds, CAST(t.pred AS DOUBLE) AS naive,
         |       CAST(t.pred + q.qlo AS DOUBLE) AS "naive-lo-80",
         |       CAST(t.pred + q.qhi AS DOUBLE) AS "naive-hi-80"
         |FROM t JOIN q USING (unique_id)""".stripMargin)),
  )

  // ---------------------------------------------------------------- batch 5:
  // LLM-training-data operators on the documents/embeddings tables: text
  // stats, language ID, exact dedup groups, exact Jaccard pairs, ANN.

  import graft.functions.TextFunctions
  import graft.operators.{Dedup, Multimodal, Similarity}

  private val stopListSql =
    "('the','a','an','and','of','to','in','is','that','it','on','for','with','as','was','at','by','this')"

  private val dataOpsQs: Seq[OracleQuery] = Seq(
    OracleQuery("doc_text_stats",
      (s, dir) => {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        docs.select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          TextFunctions.subwordCount(col("text")).as("n_subwords"),
          TextFunctions.charCount(col("text")).as("n_chars"),
          TextFunctions.meanWordLength(col("text")).as("mean_word_len"),
          TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"),
          TextFunctions.alphaRatio(col("text")).as("alpha_ratio"),
          TextFunctions.punctRatio(col("text")).as("punct_ratio"),
          TextFunctions.qualityScore(col("text")).as("quality"))
      },
      Some(s"""WITH toks AS (
         |  SELECT doc_id, text,
         |         list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t != '') AS ts
         |  FROM documents)
         |, parts AS (
         |  SELECT doc_id,
         |    CAST(len(ts) AS INT) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[\\p{L}]+|[\\p{N}]+|[^\\p{L}\\p{N}\\s]+'))
         |      AS INT) AS n_subwords,
         |    CAST(len(text) AS INT) AS n_chars,
         |    CASE WHEN len(ts) > 0 THEN
         |      CAST(list_reduce(list_transform(ts, t -> len(t)), (a, x) -> a + x) AS DOUBLE) / len(ts)
         |    END AS mean_word_len,
         |    CASE WHEN len(ts) > 0 THEN
         |      CAST(len(list_filter(ts, t -> lower(t) IN $stopListSql)) AS DOUBLE) / len(ts)
         |    END AS stopword_ratio,
         |    CASE WHEN len(text) > 0 THEN
         |      CAST(len(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS DOUBLE) / len(text)
         |    ELSE 0.0 END AS alpha_ratio,
         |    CASE WHEN len(text) > 0 THEN
         |      CAST(len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / len(text)
         |    ELSE 0.0 END AS punct_ratio
         |  FROM toks)
         |SELECT doc_id, n_tokens, n_subwords, n_chars, mean_word_len, stopword_ratio,
         |       alpha_ratio, punct_ratio,
         |  ((CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
         |   + (CASE WHEN COALESCE(mean_word_len, 0.0) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
         |   + (1.0 - LEAST(punct_ratio * 4, 1.0))
         |   + alpha_ratio) / 4 AS quality
         |FROM parts""".stripMargin)),

    OracleQuery("doc_lang_id",
      (s, dir) => s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred")),
      Some(s"""WITH toks AS (
         |  SELECT doc_id, text,
         |         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != '') AS ts
         |  FROM documents)
         |, hits AS (
         |  SELECT doc_id,
         |    len(list_filter(ts, t -> t IN ('the','and','of','to','in','is','that','it','for','was'))) AS h_en,
         |    len(list_filter(ts, t -> t IN ('der','die','und','das','nicht','ist','ein','eine','mit','zu'))) AS h_de,
         |    len(list_filter(ts, t -> t IN ('le','la','les','et','un','une','est','dans','pour','que'))) AS h_fr,
         |    len(list_filter(ts, t -> t IN ('el','los','las','es','un','una','en','por','para','que'))) AS h_es,
         |    (length(text) - length(replace(text, '的', '')))
         |      + (length(text) - length(replace(text, '是', '')))
         |      + (length(text) - length(replace(text, '在', '')))
         |      + (length(text) - length(replace(text, '了', '')))
         |      + (length(text) - length(replace(text, '和', '')))
         |      + (length(text) - length(replace(text, '有', '')))
         |      + (length(text) - length(replace(text, '我', '')))
         |      + (length(text) - length(replace(text, '不', '')))
         |      + (length(text) - length(replace(text, '这', '')))
         |      + (length(text) - length(replace(text, '他', ''))) AS h_zh
         |  FROM toks)
         |SELECT doc_id,
         |  CASE WHEN GREATEST(h_en, h_de, h_fr, h_es, h_zh) = 0 THEN 'und'
         |       WHEN h_zh = GREATEST(h_en, h_de, h_fr, h_es, h_zh) THEN 'zh'
         |       WHEN h_fr = GREATEST(h_en, h_de, h_fr, h_es, h_zh) THEN 'fr'
         |       WHEN h_es = GREATEST(h_en, h_de, h_fr, h_es, h_zh) THEN 'es'
         |       WHEN h_en = GREATEST(h_en, h_de, h_fr, h_es, h_zh) THEN 'en'
         |       ELSE 'de' END AS lang_pred
         |FROM hits""".stripMargin)),

    // No natural exact dups in the corpus, so union a shifted-id copy of the
    // first 50 docs: every group is {i, i+10000}. The Spark side groups by
    // the 64-bit normalized fingerprint; the SQL twin groups by the
    // normalized text itself (DuckDB has no xxhash64) — identical groups
    // absent hash collisions.
    OracleQuery("doc_exact_dup_groups",
      (s, dir) => {
        val docs = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
        val copies = docs.filter(col("doc_id") < 50)
          .withColumn("doc_id", col("doc_id") + 10000)
        Dedup.exactGroups(docs.unionByName(copies), "text", "doc_id")
          .select(explode(col("doc_ids")).as("doc_id"), col("n_docs"),
            element_at(col("doc_ids"), 1).as("canonical_id"))
      },
      Some(s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50)
         |, g AS (
         |  SELECT trim(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ', 'g')) AS norm,
         |         COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id
         |  FROM all_docs GROUP BY 1 HAVING COUNT(*) > 1)
         |SELECT d.doc_id, g.n_docs, g.canonical_id
         |FROM all_docs d
         |JOIN g ON trim(regexp_replace(lower(d.text), '[^\\p{L}\\p{N}]+', ' ', 'g')) = g.norm""".stripMargin)),

    // Exact 3-gram Jaccard set-similarity join (inverted-index candidates +
    // full-set verification); max shingle df in this corpus is ~7, far below
    // the cap, so the output is exhaustively exact.
    OracleQuery("doc_jaccard_pairs",
      (s, dir) => Dedup.exactJaccardPairs(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        shingleSize = 3, threshold = 0.2),
      Some(s"""WITH sh AS (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
         |           i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS s
         |  FROM (SELECT doc_id,
         |          list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != '') AS toks
         |        FROM documents)
         |  WHERE len(toks) >= 3)
         |, inv AS (SELECT doc_id, unnest(s) AS g FROM sh)
         |, cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |           FROM inv a JOIN inv b USING (g)
         |           WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b, jaccard FROM (
         |  SELECT id_a, id_b,
         |         CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
         |           / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jaccard
         |  FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b)
         |WHERE jaccard >= 0.2""".stripMargin)),

    // Exact brute-force cosine top-5 against the vec_id=0 embedding —
    // the ANN correctness baseline (TakeOrderedAndProject plan).
    OracleQuery("ann_bruteforce_top5",
      (s, dir) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val q = emb.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)
        Similarity.bruteForceTopK(emb, "embedding", q, 5, "vec_id")
      },
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id,
         |  list_reduce(list_transform(range(1, len(e.embedding) + 1),
         |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (a, x) -> a + x)
         |  / (sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
         |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a, x) -> a + x))
         |   * sqrt(list_reduce(list_transform(range(1, len(q.qv) + 1),
         |        i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (a, x) -> a + x)))
         |  AS cosine
         |FROM embeddings e, q
         |ORDER BY cosine DESC, vec_id
         |LIMIT 5""".stripMargin)),

    // Exact k-NN JOIN: every 100th vector probes the full corpus; grouped
    // top-3 via the native TopKByScore aggregate (map-side partial heaps).
    OracleQuery("knn_join_top3",
      (s, dir) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        Similarity.knnJoin(emb, emb.filter(col("vec_id") % 100 === 0),
          "vec_id", "embedding", "vec_id", "embedding", k = 3)
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id % 100 = 0)
         |, scored AS (
         |  SELECT q.query_id, e.vec_id,
         |    list_reduce(list_transform(range(1, len(e.embedding) + 1),
         |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (a, x) -> a + x)
         |    / (sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
         |          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a, x) -> a + x))
         |     * sqrt(list_reduce(list_transform(range(1, len(q.qv) + 1),
         |          i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (a, x) -> a + x)))
         |    AS cosine
         |  FROM embeddings e, q)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored WHERE cosine IS NOT NULL AND NOT isnan(cosine))
         |WHERE rank <= 3""".stripMargin)),

    // LSH-bucketed k-NN join (multi-probe, portable hyperplanes): the
    // bucket-equi-join scale path, oracled end to end.
    OracleQuery("knn_join_lsh_top3",
      (s, dir) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        Similarity.knnJoinLsh(emb, emb.filter(col("vec_id") % 100 === 0),
          "vec_id", "embedding", "vec_id", "embedding", k = 3, dim = 64,
          nPlanes = 6, portable = true)
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id % 100 = 0)
         |, bk AS (${lshBucketSql("embeddings", "t.vec_id AS vec_id", "t.embedding", 6, 64)})
         |, qb AS (${lshBucketSql("q", "t.query_id AS query_id", "t.qv", 6, 64)})
         |, probes AS (SELECT query_id, bucket AS pb FROM qb
         |             UNION ALL
         |             SELECT query_id, xor(bucket, 1::BIGINT << i) FROM qb,
         |               (SELECT unnest(range(0, 6)) AS i))
         |, scored AS (
         |  SELECT p.query_id, e.vec_id, ${cosSql("e.embedding", "q.qv")} AS cosine
         |  FROM probes p JOIN bk ON bk.bucket = p.pb
         |  JOIN embeddings e ON e.vec_id = bk.vec_id
         |  JOIN q ON q.query_id = p.query_id)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored WHERE cosine IS NOT NULL AND NOT isnan(cosine))
         |WHERE rank <= 3""".stripMargin)),

    // ANN index-quality gate: recall@3 of the LSH k-NN join against the
    // exact join on the identical query set — per-query hit counts are
    // exact integers and the division is exact, so the recall doubles
    // hash-match. The SQL composes the two oracled pipelines verbatim.
    OracleQuery("ann_recall_lsh_at3",
      (s, dir) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val queries = emb.filter(col("vec_id") % 100 === 0)
        val exact = Similarity.knnJoin(emb, queries,
          "vec_id", "embedding", "vec_id", "embedding", k = 3)
        val approx = Similarity.knnJoinLsh(emb, queries,
          "vec_id", "embedding", "vec_id", "embedding", k = 3, dim = 64,
          nPlanes = 6, portable = true)
        Similarity.recallAtK(exact, approx, "query_id", "vec_id")
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id % 100 = 0)
         |, scored_e AS (
         |  SELECT q.query_id, e.vec_id, ${cosSql("e.embedding", "q.qv")} AS cosine
         |  FROM embeddings e, q)
         |, exact3 AS (SELECT query_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY cosine DESC, vec_id) AS rank
         |    FROM scored_e WHERE cosine IS NOT NULL AND NOT isnan(cosine))
         |  WHERE rank <= 3)
         |, bk AS (${lshBucketSql("embeddings", "t.vec_id AS vec_id", "t.embedding", 6, 64)})
         |, qb AS (${lshBucketSql("q", "t.query_id AS query_id", "t.qv", 6, 64)})
         |, probes AS (SELECT query_id, bucket AS pb FROM qb
         |             UNION ALL
         |             SELECT query_id, xor(bucket, 1::BIGINT << i) FROM qb,
         |               (SELECT unnest(range(0, 6)) AS i))
         |, scored_l AS (
         |  SELECT p.query_id, e.vec_id, ${cosSql("e.embedding", "q.qv")} AS cosine
         |  FROM probes p JOIN bk ON bk.bucket = p.pb
         |  JOIN embeddings e ON e.vec_id = bk.vec_id
         |  JOIN q ON q.query_id = p.query_id)
         |, lsh3 AS (SELECT query_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY cosine DESC, vec_id) AS rank
         |    FROM scored_l WHERE cosine IS NOT NULL AND NOT isnan(cosine))
         |  WHERE rank <= 3)
         |, en AS (SELECT query_id, COUNT(*) AS n_exact FROM exact3 GROUP BY 1)
         |, hn AS (SELECT e.query_id, COUNT(*) AS n_hit
         |         FROM exact3 e JOIN lsh3 a USING (query_id, vec_id) GROUP BY 1)
         |SELECT en.query_id, en.n_exact, COALESCE(hn.n_hit, 0) AS n_hit,
         |       CAST(COALESCE(hn.n_hit, 0) AS DOUBLE) / CAST(en.n_exact AS DOUBLE) AS recall
         |FROM en LEFT JOIN hn ON hn.query_id = en.query_id""".stripMargin)),

    // Recall@3 gate for the IVF coarse index: the batched ivfKnnJoin (same
    // build params as ann_ivf_top5) against the exact join on the identical
    // query set. Coarse-list pruning quality becomes a hash-exact number —
    // the FAISS-style index-quality check the LSH index already carries.
    OracleQuery("ann_recall_ivf_at3",
      (s, dir) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val queries = emb.filter(col("vec_id") % 100 === 0)
        val exact = Similarity.knnJoin(emb, queries,
          "vec_id", "embedding", "vec_id", "embedding", k = 3)
        val (cents, assigned) = Similarity.ivfBuild(emb, "embedding", "vec_id",
          nLists = 16, iters = 3, samplePermille = 500)
        val approx = Similarity.ivfKnnJoin(assigned, cents, queries,
          "embedding", "vec_id", "vec_id", "embedding", k = 3, nProbe = 4)
        Similarity.recallAtK(exact, approx, "query_id", "vec_id")
      },
      Some(s"""${ivfAssignSql(nLists = 16, iters = 3, permille = 500)}
         |, qs AS (SELECT vec_id AS query_id, embedding AS qraw,
         |                list_transform(embedding,
         |                  x -> floor(CAST(x AS DOUBLE) * 1048576.0)) AS ql
         |         FROM embeddings WHERE vec_id % 100 = 0)
         |, scored_e AS (
         |  SELECT q.query_id, e.vec_id, ${cosSql("e.embedding", "q.qraw")} AS cosine
         |  FROM embeddings e, qs q)
         |, exact3 AS (SELECT query_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY cosine DESC, vec_id) AS rank
         |    FROM scored_e WHERE cosine IS NOT NULL AND NOT isnan(cosine))
         |  WHERE rank <= 3)
         |, pl AS (SELECT query_id, li FROM (
         |    SELECT t.query_id, c.li, row_number() OVER (PARTITION BY t.query_id
         |      ORDER BY ${ivfDistSql("t.ql", "c.c")}, c.li) AS rn
         |    FROM c3 c, qs t) WHERE rn <= 4)
         |, scored_i AS (
         |  SELECT p.query_id, e.vec_id, ${cosSql("e.embedding", "t.qraw")} AS cosine
         |  FROM pl p JOIN af ON af.li = p.li
         |  JOIN embeddings e ON e.vec_id = af.vec_id
         |  JOIN qs t ON t.query_id = p.query_id)
         |, ivf3 AS (SELECT query_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY cosine DESC, vec_id) AS rank
         |    FROM scored_i WHERE cosine IS NOT NULL AND NOT isnan(cosine))
         |  WHERE rank <= 3)
         |, en AS (SELECT query_id, COUNT(*) AS n_exact FROM exact3 GROUP BY 1)
         |, hn AS (SELECT e.query_id, COUNT(*) AS n_hit
         |         FROM exact3 e JOIN ivf3 a USING (query_id, vec_id) GROUP BY 1)
         |SELECT en.query_id, en.n_exact, COALESCE(hn.n_hit, 0) AS n_hit,
         |       CAST(COALESCE(hn.n_hit, 0) AS DOUBLE) / CAST(en.n_exact AS DOUBLE) AS recall
         |FROM en LEFT JOIN hn ON hn.query_id = en.query_id""".stripMargin)),

    // Recall@3 gate for the two-level IVF-PQ index: coarse pruning AND code
    // quantization loss measured together against the exact join.
    OracleQuery("ann_recall_ivfpq_at3",
      (s, dir) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val queries = emb.filter(col("vec_id") % 100 === 0)
        val exact = Similarity.knnJoin(emb, queries,
          "vec_id", "embedding", "vec_id", "embedding", k = 3)
        val (cents, books, indexed) = Similarity.ivfPqBuild(emb, "embedding",
          "vec_id", nLists = 16, m = 4, ksub = 8, iters = 2, samplePermille = 500)
        val approx = Similarity.ivfPqKnnJoin(indexed, cents, books, queries,
          "vec_id", "embedding", k = 3, "vec_id", nProbe = 4)
        Similarity.recallAtK(exact, approx, "query_id", "vec_id")
      },
      Some(ivfPqRecallSql(m = 4, ksub = 8, iters = 2, permille = 500,
        dim = 64, nLists = 16, nProbe = 4, k = 3))),

    // Recall@3 gate for PLAIN PQ (no coarse pruning): quantization loss in
    // isolation — with the IVF-PQ gate above, coarse-pruning loss is the
    // measured difference between the two rows.
    OracleQuery("ann_recall_pq_at3",
      (s, dir) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val queries = emb.filter(col("vec_id") % 100 === 0)
        val exact = Similarity.knnJoin(emb, queries,
          "vec_id", "embedding", "vec_id", "embedding", k = 3)
        val (books, encoded) = Similarity.pqBuild(emb, "embedding", "vec_id",
          m = 4, ksub = 8, iters = 2, samplePermille = 500)
        val approx = Similarity.pqKnnJoin(encoded, books, queries,
          "vec_id", "embedding", k = 3, "vec_id")
        Similarity.recallAtK(exact, approx, "query_id", "vec_id")
      },
      Some(ivfPqRecallSql(m = 4, ksub = 8, iters = 2, permille = 500,
        dim = 64, nLists = 16, nProbe = 4, k = 3, withIvf = false))),
  )

  // Approximate / multimodal dataops. The bucketed sketches (MinHash bands,
  // SimHash blocks, hyperplane LSH, IVF) run here under the PORTABLE hash
  // family (md5-derived base hashes + affine rehash mod 2^61-1, md5-derived
  // hyperplanes, integer-quantized IVF — Dedup.md560 and friends), which
  // DuckDB reproduces in plain SQL: every candidate bucket, pair and top-k
  // row below is hash-exact against the oracle, not rows-only. The xxhash64
  // family remains the fast default of the same pipelines and keeps its
  // compiled-kernel-vs-Column-expression unit parity.
  /** Business-day predict oracle: DuckDB replays the weekday-grid mapping
    * (ordinal → Monday-anchored Mon-Fri date) and the 7-step rolling-mean
    * recursion, each step's window summed in ascending position order like
    * the fused kernel.
    */
  /** Monday-anchored weekly recursive predict: the W-MON grid (anchor
    * validated at fit) with the same naive + rolling-mean-through-own-
    * predictions recursion as the business-day twin, on a plain 7-day
    * stride.
    */
  private lazy val wmonPredictSql: String = {
    val items = (6 to 0 by -1).map(i => s"l$i") ++ (1 to 7).map(i => s"p$i")
    val recCtes = (1 to 7).map { s =>
      val win = items.slice(s - 1, s + 6).mkString(" + ")
      val prev = if (s == 1) "o" else s"r${s - 1}"
      s", r$s AS (SELECT *, ($win) / 7 AS p$s FROM $prev)"
    }.mkString("\n")
    val pCase = (1 to 7).map(s => s"WHEN $s THEN p$s").mkString(" ")
    s"""$P
       |, f AS (
       |  SELECT unique_id, ord AS mo, y AS l0,
       |         LAG(y, 1) OVER w AS l1, LAG(y, 2) OVER w AS l2,
       |         LAG(y, 3) OVER w AS l3, LAG(y, 4) OVER w AS l4,
       |         LAG(y, 5) OVER w AS l5, LAG(y, 6) OVER w AS l6,
       |         ROW_NUMBER() OVER (PARTITION BY unique_id ORDER BY ord DESC) AS rn
       |  FROM dense
       |  WINDOW w AS (PARTITION BY unique_id ORDER BY ord))
       |, o AS (SELECT * FROM f WHERE rn = 1)
       |$recCtes
       |SELECT unique_id,
       |       DATE '1995-01-02' + CAST((mo + s) * 7 AS INTEGER) AS ds,
       |       CAST(l0 AS DOUBLE) AS naive,
       |       CAST(CASE s $pCase END AS DOUBLE) AS rm7
       |FROM r7, (SELECT unnest(range(1, 8)) AS s) t""".stripMargin
  }

  /** Month-end recursive predict: the W-MON recursion on a last-of-month
    * grid — step s's date is last_day(anchor + (mo + s) months), the exact
    * MonthEndFreq.advance arithmetic (add_months clamps, last_day re-snaps).
    */
  private lazy val mendPredictSql: String = {
    val items = (6 to 0 by -1).map(i => s"l$i") ++ (1 to 7).map(i => s"p$i")
    val recCtes = (1 to 7).map { s =>
      val win = items.slice(s - 1, s + 6).mkString(" + ")
      val prev = if (s == 1) "o" else s"r${s - 1}"
      s", r$s AS (SELECT *, ($win) / 7 AS p$s FROM $prev)"
    }.mkString("\n")
    val pCase = (1 to 7).map(s => s"WHEN $s THEN p$s").mkString(" ")
    s"""$P
       |, f AS (
       |  SELECT unique_id, ord AS mo, y AS l0,
       |         LAG(y, 1) OVER w AS l1, LAG(y, 2) OVER w AS l2,
       |         LAG(y, 3) OVER w AS l3, LAG(y, 4) OVER w AS l4,
       |         LAG(y, 5) OVER w AS l5, LAG(y, 6) OVER w AS l6,
       |         ROW_NUMBER() OVER (PARTITION BY unique_id ORDER BY ord DESC) AS rn
       |  FROM dense
       |  WINDOW w AS (PARTITION BY unique_id ORDER BY ord))
       |, o AS (SELECT * FROM f WHERE rn = 1)
       |$recCtes
       |SELECT unique_id,
       |       last_day(DATE '1995-01-01'
       |                + to_months(CAST(mo + s AS INTEGER))) AS ds,
       |       CAST(l0 AS DOUBLE) AS naive,
       |       CAST(CASE s $pCase END AS DOUBLE) AS rm7
       |FROM r7, (SELECT unnest(range(1, 8)) AS s) t""".stripMargin
  }

  private lazy val bdayPredictSql: String = {
    // items visible to the rolling window, ascending in time:
    // l6 (earliest) … l0 (origin), then the echoed predictions p1…p7
    val items = (6 to 0 by -1).map(i => s"l$i") ++ (1 to 7).map(i => s"p$i")
    val recCtes = (1 to 7).map { s =>
      val win = items.slice(s - 1, s + 6).mkString(" + ")
      val prev = if (s == 1) "o" else s"r${s - 1}"
      s", r$s AS (SELECT *, ($win) / 7 AS p$s FROM $prev)"
    }.mkString("\n")
    val pCase = (1 to 7).map(s => s"WHEN $s THEN p$s").mkString(" ")
    s"""$P
       |, f AS (
       |  SELECT unique_id, ord AS mo, y AS l0,
       |         LAG(y, 1) OVER w AS l1, LAG(y, 2) OVER w AS l2,
       |         LAG(y, 3) OVER w AS l3, LAG(y, 4) OVER w AS l4,
       |         LAG(y, 5) OVER w AS l5, LAG(y, 6) OVER w AS l6,
       |         ROW_NUMBER() OVER (PARTITION BY unique_id ORDER BY ord DESC) AS rn
       |  FROM dense
       |  WINDOW w AS (PARTITION BY unique_id ORDER BY ord))
       |, o AS (SELECT * FROM f WHERE rn = 1)
       |$recCtes
       |SELECT unique_id,
       |       DATE '1995-01-02'
       |         + CAST(((mo + s) // 5) * 7 + ((mo + s) % 5) AS INTEGER) AS ds,
       |       CAST(l0 AS DOUBLE) AS naive,
       |       CAST(CASE s $pCase END AS DOUBLE) AS rm7
       |FROM r7, (SELECT unnest(range(1, 8)) AS s) t""".stripMargin
  }

  // ---- portable-family oracle SQL --------------------------------------
  // Shared spellings of graft's portable hash family in DuckDB SQL:
  //   md560(s)      = ('0x'||substr(md5(s),1,15))::BIGINT   (top 60 bits)
  //   affine61(k,x) = (a_k·x + b_k) mod 2^61-1 via HUGEINT, coefficients
  //                   themselves md560-derived
  //   hyperplane(i,j) = 2·(md560('plane:i:j')/2^60) − 1
  // so the SQL below replays the exact bucket/pair/top-k pipelines.

  private val Pm61 = "2305843009213693951" // 2^61 - 1

  /** dot(embedding, q) / (|embedding|·|q|) in index order — the bruteforce
    * oracle's spelling, reused by every ANN twin.
    */
  private def cosSql(e: String, q: String): String =
    s"""list_reduce(list_transform(range(1, len($e) + 1),
       |      i -> CAST($e[i] AS DOUBLE) * CAST($q[i] AS DOUBLE)), (a, x) -> a + x)
       |  / (sqrt(list_reduce(list_transform(range(1, len($e) + 1),
       |        i -> CAST($e[i] AS DOUBLE) * CAST($e[i] AS DOUBLE)), (a, x) -> a + x))
       |   * sqrt(list_reduce(list_transform(range(1, len($q) + 1),
       |        i -> CAST($q[i] AS DOUBLE) * CAST($q[i] AS DOUBLE)), (a, x) -> a + x)))""".stripMargin

  /** Signed-projection bucket of vector column `v` against `n` portable
    * hyperplanes of dimension `dim` (bits are disjoint, so SUM == OR).
    */
  private def lshBucketSql(vecsRel: String, idCol: String, v: String,
                           n: Int, dim: Int): String =
    s"""SELECT $idCol, SUM(CASE WHEN list_reduce(list_transform(range(1, ${dim + 1}),
       |          k -> CAST($v[k] AS DOUBLE) * p.c[k]), (a, x) -> a + x) >= 0
       |        THEN (1::BIGINT << p.i) ELSE 0 END) AS bucket
       | FROM $vecsRel t, (SELECT i, list(2.0 * (('0x'||substr(md5('plane:'||i||':'||j),1,15))::BIGINT
       |                     / 1152921504606846976.0) - 1.0 ORDER BY j) AS c
       |                   FROM (SELECT unnest(range(0, $n)) AS i),
       |                        (SELECT unnest(range(0, $dim)) AS j) GROUP BY i) p
       | GROUP BY 1""".stripMargin

  /** Replay of [[Dedup.minhashPairs]] (portable family) over an arbitrary
    * corpus CTE body — the seeded-copy corpora of the dedup oracles and
    * the mutated-copy corpus of the edit-distance oracle share it.
    */
  private def minhashPairsSql(corpusCte: String): String =
    s"""WITH all_docs AS (
       |  $corpusCte)
       |, sh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
       |           i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS s
       |  FROM (SELECT doc_id,
       |          list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != '') AS toks
       |        FROM all_docs)
       |  WHERE len(toks) >= 3)
       |, seeds AS (
       |  SELECT k,
       |         ('0x'||substr(md5('a:'||k),1,15))::BIGINT % ($Pm61 - 1) + 1 AS a,
       |         ('0x'||substr(md5('b:'||k),1,15))::BIGINT % $Pm61 AS b
       |  FROM (SELECT unnest(range(0, 64)) AS k))
       |, hv AS (SELECT doc_id, ('0x'||substr(md5(g),1,15))::BIGINT AS h
       |         FROM (SELECT doc_id, unnest(s) AS g FROM sh))
       |, sigl AS (SELECT doc_id, k,
       |                  MIN(((CAST(a AS HUGEINT) * h + b) % $Pm61)::BIGINT) AS sv
       |           FROM hv, seeds GROUP BY 1, 2)
       |, sig AS (SELECT doc_id, list(sv ORDER BY k) AS sig FROM sigl GROUP BY 1)
       |, banded AS (SELECT doc_id,
       |                    ('0x'||substr(md5(b||':'||array_to_string(
       |                       list_slice(sig, b * 4 + 1, b * 4 + 4), ',')),1,15))::BIGINT AS bhash,
       |                    b AS band
       |             FROM sig, (SELECT unnest(range(0, 16)) AS b))
       |, bsize AS (SELECT band, bhash FROM banded GROUP BY 1, 2
       |            HAVING COUNT(*) BETWEEN 2 AND 1000)
       |, cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |           FROM banded a JOIN banded b USING (band, bhash)
       |           JOIN bsize USING (band, bhash)
       |           WHERE a.doc_id < b.doc_id)
       |SELECT id_a, id_b, est_jaccard FROM (
       |  SELECT c.id_a, c.id_b,
       |         CAST(len(list_filter(range(1, 65), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE)
       |           / 64.0 AS est_jaccard
       |  FROM cand c JOIN sig sa ON sa.doc_id = c.id_a JOIN sig sb ON sb.doc_id = c.id_b)
       |WHERE est_jaccard >= 0.5""".stripMargin

  private val seededCopyCorpus: String =
    """SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50""".stripMargin

  private lazy val minhashSql: String = minhashPairsSql(seededCopyCorpus)

  private lazy val simhashSql: String =
    s"""WITH all_docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50)
       |, tok AS (SELECT doc_id,
       |                 list_filter(regexp_split_to_array(trim(regexp_replace(lower(text),
       |                   '[^\\p{L}\\p{N}\\s]', '', 'g')), '\\s+'), t -> t != '') AS toks
       |          FROM all_docs WHERE text IS NOT NULL)
       |, tv AS (SELECT doc_id, ('0x'||substr(md5(t),1,15))::BIGINT AS h
       |         FROM (SELECT doc_id, unnest(toks) AS t FROM tok))
       |, bits AS (SELECT doc_id, b,
       |                  SUM(CASE WHEN (h >> b::INTEGER) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
       |           FROM tv, (SELECT unnest(range(0, 60)) AS b) GROUP BY 1, 2)
       |, fp0 AS (SELECT doc_id, SUM(CASE WHEN cnt > 0 THEN (1::BIGINT << b::INTEGER) ELSE 0 END) AS fp
       |          FROM bits GROUP BY 1)
       |, fp AS (SELECT t.doc_id, COALESCE(f.fp, 0) AS fp
       |         FROM tok t LEFT JOIN fp0 f USING (doc_id))
       |, banded AS (SELECT doc_id, blk, (fp >> (blk * 15)::INTEGER) & 32767 AS chunk
       |             FROM fp, (SELECT unnest(range(0, 4)) AS blk))
       |, bsize AS (SELECT blk, chunk FROM banded GROUP BY 1, 2
       |            HAVING COUNT(*) BETWEEN 2 AND 1000)
       |, cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |           FROM banded a JOIN banded b USING (blk, chunk)
       |           JOIN bsize USING (blk, chunk)
       |           WHERE a.doc_id < b.doc_id)
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT c.id_a, c.id_b,
       |         CAST(bit_count(xor(fa.fp, fb.fp)) AS INTEGER) AS hamming
       |  FROM cand c JOIN fp fa ON fa.doc_id = c.id_a JOIN fp fb ON fb.doc_id = c.id_b)
       |WHERE hamming <= 3""".stripMargin

  private lazy val embNearDupSql: String =
    s"""WITH vecs AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
       |  UNION ALL
       |  SELECT vec_id + 100000, embedding FROM embeddings
       |  WHERE vec_id < 50 AND embedding IS NOT NULL)
       |, bk AS (${lshBucketSql("vecs", "t.vec_id AS vec_id", "t.embedding", 8, 64)})
       |, bsize AS (SELECT bucket FROM bk GROUP BY 1 HAVING COUNT(*) BETWEEN 2 AND 2000)
       |, cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |           FROM bk a JOIN bk b USING (bucket) JOIN bsize USING (bucket)
       |           WHERE a.vec_id < b.vec_id)
       |SELECT id_a, id_b, cosine FROM (
       |  SELECT c.id_a, c.id_b,
       |         CASE WHEN isnan(raw) THEN NULL ELSE raw END AS cosine FROM (
       |    SELECT c.id_a AS id_a, c.id_b AS id_b,
       |           ${cosSql("va.embedding", "vb.embedding")} AS raw
       |    FROM cand c JOIN vecs va ON va.vec_id = c.id_a
       |                JOIN vecs vb ON vb.vec_id = c.id_b) c)
       |WHERE cosine >= 0.98""".stripMargin

  private lazy val lshTopkSql: String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |, bk AS (${lshBucketSql("embeddings", "t.vec_id AS vec_id", "t.embedding", 6, 64)})
       |, qb AS (${lshBucketSql("q", "1 AS one", "t.qv", 6, 64)})
       |, probes AS (SELECT bucket AS pb FROM qb
       |             UNION ALL
       |             SELECT xor(bucket, 1::BIGINT << i) FROM qb,
       |               (SELECT unnest(range(0, 6)) AS i))
       |SELECT e.vec_id, ${cosSql("e.embedding", "q.qv")} AS cosine
       |FROM embeddings e JOIN bk ON bk.vec_id = e.vec_id, q
       |WHERE bk.bucket IN (SELECT pb FROM probes)
       |ORDER BY cosine DESC, e.vec_id
       |LIMIT 5""".stripMargin

  /** IVF oracle: replays the integer-quantized, hash-sampled Lloyd's build
    * (3 unrolled iterations), the probe-list ranking and the final cosine
    * top-k, exactly as Similarity.ivfBuild/ivfTopK compute them.
    */
  private def ivfDistSql(q: String, c: String): String =
    s"""list_reduce(list_transform(range(1, 65),
       |  k -> (CAST($q[k] AS DOUBLE) - $c[k]) * (CAST($q[k] AS DOUBLE) - $c[k])),
       |  (a, x) -> a + x)""".stripMargin

  /** Shared replay of [[Similarity.ivfBuild]]: CTEs `qv` (quantized
    * vectors), `samp` (md5-permille sample), `c0`..`c{iters}` (Lloyd's),
    * and `af` (full-scan nearest-centroid assignment: vec_id, li). The
    * IVF top-k oracle and the k-means cluster oracles all build on it.
    */
  private def ivfAssignSql(nLists: Int, iters: Int, permille: Int,
                           prefix: String = "", bare: Boolean = false): String = {
    val P = prefix
    val itersSql = (1 to iters).map { t =>
      val prev = s"${P}c${t - 1}"
      s""", ${P}a$t AS (SELECT vec_id, q, li FROM (
         |    SELECT s.vec_id, s.q, c.li,
         |           row_number() OVER (PARTITION BY s.vec_id
         |             ORDER BY ${ivfDistSql("s.q", "c.c")}, c.li) AS rn
         |    FROM ${P}samp s CROSS JOIN $prev c) WHERE rn = 1)
         |, ${P}s$t AS (SELECT li, k, COUNT(*) AS n, SUM(q[k]) AS sk
         |          FROM ${P}a$t, (SELECT unnest(range(1, 65)) AS k) GROUP BY 1, 2)
         |, ${P}c$t AS (SELECT p.li, COALESCE(m.cl, p.c) AS c
         |          FROM $prev p LEFT JOIN
         |            (SELECT li, list(sk / n ORDER BY k) AS cl FROM ${P}s$t GROUP BY li) m
         |          USING (li))""".stripMargin
    }.mkString("\n")
    val lead = if (bare) ", " else "WITH "
    s"""$lead${P}qv AS (SELECT vec_id, embedding,
       |              list_transform(embedding,
       |                x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS q
       |            FROM embeddings WHERE embedding IS NOT NULL)
       |, ${P}samp AS (SELECT vec_id, q FROM ${P}qv
       |           WHERE ('0x'||substr(md5('ivf:'||vec_id),1,15))::BIGINT % 1000 < $permille)
       |, ${P}c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS li,
       |                list_transform(q, x -> CAST(x AS DOUBLE)) AS c
       |         FROM (SELECT vec_id, q FROM ${P}samp ORDER BY vec_id LIMIT $nLists))
       |$itersSql
       |, ${P}af AS (SELECT vec_id, li FROM (
       |    SELECT v.vec_id, c.li,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY ${ivfDistSql("v.q", "c.c")}, c.li) AS rn
       |    FROM ${P}qv v CROSS JOIN ${P}c$iters c) WHERE rn = 1)""".stripMargin
  }

  private lazy val ivfTopkSql: String =
    s"""${ivfAssignSql(nLists = 16, iters = 3, permille = 500)}
       |, qq AS (SELECT embedding AS qraw,
       |                list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1048576.0)) AS qquant
       |         FROM embeddings WHERE vec_id = 0)
       |, pl AS (SELECT li FROM (
       |    SELECT c.li, row_number() OVER (ORDER BY ${ivfDistSql("t.qquant", "c.c")}, c.li) AS rn
       |    FROM c3 c, qq t) WHERE rn <= 4)
       |SELECT e.vec_id, ${cosSql("e.embedding", "t.qraw")} AS cosine
       |FROM embeddings e JOIN af ON af.vec_id = e.vec_id JOIN pl USING (li), qq t
       |ORDER BY cosine DESC, e.vec_id
       |LIMIT 5""".stripMargin

  /** Replay of [[Similarity.pqBuild]] + [[Similarity.pqTopK]]: per-subspace
    * Lloyd's over list_slice'd quantized vectors (same recursion shape as
    * [[ivfAssignSql]]), then ADC — per-subspace distance-table lookup,
    * summed in subspace order (left-fold, matching the JVM loop).
    */
  private def pqAdcSql(m: Int, ksub: Int, iters: Int, permille: Int,
                       dim: Int, k: Int,
                       extraCtes: String = "", extraJoins: String = ""): String = {
    val subDim = dim / m
    def sliceDist(q: String, c: String): String =
      s"""list_reduce(list_transform(range(1, ${subDim + 1}),
         |  k -> (CAST($q[k] AS DOUBLE) - $c[k]) * (CAST($q[k] AS DOUBLE) - $c[k])),
         |  (a, x) -> a + x)""".stripMargin
    val perSub = (0 until m).map { mi =>
      val lo = mi * subDim + 1; val hi = (mi + 1) * subDim
      val itersSql = (1 to iters).map { t =>
        val prev = s"c${t - 1}_$mi"
        s""", a${t}_$mi AS (SELECT vec_id, q, li FROM (
           |    SELECT s.vec_id, s.q, c.li,
           |           row_number() OVER (PARTITION BY s.vec_id
           |             ORDER BY ${sliceDist("s.q", "c.c")}, c.li) AS rn
           |    FROM samp_$mi s CROSS JOIN $prev c) WHERE rn = 1)
           |, s${t}_$mi AS (SELECT li, k, COUNT(*) AS n, SUM(q[k]) AS sk
           |          FROM a${t}_$mi, (SELECT unnest(range(1, ${subDim + 1})) AS k) GROUP BY 1, 2)
           |, c${t}_$mi AS (SELECT p.li, COALESCE(mm.cl, p.c) AS c
           |          FROM $prev p LEFT JOIN
           |            (SELECT li, list(sk / n ORDER BY k) AS cl FROM s${t}_$mi GROUP BY li) mm
           |          USING (li))""".stripMargin
      }.mkString("\n")
      s""", samp_$mi AS (SELECT vec_id, list_slice(q, $lo, $hi) AS q FROM samp)
         |, c0_$mi AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS li,
         |                list_transform(list_slice(q, $lo, $hi), x -> CAST(x AS DOUBLE)) AS c
         |         FROM (SELECT vec_id, q FROM samp ORDER BY vec_id LIMIT $ksub))
         |$itersSql
         |, af_$mi AS (SELECT vec_id, li FROM (
         |    SELECT v.vec_id, c.li,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${sliceDist(s"list_slice(v.q, $lo, $hi)", "c.c")}, c.li) AS rn
         |    FROM qv v CROSS JOIN c${iters}_$mi c) WHERE rn = 1)
         |, td_$mi AS (SELECT c.li,
         |    ${sliceDist(s"list_slice(t.ql, $lo, $hi)", "c.c")} AS d
         |  FROM c${iters}_$mi c, qq t)""".stripMargin
    }.mkString("\n")
    val joins = (0 until m).map(mi =>
      s"JOIN af_$mi USING (vec_id) JOIN td_$mi ON td_$mi.li = af_$mi.li").mkString(" ")
    // left-fold sum in subspace order == the JVM accumulation loop
    val adcSum = (1 until m).foldLeft("td_0.d") { (acc, mi) => s"($acc + td_$mi.d)" }
    s"""WITH qv AS (SELECT vec_id, embedding,
       |              list_transform(embedding,
       |                x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS q
       |            FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = $dim)
       |, samp AS (SELECT vec_id, q FROM qv
       |           WHERE ('0x'||substr(md5('pq:'||vec_id),1,15))::BIGINT % 1000 < $permille)
       |, qq AS (SELECT list_transform(embedding,
       |                  x -> floor(CAST(x AS DOUBLE) * 1048576.0)) AS ql
       |         FROM embeddings WHERE vec_id = 0)
       |$perSub
       |$extraCtes
       |SELECT e.vec_id, $adcSum AS adc_dist
       |FROM (SELECT vec_id FROM qv) e $joins $extraJoins
       |ORDER BY adc_dist, e.vec_id
       |LIMIT $k""".stripMargin
  }

  /** IVF-PQ serving twin: the [[ivfAssignSql]] coarse lists (prefixed `i`)
    * restrict which encoded rows the [[pqAdcSql]] ADC scan may rank —
    * exactly Similarity.ivfPqTopK = pqTopK filtered to the nProbe nearest
    * lists of the quantized query.
    */
  private lazy val ivfPqSql: String = {
    val ivf = ivfAssignSql(nLists = 16, iters = 2, permille = 500,
      prefix = "i", bare = true)
    val probes =
      s"""
         |, ipl AS (SELECT li FROM (
         |    SELECT c.li, row_number() OVER (ORDER BY ${ivfDistSql("t.ql", "c.c")}, c.li) AS rn
         |    FROM ic2 c, qq t) WHERE rn <= 4)""".stripMargin
    pqAdcSql(m = 4, ksub = 8, iters = 2, permille = 500, dim = 64, k = 5,
      extraCtes = ivf + probes,
      extraJoins = "JOIN iaf ON iaf.vec_id = e.vec_id JOIN ipl ON ipl.li = iaf.li")
  }

  /** Query-SET twin of [[pqAdcSql]]+[[ivfPqSql]] for the recall gate:
    * td_mi tables carry (query_id, li, d), the coarse probe list is ranked
    * per query, and the per-query ADC top-k feeds the standard recall
    * tail. Same build CTEs (PQ books per subspace + prefixed IVF), same
    * left-fold ADC association as Similarity.ivfPqKnnJoin.
    */
  private def ivfPqRecallSql(m: Int, ksub: Int, iters: Int, permille: Int,
                             dim: Int, nLists: Int, nProbe: Int,
                             k: Int, withIvf: Boolean = true): String = {
    val subDim = dim / m
    def sliceDist(q: String, c: String): String =
      s"""list_reduce(list_transform(range(1, ${subDim + 1}),
         |  k -> (CAST($q[k] AS DOUBLE) - $c[k]) * (CAST($q[k] AS DOUBLE) - $c[k])),
         |  (a, x) -> a + x)""".stripMargin
    val perSub = (0 until m).map { mi =>
      val lo = mi * subDim + 1; val hi = (mi + 1) * subDim
      val itersSql = (1 to iters).map { t =>
        val prev = s"c${t - 1}_$mi"
        s""", a${t}_$mi AS (SELECT vec_id, q, li FROM (
           |    SELECT s.vec_id, s.q, c.li,
           |           row_number() OVER (PARTITION BY s.vec_id
           |             ORDER BY ${sliceDist("s.q", "c.c")}, c.li) AS rn
           |    FROM samp_$mi s CROSS JOIN $prev c) WHERE rn = 1)
           |, s${t}_$mi AS (SELECT li, k, COUNT(*) AS n, SUM(q[k]) AS sk
           |          FROM a${t}_$mi, (SELECT unnest(range(1, ${subDim + 1})) AS k) GROUP BY 1, 2)
           |, c${t}_$mi AS (SELECT p.li, COALESCE(mm.cl, p.c) AS c
           |          FROM $prev p LEFT JOIN
           |            (SELECT li, list(sk / n ORDER BY k) AS cl FROM s${t}_$mi GROUP BY li) mm
           |          USING (li))""".stripMargin
      }.mkString("\n")
      s""", samp_$mi AS (SELECT vec_id, list_slice(q, $lo, $hi) AS q FROM samp)
         |, c0_$mi AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS li,
         |                list_transform(list_slice(q, $lo, $hi), x -> CAST(x AS DOUBLE)) AS c
         |         FROM (SELECT vec_id, q FROM samp ORDER BY vec_id LIMIT $ksub))
         |$itersSql
         |, af_$mi AS (SELECT vec_id, li FROM (
         |    SELECT v.vec_id, c.li,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${sliceDist(s"list_slice(v.q, $lo, $hi)", "c.c")}, c.li) AS rn
         |    FROM qv v CROSS JOIN c${iters}_$mi c) WHERE rn = 1)
         |, td_$mi AS (SELECT t.query_id, c.li,
         |    ${sliceDist(s"list_slice(t.ql, $lo, $hi)", "c.c")} AS d
         |  FROM c${iters}_$mi c, qs t)""".stripMargin
    }.mkString("\n")
    val ivf =
      if (!withIvf) ""
      else ivfAssignSql(nLists = nLists, iters = iters, permille = permille,
        prefix = "i", bare = true)
    val joins = (0 until m).map { mi =>
      val qconstraint = if (mi == 0) "" else s" AND td_$mi.query_id = td_0.query_id"
      s"JOIN af_$mi USING (vec_id) JOIN td_$mi ON td_$mi.li = af_$mi.li$qconstraint"
    }.mkString(" ")
    val adcSum = (1 until m).foldLeft("td_0.d") { (acc, mi) => s"($acc + td_$mi.d)" }
    s"""WITH qv AS (SELECT vec_id, embedding,
       |              list_transform(embedding,
       |                x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS q
       |            FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = $dim)
       |, samp AS (SELECT vec_id, q FROM qv
       |           WHERE ('0x'||substr(md5('pq:'||vec_id),1,15))::BIGINT % 1000 < $permille)
       |, qs AS (SELECT vec_id AS query_id, embedding AS qraw,
       |                list_transform(embedding,
       |                  x -> floor(CAST(x AS DOUBLE) * 1048576.0)) AS ql
       |         FROM embeddings WHERE vec_id % 100 = 0)
       |$perSub
       |$ivf
       |${if (withIvf)
           s""", ipl AS (SELECT query_id, li FROM (
              |    SELECT t.query_id, c.li, row_number() OVER (PARTITION BY t.query_id
              |      ORDER BY ${ivfDistSql("t.ql", "c.c")}, c.li) AS rn
              |    FROM ic$iters c, qs t) WHERE rn <= $nProbe)""".stripMargin
         else ""}
       |, adc AS (SELECT td_0.query_id, e.vec_id, $adcSum AS adc_dist
       |  FROM (SELECT vec_id FROM qv) e $joins
       |  ${if (withIvf)
            "JOIN iaf ON iaf.vec_id = e.vec_id JOIN ipl ON ipl.li = iaf.li AND ipl.query_id = td_0.query_id"
          else ""})
       |, pq$k AS (SELECT query_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY adc_dist, vec_id) AS rank
       |    FROM adc) WHERE rank <= $k)
       |, scored_e AS (
       |  SELECT q.query_id, e.vec_id, ${cosSql("e.embedding", "q.qraw")} AS cosine
       |  FROM embeddings e, qs q)
       |, exact$k AS (SELECT query_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cosine DESC, vec_id) AS rank
       |    FROM scored_e WHERE cosine IS NOT NULL AND NOT isnan(cosine))
       |  WHERE rank <= $k)
       |, en AS (SELECT query_id, COUNT(*) AS n_exact FROM exact$k GROUP BY 1)
       |, hn AS (SELECT e.query_id, COUNT(*) AS n_hit
       |         FROM exact$k e JOIN pq$k a USING (query_id, vec_id) GROUP BY 1)
       |SELECT en.query_id, en.n_exact, COALESCE(hn.n_hit, 0) AS n_hit,
       |       CAST(COALESCE(hn.n_hit, 0) AS DOUBLE) / CAST(en.n_exact AS DOUBLE) AS recall
       |FROM en LEFT JOIN hn ON hn.query_id = en.query_id""".stripMargin
  }

  private val dataOpsQs2: Seq[OracleQuery] = Seq(
    // Multimodal plumbing end-to-end: binary column + typed metadata through
    // the batched mapPartitions decoder. Text bytes are no recognizable
    // container, so every row takes the deterministic stub path; the decode
    // METADATA (sniffed codec, byte length, ok flag) is the SQL-checkable
    // surface.
    OracleQuery("media_features_meta",
      (s, dir) => {
        val media = Multimodal.syntheticMediaFromDocuments(s, s"$dir/documents.parquet")
        Multimodal.extractFeatures(media, dim = 16).toDF()
          .select(col("asset_id"), col("media_type"), col("n_bytes"),
            col("codec"), col("width"), col("height"),
            col("sample_rate"), col("duration_ms"), col("ok"))
      },
      // audio assets carry (n_chars%32 + 2) synthetic 48kHz/192kbps Layer
      // III frames: 576 bytes and exactly 24 ms each; video assets carry a
      // constant-457-byte MP4 box tree whose H.264 SPS encodes
      // ((n%8)+1)*16 × ((n%4)+1)*16 at n_chars*10 ms — the oracle predicts
      // the header-derived metadata the JVM parsers must recover
      Some("""SELECT doc_id AS asset_id,
         |  CASE WHEN doc_id % 3 = 0 THEN 'image'
         |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
         |  CASE WHEN doc_id % 3 = 1
         |       THEN CAST(((COALESCE(n_chars, 0) % 32) + 2) * 576 AS BIGINT)
         |       WHEN doc_id % 3 = 2 THEN CAST(457 AS BIGINT)
         |       ELSE CAST(octet_length(encode(text)) AS BIGINT) END AS n_bytes,
         |  CASE WHEN doc_id % 3 = 1 THEN 'mp3'
         |       WHEN doc_id % 3 = 2 THEN 'mp4-avc1'
         |       WHEN text IS NULL OR octet_length(encode(text)) = 0 THEN 'none'
         |       WHEN text LIKE 'BM%' AND octet_length(encode(text)) > 2 THEN 'bmp'
         |       WHEN text LIKE 'GIF%' AND octet_length(encode(text)) > 6 THEN 'gif'
         |       ELSE 'stub' END AS codec,
         |  CASE WHEN doc_id % 3 = 2
         |       THEN CAST(((COALESCE(n_chars, 0) % 8) + 1) * 16 AS INTEGER) END AS width,
         |  CASE WHEN doc_id % 3 = 2
         |       THEN CAST(((COALESCE(n_chars, 0) % 4) + 1) * 16 AS INTEGER) END AS height,
         |  CASE WHEN doc_id % 3 = 1 THEN 48000 END AS sample_rate,
         |  CASE WHEN doc_id % 3 = 1
         |       THEN CAST(((COALESCE(n_chars, 0) % 32) + 2) * 24 AS BIGINT)
         |       WHEN doc_id % 3 = 2
         |       THEN CAST(COALESCE(n_chars, 0) * 10 AS BIGINT) END AS duration_ms,
         |  CASE WHEN doc_id % 3 IN (1, 2) THEN TRUE
         |       WHEN text IS NULL OR octet_length(encode(text)) = 0 THEN FALSE
         |       WHEN text LIKE 'BM%' AND octet_length(encode(text)) > 2 THEN FALSE
         |       WHEN text LIKE 'GIF%' AND octet_length(encode(text)) > 6 THEN FALSE
         |       ELSE TRUE END AS ok
         |FROM documents""".stripMargin)),

    // Frame-sampling plan (sequence+explode, no driver loop): one row per
    // sampled frame of each video asset.
    OracleQuery("media_frame_plan",
      (s, dir) => {
        val media = Multimodal.syntheticMediaFromDocuments(s, s"$dir/documents.parquet")
        Multimodal.sampleFrames(media, everyMs = 5000L)
      },
      Some("""SELECT doc_id AS asset_id,
         |       unnest(range(0, GREATEST(n_chars * 10 - 1, 0) + 1, 5000)) AS frame_ms
         |FROM documents WHERE doc_id % 3 = 2""".stripMargin)),

    // Frame plan from PARSED MP4 durations (mvhd box, not caller metadata):
    // video assets carry n_chars*10 ms containers, so the oracle predicts
    // the grid from the generation arithmetic. Zero-duration containers
    // (null n_chars) still emit frame 0 — sequence(0, greatest(-1, 0)).
    OracleQuery("media_frame_plan_decoded",
      (s, dir) => {
        val media = Multimodal.syntheticMediaFromDocuments(s, s"$dir/documents.parquet")
        Multimodal.sampleFramesDecoded(media, everyMs = 5000L)
      },
      Some("""SELECT doc_id AS asset_id,
         |       unnest(range(0, GREATEST(COALESCE(n_chars, 0) * 10 - 1, 0) + 1,
         |                    5000)) AS frame_ms
         |FROM documents WHERE doc_id % 3 = 2""".stripMargin)),

    // Perceptual dHash through the REAL PPM decode: 9x8 images with
    // md5-derived pixels (identity grid sampling at that size), so the
    // oracle replays the hash from the generation formula — bit (y,x) is
    // an INTEGER pixel comparison (the luminance map is strictly monotone
    // in the gray byte), no image decode or FP needed on the DuckDB side.
    // The decode itself (PNG/ImageIO paths, resampling) is unit-tested on
    // real payloads.
    OracleQuery("media_image_dhash",
      (s, dir) => {
        val ppmUdf = udf((d: Long) => {
          val header = "P6\n9 8\n255\n".getBytes("US-ASCII")
          val px = new Array[Byte](3 * 9 * 8)
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 9) {
              val v = (Dedup.md560(s"px:$d:$x:$y") % 256L).toInt
              val i = 3 * (y * 9 + x)
              px(i) = v.toByte; px(i + 1) = v.toByte; px(i + 2) = v.toByte
              x += 1
            }
            y += 1
          }
          header ++ px
        })
        val media = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id").as("asset_id"),
            lit("image").as("media_type"), ppmUdf(col("doc_id")).as("bytes"))
        Multimodal.imageDHash(media).toDF()
          .select(col("asset_id"), col("ok"), col("codec"), col("dhash"))
      },
      Some("""WITH px AS (
         |  SELECT doc_id, x, y,
         |         ('0x'||substr(md5('px:'||CAST(doc_id AS VARCHAR)||':'
         |            ||CAST(x AS VARCHAR)||':'||CAST(y AS VARCHAR)),1,15))::BIGINT
         |           % 256 AS v
         |  FROM documents, UNNEST(range(0, 9)) tx(x), UNNEST(range(0, 8)) ty(y))
         |, bits AS (
         |  SELECT a.doc_id, CAST(a.y * 8 + a.x AS INT) AS k,
         |         CASE WHEN a.v < b.v THEN 1 ELSE 0 END AS bit
         |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.y = a.y
         |                     AND b.x = a.x + 1
         |  WHERE a.x < 8)
         |SELECT doc_id AS asset_id, TRUE AS ok, 'ppm-p6' AS codec,
         |       -- DuckDB range-checks 1<<63; the sign bit needs its literal
         |       COALESCE(bit_or(CASE WHEN bit = 0 THEN NULL
         |                            WHEN k = 63 THEN -9223372036854775807 - 1
         |                            ELSE (1::BIGINT << k) END), 0) AS dhash
         |FROM bits GROUP BY 1""".stripMargin)),

    // MinHash + LSH banding near-dup pairs. Seeded exact duplicates (the
    // doc_exact_dup_groups shifted-copy trick) guarantee collisions in every
    // band, so the pair output is non-empty and deterministic.
    OracleQuery("doc_minhash_pairs",
      (s, dir) => {
        val docs = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
        val copies = docs.filter(col("doc_id") < 50)
          .withColumn("doc_id", col("doc_id") + 10000)
        Dedup.minhashPairs(docs.unionByName(copies), "doc_id", "text", portable = true)
          .filter(col("est_jaccard") >= 0.5)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(minhashSql)),

    // Edit-distance-refined near-dup pairs: mutated copies (a 3-char
    // suffix) of the first 50 docs; MinHash-LSH candidates filtered to
    // Levenshtein <= 5. Both engines compute the identical integer DP
    // distance on identical candidate sets.
    OracleQuery("doc_edit_distance_pairs",
      (s, dir) => {
        val docs = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
        val copies = docs.filter(col("doc_id") < 50)
          .withColumn("doc_id", col("doc_id") + 10000)
          .withColumn("text", concat(col("text"), lit(" zq")))
        Dedup.editDistancePairs(docs.unionByName(copies), "doc_id", "text",
            maxDist = 5, portable = true)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH docs2 AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000, text || ' zq' FROM documents WHERE doc_id < 50)
         |, pairs AS (SELECT * FROM (${minhashPairsSql(
              """SELECT doc_id, text FROM documents
                |  UNION ALL
                |  SELECT doc_id + 10000, text || ' zq' FROM documents WHERE doc_id < 50""".stripMargin)}))
         |SELECT p.id_a, p.id_b,
         |       CAST(levenshtein(a.text, b.text) AS INTEGER) AS edit_dist
         |FROM pairs p
         |JOIN docs2 a ON a.doc_id = p.id_a
         |JOIN docs2 b ON b.doc_id = p.id_b
         |WHERE levenshtein(a.text, b.text) <= 5""".stripMargin)),

    // Dedup cluster resolution: connected components over the minhash
    // candidate pairs (same seeded-copy corpus), labeling every doc with
    // the smallest id in its cluster. DuckDB replays it as transitive
    // closure via a recursive CTE.
    OracleQuery("doc_dedup_components",
      (s, dir) => {
        val docs = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
        val copies = docs.filter(col("doc_id") < 50)
          .withColumn("doc_id", col("doc_id") + 10000)
        val pairs = Dedup.minhashPairs(docs.unionByName(copies), "doc_id", "text",
            portable = true)
          .filter(col("est_jaccard") >= 0.5)
        Dedup.connectedComponents(pairs)
          .select(col("id").as("doc_id"), col("component"))
      },
      Some(s"""WITH RECURSIVE pairs AS (
         |  SELECT id_a, id_b FROM ($minhashSql)
         |), edges AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION
         |  SELECT id_b, id_a FROM pairs
         |), nodes AS (SELECT DISTINCT a AS id FROM edges
         |), reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a
         |)
         |SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY 1""".stripMargin)),

    // End-to-end dedup decision: the same corpus with every non-minimal
    // cluster member removed (pairs -> components -> anti-join).
    OracleQuery("doc_dedup_kept",
      (s, dir) => {
        val docs = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
        val copies = docs.filter(col("doc_id") < 50)
          .withColumn("doc_id", col("doc_id") + 10000)
        Dedup.deduplicate(docs.unionByName(copies), "doc_id", "text", portable = true)
          .select(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE all_docs AS (
         |  SELECT doc_id FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000 FROM documents WHERE doc_id < 50
         |), pairs AS (
         |  SELECT id_a, id_b FROM ($minhashSql)
         |), edges AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION
         |  SELECT id_b, id_a FROM pairs
         |), nodes AS (SELECT DISTINCT a AS id FROM edges
         |), reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a
         |), comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY 1)
         |SELECT doc_id FROM all_docs
         |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component)""".stripMargin)),

    // SimHash near-dup pairs over the same seeded duplicates.
    OracleQuery("doc_simhash_pairs",
      (s, dir) => {
        val docs = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
        val copies = docs.filter(col("doc_id") < 50)
          .withColumn("doc_id", col("doc_id") + 10000)
        Dedup.simhashPairs(docs.unionByName(copies), "doc_id", "text", maxHamming = 3,
            portable = true)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(simhashSql)),

    // Hyperplane-LSH bucketed ANN (multi-probe) — approximate counterpart of
    // ann_bruteforce_top5, same query vector.
    OracleQuery("ann_lsh_top5",
      (s, dir) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val q = emb.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)
        Similarity.lshTopK(emb, "embedding", q, 5, "vec_id", nPlanes = 6,
          portable = true)
      },
      Some(lshTopkSql)),

    // IVF coarse-quantized ANN: k-means index build + nProbe-list search.
    OracleQuery("ann_ivf_top5",
      (s, dir) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val q = emb.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)
        val (centroids, assignments) = Similarity.ivfBuild(emb, "embedding", "vec_id",
          nLists = 16, iters = 3, samplePermille = 500)
        Similarity.ivfTopK(assignments, centroids, "embedding", q, 5, "vec_id", nProbe = 4)
      },
      Some(ivfTopkSql)),

    // Product-quantization ADC top-k: per-subspace codebooks trained with
    // the deterministic quantized-Lloyd's-on-a-hash-sample recipe, corpus
    // encoded to 4 codes/vector, query answered from distance-table
    // lookups alone (no raw vectors touched). The oracle replays the build
    // per subspace and sums the table entries in the same fold order.
    OracleQuery("ann_pq_adc_top5",
      (s, dir) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val q = emb.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)
        val (books, encoded) = Similarity.pqBuild(emb, "embedding", "vec_id",
          m = 4, ksub = 8, iters = 2, samplePermille = 500)
        Similarity.pqTopK(encoded, books, q, 5, "vec_id")
      },
      Some(pqAdcSql(m = 4, ksub = 8, iters = 2, permille = 500, dim = 64, k = 5))),

    // IVF-PQ serving: coarse-list pruning bounds the scan fraction, ADC
    // bounds the per-row cost — the reference-scale two-level ANN index,
    // now oracled END-TO-END (both halves were already oracled alone).
    OracleQuery("ann_ivfpq_top5",
      (s, dir) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val q = emb.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)
        val (cents, books, indexed) = Similarity.ivfPqBuild(emb, "embedding",
          "vec_id", nLists = 16, m = 4, ksub = 8, iters = 2, samplePermille = 500)
        Similarity.ivfPqTopK(indexed, cents, books, q, 5, "vec_id", nProbe = 4)
      },
      Some(ivfPqSql)),

    // K-means cluster assignment exposed as curation clustering: per-cluster
    // member counts over the deterministic IVF build (hash sample, first-k
    // init, 3 Lloyd's iterations) — the SemDeDup/DCLM clustering step.
    OracleQuery("emb_cluster_sizes",
      (s, dir) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        Similarity.kmeansAssign(emb, "embedding", "vec_id", k = 16,
            iters = 3, samplePermille = 500)
          .groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
      },
      Some(s"""${ivfAssignSql(nLists = 16, iters = 3, permille = 500)}
         |SELECT CAST(li AS INTEGER) AS cluster, CAST(COUNT(*) AS BIGINT) AS n_members
         |FROM af GROUP BY 1
         |UNION ALL
         |SELECT CAST(-1 AS INTEGER), CAST(COUNT(*) AS BIGINT) FROM embeddings
         |WHERE embedding IS NULL HAVING COUNT(*) > 0""".stripMargin)),

    // Per-label centroid cosine: label centroids from exact integer-
    // quantized sums, every row scored against its own label's centroid —
    // the class-typicality curation signal. Both engines fold the cosine
    // dims in ascending order and divide the same BIGINT sums.
    OracleQuery("emb_label_centroid_cos",
      (s, dir) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        Similarity.labelCentroidScores(emb, "embedding", "vec_id", "label")
      },
      Some(s"""WITH qv AS (SELECT vec_id, label,
         |    list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS q
         |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64)
         |, cs AS (SELECT label, k, COUNT(*) AS n, SUM(q[k]) AS sk
         |  FROM qv, (SELECT unnest(range(1, 65)) AS k)
         |  WHERE label IS NOT NULL GROUP BY 1, 2)
         |, cent AS (SELECT label, list(sk / n ORDER BY k) AS c FROM cs GROUP BY 1)
         |SELECT e.vec_id, e.label,
         |  CASE WHEN v.q IS NOT NULL THEN
         |    ${cosSql("list_transform(v.q, x -> CAST(x AS DOUBLE))", "c.c")}
         |  END AS centroid_cos
         |FROM embeddings e
         |LEFT JOIN qv v USING (vec_id)
         |LEFT JOIN cent c ON c.label = e.label""".stripMargin)),

    // Cluster-balanced curation sample: up to 5 members per cluster in
    // portable salted-md5 hash order — the diversity-preserving downsample.
    OracleQuery("emb_cluster_sample",
      (s, dir) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        Similarity.clusterBalancedSample(emb, "embedding", "vec_id", k = 16,
          perCluster = 5, salt = "cbs", iters = 3, samplePermille = 500)
      },
      Some(s"""${ivfAssignSql(nLists = 16, iters = 3, permille = 500)}
         |SELECT CAST(li AS INTEGER) AS cluster, pick, vec_id FROM (
         |  SELECT li, vec_id,
         |         CAST(row_number() OVER (PARTITION BY li
         |           ORDER BY ('0x'||substr(md5('cbs:'||vec_id),1,15))::BIGINT,
         |                    vec_id) AS INTEGER) AS pick
         |  FROM af)
         |WHERE pick <= 5""".stripMargin)),

    // Embedding near-dup pairs via hyperplane buckets; seeded exact vector
    // copies guarantee cosine-1.0 pairs in every bucket.
    OracleQuery("emb_near_dup_pairs",
      (s, dir) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet").select(col("vec_id"), col("embedding"))
        val copies = emb.filter(col("vec_id") < 50)
          .withColumn("vec_id", col("vec_id") + 100000)
        Similarity.embeddingNearDupPairs(emb.unionByName(copies), "vec_id", "embedding",
          threshold = 0.98, portable = true)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(embNearDupSql)),

    // SemDeDup end-to-end: the seeded-copy embedding corpus with every
    // non-minimal member of a cosine>=0.98 near-dup cluster removed
    // (pairs -> connected components -> anti-join). Null-embedding rows
    // never pair, so they all survive.
    OracleQuery("emb_semantic_dedup_kept",
      (s, dir) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet").select(col("vec_id"), col("embedding"))
        val copies = emb.filter(col("vec_id") < 50)
          .withColumn("vec_id", col("vec_id") + 100000)
        Similarity.semanticDedup(emb.unionByName(copies), "vec_id", "embedding",
          threshold = 0.98, portable = true)
          .select(col("vec_id"))
      },
      Some(s"""WITH RECURSIVE all_vecs AS (
         |  SELECT vec_id FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000 FROM embeddings WHERE vec_id < 50
         |), pairs AS (
         |  SELECT id_a, id_b FROM ($embNearDupSql)
         |), edges AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION
         |  SELECT id_b, id_a FROM pairs
         |), nodes AS (SELECT DISTINCT a AS id FROM edges
         |), reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a
         |), comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY 1)
         |SELECT vec_id FROM all_vecs
         |WHERE vec_id NOT IN (SELECT id FROM comp WHERE id <> component)""".stripMargin)),
  )

  // events: second source, gapped per-user calendars
  private val eventQs: Seq[OracleQuery] = Seq(
    OracleQuery("events_panel_agg",
      (s, dir) => Panels.eventsDaily(s, dir)
        .select(col("unique_id"), col("ds"), col("n_events"), col("y").as("v")),
      Some("""SELECT user_id AS unique_id, CAST(ts AS DATE) AS ds,
         |       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS v
         |FROM events GROUP BY 1, 2""".stripMargin)),

    // fill_gaps densification of the sparse event-derived panel: every
    // series' missing grid days appear with null y; counts/sums over the
    // filled panel are the SQL-checkable surface.
    OracleQuery("events_fill_gaps",
      (s, dir) => {
        val panel = Panels.events(s, dir)
          .groupBy(col("user_id").as("unique_id"), to_date(col("ts")).as("ds"))
          .agg(count(lit(1)).cast("double").as("y"))
        PanelFrame(panel, freq = Freq.Day).fillGaps().df
          .select(col("unique_id"), col("ds"), col("y"))
      },
      Some("""WITH panel AS (
         |  SELECT user_id AS unique_id, CAST(ts AS DATE) AS ds,
         |         CAST(COUNT(*) AS DOUBLE) AS y
         |  FROM events GROUP BY 1, 2)
         |, bounds AS (SELECT unique_id, MIN(ds) AS lo, MAX(ds) AS hi
         |             FROM panel GROUP BY 1)
         |, grid AS (SELECT unique_id,
         |                  CAST(unnest(generate_series(lo, hi,
         |                    INTERVAL 1 DAY)) AS DATE) AS ds
         |           FROM bounds)
         |SELECT g.unique_id, g.ds, p.y
         |FROM grid g LEFT JOIN panel p USING (unique_id, ds)""".stripMargin)),

    // Imputation over the densified event panel: forward/backward fill and
    // pandas-style linear interpolation of the null runs fill_gaps creates.
    // globalStart=true manufactures leading nulls so the stays-null branch
    // is exercised; both engines compute the interpolation fraction as the
    // same double expression (day steps since prev anchor / anchor span).
    OracleQuery("events_impute_ffill_interp",
      (s, dir) => {
        val panel = Panels.events(s, dir)
          .groupBy(col("user_id").as("unique_id"), to_date(col("ts")).as("ds"))
          .agg(count(lit(1)).cast("double").as("y"))
        val dense = PanelFrame(panel, freq = Freq.Day).fillGaps(globalStart = true)
        val ff = dense.copy(df = dense.df.withColumn("y_ff", col("y"))
            .withColumn("y_bf", col("y")).withColumn("y_li", col("y")))
          .fillForward(Seq("y_ff")).fillBackward(Seq("y_bf"))
          .interpolateLinear("y_li")
        ff.df.select(col("unique_id"), col("ds"), col("y"),
          col("y_ff"), col("y_bf"), col("y_li").cast("double").as("y_li"))
      },
      Some("""WITH panel AS (
         |  SELECT user_id AS unique_id, CAST(ts AS DATE) AS ds,
         |         CAST(COUNT(*) AS DOUBLE) AS y
         |  FROM events GROUP BY 1, 2)
         |, bounds AS (SELECT unique_id, MIN(ds) AS hi0, MAX(ds) AS hi
         |             FROM panel GROUP BY 1)
         |, glo AS (SELECT MIN(ds) AS lo FROM panel)
         |, grid AS (SELECT unique_id,
         |                  CAST(unnest(generate_series(lo, hi,
         |                    INTERVAL 1 DAY)) AS DATE) AS ds
         |           FROM bounds, glo)
         |, dense AS (SELECT g.unique_id, g.ds, p.y
         |            FROM grid g LEFT JOIN panel p USING (unique_id, ds))
         |, anch AS (SELECT unique_id, ds, y,
         |    last_value(y IGNORE NULLS) OVER wp AS pv,
         |    last_value(CASE WHEN y IS NOT NULL THEN ds END IGNORE NULLS) OVER wp AS pt,
         |    first_value(y IGNORE NULLS) OVER wn AS nv,
         |    first_value(CASE WHEN y IS NOT NULL THEN ds END IGNORE NULLS) OVER wn AS nt
         |  FROM dense
         |  WINDOW wp AS (PARTITION BY unique_id ORDER BY ds
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |         wn AS (PARTITION BY unique_id ORDER BY ds
         |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT unique_id, ds, y, pv AS y_ff, nv AS y_bf,
         |  CAST(CASE WHEN y IS NOT NULL THEN y
         |       WHEN pv IS NULL THEN NULL
         |       WHEN nv IS NULL THEN pv
         |       ELSE pv + (nv - pv) * (CAST(ds - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
         |  END AS DOUBLE) AS y_li
         |FROM anch""".stripMargin)),

    OracleQuery("events_global_rolling_mean",
      (s, dir) => {
        val panel = Panels.events(s, dir)
          .groupBy(col("user_id").as("unique_id"), to_date(col("ts")).as("ds"))
          .agg(count(lit(1)).cast("double").as("y"))
        val p = PanelFrame(panel, freq = Freq.Day)
        val t = RollingMean(14, pooling = Pooling(global = true))
        Featurizer.addFeatures(p, FeatureSpec(lagTransforms = Map(1 -> Seq(t))))
          .select(col("unique_id"), col("ds"),
            col(s"`${t.name(1)}`").cast("double").as("erm"))
      },
      Some("""WITH panel AS (
         |  SELECT user_id AS unique_id, CAST(ts AS DATE) AS ds,
         |         CAST(COUNT(*) AS DOUBLE) AS y
         |  FROM events GROUP BY 1, 2)
         |, cal AS (SELECT ds, CAST(DENSE_RANK() OVER (ORDER BY ds) - 1 AS BIGINT) AS o
         |          FROM (SELECT DISTINCT ds FROM panel))
         |, pd AS (SELECT p.*, c.o FROM panel p JOIN cal c USING (ds))
         |SELECT unique_id, ds, CAST((CASE WHEN COUNT(y) OVER w >= 14 AND COUNT(y) OVER w > 0
         |       THEN SUM(y) OVER w / COUNT(y) OVER w END) AS DOUBLE) AS erm
         |FROM pd
         |WINDOW w AS (ORDER BY o RANGE BETWEEN 14 PRECEDING AND 1 PRECEDING)""".stripMargin)),
  )

  // ---------------------------------------------------------------- batch 8:
  // corpus curation (operators/Corpus.scala): repetition stats, cross-corpus
  // contamination, Gopher quality gate, PII scrubbing, deterministic
  // sampling. Every oracle replays the exact kernel formula — tokenization
  // as in the doc_text_stats twin, sampling via the shared md5 spelling.

  import graft.operators.Corpus

  /** DuckDB spelling of `TextFunctions.tokens(lower(text))`. */
  /** Spark `percentile` semantics over CTE columns (arr, n): lerp
    * `(ceil(pos)-pos)*lo + (pos-floor(pos))*hi` with equal-endpoint
    * collapse — NOT QUANTILE_CONT, which can land one ulp away.
    */
  private def sparkPctSql(frac: String): String = {
    val pos = s"(($frac) * (n - 1))"
    val lo = s"arr[CAST(floor($pos) AS BIGINT) + 1]"
    val hi = s"arr[CAST(ceil($pos) AS BIGINT) + 1]"
    s"CASE WHEN $lo = $hi THEN $lo ELSE (ceil($pos) - $pos) * $lo + ($pos - floor($pos)) * $hi END"
  }

  private val lowerToksSql =
    "list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != '')"

  /** The stopword vocabulary as a DuckDB LIST literal (same 18 words as
    * `stopListSql`'s IN-tuple, in TextFunctions.stopwordList order).
    */
  private val stopListSql2 =
    TextFunctions.stopwordList.map(w => s"'$w'").mkString("[", ",", "]")

  private val corpusQs: Seq[OracleQuery] = Seq(
    // Within-doc duplicate token / bigram fractions (Gopher "repetitious
    // text"): a pure per-row map on both sides; DuckDB's range(1, len) is
    // empty for len <= 1, matching the kernel's <n-token guard.
    OracleQuery("doc_rep_ngram_stats",
      (s, dir) => Corpus.repetitionStats(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", n = 2),
      Some(s"""WITH toks AS (
         |  SELECT doc_id, $lowerToksSql AS ts FROM documents)
         |, sh AS (
         |  SELECT doc_id, ts,
         |         list_transform(range(1, len(ts)),
         |           i -> array_to_string(list_slice(ts, i, i + 1), ' ')) AS gs
         |  FROM toks)
         |SELECT doc_id,
         |  CAST(len(ts) AS INT) AS n_tokens,
         |  CAST(len(list_distinct(ts)) AS INT) AS n_distinct_tokens,
         |  CAST(len(gs) AS INT) AS n_ngrams,
         |  CAST(len(list_distinct(gs)) AS INT) AS n_distinct_ngrams,
         |  CASE WHEN len(ts) > 0 THEN
         |    CAST(len(ts) - len(list_distinct(ts)) AS DOUBLE) / len(ts) END AS dup_token_fraction,
         |  CASE WHEN len(gs) > 0 THEN
         |    CAST(len(gs) - len(list_distinct(gs)) AS DOUBLE) / len(gs) END AS dup_ngram_fraction
         |FROM sh""".stripMargin)),

    // Per-doc contamination: how many of my distinct 3-grams exist in >= 2
    // docs (the inverted-index dedup diagnostic).
    OracleQuery("doc_shared_shingle_stats",
      (s, dir) => Corpus.sharedShingleStats(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", n = 3),
      Some(s"""WITH toks AS (
         |  SELECT doc_id, $lowerToksSql AS ts FROM documents)
         |, sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ts) - 1),
         |           i -> array_to_string(list_slice(ts, i, i + 2), ' ')))) AS g
         |  FROM toks WHERE len(ts) >= 3)
         |, cnt AS (SELECT g, COUNT(*) AS gdf FROM sh GROUP BY 1)
         |, per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |                 CAST(SUM(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
         |          FROM sh JOIN cnt USING (g) GROUP BY 1)
         |SELECT d.doc_id,
         |       COALESCE(per.n_shingles, 0) AS n_shingles,
         |       COALESCE(per.n_shared, 0) AS n_shared,
         |       CASE WHEN COALESCE(per.n_shingles, 0) > 0
         |            THEN CAST(per.n_shared AS DOUBLE) / per.n_shingles END AS shared_fraction
         |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin)),

    // Pre-training chunk prep: 50-token windows, 10-token overlap.
    OracleQuery("doc_chunks_50_10",
      (s, dir) => Corpus.chunkByTokens(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        chunkSize = 50, overlap = 10),
      Some(s"""WITH toks AS (
         |  SELECT doc_id,
         |         list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t != '') AS ts
         |  FROM documents)
         |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
         |       array_to_string(list_slice(ts, i * 40 + 1, i * 40 + 50), ' ') AS chunk_text,
         |       CAST(len(list_slice(ts, i * 40 + 1, i * 40 + 50)) AS INT) AS n_tokens
         |FROM toks, unnest(range(0, CAST(floor((len(ts) - 1) / 40.0) AS INT) + 1)) AS u(i)
         |WHERE len(ts) > 0""".stripMargin)),

    // Benchmark decontamination: docs with doc_id % 20 == 0 play the
    // held-out benchmark; the rest are the training corpus. Fraction of
    // each benchmark doc's distinct 3-grams present anywhere in train.
    OracleQuery("doc_benchmark_contamination",
      (s, dir) => {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        Corpus.benchmarkContamination(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", n = 3)
      },
      Some(s"""WITH toks AS (
         |  SELECT doc_id, $lowerToksSql AS ts FROM documents)
         |, sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ts) - 1),
         |           i -> array_to_string(list_slice(ts, i, i + 2), ' ')))) AS g
         |  FROM toks WHERE len(ts) >= 3)
         |, train AS (SELECT DISTINCT g FROM sh WHERE doc_id % 20 <> 0)
         |, per AS (
         |  SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
         |         CAST(SUM(CASE WHEN t.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
         |  FROM (SELECT doc_id, g FROM sh WHERE doc_id % 20 = 0) b
         |  LEFT JOIN train t ON b.g = t.g
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |       COALESCE(per.n_ngrams, 0) AS n_ngrams,
         |       COALESCE(per.n_contaminated, 0) AS n_contaminated,
         |       CASE WHEN COALESCE(per.n_ngrams, 0) > 0
         |            THEN CAST(per.n_contaminated AS DOUBLE) / per.n_ngrams END
         |         AS contamination_fraction
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 = 0) d
         |LEFT JOIN per USING (doc_id)""".stripMargin)),

    // Two-phase Bloom decontamination screen: identical output contract to
    // doc_benchmark_contamination (the exact verify removes every Bloom
    // false positive), so the SQL twin is the exact computation.
    OracleQuery("doc_contamination_bloom",
      (s, dir) => {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        Corpus.benchmarkContaminationBloom(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", n = 3)
      },
      Some(s"""WITH toks AS (
         |  SELECT doc_id, $lowerToksSql AS ts FROM documents)
         |, sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ts) - 1),
         |           i -> array_to_string(list_slice(ts, i, i + 2), ' ')))) AS g
         |  FROM toks WHERE len(ts) >= 3)
         |, train AS (SELECT DISTINCT g FROM sh WHERE doc_id % 20 <> 0)
         |, per AS (
         |  SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
         |         CAST(SUM(CASE WHEN t.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
         |  FROM (SELECT doc_id, g FROM sh WHERE doc_id % 20 = 0) b
         |  LEFT JOIN train t ON b.g = t.g
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |       COALESCE(per.n_ngrams, 0) AS n_ngrams,
         |       COALESCE(per.n_contaminated, 0) AS n_contaminated,
         |       CASE WHEN COALESCE(per.n_ngrams, 0) > 0
         |            THEN CAST(per.n_contaminated AS DOUBLE) / per.n_ngrams END
         |         AS contamination_fraction
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 = 0) d
         |LEFT JOIN per USING (doc_id)""".stripMargin)),

    // Gopher-rule quality gate: each flag's SQL replays the exact Spark
    // formula (same regex classes as the doc_text_stats twin).
    OracleQuery("doc_gopher_filter",
      (s, dir) => Corpus.gopherFilter(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text"),
      Some(s"""WITH toks AS (
         |  SELECT doc_id, text, $lowerToksSql AS lts,
         |         list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t != '') AS ts
         |  FROM documents)
         |, parts AS (
         |  SELECT doc_id,
         |    len(lts) AS n_tokens,
         |    COALESCE(CASE WHEN len(ts) > 0 THEN
         |      CAST(list_reduce(list_transform(ts, t -> len(t)), (a, x) -> a + x) AS DOUBLE) / len(ts)
         |    END, 0.0) AS mwl,
         |    CASE WHEN len(text) > 0 THEN
         |      CAST(len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / len(text)
         |    ELSE 0.0 END AS punct_ratio,
         |    CASE WHEN len(text) > 0 THEN
         |      CAST(len(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS DOUBLE) / len(text)
         |    ELSE 0.0 END AS alpha_ratio,
         |    len(list_filter($stopListSql2, s -> list_contains(lts, s))) AS stop_hits
         |  FROM toks)
         |SELECT doc_id,
         |  CASE WHEN n_tokens BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS word_count_ok,
         |  CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END AS mean_word_len_ok,
         |  CASE WHEN punct_ratio <= 0.1 THEN 1 ELSE 0 END AS symbol_ratio_ok,
         |  CASE WHEN alpha_ratio >= 0.7 THEN 1 ELSE 0 END AS alpha_ratio_ok,
         |  CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS stopwords_ok,
         |  (CASE WHEN n_tokens BETWEEN 50 AND 100000 THEN 1 ELSE 0 END)
         |    * (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END)
         |    * (CASE WHEN punct_ratio <= 0.1 THEN 1 ELSE 0 END)
         |    * (CASE WHEN alpha_ratio >= 0.7 THEN 1 ELSE 0 END)
         |    * (CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END) AS keep
         |FROM parts""".stripMargin)),

    // PII scrub: the corpus has no PII, so both sides append the SAME
    // deterministic synthetic contact block (email + IPv4 + E.164-ish
    // phone derived from doc_id) before counting and redacting — the
    // oracle exercises extraction AND replacement on every row.
    OracleQuery("doc_pii_scrub",
      (s, dir) => {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val aug = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), ((col("doc_id") * 7) % 256).cast("string"),
          lit(" call +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
        Corpus.piiScrub(docs.select(col("doc_id"), aug.as("text")), "doc_id", "text")
      },
      Some(s"""WITH aug AS (
         |  SELECT doc_id,
         |         text || ' contact user' || doc_id || '@example.com or 10.'
         |           || (doc_id % 256) || '.0.' || ((doc_id * 7) % 256)
         |           || ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${Corpus.EmailPattern}')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${Corpus.Ipv4Pattern}')) AS INT) AS n_ips,
         |  CAST(len(regexp_extract_all(text, '${Corpus.PhonePattern}')) AS INT) AS n_phones,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |      '${Corpus.EmailPattern}', '<EMAIL>', 'g'),
         |      '${Corpus.PhonePattern}', '<PHONE>', 'g'),
         |      '${Corpus.Ipv4Pattern}', '<IP>', 'g') AS redacted
         |FROM aug""".stripMargin)),

    // Deterministic 20% sample: a pure filter on the shared md5 bucket
    // spelling — reproducible row-for-row across engines and cluster sizes.
    OracleQuery("doc_hash_sample",
      (s, dir) => Corpus.hashSample(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "docs", 200)
        .select(col("doc_id"), col("lang"), col("source")),
      Some("""SELECT doc_id, lang, source FROM documents
         |WHERE ('0x'||substr(md5('docs:'||doc_id), 1, 15))::BIGINT % 1000 < 200""".stripMargin)),

    // Exactly-10-per-language seeded draw: rank by (md5 hex, key) within
    // each stratum on both sides.
    OracleQuery("doc_stratified_sample_by_lang",
      (s, dir) => Corpus.stratifiedSample(
        s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("lang")),
        Seq("lang"), "doc_id", "strat", k = 10),
      Some("""SELECT doc_id, lang FROM documents
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY lang
         |  ORDER BY md5('strat:'||doc_id), doc_id) <= 10""".stripMargin)),
  )

  /** Round-5 additions: data-mixture sampling, sequence packing, and the
    * bigram-LM quality score. All-integer arithmetic except the LM mean,
    * which is an ordered fold of correctly-rounded divisions (see
    * Corpus.bigramLmScore) — exact on both engines.
    */
  private val corpusQs2: Seq[OracleQuery] = Seq(
    // Per-domain token-budget mixture: budgets are floors; the straddling
    // document is kept; unlisted domains drop.
    // Temperature-flattened mixture budgets at alpha = 0.5: sqrt weights
    // are correctly-rounded IEEE, Σw is a domain-ordered fold — doubles
    // hash-exact cross-engine.
    OracleQuery("doc_temperature_mix",
      (s, dir) => Corpus.temperatureMixBudgets(
        s.read.parquet(s"$dir/documents.parquet"), "text", "source",
        totalBudget = 100000L),
      Some(s"""WITH counts AS (
         |  SELECT source, COALESCE(CAST(SUM(len($lowerToksSql)) AS BIGINT), 0)
         |           AS n_tokens
         |  FROM documents WHERE source IS NOT NULL GROUP BY 1)
         |, w AS (SELECT source, n_tokens,
         |               sqrt(CAST(n_tokens AS DOUBLE)) AS weight FROM counts)
         |, tot AS (SELECT list_reduce(list_prepend(0.0,
         |            list(weight ORDER BY source)), (a, x) -> a + x) AS tw
         |          FROM w)
         |SELECT source, n_tokens, weight,
         |       CAST(floor(CAST(100000 AS DOUBLE) * weight / (SELECT tw FROM tot))
         |            AS BIGINT) AS token_budget
         |FROM w""".stripMargin)),

    OracleQuery("doc_mix_token_budget",
      (s, dir) => Corpus.sampleToTokenBudget(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", "source",
        Map("src0" -> 700L, "src1" -> 400L, "src2" -> 1000000L, "src3" -> 0L),
        "mix"),
      Some(s"""WITH t AS (
         |  SELECT doc_id, source, CAST(len($lowerToksSql) AS BIGINT) AS n_tokens,
         |         md5('mix:'||doc_id) AS h
         |  FROM documents)
         |, c AS (
         |  SELECT doc_id, source, n_tokens,
         |         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id)
         |              AS BIGINT) AS cum_tokens
         |  FROM t)
         |SELECT doc_id, source, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens - n_tokens <
         |  CASE source WHEN 'src0' THEN 700 WHEN 'src1' THEN 400
         |              WHEN 'src2' THEN 1000000 ELSE 0 END""".stripMargin)),

    // GPT-style concat-and-split packing: 8 hash streams, 64-token
    // sequences; every token of every non-empty doc lands in exactly one
    // (stream, seq_idx) slot.
    OracleQuery("doc_pack_seq_cap64",
      (s, dir) => Corpus.packSequences(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        capacity = 64, nStreams = 8, salt = "pack"),
      Some(s"""WITH t AS (
         |  SELECT doc_id, md5('pack:'||doc_id) AS h,
         |         CAST(('0x'||substr(md5('pack:'||doc_id),1,15))::BIGINT % 8
         |              AS BIGINT) AS stream,
         |         CAST(len($lowerToksSql) AS BIGINT) AS n
         |  FROM documents)
         |, pos AS (
         |  SELECT doc_id, stream, n,
         |         CAST(SUM(n) OVER (PARTITION BY stream ORDER BY h, doc_id) - n
         |              AS BIGINT) AS start
         |  FROM t WHERE n > 0)
         |SELECT doc_id, stream, CAST(seq_idx AS BIGINT) AS seq_idx,
         |       GREATEST(seq_idx * 64 - start, 0) AS doc_tok_start,
         |       LEAST((seq_idx + 1) * 64, start + n)
         |         - GREATEST(seq_idx * 64, start) AS n_tokens
         |FROM pos, unnest(range(start // 64, (start + n - 1) // 64 + 1))
         |  AS u(seq_idx)""".stripMargin)),

    // Per-document top-3 keywords by the rational tf/df specificity score;
    // ties break on the token string in both engines.
    OracleQuery("doc_keywords_top3",
      (s, dir) => Corpus.keywordStats(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", k = 3),
      Some(s"""WITH toks AS (
         |  SELECT doc_id, $lowerToksSql AS ts FROM documents)
         |, tf AS (
         |  SELECT doc_id, t AS token, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(ts) AS t FROM toks) GROUP BY 1, 2)
         |, dfc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1)
         |SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, tf, df, score
         |FROM (
         |  SELECT tf.doc_id, tf.token, tf.tf, dfc.df,
         |         CAST(tf.tf AS DOUBLE) / dfc.df AS score,
         |         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
         |           ORDER BY CAST(tf.tf AS DOUBLE) / dfc.df DESC, tf.token ASC)
         |           AS rank
         |  FROM tf JOIN dfc USING (token))
         |WHERE rank <= 3""".stripMargin)),

    // Corpus-level top-25 trigrams (all positions, not per-doc distinct);
    // ties on the count break on the gram string.
    OracleQuery("doc_top_trigrams_25",
      (s, dir) => Corpus.topNgrams(
        s.read.parquet(s"$dir/documents.parquet"), "text", n = 3, k = 25),
      Some(s"""WITH toks AS (
         |  SELECT doc_id, $lowerToksSql AS ts FROM documents)
         |, sh AS (
         |  SELECT unnest(list_transform(range(1, len(ts) - 1),
         |           i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS ngram
         |  FROM toks WHERE len(ts) >= 3)
         |SELECT ngram, CAST(COUNT(*) AS BIGINT) AS cnt FROM sh
         |GROUP BY 1 ORDER BY cnt DESC, ngram ASC LIMIT 25""".stripMargin)),

    // Token-distribution drift between the 95% train split and the 5%
    // held-out split, chi-square-style contribution per token with at
    // least 5 total occurrences; identical fixed-order IEEE arithmetic on
    // both engines.
    OracleQuery("doc_token_drift_splits",
      (s, dir) => {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        Corpus.tokenDriftStats(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0), "text", minCount = 5L)
      },
      Some(s"""WITH toks AS (
         |  SELECT doc_id, $lowerToksSql AS ts FROM documents)
         |, tok AS (SELECT doc_id, unnest(ts) AS t FROM toks)
         |, ca AS (
         |  SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS count_a
         |  FROM tok WHERE doc_id % 20 <> 0 GROUP BY 1)
         |, cb AS (
         |  SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS count_b
         |  FROM tok WHERE doc_id % 20 = 0 GROUP BY 1)
         |, na AS (SELECT CAST(SUM(count_a) AS DOUBLE) AS v FROM ca)
         |, nb AS (SELECT CAST(SUM(count_b) AS DOUBLE) AS v FROM cb)
         |SELECT token, count_a, count_b,
         |       (count_a / na.v - count_b / nb.v)
         |         * (count_a / na.v - count_b / nb.v)
         |         / (count_a / na.v + count_b / nb.v) AS drift
         |FROM (
         |  SELECT token, COALESCE(count_a, 0) AS count_a,
         |         COALESCE(count_b, 0) AS count_b
         |  FROM ca FULL OUTER JOIN cb USING (token)), na, nb
         |WHERE count_a + count_b >= 5""".stripMargin)),

    // BPE training primitive: first-iteration adjacent symbol-pair counts
    // over the word-frequency collapse (chars + </w> marker), weighted by
    // word count. Only pairs with cnt >= 3 to bound the row count.
    OracleQuery("doc_bpe_pair_counts",
      (s, dir) => graft.operators.Bpe.bpePairCounts(
        s.read.parquet(s"$dir/documents.parquet"), "text")
        .filter(col("cnt") >= 3),
      Some(s"""WITH toks AS (
         |  SELECT doc_id, $lowerToksSql AS ts FROM documents)
         |, wf AS (
         |  SELECT t AS word, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY 1)
         |, sym AS (
         |  SELECT cnt, list_append(
         |    list_transform(range(1, length(word) + 1), i -> word[i]),
         |    '</w>') AS s
         |  FROM wf)
         |, pairs AS (
         |  SELECT s[i] AS sym_left, s[i + 1] AS sym_right, cnt
         |  FROM sym, unnest(range(1, len(s))) AS u(i))
         |SELECT sym_left, sym_right, CAST(SUM(cnt) AS BIGINT) AS cnt
         |FROM pairs GROUP BY 1, 2 HAVING SUM(cnt) >= 3""".stripMargin)),

    // CCNet-style quality score: add-one bigram LM fit on the 95% split
    // (doc_id % 20 <> 0), every document scored by its mean transition
    // probability; docs under two tokens score null.
    OracleQuery("doc_lm_score_bigram",
      (s, dir) => {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        Corpus.bigramLmScore(
          docs.filter(col("doc_id") % 20 =!= 0), docs, "doc_id", "text")
      },
      Some(s"""WITH toks AS (
         |  SELECT doc_id, $lowerToksSql AS ts FROM documents)
         |, pos AS (
         |  SELECT doc_id, i, ts[i] AS w, ts[i + 1] AS v
         |  FROM toks, unnest(range(1, len(ts))) AS u(i)
         |  WHERE len(ts) >= 2)
         |, bc AS (
         |  SELECT w, v, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM pos WHERE doc_id % 20 <> 0 GROUP BY 1, 2)
         |, pc AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cp FROM bc GROUP BY 1)
         |, vocab AS (
         |  SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS vsz
         |  FROM (SELECT unnest(ts) AS t FROM toks WHERE doc_id % 20 <> 0))
         |, scored AS (
         |  SELECT p.doc_id, p.i,
         |         (COALESCE(bc.c, 0) + 1.0)
         |           / (COALESCE(pc.cp, 0) + (SELECT vsz FROM vocab)) AS prob,
         |         CASE WHEN bc.c IS NULL THEN 1 ELSE 0 END AS unseen
         |  FROM pos p
         |  LEFT JOIN bc ON p.w = bc.w AND p.v = bc.v
         |  LEFT JOIN pc ON p.w = pc.w)
         |, per AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |         CAST(SUM(unseen) AS BIGINT) AS n_unseen,
         |         list_reduce(list_prepend(0.0, list(prob ORDER BY i)),
         |           (a, x) -> a + x) / COUNT(*) AS mean_prob
         |  FROM scored GROUP BY 1)
         |SELECT d.doc_id,
         |       COALESCE(per.n_bigrams, 0) AS n_bigrams,
         |       COALESCE(per.n_unseen, 0) AS n_unseen,
         |       per.mean_prob
         |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin)),

    // Paragraph-level corpus dedup (Dolma/RefinedWeb recipe): the
    // single-line synthetic docs are one paragraph each, so this
    // exercises real cross-doc cuts on the planted duplicate texts —
    // later copies empty out, globally-first survives.
    OracleQuery("doc_dedup_paragraphs",
      (s, dir) => Dedup.dedupParagraphs(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        .select(col("doc_id"), col("text"), col("n_paragraphs"),
          col("n_paragraphs_removed")),
      Some("""WITH base AS (
         |  SELECT doc_id, string_split(COALESCE(text, ''), chr(10)) AS ps
         |  FROM documents)
         |, paras AS (SELECT doc_id, CAST(i AS INT) - 1 AS pos, ps[i] AS p
         |            FROM base, UNNEST(range(1, len(ps) + 1)) t(i))
         |, content AS (SELECT * FROM paras
         |              WHERE regexp_replace(p, '^[ \t\r\f\x0B]+|[ \t\r\f\x0B]+$', '', 'g') != '')
         |, keeper AS (SELECT regexp_replace(p, '^[ \t\r\f\x0B]+|[ \t\r\f\x0B]+$', '', 'g') AS key,
         |                    MIN(struct_pack(kid := doc_id, kpos := pos)) AS keep,
         |                    CAST(COUNT(*) AS BIGINT) AS occ
         |             FROM content GROUP BY 1)
         |, marked AS (SELECT pr.doc_id, pr.pos, pr.p,
         |                    (k.key IS NULL OR k.occ = 1
         |                     OR (k.keep.kid = pr.doc_id AND k.keep.kpos = pr.pos))
         |                      AS kept
         |             FROM paras pr LEFT JOIN keeper k
         |               ON regexp_replace(pr.p, '^[ \t\r\f\x0B]+|[ \t\r\f\x0B]+$', '', 'g') = k.key)
         |, rebuilt AS (SELECT doc_id,
         |                array_to_string(list(p ORDER BY pos), chr(10)) AS ct
         |              FROM marked WHERE kept GROUP BY 1)
         |, stats AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS np,
         |                   CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS INT) AS nr
         |            FROM marked GROUP BY 1)
         |SELECT d.doc_id, COALESCE(r.ct, '') AS text,
         |       COALESCE(s.np, 0) AS n_paragraphs,
         |       COALESCE(s.nr, 0) AS n_paragraphs_removed
         |FROM documents d
         |LEFT JOIN rebuilt r USING (doc_id)
         |LEFT JOIN stats s USING (doc_id)""".stripMargin)),

    // C4 page cleaning: the synthetic docs are single-line and
    // punctuation-free, so every page drops as too_few_sentences — the
    // oracle still hash-checks the full line/page rule plumbing (line
    // splits, word counts, regex ends, counts, reason precedence); the
    // rule-by-rule behavior is unit-tested on multiline fixtures.
    OracleQuery("doc_c4_clean",
      (s, dir) => Corpus.c4Clean(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        .select(col("doc_id"), col("text_clean"), col("kept"),
          col("n_lines"), col("n_lines_kept"), col("n_sentences"),
          col("drop_reason")),
      Some("""WITH base AS (SELECT doc_id, COALESCE(text, '') AS t FROM documents)
         |, arr AS (SELECT doc_id, t, regexp_split_to_array(t, '\r?\n') AS lines FROM base)
         |, kept AS (SELECT doc_id, t, lines,
         |    list_filter(lines, l ->
         |      len(list_filter(regexp_split_to_array(
         |            regexp_replace(l, '^[ \t\r\f\x0B]+|[ \t\r\f\x0B]+$', '', 'g'), '\s+'),
         |          w -> w != '')) >= 3
         |      AND regexp_matches(regexp_replace(l, '^[ \t\r\f\x0B]+|[ \t\r\f\x0B]+$', '', 'g'), '[.!?"]$')
         |      AND NOT contains(lower(l), 'javascript')) AS kl
         |  FROM arr)
         |, c AS (SELECT doc_id, t, lines, kl,
         |               -- array_to_string([]) is NULL in DuckDB; Spark's
         |               -- array_join gives ''
         |               COALESCE(array_to_string(kl, chr(10)), '') AS ct FROM kept)
         |, r AS (SELECT doc_id, ct, lines, kl,
         |    CAST(length(ct) - length(regexp_replace(ct, '[.!?]', '', 'g')) AS INT) AS ns,
         |    CASE WHEN contains(lower(t), 'lorem ipsum') THEN 'blocked_phrase'
         |         WHEN contains(t, '{') THEN 'brace'
         |         WHEN length(ct) - length(regexp_replace(ct, '[.!?]', '', 'g')) < 5
         |           THEN 'too_few_sentences' END AS reason
         |  FROM c)
         |SELECT doc_id, ct AS text_clean, reason IS NULL AS kept,
         |       CAST(len(lines) AS INT) AS n_lines,
         |       CAST(len(kl) AS INT) AS n_lines_kept,
         |       ns AS n_sentences, reason AS drop_reason
         |FROM r""".stripMargin)),

    // DSIR importance resampling (Xie et al. 2023): select 50 of the 500
    // docs by target-likeness (target = the English docs) under hashed
    // unigram+bigram multinomials, Gumbel top-k with the portable md5-60
    // noise. The oracle replays buckets, smoothed log-ratios, ordered
    // per-doc folds and the Gumbel keys, then compares ONLY the selected
    // (rank, doc_id) — float keys are separated by far more than the
    // last-ulp ln() divergence between engines, so the selection is the
    // stable cross-engine contract.
    OracleQuery("doc_dsir_sample",
      (s, dir) => {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        Corpus.dsirSample(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text", k = 50, buckets = 1024)
          .select(col("rank"), col("doc_id"))
      },
      Some(s"""WITH toks AS (
         |  SELECT doc_id, lang, $lowerToksSql AS ts FROM documents)
         |, grams AS (
         |  SELECT doc_id, lang, unnest(ts) AS g FROM toks
         |  UNION ALL
         |  SELECT doc_id, lang, ts[i] || ' ' || ts[i + 1] AS g
         |  FROM toks, unnest(range(1, len(ts))) AS u(i)
         |  WHERE len(ts) >= 2)
         |, gb AS (SELECT doc_id, lang,
         |                ('0x'||substr(md5(g),1,15))::BIGINT % 1024 AS b
         |         FROM grams)
         |, th AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nt FROM gb
         |         WHERE lang = 'en' GROUP BY 1)
         |, qh AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nq FROM gb GROUP BY 1)
         |, tot AS (SELECT (SELECT CAST(SUM(nt) AS BIGINT) FROM th) AS ntt,
         |                 (SELECT CAST(SUM(nq) AS BIGINT) FROM qh) AS nqt)
         |, lut AS (SELECT qh.b,
         |                 LN(((COALESCE(th.nt, 0) + 1)::DOUBLE * (tot.nqt + 1024)::DOUBLE)
         |                    / ((qh.nq + 1)::DOUBLE * (tot.ntt + 1024)::DOUBLE)) AS lr
         |          FROM qh LEFT JOIN th ON th.b = qh.b CROSS JOIN tot)
         |, dbc AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c
         |          FROM gb GROUP BY 1, 2)
         |, dw AS (SELECT dbc.doc_id,
         |                list_reduce(list_prepend(0.0, list(c::DOUBLE * lr ORDER BY dbc.b)),
         |                  (a, x) -> a + x) AS w
         |         FROM dbc JOIN lut ON lut.b = dbc.b GROUP BY 1)
         |, keyed AS (
         |  SELECT d.doc_id, COALESCE(dw.w, 0.0)
         |         - LN(-LN((('0x'||substr(md5('dsir:'||CAST(d.doc_id AS VARCHAR)),1,15))::BIGINT
         |                   * 2 + 1)::DOUBLE / 2305843009213693952e0)) AS key
         |  FROM (SELECT DISTINCT doc_id FROM documents) d
         |  LEFT JOIN dw ON dw.doc_id = d.doc_id)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY key DESC, doc_id ASC) AS INT) AS rank,
         |       doc_id
         |FROM keyed ORDER BY key DESC, doc_id ASC LIMIT 50""".stripMargin)),

    // Per-document lexical-diversity signals: each ratio is ONE division
    // of exact integer aggregates, so there is no summation-order
    // sensitivity anywhere.
    OracleQuery("doc_lexical_diversity",
      (s, dir) => Corpus.lexicalDiversityStats(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text"),
      Some(s"""WITH toks AS (
         |  SELECT doc_id, $lowerToksSql AS ts FROM documents)
         |, tf AS (
         |  SELECT doc_id, t AS token, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(ts) AS t FROM toks) GROUP BY 1, 2)
         |, per AS (
         |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
         |         CAST(COUNT(*) AS BIGINT) AS n_types,
         |         CAST(MAX(tf) AS BIGINT) AS maxtf,
         |         CAST(SUM(tf * tf) AS BIGINT) AS sumsq
         |  FROM tf GROUP BY 1)
         |SELECT d.doc_id,
         |       COALESCE(per.n_tokens, 0) AS n_tokens,
         |       COALESCE(per.n_types, 0) AS n_types,
         |       CAST(per.n_types AS DOUBLE) / per.n_tokens AS ttr,
         |       CAST(per.maxtf AS DOUBLE) / per.n_tokens AS top_share,
         |       CAST(per.sumsq AS DOUBLE) / (per.n_tokens * per.n_tokens)
         |         AS simpson
         |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin)),

    // BM25 top-10 for a 3-term query; rational (log-free) idf and a
    // term-ordered fold keep the score hash-exact across engines. The
    // SQL spells every constant as the same arithmetic the Scala side
    // folds (1.2 + 1.0, 1.0 - 0.75), so literals cannot differ in the
    // last ulp.
    OracleQuery("doc_bm25_top10",
      (s, dir) => Corpus.bm25TopK(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        Seq("spark", "window", "customer"), k = 10),
      Some(s"""WITH toks AS (
         |  SELECT doc_id, $lowerToksSql AS ts FROM documents)
         |, lens AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM toks)
         |, corpus AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
         |  FROM lens)
         |, tf AS (
         |  SELECT doc_id, t AS token, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(ts) AS t FROM toks)
         |  WHERE t IN ('spark', 'window', 'customer') GROUP BY 1, 2)
         |, dfc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1)
         |, contrib AS (
         |  SELECT tf.doc_id, tf.token,
         |         (CAST(corpus.n - dfc.df AS DOUBLE) + 0.5)
         |           / (CAST(dfc.df AS DOUBLE) + 0.5)
         |           * ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
         |              / (CAST(tf.tf AS DOUBLE)
         |                 + 1.2 * ((1.0 - 0.75)
         |                          + 0.75 * (CAST(lens.dl AS DOUBLE)
         |                                    / corpus.avgdl)))) AS c
         |  FROM tf
         |  JOIN dfc USING (token) JOIN lens USING (doc_id), corpus)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched,
         |       list_reduce(list_prepend(0.0, list(c ORDER BY token)),
         |         (a, x) -> a + x) AS score
         |FROM contrib GROUP BY 1
         |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin)),

    // Top-15 adjacent-pair collocations by lift (PMI-monotone, log-free):
    // one exact product chain + one division per pair.
    OracleQuery("doc_collocations_top15",
      (s, dir) => Corpus.collocationTopK(
        s.read.parquet(s"$dir/documents.parquet"), "text", k = 15,
        minCount = 3L),
      Some(s"""WITH toks AS (
         |  SELECT doc_id, $lowerToksSql AS ts FROM documents)
         |, pairs AS (
         |  SELECT ts[i] AS w, ts[i + 1] AS v, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM toks, unnest(range(1, len(ts))) AS u(i)
         |  WHERE len(ts) >= 2 GROUP BY 1, 2 HAVING COUNT(*) >= 3)
         |, uni AS (
         |  SELECT t, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY 1)
         |, nt AS (SELECT CAST(SUM(c) AS DOUBLE) AS total FROM uni)
         |SELECT p.w, p.v, p.cnt, uw.c AS count_w, uv.c AS count_v,
         |       (CAST(p.cnt AS DOUBLE) * nt.total)
         |         / (CAST(uw.c AS DOUBLE) * CAST(uv.c AS DOUBLE)) AS lift
         |FROM pairs p
         |JOIN uni uw ON p.w = uw.t JOIN uni uv ON p.v = uv.t, nt
         |ORDER BY lift DESC, w ASC, v ASC LIMIT 15""".stripMargin)),

    // CCNet-style head/middle/tail corpus partitioning: the bigram-LM
    // quality score bucketed at its global 1/3 and 2/3 QUANTILE_CONT
    // cutoffs (the percentile parity the conformal oracles prove);
    // sub-2-token docs have a null score and a null bucket.
    // Naive Bayes "looks-like-target" quality classifier: trained on the
    // English docs (positive) vs everything else (negative) — real
    // vocabulary separation — then scored over the whole corpus. The twin
    // replays the identical IEEE op sequence (one multiply per side, one
    // division, one ln per occurrence; prior-seeded ordered fold), so the
    // double scores hash-match.
    OracleQuery("doc_nb_quality",
      (s, dir) => {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        Corpus.nbQualityScore(
          docs.filter(col("lang") === "en"),
          docs.filter(not(col("lang") <=> "en")),
          docs, "doc_id", "text")
      },
      Some(s"""WITH toks AS (
         |  SELECT doc_id, lang, $lowerToksSql AS ts FROM documents)
         |, occ AS (
         |  SELECT doc_id, lang, i, ts[i] AS token
         |  FROM toks, unnest(range(1, len(ts) + 1)) AS u(i)
         |  WHERE len(ts) >= 1)
         |, cp AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c
         |         FROM occ WHERE lang = 'en' GROUP BY 1)
         |, cn AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c
         |         FROM occ WHERE lang IS DISTINCT FROM 'en' GROUP BY 1)
         |, s AS (
         |  SELECT CAST((SELECT COALESCE(SUM(c), 0) FROM cp) AS BIGINT) AS totpos,
         |         CAST((SELECT COALESCE(SUM(c), 0) FROM cn) AS BIGINT) AS totneg,
         |         CAST((SELECT COUNT(DISTINCT token) FROM
         |             (SELECT token FROM cp UNION ALL SELECT token FROM cn)) AS BIGINT) AS v,
         |         (SELECT COUNT(*) FROM documents WHERE lang = 'en') AS npos,
         |         (SELECT COUNT(*) FROM documents
         |          WHERE lang IS DISTINCT FROM 'en') AS nneg)
         |, prior AS (
         |  SELECT ln(CAST(npos AS DOUBLE) / CAST(nneg AS DOUBLE)) AS p FROM s)
         |, scored AS (
         |  SELECT o.doc_id, o.i,
         |         ln((CAST(COALESCE(cp.c, 0) + 1 AS DOUBLE)
         |              * CAST((SELECT totneg + v FROM s) AS DOUBLE))
         |            / (CAST(COALESCE(cn.c, 0) + 1 AS DOUBLE)
         |              * CAST((SELECT totpos + v FROM s) AS DOUBLE))) AS w,
         |         CASE WHEN cp.c IS NULL AND cn.c IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM occ o
         |  LEFT JOIN cp ON o.token = cp.token
         |  LEFT JOIN cn ON o.token = cn.token)
         |, per AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |         CAST(SUM(oov) AS BIGINT) AS n_oov,
         |         list_reduce(list_prepend((SELECT p FROM prior),
         |           list(w ORDER BY i)), (a, x) -> a + x) AS nb_score
         |  FROM scored GROUP BY 1)
         |SELECT d.doc_id,
         |       COALESCE(per.n_tokens, 0) AS n_tokens,
         |       COALESCE(per.n_oov, 0) AS n_oov,
         |       COALESCE(per.nb_score, (SELECT p FROM prior)) AS nb_score,
         |       COALESCE(per.nb_score, (SELECT p FROM prior)) > 0.0 AS label
         |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin)),

    // CCNet proper: head/middle/tail thresholds PER LANGUAGE (each
    // language's own score distribution), not global — the per-stratum
    // grouped variant of the same Spark-percentile lerp replay.
    OracleQuery("doc_ccnet_buckets_by_lang",
      (s, dir) => {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val scored = Corpus.bigramLmScore(
            docs.filter(col("doc_id") % 20 =!= 0), docs, "doc_id", "text")
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"), "left")
        Corpus.quantileBucketsBy(scored, Seq("lang"), "mean_prob",
            cuts = Seq(1.0 / 3.0, 2.0 / 3.0),
            labels = Seq("tail", "middle", "head"))
          .select(col("doc_id"), col("lang"), col("mean_prob"), col("bucket"))
      },
      Some(s"""WITH toks AS (
         |  SELECT doc_id, $lowerToksSql AS ts FROM documents)
         |, pos AS (
         |  SELECT doc_id, i, ts[i] AS w, ts[i + 1] AS v
         |  FROM toks, unnest(range(1, len(ts))) AS u(i)
         |  WHERE len(ts) >= 2)
         |, bc AS (
         |  SELECT w, v, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM pos WHERE doc_id % 20 <> 0 GROUP BY 1, 2)
         |, pc AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cp FROM bc GROUP BY 1)
         |, vocab AS (
         |  SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS vsz
         |  FROM (SELECT unnest(ts) AS t FROM toks WHERE doc_id % 20 <> 0))
         |, scored AS (
         |  SELECT p.doc_id, p.i,
         |         (COALESCE(bc.c, 0) + 1.0)
         |           / (COALESCE(pc.cp, 0) + (SELECT vsz FROM vocab)) AS prob,
         |         CASE WHEN bc.c IS NULL THEN 1 ELSE 0 END AS unseen
         |  FROM pos p
         |  LEFT JOIN bc ON p.w = bc.w AND p.v = bc.v
         |  LEFT JOIN pc ON p.w = pc.w)
         |, per AS (
         |  SELECT doc_id,
         |         list_reduce(list_prepend(0.0, list(prob ORDER BY i)),
         |           (a, x) -> a + x) / COUNT(*) AS mean_prob
         |  FROM scored GROUP BY 1)
         |, base AS (
         |  SELECT d.doc_id, d.lang, per.mean_prob
         |  FROM documents d LEFT JOIN per USING (doc_id))
         |, qarr AS (
         |  SELECT lang, list(mean_prob ORDER BY mean_prob) AS arr,
         |         CAST(COUNT(*) AS BIGINT) AS n
         |  FROM base WHERE mean_prob IS NOT NULL GROUP BY lang)
         |, q AS (
         |  SELECT lang, ${sparkPctSql("1.0e0 / 3.0e0")} AS q0,
         |         ${sparkPctSql("2.0e0 / 3.0e0")} AS q1
         |  FROM qarr)
         |SELECT base.doc_id, base.lang, base.mean_prob,
         |       CASE WHEN base.mean_prob IS NULL OR q.q1 IS NULL THEN NULL
         |            WHEN base.mean_prob >= q.q1 THEN 'head'
         |            WHEN base.mean_prob >= q.q0 THEN 'middle'
         |            ELSE 'tail' END AS bucket
         |FROM base LEFT JOIN q USING (lang)""".stripMargin)),

    OracleQuery("doc_ccnet_buckets",
      (s, dir) => {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        Corpus.quantileBuckets(
          Corpus.bigramLmScore(
            docs.filter(col("doc_id") % 20 =!= 0), docs, "doc_id", "text"),
          "mean_prob", cuts = Seq(1.0 / 3.0, 2.0 / 3.0),
          labels = Seq("tail", "middle", "head"))
      },
      Some(s"""WITH toks AS (
         |  SELECT doc_id, $lowerToksSql AS ts FROM documents)
         |, pos AS (
         |  SELECT doc_id, i, ts[i] AS w, ts[i + 1] AS v
         |  FROM toks, unnest(range(1, len(ts))) AS u(i)
         |  WHERE len(ts) >= 2)
         |, bc AS (
         |  SELECT w, v, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM pos WHERE doc_id % 20 <> 0 GROUP BY 1, 2)
         |, pc AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cp FROM bc GROUP BY 1)
         |, vocab AS (
         |  SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS vsz
         |  FROM (SELECT unnest(ts) AS t FROM toks WHERE doc_id % 20 <> 0))
         |, scored AS (
         |  SELECT p.doc_id, p.i,
         |         (COALESCE(bc.c, 0) + 1.0)
         |           / (COALESCE(pc.cp, 0) + (SELECT vsz FROM vocab)) AS prob,
         |         CASE WHEN bc.c IS NULL THEN 1 ELSE 0 END AS unseen
         |  FROM pos p
         |  LEFT JOIN bc ON p.w = bc.w AND p.v = bc.v
         |  LEFT JOIN pc ON p.w = pc.w)
         |, per AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |         CAST(SUM(unseen) AS BIGINT) AS n_unseen,
         |         list_reduce(list_prepend(0.0, list(prob ORDER BY i)),
         |           (a, x) -> a + x) / COUNT(*) AS mean_prob
         |  FROM scored GROUP BY 1)
         |, base AS (
         |  SELECT d.doc_id,
         |         COALESCE(per.n_bigrams, 0) AS n_bigrams,
         |         COALESCE(per.n_unseen, 0) AS n_unseen,
         |         per.mean_prob
         |  FROM documents d LEFT JOIN per USING (doc_id))
         |-- Spark-percentile lerp (a + (b-a)*frac) spelled out: QUANTILE_CONT
         |-- can differ in the last ulp (see fitted_values_levels oracle)
         |, qarr AS (
         |  SELECT list(mean_prob ORDER BY mean_prob) AS arr,
         |         CAST(COUNT(*) AS BIGINT) AS n
         |  FROM base WHERE mean_prob IS NOT NULL)
         |-- Spark percentile semantics spelled out (see fitted_values_levels)
         |, q AS (
         |  SELECT CASE WHEN arr[CAST(floor((1.0e0 / 3.0e0) * (n - 1)) AS BIGINT) + 1] = arr[CAST(ceil((1.0e0 / 3.0e0) * (n - 1)) AS BIGINT) + 1] THEN arr[CAST(floor((1.0e0 / 3.0e0) * (n - 1)) AS BIGINT) + 1]
         |                ELSE (ceil((1.0e0 / 3.0e0) * (n - 1)) - ((1.0e0 / 3.0e0) * (n - 1))) * arr[CAST(floor((1.0e0 / 3.0e0) * (n - 1)) AS BIGINT) + 1]
         |                     + (((1.0e0 / 3.0e0) * (n - 1)) - floor((1.0e0 / 3.0e0) * (n - 1))) * arr[CAST(ceil((1.0e0 / 3.0e0) * (n - 1)) AS BIGINT) + 1] END AS q0,
         |         CASE WHEN arr[CAST(floor((2.0e0 / 3.0e0) * (n - 1)) AS BIGINT) + 1] = arr[CAST(ceil((2.0e0 / 3.0e0) * (n - 1)) AS BIGINT) + 1] THEN arr[CAST(floor((2.0e0 / 3.0e0) * (n - 1)) AS BIGINT) + 1]
         |                ELSE (ceil((2.0e0 / 3.0e0) * (n - 1)) - ((2.0e0 / 3.0e0) * (n - 1))) * arr[CAST(floor((2.0e0 / 3.0e0) * (n - 1)) AS BIGINT) + 1]
         |                     + (((2.0e0 / 3.0e0) * (n - 1)) - floor((2.0e0 / 3.0e0) * (n - 1))) * arr[CAST(ceil((2.0e0 / 3.0e0) * (n - 1)) AS BIGINT) + 1] END AS q1
         |  FROM qarr)
         |SELECT base.doc_id, base.n_bigrams, base.n_unseen, base.mean_prob,
         |       CASE WHEN base.mean_prob IS NULL THEN NULL
         |            WHEN base.mean_prob >= q.q1 THEN 'head'
         |            WHEN base.mean_prob >= q.q0 THEN 'middle'
         |            ELSE 'tail' END AS bucket
         |FROM base, q""".stripMargin)),

    // Robust-winnowing fingerprints (MOSS): rightmost argmin of the
    // portable md5-60 gram hash over every full 4-window of char 5-grams.
    // The rightmost-argmin is recovered join-side in both engines (no
    // nested window functions), so the selected sets match exactly.
    OracleQuery("doc_winnow_fingerprints",
      (s, dir) => Dedup.winnowFingerprints(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        k = 5, w = 4),
      Some("""WITH norm AS (
         |  SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS nt
         |  FROM documents)
         |, grams AS (
         |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |         ('0x'||substr(md5(substr(nt, i, 5)),1,15))::BIGINT AS h
         |  FROM norm, unnest(range(1, length(nt) - 5 + 2)) AS u(i)
         |  WHERE length(nt) >= 5)
         |, wins AS (
         |  SELECT doc_id, pos AS t,
         |         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
         |                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS minh,
         |         COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
         |                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS cnt
         |  FROM grams)
         |, sel AS (
         |  SELECT w.doc_id, w.t, w.minh, MAX(g.pos) AS pos
         |  FROM wins w JOIN grams g
         |    ON g.doc_id = w.doc_id AND g.h = w.minh
         |   AND g.pos BETWEEN w.t - 3 AND w.t
         |  WHERE w.cnt = 4
         |  GROUP BY 1, 2, 3)
         |SELECT DISTINCT doc_id, pos, minh AS fp FROM sel""".stripMargin)),
  )

  // ------------------------------------------------------------ batch 8c:
  // retrieval serving + eval (operators/Corpus.bm25Join,
  // Similarity.{rrfFuse, retrievalMetrics, mmrRerank}) — the RAG-shaped
  // composition layer over the oracled BM25 and k-NN pipelines: batched
  // lexical retrieval, lexical+semantic rank fusion, IR quality metrics
  // against label-derived qrels, and MMR diversification. Everything here
  // is rational arithmetic, ordered folds, or order-free max over the
  // already-hash-exact retriever scores, so all four are hash-exact twins.

  /** The three-query retrieval workload: literal lowercase term sets tied
    * to query embeddings vec_id ∈ {0, 100, 200} (query_id = vec_id/100).
    */
  private val retrievalQueryTerms: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "window", "customer"),
    1L -> Seq("hash", "join", "filter"),
    2L -> Seq("batch", "order", "table"))

  private def retrievalQueryValuesSql: String =
    retrievalQueryTerms.flatMap { case (qid, ts) =>
      ts.map(t => s"($qid::BIGINT, '$t')")
    }.mkString(", ")

  /** Replay of [[graft.operators.Corpus.bm25Join]] over the workload
    * above: CTE chain ending in `lex(query_id, rank, doc_id, score)`.
    */
  private def bm25JoinCtes(k: Int): String =
    s"""qterms(query_id, token) AS (VALUES $retrievalQueryValuesSql)
       |, btoks AS (SELECT doc_id, $lowerToksSql AS ts FROM documents)
       |, blens AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM btoks)
       |, bcorpus AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
       |  FROM blens)
       |, btf AS (
       |  SELECT doc_id, t AS token, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(ts) AS t FROM btoks)
       |  WHERE t IN (SELECT DISTINCT token FROM qterms) GROUP BY 1, 2)
       |, bdfc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM btf GROUP BY 1)
       |, bcontrib AS (
       |  SELECT qt.query_id, btf.doc_id, btf.token,
       |         (CAST(bcorpus.n - bdfc.df AS DOUBLE) + 0.5)
       |           / (CAST(bdfc.df AS DOUBLE) + 0.5)
       |           * ((CAST(btf.tf AS DOUBLE) * (1.2 + 1.0))
       |              / (CAST(btf.tf AS DOUBLE)
       |                 + 1.2 * ((1.0 - 0.75)
       |                          + 0.75 * (CAST(blens.dl AS DOUBLE)
       |                                    / bcorpus.avgdl)))) AS c
       |  FROM btf
       |  JOIN bdfc USING (token) JOIN blens USING (doc_id)
       |  JOIN qterms qt ON qt.token = btf.token, bcorpus)
       |, bscored AS (
       |  SELECT query_id, doc_id,
       |         list_reduce(list_prepend(0.0, list(c ORDER BY token)),
       |           (a, x) -> a + x) AS score
       |  FROM bcontrib GROUP BY 1, 2)
       |, lex AS (
       |  SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY score DESC, doc_id) AS rank
       |    FROM bscored)
       |  WHERE rank <= $k)""".stripMargin

  /** Ranked exact k-NN replay over the `vec_id % 100 = 0` query set (the
    * knn_join_top3 pipeline parameterized by k): CTE chain ending in
    * `knn(query_id, rank, vec_id, cosine)`.
    */
  private def knnRankedCtes(k: Int): String =
    s"""kq AS (SELECT vec_id AS query_id, embedding AS qv
       |       FROM embeddings WHERE vec_id % 100 = 0)
       |, kscored AS (
       |  SELECT kq.query_id, e.vec_id, ${cosSql("e.embedding", "kq.qv")} AS cosine
       |  FROM embeddings e, kq)
       |, knn AS (
       |  SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cosine FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cosine DESC, vec_id) AS rank
       |    FROM kscored WHERE cosine IS NOT NULL AND NOT isnan(cosine))
       |  WHERE rank <= $k)""".stripMargin

  private def retrievalQueriesDf(s: SparkSession) = {
    import s.implicits._
    retrievalQueryTerms.toDF("qid", "terms")
  }

  /** The k=10 nDCG discount table as a DuckDB list literal — the EXACT
    * doubles Similarity.retrievalMetrics looks up, round-tripped through
    * Double.toString (decimal parse is correctly rounded, so the bits
    * match regardless of either engine's libm).
    */
  private lazy val ndcgDiscSql10: String =
    Similarity.ndcgDiscounts(10)
      .map(d => { val s = d.toString; if (s.contains("E")) s else s + "e0" })
      .mkString("[", ", ", "]")

  private val retrievalQs: Seq[OracleQuery] = Seq(
    // Batched BM25: the single-query bm25TopK scoring over a query TABLE,
    // postings prefiltered by the cross-query vocabulary, per-query top-5
    // via the native bounded-heap aggregate. Same rational idf / ordered
    // term fold → hash-exact.
    OracleQuery("doc_bm25_join_top5",
      (s, dir) => Corpus.bm25Join(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        retrievalQueriesDf(s), "qid", "terms", k = 5),
      Some(s"""WITH ${bm25JoinCtes(5)}
         |SELECT query_id, rank, doc_id, score FROM lex""".stripMargin)),

    // Hybrid retrieval: reciprocal-rank fusion (k0 = 60) of the BM25
    // top-5 and the exact cosine k-NN top-5 on the aligned doc_id/vec_id
    // space — each source's ranks are oracled above, the fused score is a
    // source-ordered fold of 1/(60 + rank), and the final top-5 re-ranks
    // by (rrf DESC, doc_id ASC).
    OracleQuery("hybrid_rrf_top5",
      (s, dir) => {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val lex = Corpus.bm25Join(docs, "doc_id", "text",
          retrievalQueriesDf(s), "qid", "terms", k = 5)
        val vq = emb.filter(col("vec_id").isin(0, 100, 200))
          .select((col("vec_id") / lit(100)).cast("long").as("qid"),
            col("embedding"))
        val sem = Similarity.knnJoin(emb, vq, "vec_id", "embedding",
          "qid", "embedding", k = 5)
          .withColumnRenamed("vec_id", "doc_id")
        Similarity.rrfFuse(Seq(lex, sem), "query_id", "doc_id", "rank", k = 5)
      },
      Some(s"""WITH ${bm25JoinCtes(5)}
         |, sq AS (SELECT CAST(vec_id // 100 AS BIGINT) AS query_id,
         |                embedding AS qv
         |         FROM embeddings WHERE vec_id IN (0, 100, 200))
         |, sscored AS (
         |  SELECT sq.query_id, e.vec_id AS doc_id,
         |         ${cosSql("e.embedding", "sq.qv")} AS cosine
         |  FROM embeddings e, sq)
         |, sem AS (SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY cosine DESC, doc_id) AS rank
         |    FROM sscored WHERE cosine IS NOT NULL AND NOT isnan(cosine))
         |  WHERE rank <= 5)
         |, rcontrib AS (
         |  SELECT query_id, doc_id, 0 AS src,
         |         1.0 / (60.0 + CAST(rank AS DOUBLE)) AS c FROM lex
         |  UNION ALL
         |  SELECT query_id, doc_id, 1 AS src,
         |         1.0 / (60.0 + CAST(rank AS DOUBLE)) AS c FROM sem)
         |, fused AS (
         |  SELECT query_id, doc_id,
         |         list_reduce(list_prepend(0.0, list(c ORDER BY src)),
         |           (a, x) -> a + x) AS rrf
         |  FROM rcontrib GROUP BY 1, 2)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, rrf FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY rrf DESC, doc_id) AS rank
         |  FROM fused)
         |WHERE rank <= 5""".stripMargin)),

    // IR eval harness: precision/recall@10, MRR and binary nDCG@10 of the
    // exact k-NN join against label-derived qrels (every same-label vector
    // is relevant). Hit counts divide exactly; DCG/IDCG are ordered folds
    // over the driver-precomputed literal discount table (no runtime ln on
    // either engine — libm-agnostic by construction) → hash-exact.
    OracleQuery("ann_retrieval_metrics",
      (s, dir) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val queries = emb.filter(col("vec_id") % 100 === 0)
        val results = Similarity.knnJoin(emb, queries,
          "vec_id", "embedding", "vec_id", "embedding", k = 10)
          .withColumnRenamed("vec_id", "doc_id")
        val qrels = queries.select(col("vec_id").as("query_id"), col("label"))
          .join(emb.select(col("vec_id").as("doc_id"), col("label")),
            Seq("label"))
          .select("query_id", "doc_id")
        Similarity.retrievalMetrics(results, qrels, "query_id", "doc_id",
          "rank", k = 10)
      },
      Some(s"""WITH ${knnRankedCtes(10)}
         |, res AS (SELECT query_id, vec_id AS doc_id, rank FROM knn)
         |, qrels AS (
         |  SELECT DISTINCT CAST(q0.vec_id AS BIGINT) AS query_id,
         |         CAST(e.vec_id AS BIGINT) AS doc_id
         |  FROM embeddings q0 JOIN embeddings e ON e.label = q0.label
         |  WHERE q0.vec_id % 100 = 0)
         |, nrel AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
         |           FROM qrels GROUP BY 1)
         |, hits AS (
         |  SELECT r.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit,
         |         MIN(r.rank) AS first_rank,
         |         list_reduce(list_prepend(0.0,
         |           list(($ndcgDiscSql10)[CAST(r.rank AS INTEGER)]
         |                ORDER BY r.rank)),
         |           (a, x) -> a + x) AS dcg
         |  FROM res r JOIN qrels USING (query_id, doc_id) GROUP BY 1)
         |SELECT q.query_id,
         |  COALESCE(n.n_rel, 0) AS n_rel,
         |  COALESCE(h.n_hit, 0) AS n_hit,
         |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / 10.0 AS precision_at_k,
         |  CASE WHEN COALESCE(n.n_rel, 0) > 0
         |       THEN CAST(COALESCE(h.n_hit, 0) AS DOUBLE)
         |              / CAST(n.n_rel AS DOUBLE) END AS recall_at_k,
         |  COALESCE(1.0 / CAST(h.first_rank AS DOUBLE), 0.0) AS mrr,
         |  CASE WHEN COALESCE(n.n_rel, 0) > 0
         |       THEN COALESCE(h.dcg, 0.0) / list_reduce(list_prepend(0.0,
         |         list_transform(range(1, least(n.n_rel, 10) + 1),
         |           i -> ($ndcgDiscSql10)[CAST(i AS INTEGER)])),
         |         (a, x) -> a + x)
         |       END AS ndcg_at_k
         |FROM (SELECT query_id FROM res UNION SELECT query_id FROM qrels) q
         |LEFT JOIN nrel n USING (query_id)
         |LEFT JOIN hits h USING (query_id)""".stripMargin)),

    // MMR diversification (λ = 0.5) of the exact k-NN top-8 candidate
    // lists, m = 3 selections — the greedy argmax unrolled as three SQL
    // steps; the penalty is an order-free MAX over exact cosines, so both
    // the selections and the mmr doubles replay exactly.
    OracleQuery("ann_mmr_rerank",
      (s, dir) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val queries = emb.filter(col("vec_id") % 100 === 0)
        val cand = Similarity.knnJoin(emb, queries,
          "vec_id", "embedding", "vec_id", "embedding", k = 8)
        Similarity.mmrRerank(cand, emb, "query_id", "vec_id", "cosine",
          "vec_id", "embedding", m = 3, lambda = 0.5)
      },
      Some(s"""WITH ${knnRankedCtes(8)}
         |, cv AS (SELECT k2.query_id, k2.vec_id, k2.cosine AS rel,
         |                e.embedding AS v
         |         FROM knn k2 JOIN embeddings e USING (vec_id))
         |, s1 AS (SELECT query_id, vec_id, v, mmr FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY mmr DESC, vec_id) AS rn
         |    FROM (SELECT query_id, vec_id, v,
         |                 0.5 * rel - 0.5 * 0.0 AS mmr FROM cv))
         |  WHERE rn = 1)
         |, rem2 AS (SELECT cv.* FROM cv
         |           LEFT JOIN s1 ON s1.query_id = cv.query_id
         |                       AND s1.vec_id = cv.vec_id
         |           WHERE s1.vec_id IS NULL)
         |, m2 AS (SELECT c.query_id, c.vec_id,
         |                MAX(${cosSql("c.v", "s.v")}) AS maxsim
         |         FROM rem2 c JOIN s1 s ON s.query_id = c.query_id
         |         GROUP BY 1, 2)
         |, s2 AS (SELECT query_id, vec_id, v, mmr FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY mmr DESC, vec_id) AS rn
         |    FROM (SELECT c.query_id, c.vec_id, c.v,
         |                 0.5 * c.rel - 0.5 * m2.maxsim AS mmr
         |          FROM rem2 c JOIN m2 ON m2.query_id = c.query_id
         |                             AND m2.vec_id = c.vec_id))
         |  WHERE rn = 1)
         |, rem3 AS (SELECT c.* FROM rem2 c
         |           LEFT JOIN s2 ON s2.query_id = c.query_id
         |                       AND s2.vec_id = c.vec_id
         |           WHERE s2.vec_id IS NULL)
         |, sel2 AS (SELECT query_id, vec_id, v FROM s1
         |           UNION ALL SELECT query_id, vec_id, v FROM s2)
         |, m3 AS (SELECT c.query_id, c.vec_id,
         |                MAX(${cosSql("c.v", "s.v")}) AS maxsim
         |         FROM rem3 c JOIN sel2 s ON s.query_id = c.query_id
         |         GROUP BY 1, 2)
         |, s3 AS (SELECT query_id, vec_id, mmr FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY mmr DESC, vec_id) AS rn
         |    FROM (SELECT c.query_id, c.vec_id,
         |                 0.5 * c.rel - 0.5 * m3.maxsim AS mmr
         |          FROM rem3 c JOIN m3 ON m3.query_id = c.query_id
         |                             AND m3.vec_id = c.vec_id))
         |  WHERE rn = 1)
         |SELECT query_id, 1::BIGINT AS rank, vec_id, mmr FROM s1
         |UNION ALL SELECT query_id, 2::BIGINT AS rank, vec_id, mmr FROM s2
         |UNION ALL SELECT query_id, 3::BIGINT AS rank, vec_id, mmr FROM s3""".stripMargin)),
  )

  // ---------------------------------------------------------------- batch 9:
  // temporal joins (operators/TemporalJoin.scala) over the event stream.
  // Times go through unix_micros / epoch_us so all comparisons and the
  // tolerance are exact integer math; doubles are only ever copied (asof
  // payload) or summed as integer cents with the identical
  // FLOOR(v*100+0.5) spelling, so both oracles hash-match bit-for-bit.

  import graft.operators.{Sessions, TemporalJoin}

  private val temporalQs: Seq[OracleQuery] = Seq(
    // Each non-error event picks up the user's most recent error at or
    // before it, within a 2h tolerance — DuckDB's native ASOF LEFT JOIN is
    // the oracle, with the operator's tie rule (greatest payload per equal
    // (key, ts)) replayed as a MAX() pre-aggregate.
    OracleQuery("asof_join_user_error",
      (s, dir) => {
        val ev = Panels.events(s, dir)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("tus"), col("event_type"), col("value"))
        TemporalJoin.asofJoin(
          ev.filter(col("event_type") =!= "error"),
          ev.filter(col("event_type") === "error")
            .select(col("user_id"), col("tus"), col("value")),
          keys = Seq("user_id"), leftTime = "tus", rightTime = "tus",
          payload = Seq("tus" -> "err_tus", "value" -> "err_value"),
          tolerance = Some(7200000000L))
      },
      Some("""WITH ev AS (
         |  SELECT event_id, user_id, epoch_us(ts) AS tus, event_type, value
         |  FROM events)
         |, l AS (SELECT * FROM ev WHERE event_type <> 'error')
         |, r AS (SELECT user_id, tus, MAX(value) AS rv
         |        FROM ev WHERE event_type = 'error' GROUP BY 1, 2)
         |, m AS (
         |  SELECT l.event_id, l.user_id, l.tus, l.event_type, l.value,
         |         r.tus AS mt, r.rv AS mv
         |  FROM l ASOF LEFT JOIN r
         |    ON l.user_id = r.user_id AND l.tus >= r.tus)
         |SELECT event_id, user_id, tus, event_type, value,
         |       CASE WHEN tus - mt <= 7200000000 THEN mt END AS err_tus,
         |       CASE WHEN tus - mt <= 7200000000 THEN mv END AS err_value
         |FROM m""".stripMargin)),

    // Forward direction: each error event picks up the user's NEXT
    // non-error event within an hour (merge_asof direction="forward").
    OracleQuery("asof_join_next_after_error",
      (s, dir) => {
        val ev = Panels.events(s, dir)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("tus"), col("event_type"), col("value"))
        TemporalJoin.asofJoin(
          ev.filter(col("event_type") === "error"),
          ev.filter(col("event_type") =!= "error")
            .select(col("user_id"), col("tus"), col("value")),
          keys = Seq("user_id"), leftTime = "tus", rightTime = "tus",
          payload = Seq("tus" -> "next_tus", "value" -> "next_value"),
          tolerance = Some(3600000000L), direction = "forward")
      },
      Some("""WITH ev AS (
         |  SELECT event_id, user_id, epoch_us(ts) AS tus, event_type, value
         |  FROM events)
         |, l AS (SELECT * FROM ev WHERE event_type = 'error')
         |, r AS (SELECT user_id, tus, MAX(value) AS rv
         |        FROM ev WHERE event_type <> 'error' GROUP BY 1, 2)
         |, m AS (
         |  SELECT l.event_id, l.user_id, l.tus, l.event_type, l.value,
         |         r.tus AS mt, r.rv AS mv
         |  FROM l ASOF LEFT JOIN r
         |    ON l.user_id = r.user_id AND l.tus <= r.tus)
         |SELECT event_id, user_id, tus, event_type, value,
         |       CASE WHEN mt - tus <= 3600000000 THEN mt END AS next_tus,
         |       CASE WHEN mt - tus <= 3600000000 THEN mv END AS next_value
         |FROM m""".stripMargin)),

    // Nearest direction: closest error either side, backward winning
    // ties — two DuckDB ASOF arms + the same gap comparison.
    OracleQuery("asof_join_nearest_error",
      (s, dir) => {
        val ev = Panels.events(s, dir)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("tus"), col("event_type"), col("value"))
        TemporalJoin.asofJoin(
          ev.filter(col("event_type") =!= "error"),
          ev.filter(col("event_type") === "error")
            .select(col("user_id"), col("tus"), col("value")),
          keys = Seq("user_id"), leftTime = "tus", rightTime = "tus",
          payload = Seq("tus" -> "err_tus", "value" -> "err_value"),
          tolerance = Some(7200000000L), direction = "nearest")
      },
      Some("""WITH ev AS (
         |  SELECT event_id, user_id, epoch_us(ts) AS tus, event_type, value
         |  FROM events)
         |, l AS (SELECT * FROM ev WHERE event_type <> 'error')
         |, r AS (SELECT user_id, tus, MAX(value) AS rv
         |        FROM ev WHERE event_type = 'error' GROUP BY 1, 2)
         |, mb AS (
         |  SELECT l.event_id, r.tus AS bt, r.rv AS bv
         |  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.tus >= r.tus)
         |, mf AS (
         |  SELECT l.event_id, r.tus AS ft, r.rv AS fv
         |  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.tus <= r.tus)
         |, m AS (
         |  SELECT l.event_id, l.user_id, l.tus, l.event_type, l.value,
         |         CASE WHEN bt IS NULL THEN ft
         |              WHEN ft IS NULL THEN bt
         |              WHEN l.tus - bt <= ft - l.tus THEN bt ELSE ft END AS mt,
         |         CASE WHEN bt IS NULL THEN fv
         |              WHEN ft IS NULL THEN bv
         |              WHEN l.tus - bt <= ft - l.tus THEN bv ELSE fv END AS mv
         |  FROM l JOIN mb USING (event_id) JOIN mf USING (event_id))
         |SELECT event_id, user_id, tus, event_type, value,
         |       CASE WHEN abs(tus - mt) <= 7200000000 THEN mt END AS err_tus,
         |       CASE WHEN abs(tus - mt) <= 7200000000 THEN mv END AS err_value
         |FROM m""".stripMargin)),

    // 30-minute incident windows after every error event: count the user's
    // non-error events inside each window and sum their values as exact
    // integer cents. The Spark side runs the binned equi-join (bin width =
    // window span, so each window covers at most 2 bins).
    OracleQuery("range_join_error_windows",
      (s, dir) => {
        val ev = Panels.events(s, dir)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("tus"), col("event_type"), col("value"))
        val wins = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("win_id"), col("user_id"),
            col("tus").as("ws"), (col("tus") + 1800000000L).as("we"))
        val pts = ev.filter(col("event_type") =!= "error")
          .select(col("user_id"), col("tus"), col("value"))
        TemporalJoin.rangeJoinBinned(pts, wins, Seq("user_id"),
            pointCol = "tus", startCol = "ws", endCol = "we",
            binWidth = 1800000000L)
          .groupBy(col("win_id"), col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(floor(col("value") * lit(100d) + lit(0.5d)).cast("long")).as("sum_cents"))
      },
      Some("""WITH ev AS (
         |  SELECT event_id, user_id, epoch_us(ts) AS tus, event_type, value
         |  FROM events)
         |, w AS (SELECT event_id AS win_id, user_id, tus AS ws,
         |               tus + 1800000000 AS we
         |        FROM ev WHERE event_type = 'error')
         |, p AS (SELECT user_id, tus, value FROM ev WHERE event_type <> 'error')
         |SELECT w.win_id, w.user_id, COUNT(*) AS n_events,
         |       CAST(SUM(CAST(FLOOR(p.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
         |FROM w JOIN p
         |  ON p.user_id = w.user_id AND p.tus BETWEEN w.ws AND w.we
         |GROUP BY 1, 2""".stripMargin)),
    // Gap-based sessionization of the non-error event stream (30-minute
    // inactivity gap, inclusive), reduced to per-session shape. The break/
    // cumsum construction is tie-invariant, so both engines agree however
    // equal timestamps are ordered; DuckDB's SUM over ints widens to
    // HUGEINT, hence the explicit BIGINT cast on session_id.
    OracleQuery("events_sessionize_30m",
      (s, dir) => {
        val pts = Panels.events(s, dir)
          .filter(col("event_type") =!= "error")
          .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("tus"))
        Sessions.sessionize(pts, Seq("user_id"), "tus", gap = 1800000000L)
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            min(col("tus")).as("start_tus"), max(col("tus")).as("end_tus"))
      },
      Some("""WITH ev AS (
         |  SELECT user_id, epoch_us(ts) AS tus FROM events
         |  WHERE event_type <> 'error')
         |, b AS (
         |  SELECT user_id, tus,
         |         CASE WHEN lag(tus) OVER w IS NULL
         |                OR tus - lag(tus) OVER w > 1800000000
         |              THEN 1 ELSE 0 END AS brk
         |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tus))
         |, g AS (
         |  SELECT user_id, tus,
         |         CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY tus
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |  FROM b)
         |SELECT user_id, session_id, COUNT(*) AS n_events,
         |       MIN(tus) AS start_tus, MAX(tus) AS end_tus
         |FROM g GROUP BY 1, 2""".stripMargin)),

    // Coalesce the per-user 30-minute error windows into maximal covered
    // spans — the running-max sweep as one window pass on both sides.
    OracleQuery("events_error_windows_merged",
      (s, dir) => {
        val wins = Panels.events(s, dir)
          .filter(col("event_type") === "error")
          .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("ws"),
            (unix_micros(col("ts").cast("timestamp")) + 1800000000L).as("we"))
        Sessions.mergeIntervals(wins, Seq("user_id"), "ws", "we")
      },
      Some("""WITH w AS (
         |  SELECT user_id, epoch_us(ts) AS ws, epoch_us(ts) + 1800000000 AS we
         |  FROM events WHERE event_type = 'error')
         |, r AS (
         |  SELECT user_id, ws, we,
         |         MAX(we) OVER (PARTITION BY user_id ORDER BY ws, we
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS reach
         |  FROM w)
         |, g AS (
         |  SELECT user_id, ws, we,
         |         SUM(CASE WHEN reach IS NULL OR ws > reach THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY user_id ORDER BY ws, we
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
         |  FROM r)
         |SELECT user_id, MIN(ws) AS ws, MAX(we) AS we, COUNT(*) AS n_merged
         |FROM g GROUP BY user_id, grp""".stripMargin)),
  )

  // Span-level exact-substring duplication (Lee et al. 2022 granularity):
  // every corpus-duplicated token trigram marked, overlapping marks merged
  // to maximal 1-based inclusive spans via the same interval sweep as
  // events_error_windows_merged. Portable md5-60 gram hashes keep the two
  // engines' candidate sets identical.
  private val spanQ: OracleQuery =
    OracleQuery("doc_duplicate_spans",
      (s, dir) => graft.operators.Dedup.duplicateSpans(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", n = 3),
      Some(s"""WITH toks AS (SELECT doc_id, $lowerToksSql AS ts FROM documents)
         |, g AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |         ('0x'||substr(md5(array_to_string(list_slice(ts, i, i + 2), ' ')),1,15))::BIGINT AS h
         |  FROM toks, unnest(range(1, len(ts) - 3 + 2)) AS u(i)
         |  WHERE len(ts) >= 3)
         |, d AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2)
         |, iv AS (SELECT g.doc_id, g.pos AS s, g.pos + 2 AS e FROM g JOIN d USING (h))
         |, r AS (
         |  SELECT doc_id, s, e,
         |         MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS reach
         |  FROM iv)
         |, gg AS (
         |  SELECT doc_id, s, e,
         |         SUM(CASE WHEN reach IS NULL OR s > reach THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY doc_id ORDER BY s, e
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
         |  FROM r)
         |SELECT doc_id, MIN(s) AS span_start, MAX(e) AS span_end,
         |       COUNT(*) AS n_dup_grams
         |FROM gg GROUP BY doc_id, grp""".stripMargin))

  // The cleaning step over the span relation: later occurrences of every
  // duplicated trigram are cut (globally-first survives: ROW_NUMBER over
  // (doc_id, pos) == Spark's min(struct)), covered token positions
  // anti-joined out, surviving tokens re-assembled in position order.
  private val spanRemoveQ: OracleQuery =
    OracleQuery("doc_remove_dup_spans",
      (s, dir) => graft.operators.Dedup.removeDuplicateSpans(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", n = 3),
      Some(s"""WITH toks0 AS (SELECT doc_id, $lowerToksSql AS ts FROM documents)
         |, toks AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos, ts[i] AS tok
         |  FROM toks0, unnest(range(1, len(ts) + 1)) AS u(i))
         |, g AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |         ('0x'||substr(md5(array_to_string(list_slice(ts, i, i + 2), ' ')),1,15))::BIGINT AS h
         |  FROM toks0, unnest(range(1, len(ts) - 3 + 2)) AS u(i)
         |  WHERE len(ts) >= 3)
         |, rk AS (
         |  SELECT doc_id, pos,
         |         COUNT(*) OVER (PARTITION BY h) AS c,
         |         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
         |  FROM g)
         |, cut AS (SELECT doc_id, pos AS s, pos + 2 AS e FROM rk
         |          WHERE c >= 2 AND rn > 1)
         |, cutpos AS (
         |  SELECT DISTINCT doc_id, CAST(i AS BIGINT) AS pos
         |  FROM cut, unnest(range(s, e + 1)) AS u(i))
         |, kept AS (
         |  SELECT t.doc_id, t.pos, t.tok FROM toks t
         |  ANTI JOIN cutpos c ON t.doc_id = c.doc_id AND t.pos = c.pos)
         |, reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS txt,
         |                 COUNT(*) AS kc
         |          FROM kept GROUP BY 1)
         |, tot AS (SELECT doc_id, COUNT(*) AS tc FROM toks GROUP BY 1)
         |SELECT d.doc_id, COALESCE(reb.txt, '') AS text,
         |       CAST(COALESCE(tot.tc, 0) - COALESCE(reb.kc, 0) AS BIGINT) AS n_tokens_removed
         |FROM documents d
         |LEFT JOIN reb USING (doc_id) LEFT JOIN tot USING (doc_id)""".stripMargin))

  // -------------------------------------------- millisecond-frequency panel

  /** Sub-second panel from events: per-user dense 250 ms grid (row_number
    * over event order), integer-valued target (value×100 rounded) so every
    * window sum is exact in both engines.
    */
  private def msPanel(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("event_id"))
    Panels.events(s, dir).select(col("user_id").as("unique_id"),
      timestamp_micros(lit(1704067200000000L) + // 2024-01-01T00:00:00Z
        (row_number().over(w) - 1).cast("long") * lit(250000L)).as("ds"),
      round(col("value") * 100).cast("long").cast("double").as("y"))
  }

  private val msPanelSql: String =
    """WITH panel AS (
      |  SELECT user_id AS unique_id,
      |         make_timestamp(1704067200000000 +
      |           (ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) - 1) * 250000) AS ds,
      |         CAST(CAST(ROUND(value * 100) AS BIGINT) AS DOUBLE) AS y
      |  FROM events)""".stripMargin

  private val msQs: Seq[OracleQuery] = Seq(
    // lag + rolling mean on a 250 ms grid: the featurizer's dense ordinal
    // over sub-second timestamps (pandas "ms"-family freq; core.py:152
    // accepts any alias)
    OracleQuery("panel_ms_lag_rmean",
      (s, dir) => {
        val p = PanelFrame(msPanel(s, dir), freq = Freq.parse("250ms"))
        Featurizer.addFeatures(p, FeatureSpec(lags = Seq(1),
          lagTransforms = Map(1 -> Seq(RollingMean(4)))))
          .select(col("unique_id"), col("ds"),
            col("lag1").cast("double").as("lag1"),
            col("rolling_mean_lag1_window_size4").cast("double").as("rm4"))
      },
      Some(s"""$msPanelSql
         |SELECT unique_id, ds,
         |  CAST(LAG(y, 1) OVER w AS DOUBLE) AS lag1,
         |  CAST(CASE WHEN COUNT(y) OVER w2 >= 4
         |       THEN SUM(y) OVER w2 / COUNT(y) OVER w2 END AS DOUBLE) AS rm4
         |FROM panel
         |WINDOW w AS (PARTITION BY unique_id ORDER BY ds),
         |       w2 AS (PARTITION BY unique_id ORDER BY ds
         |              ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)""".stripMargin)),

    // recursive naive h=3 at 250 ms: MilliFreq.advance chains epoch-micro
    // arithmetic through the fused loop; forecast timestamps replay as
    // make_timestamp(epoch_us + step·250000)
    OracleQuery("predict_ms_naive_h3",
      (s, dir) => {
        val freq = Freq.parse("250ms")
        val conf = MLForecast(Seq(Models.naive), freq, FeatureSpec(lags = Seq(1)))
        conf.fit(PanelFrame(msPanel(s, dir), freq = freq)).predict(3)
          .select(col("unique_id"), col("ds"), col("naive").cast("double").as("naive"))
      },
      Some(s"""$msPanelSql
         |, ranked AS (
         |  SELECT unique_id, ds, y,
         |         ROW_NUMBER() OVER (PARTITION BY unique_id ORDER BY ds DESC) AS rn
         |  FROM panel)
         |, last AS (SELECT unique_id, ds AS last_ds, y FROM ranked WHERE rn = 1)
         |SELECT unique_id,
         |       make_timestamp(epoch_us(last_ds) + step * 250000) AS ds,
         |       CAST(y AS DOUBLE) AS naive
         |FROM last CROSS JOIN (SELECT UNNEST(range(1, 4)) AS step) s""".stripMargin)),
  )

  // --- density-ratio estimation, frozen-replay oracle (r8 VERDICT #4) ----
  // The reference's estimate_density_ratio (conformal_prediction.py:630-738)
  // trains a cross-fitted logistic classifier. The replay trainer
  // (ConformalTransfer.estimateDensityRatioReplay) freezes every
  // nondeterminism: exactly 4 full-batch GD steps at lr=0.5, the rational
  // link σ(z)=0.5+0.5·z/(1+|z|) (no exp — only correctly-rounded IEEE ops),
  // md5-parity fold assignment, gradient sums as ordered left folds
  // (list_reduce twins), integer-valued features (exact moments), and an
  // exact top-k order-statistic weight clip — so the TRAINED weights, and
  // the intervals built from them, hash-match DuckDB bit-for-bit.

  /** Shared CTE prefix: calibration scores + shifted-target features +
    * standardization + fold assignment + unrolled 2-fold GD training +
    * per-row density-ratio weights with the order-statistic clip.
    *
    * Every chained CTE is `AS MATERIALIZED`: DuckDB 1.0 inlines CTEs per
    * reference, and each GD step references its predecessor (and `trn`)
    * several times, so without the hint the base relations re-evaluate
    * EXPONENTIALLY in the iteration count — at sf0.1 the un-hinted form
    * spilled >80 GB and never finished. Materialization is semantics-
    * neutral (same rows, same fold order); with it the whole replay is
    * linear and runs in seconds at sf0.1.
    */
  private def dreSqlPrefix: String = {
    val iters = 4
    val lr = "0.5"
    def gd(f: Int): String = {
      val init =
        s"""
           |, g0_f$f AS MATERIALIZED (SELECT CAST(0 AS DOUBLE) AS w1, CAST(0 AS DOUBLE) AS w2,
           |                    CAST(0 AS DOUBLE) AS b, CAST(COUNT(*) AS BIGINT) AS nt
           |             FROM trn WHERE fold <> $f)""".stripMargin
      val steps = (1 to iters).map { t =>
        val z = s"(p.w1 * r.xs1 + p.w2 * r.xs2 + p.b)"
        val sig = s"(0.5 + 0.5*$z/(1+ABS($z)))"
        def fold(term: String) =
          s"list_reduce(list($term ORDER BY r.lab, r.unique_id, r.step), (a, c) -> a + c)"
        s"""
           |, g${t}_f$f AS MATERIALIZED (
           |  SELECT p.w1 - $lr * ${fold(s"($sig - r.lab) * r.xs1")} / p.nt AS w1,
           |         p.w2 - $lr * ${fold(s"($sig - r.lab) * r.xs2")} / p.nt AS w2,
           |         p.b - $lr * ${fold(s"($sig - r.lab)")} / p.nt AS b,
           |         p.nt AS nt
           |  FROM (SELECT * FROM trn WHERE fold <> $f) r, g${t - 1}_f$f p
           |  GROUP BY p.w1, p.w2, p.b, p.nt)""".stripMargin
      }.mkString
      init + steps
    }
    val zz = s"(CASE WHEN t.fold = 0 THEN m.w10 ELSE m.w11 END * t.xs1 + " +
      s"CASE WHEN t.fold = 0 THEN m.w20 ELSE m.w21 END * t.xs2 + " +
      s"CASE WHEN t.fold = 0 THEN m.b0 ELSE m.b1 END)"
    val pp = s"(0.5 + 0.5*$zz/(1+ABS($zz)))"
    s"""$P
       |, densem AS MATERIALIZED (SELECT * FROM dense)
       |, last AS MATERIALIZED (SELECT unique_id, MAX(ord) AS mo FROM densem GROUP BY 1)
       |, wins AS (SELECT unique_id, mo - 14 AS cutoff FROM last
       |           UNION ALL SELECT unique_id, mo - 7 FROM last)
       |, st AS (SELECT unique_id, cutoff, CAST(i AS INT) AS step,
       |                cutoff + CAST(i AS BIGINT) AS ds
       |         FROM wins, UNNEST(range(1, 8)) t(i))
       |, sc AS MATERIALIZED (SELECT st.unique_id, st.step,
       |                ABS(CAST(a.y AS DOUBLE) - CAST(p.y AS DOUBLE)) AS score
       |         FROM st
       |         JOIN densem a ON a.unique_id = st.unique_id AND a.ord = st.ds
       |         JOIN densem p ON p.unique_id = st.unique_id AND p.ord = st.ds - 7)
       |, srcf AS (SELECT unique_id, step,
       |                  CAST(unique_id % 7 AS DOUBLE) AS x1,
       |                  CAST(step AS DOUBLE) AS x2, 0.0 AS lab FROM sc)
       |, tgtf AS (SELECT unique_id, step,
       |                  CAST((unique_id * 3) % 7 AS DOUBLE) AS x1,
       |                  CAST(step AS DOUBLE) AS x2, 1.0 AS lab FROM sc)
       |, allr AS (SELECT * FROM srcf UNION ALL SELECT * FROM tgtf)
       |, mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x1) AS s1,
       |                 SUM(x1*x1) AS ss1, SUM(x2) AS s2, SUM(x2*x2) AS ss2
       |          FROM allr)
       |, stz AS (SELECT n, s1 / n AS m1, s2 / n AS m2,
       |            CASE WHEN GREATEST((ss1 - s1*s1/n)/(n-1), CAST(0 AS DOUBLE)) > 0
       |                 THEN SQRT(GREATEST((ss1 - s1*s1/n)/(n-1), CAST(0 AS DOUBLE)))
       |                 ELSE 1.0 END AS d1,
       |            CASE WHEN GREATEST((ss2 - s2*s2/n)/(n-1), CAST(0 AS DOUBLE)) > 0
       |                 THEN SQRT(GREATEST((ss2 - s2*s2/n)/(n-1), CAST(0 AS DOUBLE)))
       |                 ELSE 1.0 END AS d2
       |          FROM mom)
       |, trn AS MATERIALIZED (SELECT a.lab, a.unique_id, a.step,
       |                 (a.x1 - s.m1) / s.d1 AS xs1, (a.x2 - s.m2) / s.d2 AS xs2,
       |                 CASE WHEN substr(md5(CAST(a.unique_id AS VARCHAR)), 1, 1) < '8'
       |                      THEN 0 ELSE 1 END AS fold
       |          FROM allr a, stz s)""".stripMargin +
      gd(0) + gd(1) +
      s"""
         |, m AS MATERIALIZED (SELECT f0.w1 AS w10, f0.w2 AS w20, f0.b AS b0,
         |               f1.w1 AS w11, f1.w2 AS w21, f1.b AS b1
         |        FROM g${iters}_f0 f0, g${iters}_f1 f1)
         |, wsrc AS MATERIALIZED (SELECT t.unique_id, t.step, $pp / (1 - $pp) AS wraw
         |           FROM trn t, m WHERE t.lab = 0.0)
         |, rk AS (SELECT wraw, ROW_NUMBER() OVER (ORDER BY wraw DESC) AS r,
         |                CAST(COUNT(*) OVER () AS BIGINT) AS ns FROM wsrc)
         |, clipv AS MATERIALIZED (SELECT wraw AS clip FROM rk
         |            WHERE r = GREATEST(CAST(1 AS BIGINT),
         |                               CAST(CEIL(0.01 * ns) AS BIGINT)))""".stripMargin
  }

  /** Spark-side shared setup: calibration scores with the same integer
    * features; the replay trainer attaches the `weight` column.
    */
  private def dreConf = MLForecast(
    models = Seq(Models.seasonalNaive(7)),
    freq = Freq.IntFreq(1),
    spec = FeatureSpec(lags = Seq(7)))

  private def dreWeights(s: SparkSession, dir: String): DataFrame =
    dreWeightsFrom(dreConf.fit(dense(s, dir)))

  private def dreWeightsFrom(fitted: graft.forecast.FittedMLForecast): DataFrame = {
    val scores = Conformal.conformityScores(
      fitted.crossValidation(nWindows = 2, h = 7),
      "unique_id", "ds", "y", Seq("seasonal_naive7"))
      .withColumn("step", col("__step"))
      .withColumn("x1", (col("unique_id") % 7).cast("double"))
      .withColumn("x2", col("step").cast("double"))
    val target = scores
      .select(col("unique_id"), col("step"),
        ((col("unique_id") * 3) % 7).cast("double").as("x1"),
        col("step").cast("double").as("x2"))
    graft.forecast.ConformalTransfer.estimateDensityRatioReplay(
      scores, target, Seq("x1", "x2"), Seq("unique_id", "step"))
  }

  private def dreIntervals(s: SparkSession, dir: String): DataFrame = {
    // ONE fit shared by the weight training and the prediction assembly:
    // the two halves read the same fitted pipeline, and a second fit was a
    // second full panel pin (r11 execution trace: the query's top two executions)
    val fitted = dreConf.fit(dense(s, dir))
    // weights quantized to 2^-20 dyadics INSIDE the oracle query: both
    // engines floor identical trained weights identically, and dyadic
    // sums with <= 52 significant bits are exact, so the pooled-total and
    // test-weight aggregates are order-independent across engines
    val scw = dreWeightsFrom(fitted)
      .withColumn("w", floor(col("weight") * lit(1048576.0)) / lit(1048576.0))
    graft.forecast.ConformalTransfer.addPooledErrorIntervals(
      fitted.predict(7), scw, "unique_id", "ds",
      Seq("seasonal_naive7"), Seq(80), weightCol = Some("w"))
      .select(col("unique_id"), col("ds"),
        col("seasonal_naive7").cast("double").as("seasonal_naive7"),
        col("`seasonal_naive7-lo-80`").cast("double").as("lo80"),
        col("`seasonal_naive7-hi-80`").cast("double").as("hi80"))
  }

  private val dreQs: Seq[OracleQuery] = Seq(
    OracleQuery("dre_trained_weights",
      (s, dir) => dreWeights(s, dir)
        .select(col("unique_id"), col("step").cast("int").as("step"),
          col("weight").cast("double").as("weight"))
        .distinct(),
      Some(dreSqlPrefix +
        s"""
           |SELECT DISTINCT unique_id, CAST(step AS INT) AS step,
           |       CAST(LEAST(wraw, clip) AS DOUBLE) AS weight
           |FROM wsrc, clipv""".stripMargin)),

    OracleQuery("predict_intervals_dre",
      (s, dir) => dreIntervals(s, dir),
      Some(dreSqlPrefix +
        s"""
           |, wq AS (SELECT DISTINCT unique_id, step,
           |                FLOOR(LEAST(wraw, clip) * 1048576.0) / 1048576.0 AS w
           |         FROM wsrc, clipv)
           |, scw AS MATERIALIZED (SELECT sc.unique_id, sc.step, sc.score, wq.w
           |          FROM sc JOIN wq ON wq.unique_id = sc.unique_id
           |                         AND wq.step = sc.step)
           |, wt AS (SELECT AVG(w) AS wtest FROM scw)
           |, tot AS (SELECT step, SUM(w) AS total FROM scw GROUP BY 1)
           |, cum AS (SELECT s.step, s.score,
           |                 SUM(s.w / (t2.total + wt.wtest)) OVER (
           |                   PARTITION BY s.step ORDER BY s.score
           |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw
           |          FROM scw s, wt, tot t2 WHERE t2.step = s.step)
           |, q AS (SELECT step,
           |          COALESCE(MIN(score) FILTER (WHERE cumw >= 1.0 - (1.0 - 0.8)),
           |                   CAST('infinity' AS DOUBLE)) AS q80
           |        FROM cum GROUP BY 1)
           |, steps2 AS (SELECT unique_id, mo, UNNEST(range(1, 8)) AS i FROM last)
           |, preds AS (SELECT s2.unique_id, s2.mo + s2.i AS ds,
           |                   CAST(s2.i AS INT) AS step, CAST(py.y AS DOUBLE) AS yhat
           |            FROM steps2 s2
           |            JOIN densem py ON py.unique_id = s2.unique_id
           |                         AND py.ord = s2.mo + s2.i - 7)
           |SELECT p.unique_id, p.ds, p.yhat AS seasonal_naive7,
           |       CAST(p.yhat - q.q80 AS DOUBLE) AS lo80,
           |       CAST(p.yhat + q.q80 AS DOUBLE) AS hi80
           |FROM preds p JOIN q ON q.step = p.step""".stripMargin)),
  )

  val all: Seq[OracleQuery] =
    localWindows ++ seasonalWindows ++ Seq(ewmQ) ++ comboQs ++ panelOps ++
      transformQs ++ Seq(dateQ) ++ pooledQs ++ pipelineQs ++ dataOpsQs ++
      dataOpsQs2 ++ eventQs ++ corpusQs ++ corpusQs2 ++ retrievalQs ++
      temporalQs ++ Seq(spanQ, spanRemoveQ) ++ msQs ++ dreQs
}
