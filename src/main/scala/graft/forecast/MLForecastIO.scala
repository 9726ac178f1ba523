package graft.forecast

import java.io.{ObjectInputStream, ObjectOutputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.core.{Freq, PanelFrame}

/** Persistence for a fitted pipeline (reference save/load,
  * forecast.py:2088-2124, core.py:2002-2010 — cloudpickle there; here the
  * Spark-native split: the panel state goes to parquet, the configuration
  * and trained models to a serialized blob on the same filesystem (Hadoop
  * FS API, so s3://... works like file://...), plus a human-readable
  * params.json. Load rebuilds transform/feature state deterministically
  * from the panel via `warmup` — every transform's fit is a pure function
  * of the panel, so the rebuilt state is identical to the saved session's.
  */
object MLForecastIO {

  private case class PanelMeta(idCol: String, timeCol: String, targetCol: String,
                               freq: Freq, staticCols: Seq[String],
                               weightCol: Option[String])

  /** Blob format version: readBlob fails with a clear migration message on
    * a mismatch instead of a ClassCastException deep in deserialization.
    * v2 = model state as parquet sidecars (round 5).
    */
  private val BlobVersion = "graft-io-v2"

  private def writeBlob(spark: SparkSession, path: String, obj: AnyRef): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = new ObjectOutputStream(fs.create(p, true))
    try { out.writeObject(BlobVersion); out.writeObject(obj) } finally out.close()
  }

  private def readBlob(spark: SparkSession, path: String): AnyRef = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = new ObjectInputStream(fs.open(p))
    try {
      val ver = try in.readObject() catch {
        case e: Exception => throw new IllegalStateException(
          s"$path is not a graft model blob (or predates versioning): $e")
      }
      require(ver == BlobVersion,
        s"$path was saved with format '$ver'; this build reads '$BlobVersion' — " +
          "re-save the model with this version")
      in.readObject()
    } finally in.close()
  }

  def save(fitted: FittedMLForecast, path: String): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val spark = fitted.rawPanel.df.sparkSession
    val meta = PanelMeta(fitted.rawPanel.idCol, fitted.rawPanel.timeCol,
      fitted.rawPanel.targetCol, fitted.rawPanel.freq,
      fitted.rawPanel.staticCols, fitted.rawPanel.weightCol)
    // Every sidecar write is an independent Spark job on a distinct path —
    // submit them CONCURRENTLY so the save pays max(job) instead of
    // sum(jobs) in driver round-trips (r11's last `weak` bench row: each
    // state frame is tiny but each serial write stacked a constant job
    // latency; reference equivalent is one cloudpickle, core.py:2002-2010).
    val writes = Seq.newBuilder[Future[Unit]]
    writes += Par.future(spark) {
      fitted.rawPanel.df.write.mode("overwrite").parquet(s"$path/panel")
    }
    // frozen transform state (scaler stats, auto decisions, Box-Cox λ):
    // persisting it keeps save/load faithful after update() chains, where
    // refitting on the appended panel would silently change the values
    val stateCounts = fitted.fittedTransforms.zipWithIndex.map { case (f, i) =>
      f.state.zipWithIndex.foreach { case (df, j) =>
        writes += Par.future(spark) {
          df.write.mode("overwrite").parquet(s"$path/tfm_state/$i/$j")
        }
      }
      f.state.length
    }
    // model state (per-series relations) goes to parquet like the transform
    // state — never through a driver collect into the blob
    val modelStateCounts = fitted.trained.zipWithIndex.map { case ((_, tm), i) =>
      tm.state.zipWithIndex.foreach { case (df, j) =>
        writes += Par.future(spark) {
          df.write.mode("overwrite").parquet(s"$path/model_state/$i/$j")
        }
      }
      tm.state.length
    }
    val directStateCounts = fitted.directTrained.zipWithIndex.map { case ((_, byH), i) =>
      byH.toSeq.sortBy(_._1).map { case (h, tm) =>
        tm.state.zipWithIndex.foreach { case (df, j) =>
          writes += Par.future(spark) {
            df.write.mode("overwrite").parquet(s"$path/model_state_direct/$i/$h/$j")
          }
        }
        h -> tm.state.length
      }
    }
    writes.result().foreach(Await.result(_, Duration.Inf))
    writeBlob(spark, s"$path/state.bin",
      (fitted.conf, meta, fitted.trained, fitted.directTrained, stateCounts,
        modelStateCounts, directStateCounts))

    // JSON string escaping: a model/feature name carrying a quote or
    // backslash must not emit an unparseable params.json
    def js(v: String): String = "\"" + v.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val params =
      s"""{"models": [${fitted.conf.models.map(m => js(m.name)).mkString(", ")}],
         | "features": [${fitted.conf.spec.featureNames.map(js).mkString(", ")}],
         | "target_transforms": ${fitted.conf.targetTransforms.length},
         | "direct_horizons": [${fitted.conf.directHorizons.map(_ + 1).mkString(", ")}],
         | "static_features": [${fitted.conf.staticFeatures.map(js).mkString(", ")}]}""".stripMargin
    val p = new Path(s"$path/params.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(params.getBytes("UTF-8")) finally out.close()
  }

  def load(spark: SparkSession, path: String): FittedMLForecast = {
    val (conf, meta, trainedRaw, directRaw, stateCounts, modelStateCounts, directStateCounts) =
      readBlob(spark, s"$path/state.bin")
        .asInstanceOf[(MLForecast, PanelMeta, Seq[(String, TrainedModel)],
          Seq[(String, Map[Int, TrainedModel])], Seq[Int], Seq[Int], Seq[Seq[(Int, Int)]])]
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    // spark.read.parquet is lazy but not free: each path pays a driver-side
    // file listing + footer schema read. Issue them concurrently (same
    // rationale as save's threaded writes).
    def rd(p: String): Future[org.apache.spark.sql.DataFrame] =
      Par.future(spark)(spark.read.parquet(p))
    val dfF = rd(s"$path/panel")
    val statesF = stateCounts.zipWithIndex.map { case (n, i) =>
      (0 until n).map(j => rd(s"$path/tfm_state/$i/$j"))
    }
    val trainedF = trainedRaw.zipWithIndex.zip(modelStateCounts).map {
      case (((name, tm), i), n) =>
        (name, tm, (0 until n).map(j => rd(s"$path/model_state/$i/$j")))
    }
    val directF = directRaw.zipWithIndex.zip(directStateCounts).map {
      case (((name, byH), i), counts) =>
        val countByH = counts.toMap
        (name, byH.toSeq.map { case (h, tm) =>
          val n = countByH.getOrElse(h, 0)
          (h, tm, (0 until n).map(j => rd(s"$path/model_state_direct/$i/$h/$j")))
        })
    }
    def await[A](f: Future[A]): A = Await.result(f, Duration.Inf)
    val panel = PanelFrame(await(dfF), meta.idCol, meta.timeCol, meta.targetCol,
      meta.freq, meta.staticCols, meta.weightCol)
    val states = statesF.map(_.map(await))
    val trained = trainedF.map { case (name, tm, fs) =>
      name -> (if (fs.isEmpty) tm else tm.restoreState(fs.map(await)))
    }
    val directTrained = directF.map { case (name, byH) =>
      name -> byH.map { case (h, tm, fs) =>
        h -> (if (fs.isEmpty) tm else tm.restoreState(fs.map(await)))
      }.toMap
    }
    conf.warmupRestored(panel, trained, directTrained, states)
  }
}
