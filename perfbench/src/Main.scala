package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

/** Forecasting-pipeline benchmark driver. One JVM runs one workload:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --series <n> --days <n> --smape-max <pct>
  *                  --coverage-gap-max <share> --out <record.json> --work <dir>
  *
  * After one untimed warm cycle, with `--trace 0` it repeats the workload's
  * cycle of public API calls (fit, predict, ...) until `--seconds` have
  * passed and records each call's wall time. With `--trace 1` it repeats a
  * cycle that calls each layer's entry point inside a named span, with a
  * SparkListener attached, plus one untraced and one traced end-to-end cycle
  * per round to measure the listener's overhead. Outputs are collected and checked after each cycle,
  * outside the timed region. The raw record goes to `--out`; metrics are
  * derived from it by perfbench/run.py.
  */
object Main {
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threadBean = ManagementFactory.getThreadMXBean

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(opt("work")).getAbsoluteFile
    val bench = new Bench(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", opt("series").toInt, opt("days").toInt, work,
      opt("smape-max").toDouble, opt.getOrElse("coverage-gap-max", "1").toDouble)
    val json = bench.run()
    val out = new java.io.PrintWriter(opt("out"), "UTF-8")
    try out.write(json) finally out.close()
  }

  /** Fixed single-thread work, recorded beside the metrics so a run on a
    * loaded box can be recognized (wall/cpu well above 1). Never used to
    * rescale a metric.
    */
  def calibrationSpin(): (Double, Double) = {
    var x = 0x9E3779B97F4A7C15L
    val c0 = threadBean.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    var i = 0L
    while (i < 100000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("")
    ((System.nanoTime() - t0) / 1e9, (threadBean.getCurrentThreadCpuTime - c0) / 1e9)
  }

  /** Waits (at most 4 s) until the JIT compilers have been idle for a
    * moment, so the compile backlog left by the warm pass does not compete
    * with the first timed cycle for the cores.
    */
  def awaitJitQuiet(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 4000000000L
    var last = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && System.nanoTime() < deadline) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      quiet = now - last < 25
      last = now
    }
  }

  def processCpuS: Double = osBean.getProcessCpuTime / 1e9

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** One timed call: its kind (fit, predict, ...), wall seconds and the
  * number of forecast values it emitted.
  */
final case class Call(kind: String, wallS: Double, forecasts: Long)

final class Bench(workload: String, seed: Long, seconds: Double, trace: Boolean,
                  nSeries: Int, nDays: Int, work: File,
                  smapeMax: Double, coverageGapMax: Double) {
  import Main._

  // local[4] at most; fewer where the machine has fewer cores
  private val cores = math.min(4, Runtime.getRuntime.availableProcessors)

  private val failures = ArrayBuffer.empty[String]
  private var checksRun = 0
  private var attempted = 0
  private var failed = 0

  private[perfbench] def check(ok: Boolean, what: => String): Unit = {
    checksRun += 1
    if (!ok) { failures += what; System.err.println(s"[perfbench] CHECK FAILED: $what") }
  }

  def run(): String = {
    val spinStart = calibrationSpin()
    work.mkdirs()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try body(spark, spinStart, sessionS) finally spark.stop()
  }

  private def body(spark: SparkSession, spinStart: (Double, Double), sessionS: Double): String = {
    val wl = Workload(workload, spark, nSeries, nDays, work)
    // input generation: repeated, the median goes into setup_s
    val genS = (0 until 3).map { _ =>
      val g0 = System.nanoTime(); wl.generate(seed); (System.nanoTime() - g0) / 1e9
    }
    // one untimed warm cycle (class loading, codegen, JIT); a cold cycle
    // runs 1.5-2x slower than a warm one
    val w0 = System.nanoTime()
    wl.cycle(new CallLog, None, 0).foreach(_ => ())
    awaitJitQuiet()
    val warmS = (System.nanoTime() - w0) / 1e9

    val tracer = if (trace) Some(new Tracer) else None
    val e2e = ArrayBuffer.empty[(Seq[Call], Double)]
    val e2eTraced = ArrayBuffer.empty[Double]
    val layerCycles = ArrayBuffer.empty[Map[String, Double]]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var cycle = 1
    do {
      if (!trace) e2e += timedCycle(wl, None, cycle)
      else {
        val tr = tracer.get
        spark.sparkContext.addSparkListener(tr)
        try layerCycles += tr.span("cycle", cycle)(wl.layerCycle(tr, cycle))
        catch { case NonFatal(e) => recordFailure(e) }
        val traced = timedCycle(wl, Some(tr), cycle)
        spark.sparkContext.removeSparkListener(tr)
        e2eTraced += traced._1.map(_.wallS).sum
        e2e += timedCycle(wl, None, cycle)
      }
      cycle += 1
    } while (System.nanoTime() < deadline)
    tracer.foreach(_.drain())

    val r0 = System.nanoTime()
    wl.fusedMatchesUnfused(this)
    val routeCheckS = (System.nanoTime() - r0) / 1e9
    val spinEnd = calibrationSpin()

    val acc = wl.accuracy
    check(acc.smape.forall(v => !v.isNaN && v <= smapeMax),
      s"smape ${acc.smape.mkString} above bound $smapeMax")
    acc.coverage80.foreach(c => check(math.abs(c - 0.80) <= coverageGapMax,
      s"coverage_gap_80 ${math.abs(c - 0.80)} above bound $coverageGapMax"))

    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    val cycles = e2e.map { case (calls, cpu) =>
      val cs = calls.map(c => s"""{"kind":"${c.kind}","wall_s":${c.wallS},"forecasts":${c.forecasts}}""")
      s"""{"calls":[${cs.mkString(",")}],"cpu_s":$cpu}"""
    }
    val layerSteps = layerCycles.map(m =>
      m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    s"""{"workload":"$workload","seed":$seed,"trace":$trace,"cores":$cores,""" +
      s""""series":$nSeries,"days":$nDays,"session_s":$sessionS,""" +
      s""""gen_s":[${genS.mkString(",")}],"warm_s":$warmS,"route_check_s":$routeCheckS,""" +
      s""""spin_start":[${spinStart._1},${spinStart._2}],"spin_end":[${spinEnd._1},${spinEnd._2}],""" +
      s""""peak_rss_mb":${num(peakRssMb)},"smape":${num(acc.smape.getOrElse(Double.NaN))},""" +
      s""""coverage_80":${num(acc.coverage80.getOrElse(Double.NaN))},""" +
      s""""attempted":$attempted,"failed":$failed,"checks_run":$checksRun,""" +
      s""""check_failures":[${failures.map(m => "\"" + m.replace("\\", "\\\\").replace("\"", "'") + "\"").mkString(",")}],""" +
      s""""cycles":[${cycles.mkString(",")}],"traced_cycle_s":[${e2eTraced.mkString(",")}],""" +
      s""""layer_cycles":[${layerSteps.mkString(",")}],""" +
      s""""trace":${tracer.map(_.toJson).getOrElse("null")}}"""
  }

  /** One end-to-end cycle; returns its calls and the process CPU they used. */
  private def timedCycle(wl: Workload, tr: Option[Tracer], cycle: Int): (Seq[Call], Double) = {
    val log = new CallLog
    val c0 = processCpuS
    val outputs = try {
      tr match {
        case Some(t) => t.span("e2e", cycle)(wl.cycle(log, Some(this), cycle))
        case None    => wl.cycle(log, Some(this), cycle)
      }
    } catch { case NonFatal(e) => recordFailure(e); Nil }
    val cpu = processCpuS - c0
    attempted += log.calls.length + (if (log.pendingFailed) 1 else 0)
    outputs.foreach(_()) // output checks, untimed
    (log.calls.toSeq, cpu)
  }

  private[perfbench] def recordFailure(e: Throwable): Unit = {
    failed += 1
    check(ok = false, s"call failed: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
  }

  private[perfbench] def checkRows(label: String, rows: Array[Row], expected: Long,
                                   valueCols: Seq[String]): Unit = {
    check(rows.length == expected, s"$label: ${rows.length} rows, expected $expected")
    val bad = rows.count { r =>
      valueCols.exists { c =>
        val i = r.fieldIndex(c)
        r.isNullAt(i) || r.getDouble(i).isNaN
      }
    }
    check(bad == 0, s"$label: $bad rows with a null or NaN forecast")
  }

  private[perfbench] def checkIdentical(label: String, a: Array[Row], b: Array[Row]): Unit = {
    def key(rs: Array[Row]) = rs.map(_.toSeq.map {
      case d: java.lang.Double => java.lang.Double.doubleToRawLongBits(d)
      case x => x
    }).sortBy(_.toString)
    val (ka, kb) = (key(a), key(b))
    val diff = ka.zip(kb).count { case (x, y) => x != y } + math.abs(ka.length - kb.length)
    check(diff == 0, s"$label: $diff of ${ka.length} rows differ")
  }
}

/** Records the wall time of each timed call of a cycle. */
final class CallLog {
  val calls = ArrayBuffer.empty[Call]
  var pendingFailed = false

  def apply[T](kind: String, forecasts: T => Long)(body: => T): T = {
    pendingFailed = true
    val t0 = System.nanoTime()
    val r = body
    calls += Call(kind, (System.nanoTime() - t0) / 1e9, forecasts(r))
    pendingFailed = false
    r
  }
}

final case class Accuracy(smape: Option[Double], coverage80: Option[Double])
