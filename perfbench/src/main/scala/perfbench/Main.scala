package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark driver JVM: one workload per run, closed loop, one client.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --detail FILE --cache DIR [--tiny]
  *                  [--inject-failure]
  *
  * `--cache` holds state a workload builds once per checkout and reuses
  * (the pre-built lake of `nightly_daily`, the tables of `query_mix`; see
  * [[Prepare]]).
  * Prints `PERFBENCH_RESULT {json}` as its last stdout line. With trace 0
  * the metrics are the end-to-end set; with trace 1 timed ops alternate
  * between the plain program and the traced one (traced first on odd
  * seeds, second on even ones), and the metrics are the per-layer set
  * derived from the traced ops' spans.
  */
object Main {
  /** `seconds` is the op's wall time, `calib` the mean of the calibration
    * runs just before and after it.
    */
  final case class Sample(label: String, seconds: Double, calib: Double,
      units: Long, traced: Boolean, failures: Seq[String]) {
    def calibrated: Double = seconds * Calibration.Reference / calib
  }

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val tiny = flags("tiny")
    val inject = flags("inject-failure")
    val work = Paths.get(opt("work")).toAbsolutePath
    require(Workload.names.contains(workload), s"unknown workload $workload")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = session(cores, work, s"perfbench-$workload")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val wl = Workload(workload, spark, work, seed, tiny, tracer,
      Paths.get(opt("cache")).toAbsolutePath)
    val samples = ArrayBuffer.empty[Sample]
    val calibration = new Calibration(spark, work.resolve("calibration"))
    var opNo = 0

    /** Runs the next op and returns its seconds; timed ops are recorded and
      * their outputs checked, warm-up ops only have to complete.
      */
    def runOp(traced: Boolean, warmup: Boolean, sabotage: Boolean): Double = {
      val op = wl.op(opNo)
      opNo += 1
      def probe() = if (wl.calibrated) calibration.run() else Calibration.Reference
      val before = if (warmup) 0.0 else probe()
      tracer.foreach(_.op = samples.size)
      val t0 = System.nanoTime()
      val err = try { op.run(traced); None } catch {
        case e: Exception => Some(s"${op.label}: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val s = (System.nanoTime() - t0) / 1e9
      tracer.foreach(_.op = -1)
      if (err.nonEmpty) throw new OpFailed(err.get)
      if (sabotage) op.sabotage()
      if (!warmup) {
        val calib = (before + probe()) / 2
        samples += Sample(op.label, s, calib, op.units, traced, op.check())
      }
      s
    }

    val t0 = System.nanoTime()
    wl.prepare()
    if (wl.calibrated) calibration.run() // its own cold run
    val prepareS = (System.nanoTime() - t0) / 1e9

    var aborted: Option[String] = None
    var setupS = 0.0
    val warm = ArrayBuffer.empty[Double]
    try {
      (1 to wl.warmOps).foreach(_ => warm += runOp(traced = false, warmup = true, sabotage = false))
      wl.beforeTimed()
      setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

      val loopStart = System.nanoTime()
      var k = 0
      while (k < (if (trace) 2 else 1) ||
          (System.nanoTime() - loopStart) / 1e9 < seconds) {
        runOp(traced = trace && (k + seed) % 2 == 1, warmup = false, sabotage = inject && k == 0)
        k += 1
      }
    } catch { case e: OpFailed => aborted = Some(e.getMessage) }
    // an op that threw is attempted and failed
    val attempted = samples.size + aborted.size

    val peakRssMb = Rss.peakMb()
    val (lakeB, lakeFiles) = Fs.usage(wl.lakeDir)
    val timed = samples.toSeq
    val failed = timed.count(_.failures.nonEmpty) + aborted.size
    // set-up in calibrated seconds too, against the probe around the first
    // timed op
    val setupCal = timed.headOption.fold(setupS)(x => setupS * Calibration.Reference / x.calib)

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupCal, "s"),
        ("units_per_s", timed.map(_.units).sum / math.max(1e-9, timed.map(_.calibrated).sum), "units/s"),
        ("op_p50_s", Stats.median(timed.map(_.calibrated)), "s"),
        ("peak_rss_mb", peakRssMb, "MB"))
      else Layers.metrics(tracer.get, timed, cores, lakeB, lakeFiles)

    Detail.write(Paths.get(opt("detail")), workload, seed, trace, Map(
      "session_s" -> sessionS, "prepare_s" -> prepareS, "setup_s" -> setupS,
      "setup_calibrated_s" -> setupCal,
      "peak_rss_mb" -> peakRssMb, "lake_mb" -> lakeB / 1048576.0,
      "lake_files" -> lakeFiles.toDouble) ++
      warm.zipWithIndex.map { case (w, i) => s"warmup_op_${i + 1}_s" -> w },
      timed, aborted, metrics, tracer)
    tracer.foreach(_.close())
    spark.stop()

    val m = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    println(s"PERFBENCH_RESULT {\"correct\": ${failed == 0 && aborted.isEmpty}, " +
      s"\"attempted\": $attempted, \"failed\": $failed, \"metrics\": $m}")
  }

  final class OpFailed(msg: String) extends Exception(msg)

  /** local[cores] session with the program's extensions; Spark's scratch
    * space lives under `work`.
    */
  def session(cores: Int, work: Path, app: String): SparkSession = {
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.expr.catalyst.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .appName(app).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

object Rss {
  /** Peak resident set of this JVM (driver and executors in local mode). */
  def peakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

/** Build-time run, once per checkout:
  *
  *   perfbench.Prepare WORK CACHE_ROOT
  *
  * builds the `nightly_daily` lake and the `query_mix` tables under
  * CACHE_ROOT and runs one pass of `query_mix`, so that a JVM started with
  * `-XX:ArchiveClassesAtExit` archives the classes the runs load (class-data
  * sharing; the runs start with `-XX:SharedArchiveFile`).
  */
object Prepare {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val cacheRoot = Paths.get(args(1)).toAbsolutePath
    val spark = Main.session(math.min(4, Runtime.getRuntime.availableProcessors), work,
      "perfbench-prepare")
    // the lake build runs the backfill, which loads nearly every class a
    // daily step does
    new NightlyDaily(spark, work.resolve("nightly_daily"), 1L, false, None,
      cacheRoot.resolve("nightly_daily")).prepare()
    val q = new QueryMix(spark, work.resolve("query_mix"), 1L, None,
      cacheRoot.resolve("query_mix"))
    q.prepare()
    q.op(0).run(false)
    spark.stop()
  }
}

/** Host-speed probe: a fixed set of small plain-Spark jobs (no program
  * function or table) that write and read back a tiny Parquet table. The
  * benchmark host's speed moves by up to 2x over minutes (CPU steal from
  * other tenants), and a daily step moves with it, because both are bound
  * by the same per-job overhead. A calibrated workload's timed ops are
  * reported in wall seconds × Reference / (probe seconds around the op):
  * seconds as they would read on a host where the probe takes Reference
  * seconds, so that runs on a busy and a quiet host compare. Its set-up
  * time is scaled by the probe around the first timed op. Raw times are in
  * the detail file.
  *
  * The probe runs in the program's session and JVM: the program's
  * optimizer extensions see its plans, and it runs in the heap the step
  * leaves behind. A program change that slows those (a slower injected
  * rule, more GC pressure) slows the probe too and is partly divided out.
  */
final class Calibration(spark: SparkSession, dir: Path) {
  def run(): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    (1 to 4).foreach { i =>
      spark.range(0, 20000, 1, 4).selectExpr(s"id % 101 AS k", s"id * $i AS v")
        .groupBy("k").agg(sum("v").as("v"))
        .write.mode("overwrite").parquet(dir.toString)
      spark.read.parquet(dir.toString).agg(sum("v")).collect()
    }
    (System.nanoTime() - t0) / 1e9
  }
}

object Calibration {
  /** Probe seconds on a quiet 4-core host of this kind (about 2.0 s), so
    * that calibrated times read as wall seconds on such a host.
    */
  val Reference = 2.0
}
