package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its seed and time budget,
  * the tracer, and a private scratch directory inside the checkout.
  */
final class Ctx(
    val spark: SparkSession, val seed: Long, val seconds: Double,
    val tracer: Tracer, val work: Path, val repoRoot: Path) {

  private val checks = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L
  /** Wall milliseconds and process CPU nanoseconds spent inside timed
    * operations that succeeded; the harness's own work between them is
    * not counted.
    */
  var opMs = 0.0
  var opCpuNs = 0L

  /** Record one correctness check; a failure is reported, never hidden. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    }
  }

  def checkResults: Seq[(String, Boolean, String)] = checks.toList

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s: $msg")

  /** Run one timed operation: counts it, and counts a throw as a failure
    * instead of ending the run. Returns the elapsed milliseconds, or None
    * when it threw.
    */
  def timedOp(kind: String, opId: Long)(body: => Unit): Option[Double] = {
    attempted += 1
    val cpu0 = processCpuNs
    val t0 = System.nanoTime()
    try {
      tracer.op(kind, opId)(body)
      val ms = (System.nanoTime() - t0) / 1e6
      opMs += ms
      opCpuNs += processCpuNs - cpu0
      log(f"op $kind#$opId $ms%.0f ms")
      Some(ms)
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] op $kind#$opId failed: $e")
        None
    }
  }

  /** Set up `reps` times in fresh directories and keep the last build;
    * returns it with the median build time in seconds. Setting up more
    * than once makes the set-up figure a median, not one sample.
    */
  def setupReps[S](reps: Int)(build: Path => S)(dispose: S => Unit): (S, Double) = {
    var last: Option[S] = None
    val secs = (1 to reps).map { r =>
      val dir = work.resolve(s"setup-$r")
      Files.createDirectories(dir)
      val t0 = System.nanoTime()
      val built = build(dir)
      val s = (System.nanoTime() - t0) / 1e9
      log(f"set-up $r of $reps took $s%.2f s")
      if (r < reps) { dispose(built); Main.deleteTree(dir.toFile) }
      else last = Some(built)
      s
    }
    (last.get, Stats.median(secs))
  }

  private val calibrations = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** Time one fixed, engine-independent burst of work on four threads
    * (the session's core count): integer hashing over a 4 MB table per
    * thread. Workloads call this between operations, so the run's median
    * tracks how fast this machine ran while the run was measured.
    */
  def calibrate(): Unit = {
    val t0 = System.nanoTime()
    val threads = (0 until 4).map { k =>
      val th = new Thread(() => {
        val table = new Array[Int](1 << 20)
        var x = 0x9e3779b97f4a7c15L + k
        var i = 0
        while (i < Calibration.Steps) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          table((x & 0xfffff).toInt) += 1
          i += 1
        }
        if (table(0) == Int.MinValue) println("") // keeps the loop from being elided
      })
      th.start()
      th
    }
    threads.foreach(_.join())
    calibrations += (System.nanoTime() - t0) / 1e6
  }

  /** This run's machine speed against the reference: above 1 when the
    * calibration burst ran slower than [[Calibration.ReferenceMs]].
    */
  def slowdown: Double =
    if (calibrations.isEmpty) 1.0 else Stats.median(calibrations.toSeq) / Calibration.ReferenceMs

  def processCpuNs: Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
}

/** The calibration burst and its time on a reference run of this machine
  * type (4 vCPUs). Wall-clock end-to-end metrics are reported at reference
  * speed: times divided by the run's [[Ctx.slowdown]], rates multiplied by
  * it, so a neighbour stealing CPU for a few minutes does not read as a
  * change in the engine. The burst runs no engine code.
  */
object Calibration {
  val Steps = 4000000
  val ReferenceMs = 40.0
  /** The end-to-end metrics read off the wall clock. CPU time, memory and
    * bytes are reported as measured.
    */
  val WallClock: Set[String] = Set("setup_s", "op_ms_p50", "read_ms_mean", "ops_per_s")
}

/** What a workload reports: end-to-end metrics from the untraced run,
  * per-layer metrics computed from the trace in the traced run.
  */
final case class Outcome(endToEnd: Map[String, (Double, String)], perLayer: Map[String, (Double, String)])

trait Workload {
  def name: String
  def run(ctx: Ctx): Outcome
}

/** Runs one workload and prints the result as the last line of stdout:
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --root <checkout>
  * }}}
  */
object Main {
  val Workloads: Map[String, Workload] =
    Seq(IngestQuery, CorpusCuration).map(w => w.name -> w).toMap

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.getOrElse(opts.getOrElse("workload", ""),
      sys.error(s"--workload must be one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val root = Paths.get(opts.getOrElse("root", ".")).toAbsolutePath.normalize
    val scratch = root.resolve(".bench_build")
    val work = scratch.resolve("work").resolve(s"${wl.name}-$seed-${ProcessHandle.current.pid}")
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-${wl.name}")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // first job, first codegen: one-time costs every user pays at start
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val tracer = new Tracer(trace)
    tracer.install(spark)
    val ctx = new Ctx(spark, seed, seconds, tracer, work, root)
    val outcome =
      try wl.run(ctx)
      finally {
        spark.streams.active.foreach(_.stop())
        spark.stop()
      }
    if (trace) {
      val out = scratch.resolve("trace").resolve(s"${wl.name}-$seed.json")
      Files.createDirectories(out.getParent)
      Files.writeString(out, tracer.toJson)
    }
    deleteTree(work.toFile)

    val slowdown = ctx.slowdown
    ctx.log(f"machine slowdown against the reference: $slowdown%.3f")
    val metrics =
      if (trace) outcome.perLayer
      else outcome.endToEnd.map {
        case ("setup_s", (v, u)) => "setup_s" -> (v + sessionS, u)
        case kv => kv
      }.map { case (k, (v, u)) =>
        ctx.log(s"$k measured $v $u")
        k -> (if (!Calibration.WallClock(k)) (v, u) else if (u == "1/s") (v * slowdown, u) else (v / slowdown, u))
      }
    val checks = ctx.checkResults
    checks.filterNot(_._2).foreach { case (n, _, d) => System.err.println(s"[perfbench] failed: $n $d") }
    val line = Json.obj(
      "correct" -> checks.forall(_._2),
      "attempted" -> math.max(1L, ctx.attempted),
      "failed" -> ctx.failed,
      "metrics" -> Json.Raw(metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        s"${Json.str(k)}: ${Json.obj("value" -> v, "unit" -> u).s}"
      }.mkString("{", ", ", "}")))
    println(line.s)
    System.out.flush()
    sys.exit(0)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  /** Bytes of a table root that are not data files: the metadata file,
    * manifests and per-directory sidecars.
    */
  def metaBytes(root: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else {
        val n = f.getName.stripSuffix(".crc")
        if (n.endsWith(".parquet") || n.endsWith(".orc") || n.endsWith(".avro")) 0L else f.length
      }
    walk(new File(root))
  }

  /** Peak resident set size of this process in MB (Linux `VmHWM`). */
  def peakRssMb: Double = {
    val status = new File("/proc/self/status")
    if (!status.exists) Runtime.getRuntime.totalMemory / 1e6
    else scala.io.Source.fromFile(status).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)
  }
}
