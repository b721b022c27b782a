package etlbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.DataSourceRegister

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  *   etlbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <dir> --spans <file>
  *
  * Prints an info line, then one JSON result line (last line of stdout).
  * Exit codes: 0 all outputs correct, 1 a wrong output or failed
  * operation, 2 bad arguments, 3 preflight failure (no result printed). */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    val spansFile = Paths.get(need("spans")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors

    val t0 = System.nanoTime()
    preflight()
    Gen.deleteTree(work)
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"etlbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log(f"session up after ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val code = try {
      val tracer = new Tracer(spark, trace)
      val ctx = new Ctx(spark, seed, cores, work.resolve("data"), tracer)
      val w: Workload = workload match {
        case "daily_cycle" => new DailyCycle(ctx)
        case "text_dedup" => new TextDedup(ctx)
        case other => usage(s"unknown workload $other")
      }
      run(w, seconds, trace)
      val info = Seq(
        "workload" -> q(workload), "seed" -> seed.toString, "inputs" -> q(w.describe),
        "input_fingerprint" -> q(w.fingerprint), "nproc" -> cores.toString,
        "heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
        "spark_version" -> q(spark.version),
        "peak_rss_mb" -> f"${peakRssMb()}%.1f",
        "samples" -> ctx.samples.map { case (k, v) => s"${q(k)}:${v.length}" }.mkString("{", ",", "}"))
      println(info.map { case (k, v) => s"${q(k)}:$v" }.mkString("{\"etlbench\":{", ",", "}}"))
      // values only: the launcher attaches names' units from BENCHMARK.json
      // and reads a layer this workload does not touch as 0
      val values =
        if (!trace) Map(
          "setup_s" -> ctx.median("setup"),
          "op_p50_s" -> ctx.median("op"))
        else {
          tracer.writeJson(spansFile)
          (w.layers() ++ Map(
            "spark.driver_gap_s" -> timedWork(w)((wall, jobs, _) => wall - jobs),
            "spark.busy_share" -> timedWork(w)((wall, _, tasks) => tasks / (wall * cores)),
            "trace.overhead_share" -> (ctx.median("op@traced") / ctx.median("op") - 1)))
            .filter { case (_, v) => !v.isNaN && !v.isInfinite }
        }
      val ok = ctx.failed == 0 && (trace || values.values.forall(!_.isNaN))
      println(s"""{"correct":$ok,"attempted":${ctx.attempted},"failed":${ctx.failed},""" +
        s""""values":${values.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")}}""")
      if (ok) 0 else 1
    } finally {
      spark.stop()
      Gen.deleteTree(work.resolve("data"))
    }
    sys.exit(code)
  }

  /** Set up `w.setups` times (median reported; the warm-up runs on the first
    * set-up's state), then run closed-loop operations for `seconds`. In a
    * traced run every other operation is traced, so the untraced half
    * gives the tracing overhead. */
  def run(w: Workload, seconds: Double, trace: Boolean): Unit = {
    val ctx = w.ctx
    for (k <- 0 until w.setups) {
      w.prepare()
      // a traced run traces its last set-up: initial publishes are layers too
      if (trace && k == w.setups - 1) w.tr.startOp()
      val (_, dt) = ctx.clock(try w.setup() finally w.tr.stopOp())
      ctx.add("setup", dt)
      log(f"setup $k: $dt%.2f s")
      if (k == 0) {
        log(f"warm-up: ${ctx.clock(w.warmup())._2}%.2f s; " +
          f"JVM totals: GC ${jvmSeconds()._1}%.2f s, JIT ${jvmSeconds()._2}%.2f s")
        ctx.samples.filterInPlace((name, _) => name == "setup")
      }
    }
    graft.Housekeeping.releaseAll(w.spark, blocking = true)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while ((i < w.minOps || System.nanoTime() < deadline) && ctx.failed == 0) {
      val traced = trace && i % 2 == 1
      if (traced) w.tr.startOp()
      val (_, dt) = ctx.clock {
        try w.op(i) finally w.tr.stopOp()
        graft.Housekeeping.releaseAll(w.spark, blocking = true)
      }
      val timed = ctx.values(if (traced) "op@traced" else "op").lastOption.getOrElse(Double.NaN)
      log(f"op $i${if (traced) " (traced)" else ""}: $timed%.2f s timed, $dt%.2f s with checks; " +
        f"JVM totals: GC ${jvmSeconds()._1}%.2f s, JIT ${jvmSeconds()._2}%.2f s")
      i += 1
    }
  }

  /** Median over traced operations of f(wall s, job-covered s, task s),
    * each summed over the operation's timed spans: the calls its `op`
    * sample times, not its checks. */
  private def timedWork(w: Workload)(f: (Double, Double, Double) => Double): Double = {
    val byOp = w.timedSpans.flatMap(w.tr.named).groupBy(_.op).values.toSeq
    Stats.median(byOp.map { ss =>
      val work = ss.map(w.tr.work)
      f(ss.map(_.seconds).sum, work.map(_.jobUnionMs).sum / 1e3, work.map(_.taskMs).sum / 1e3)
    })
  }

  /** Classes compiled without `META-INF/services` cannot resolve graft's
    * formats: stop before timing anything rather than time the failure. */
  private def preflight(): Unit = {
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(
      java.util.ServiceLoader.load(classOf[DataSourceRegister]).iterator()).asScala
      .map(_.shortName()).toSet
    val missing = Seq("grib1", "netcdf", "zarr").filterNot(names)
    if (missing.nonEmpty) {
      System.err.println(s"[etlbench] preflight: data sources ${missing.mkString(", ")} " +
        "not registered (META-INF/services missing from the classpath)")
      sys.exit(3)
    }
  }

  /** Cumulative GC and JIT-compiler seconds of this JVM. */
  private def jvmSeconds(): (Double, Double) = {
    import java.lang.management.ManagementFactory
    val gc = scala.jdk.CollectionConverters.ListHasAsScala(
      ManagementFactory.getGarbageCollectorMXBeans).asScala.map(_.getCollectionTime.max(0L)).sum
    (gc / 1e3, ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3)
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  private def log(msg: String): Unit = System.err.println(s"[etlbench] $msg")

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def usage(msg: String): Nothing = {
    System.err.println(s"[etlbench] $msg\nusage: --workload <name> --seed <n> " +
      "--seconds <s> --trace <0|1> --work <dir> --spans <file>")
    sys.exit(2)
  }
}
