package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Timed stage wrapper: a span when tracing, the bare call otherwise. */
object Run {
  def stage[A](tr: Option[Tracer], name: String, iter: Int)(body: => A): A =
    tr match {
      case Some(t) => t.span(name, iter)(body)
      case None => body
    }
}

/** Benchmark JVM entry point. One process, one workload, one seed:
  * set up (repeated for a median), one cold iteration, warm iterations
  * for `--seconds`, then the output checks; `--trace 1` adds traced
  * iterations after the untraced ones. Writes the result record to
  * `--out` as JSON.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <work dir> --out <result.json> [--size full|tiny]
  *     [--master local[n]] [--data-dir <testdata>]
  *     [--oracle-out <dir>] [--commit <id>]
  * }}}
  */
object Main {
  /** Set-up repetitions per run; `setup_s` takes their median. */
  val SetupReps = 3

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** (steal, total) jiffies of all CPUs from /proc/stat. */
  private def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        .drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  private def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim
    catch { case NonFatal(_) => "unavailable" }

  private def vmHwmMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
    catch { case NonFatal(_) => Double.NaN }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  /** Peak used MB of the tenured heap pool since the last reset. */
  private def tenuredPeakMb(): Double = heapPools
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  private def initialHeapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getInit / (1024.0 * 1024.0)

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** CPU time of the JIT compiler threads (Linux /proc, clock ticks of
    * 10 ms). Compilation runs for tens of seconds after start-up; it is
    * warm-up, not the workload's cost, so `cpu_s` leaves it out. */
  private def jitCpuNs(): Long =
    try Files.list(Paths.get("/proc/self/task")).iterator().asScala.map { t =>
      // threads end while the directory is read; one that vanished is not
      // a compiler thread, which lives as long as the JVM
      try {
        val comm = Files.readString(t.resolve("comm")).trim
        if (!comm.contains("CompilerThre")) 0L else {
          val stat = Files.readString(t.resolve("stat"))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) * 10000000L
        }
      } catch { case NonFatal(_) => 0L }
    }.sum catch { case NonFatal(_) => 0L }

  /** Host speed probe: median wall ms of five single-threaded SHA-256
    * passes over 16 MB. Recorded beside the results so runs on a host
    * whose speed drifted can be told apart; no metric is scaled by it. */
  private def calibMs(): Double = {
    val buf = new Array[Byte](16 << 20)
    java.util.Arrays.fill(buf, 7.toByte)
    median((0 until 5).map { _ =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val t0 = System.nanoTime()
      md.update(buf)
      md.digest()
      (System.nanoTime() - t0) / 1e6
    })
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out"))
    val size = if (opts.get("size").contains("tiny")) Workloads.Tiny else Workloads.Full
    val cores = Runtime.getRuntime.availableProcessors
    val master = opts.getOrElse("master", s"local[$cores]")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadBefore = loadavg()
    val ticksBefore = cpuTicks()
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(master)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    var failed = 0L
    var attempted = 0L
    val checks = Vector.newBuilder[Map[String, Any]]
    val failuresOf = collection.mutable.Map.empty[Int, Int]
    def record(iter: Int, c: Check, ops: Int): Unit = {
      attempted += ops
      failed += c.failures
      failuresOf(iter) = c.failures
      checks += (Map[String, Any]("iter" -> iter, "failures" -> c.failures) ++ c.details)
    }

    try {
      // set-up: generate and stage the inputs `SetupReps` times; the last
      // copy is the one measured, the others are dropped
      def setUp(r: Int): (Workload, Map[String, Any], Double) = {
        val d = work.resolve(s"setup$r")
        val w = Workloads(workload, spark, seed, size, cores, opts.get("data-dir"))
        val t0 = System.nanoTime()
        val info = w.setup(d)
        (w, info, (System.nanoTime() - t0) / 1e9)
      }
      val setupTimes = (0 until SetupReps - 1).map { r =>
        val s = setUp(r)._3
        Io.deleteTree(work.resolve(s"setup$r"))
        s
      }
      val (w, inputs, lastSetupS) = setUp(SetupReps - 1)
      val setupGenS = setupTimes :+ lastSetupS
      val minWarm = w.minWarm
      val setupS = sessionS + median(setupGenS)

      // the highest tenured-pool peak of any iteration
      var tenuredPeak = 0.0
      // untimed time per iteration, for the record: staging, collections
      // and output checks
      var prepareS = 0.0
      var gcS = 0.0
      var checkS = 0.0
      // wall s, CPU s without and with the JIT compiler threads
      def iterate(iter: Int, tr: Option[Tracer]): (Double, Double, Double) = {
        val tp = System.nanoTime()
        w.prepare(iter)
        // untimed: every iteration starts from a collected heap, so the
        // tenured peak is what one iteration holds, not the garbage of
        // earlier ones
        val tg = System.nanoTime()
        System.gc()
        heapPools.foreach(_.resetPeakUsage())
        prepareS += (tg - tp) / 1e9
        gcS += (System.nanoTime() - tg) / 1e9
        val (cpu0, jit0) = (processCpuNs(), jitCpuNs())
        val t0 = System.nanoTime()
        val threw = try { w.iteration(iter, tr); None }
          catch { case NonFatal(e) => Some(e) }
        val wall = (System.nanoTime() - t0) / 1e9
        val cpuAll = (processCpuNs() - cpu0) / 1e9
        val cpu = cpuAll - (jitCpuNs() - jit0) / 1e9
        tenuredPeak = tenuredPeak.max(tenuredPeakMb())
        threw.foreach { e =>
          System.err.println(s"[perfbench] iteration $iter threw: $e")
          record(iter, Check(w.opsPerIteration, Map("error" -> e.toString)),
            w.opsPerIteration)
        }
        if (threw.isEmpty) {
          val tc = System.nanoTime()
          val c = try w.check(iter, deep = iter == 0)
            catch { case NonFatal(e) => Check(w.opsPerIteration, Map("error" -> e.toString)) }
          val dt = (System.nanoTime() - tc) / 1e9
          checkS += dt
          record(iter, c.copy(details = c.details + ("check_s" -> dt)), w.opsPerIteration)
        }
        (wall, cpu, cpuAll)
      }

      val calibBefore = calibMs()
      // the cold iteration's CPU counts the JIT compiler threads: compiling
      // is part of what the first call in a fresh JVM costs
      val (coldS, coldCpuNoJitS, coldCpuS) = iterate(0, None)
      // JIT warm-up, untimed: the workload's `warmupIterations`
      var iter = 1
      val warmup = Vector.newBuilder[Double]
      while (iter <= w.warmupIterations) {
        warmup += iterate(iter, None)._1
        iter += 1
      }
      val warmupIters = iter - 1
      val warm = Vector.newBuilder[(Double, Double, Double)]
      val budget = if (trace) seconds / 2 else seconds
      val firstWarm = iter
      val tWarm = System.nanoTime()
      while (iter < firstWarm + minWarm || (System.nanoTime() - tWarm) / 1e9 < budget) {
        warm += iterate(iter, None)
        iter += 1
      }
      val lastUntraced = iter - 1
      // the last warm iteration also gets the full output check
      if (lastUntraced > 0) {
        val c = try w.check(lastUntraced, deep = true)
          catch { case NonFatal(e) => Check(1, Map("error" -> e.toString)) }
        val before = failuresOf.getOrElse(lastUntraced, 0)
        if (c.failures > before) failed += c.failures - before
        checks += (Map[String, Any]("iter" -> lastUntraced, "deep" -> true,
          "failures" -> c.failures) ++ c.details)
      }
      val warmV = warm.result()
      val runS = median(warmV.map(_._1))
      val cpuS = median(warmV.map(_._2))

      // traced iterations
      var layerMetrics = Map.empty[String, Double]
      var spansJson = Seq.empty[Map[String, Any]]
      var tracedRunS = Double.NaN
      if (trace) {
        val tr = new Tracer(spark)
        tr.start()
        val traced = Vector.newBuilder[(Double, Map[String, Double])]
        val tTrace = System.nanoTime()
        var n = 0
        while (n < minWarm || (System.nanoTime() - tTrace) / 1e9 < budget) {
          val gc0 = gcMs()
          val first = tr.spans.size
          val (wall, _, _) = tr.span("iteration", iter)(iterate(iter, Some(tr)))
          val gc = gcMs() - gc0
          w.afterTraced(iter, tr)
          val ss = tr.spans.drop(first).toSeq
          val l = Workloads.stageLayers(ss) ++ w.layers(iter, ss, tr) +
            ("jvm.gc_ms" -> gc.toDouble)
          traced += ((wall, l))
          iter += 1
          n += 1
        }
        tr.stop()
        val tv = traced.result()
        tracedRunS = median(tv.map(_._1))
        val keys = tv.flatMap(_._2.keys).distinct
        layerMetrics = keys.map(k => k -> median(tv.map(_._2.getOrElse(k, 0.0)))).toMap +
          ("trace.overhead_ratio" -> tracedRunS / runS)
        spansJson = tr.spans.map(_.toJson).toSeq
      }

      opts.get("oracle-out").foreach { o =>
        w match {
          case q: QuerySuite => q.dumpForOracle(Paths.get(o))
          case _ => ()
        }
      }

      // the heap is committed and touched in full at start-up, so VmHWM
      // counts all of it; the program's resident peak is the native part
      // plus what the tenured pool held at its peak
      val vmHwm = vmHwmMb()
      val nativePeak = vmHwm - initialHeapMb()
      val peakRssMb = nativePeak + tenuredPeak

      // the highest percentile with at least ten samples beyond it
      val n = warmV.size
      val sorted = warmV.map(_._1).sorted
      val pSupported = if (n > 10) Some(100.0 * (n - 10) / n) else None
      val e2e = Map[String, Any](
        "setup_s" -> Map("value" -> setupS, "unit" -> "s"),
        "cold_run_s" -> Map("value" -> coldS, "unit" -> "s"),
        "cold_cpu_s" -> Map("value" -> coldCpuS, "unit" -> "cpu-s"),
        "run_s" -> Map("value" -> runS, "unit" -> "s"),
        "rows_per_s" -> Map("value" -> w.inputRows / runS, "unit" -> "rows/s"),
        "cpu_s" -> Map("value" -> cpuS, "unit" -> "cpu-s"),
        "peak_rss_mb" -> Map("value" -> peakRssMb, "unit" -> "MB"),
        "failed_ratio" -> Map("value" -> failed.toDouble / attempted.max(1L),
          "unit" -> "ratio"))
      val result = Map[String, Any](
        "workload" -> workload, "seed" -> seed, "trace" -> trace,
        "correct" -> (failed == 0L), "attempted" -> attempted, "failed" -> failed,
        "end_to_end" -> e2e,
        "per_layer" -> layerMetrics.map { case (k, v) => k -> Map("value" -> v,
          "unit" -> unitOf(k)) },
        "run_s_stats" -> Map("samples" -> n, "median" -> runS,
          "p_supported" -> pSupported,
          "p_supported_value" -> pSupported.map(_ => sorted(n - 11)),
          "max" -> sorted.last, "traced_median" -> tracedRunS),
        "samples" -> Map("warm_wall_s" -> warmV.map(_._1), "warm_cpu_s" -> warmV.map(_._2),
          "setup_gen_s" -> setupGenS, "session_start_s" -> sessionS,
          "warmup_iterations" -> warmupIters, "warmup_wall_s" -> warmup.result(),
          "cold_cpu_no_jit_s" -> coldCpuNoJitS, "untimed_prepare_s" -> prepareS,
          "untimed_gc_s" -> gcS, "untimed_check_s" -> checkS, "vm_hwm_mb" -> vmHwm,
          "native_peak_mb" -> nativePeak, "tenured_peak_mb" -> tenuredPeak),
        "inputs" -> inputs,
        "host" -> Map("nproc" -> cores, "master" -> master,
          "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
          "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
          "commit" -> opts.getOrElse("commit", "unknown"), "seed" -> seed,
          "size" -> opts.getOrElse("size", "full"),
          "loadavg_before" -> loadBefore, "loadavg_after" -> loadavg(),
          "cpu_steal_share" -> {
            val (s1, t1) = cpuTicks()
            (s1 - ticksBefore._1).toDouble / (t1 - ticksBefore._2).max(1L)
          },
          "calib_sha256_ms_before" -> calibBefore, "calib_sha256_ms_after" -> calibMs()),
        "checks" -> checks.result(),
        "spans" -> spansJson)
      Files.createDirectories(out.toAbsolutePath.getParent)
      Files.writeString(out, Io.json(result))
    } finally {
      spark.stop()
      Io.deleteTree(work)
    }
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_ms")) "ms"
    else if (k.contains("bytes")) "bytes"
    else if (k.endsWith("_ratio")) "ratio"
    else "count"
}
