package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // Local-harness scan parallelism: testdata tables are single
      // parquet files well under the default 128m split size, which
      // serializes the scan on one core. 16m splits let local[32] use
      // its cores; a real cluster keeps the 128m default.
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PART_BYTES", "16m"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = SparkEntry.queries.keys.toSeq.sorted
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // The timed action is a noop-sink WRITE, not count(): under a count
    // Catalyst prunes every column the count doesn't need, so a
    // projection-heavy query's derived columns were never computed and
    // the bench under-measured materialization (round-10 verdict item 1).
    // The noop DSv2 sink evaluates and serializes every output row on
    // the executors and discards it — full materialization, zero I/O.
    // Methodology change recorded in BASELINE.md (r11): totals before
    // r11 are count()-based, comparable only to each other.
    // Process-CPU seconds sampled around each timed run (r16 verdict
    // item 3, the GcProbe lesson): wall time on the drain family carries
    // a ±15-20% ambient spread, but a starved run burns the SAME
    // cpu-seconds as a fast one while a deopt/rebuild run burns MORE —
    // cpu_seconds is the stable signal that separates drift from
    // regression without quiet-window reruns. local[*] executors live
    // in this JVM, so process CPU captures the whole query's work.
    val osBean = scala.util.Try(java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]).toOption
    def cpuNanos: Long = osBean.map(_.getProcessCpuTime).getOrElse(-1L)
    def runOnce(name: String): (Double, Double) = {
      val c0 = cpuNanos
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9,
          if (c0 < 0) -1.0 else (cpuNanos - c0) / 1e9)
      }
      catch { case e: Throwable =>
        // Error marker, NOT a near-zero time: a broken query must never
        // read as a fast one (it would *improve* the total).
        errors(name) = (e.getClass.getSimpleName + ": " +
          String.valueOf(e.getMessage)).replace('\n', ' ').take(200)
        (-1.0, -1.0)
      }
    }
    def load1(): Double = scala.util.Try(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).trim.split(" ")(0).toDouble)
      .getOrElse(-1.0)
    // Contamination guard, per-query (round-9 verdict item 1: the r9
    // artifact was poisoned by a MID-run load spike that a single
    // before-the-run sample sailed past). Three layers:
    //  1. loadavg sampled at every query's start and recorded per entry,
    //     so a contaminated window is identifiable post-hoc;
    //  2. a query whose timed min lands far above its own warm run (the
    //     warm run carries all one-time JIT/codegen cost, so timed >>
    //     warm is contention, not code) is automatically re-timed, with
    //     a bounded per-query and whole-run retry budget;
    //  3. the contamination flag derives from the run's own expected
    //     footprint (cpus + margin) instead of a hard-coded constant,
    //     and trips if ANY sampled window exceeded it.
    val nCpus = scala.util.Try(cpus.toInt).getOrElse(4)
    val loadThresh = nCpus.toDouble + 4.0
    val loadBefore = load1()
    var loadMax = loadBefore
    var retriesLeft = 24 // whole-run retry budget: bounds wall time
    // One attempt = untimed warm run + two timed runs, ADJACENT on
    // purpose: a warm-sweep-then-timed-sweep order times the head
    // queries under the accumulated cache/GC pressure of the whole tail
    // sweep — measured 2-5x on q01-q07 vs steady state (r8 head audit).
    // Cache-attribution (r11 verdict item 7): the warm run is supposed to
    // absorb shared-cache first-touch (PersistRegistry families, IVF
    // cells), but LRU churn can force a TIMED run to rebuild an entry —
    // that cost belongs to the cache, not the query's plan. Sample the
    // global cache-miss counter around the timed runs and record any
    // delta per query as `cache_build`, so a nonzero entry flags "this
    // time includes N cache rebuilds" in the artifact itself.
    val cacheBuilds = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    // returns (warm wall, kept wall, kept cache delta, kept cpu-seconds)
    def attempt(n: String): (Double, Double, Long, Double) = {
      val (w, _) = runOnce(n)
      if (w < 0) return (w, -1.0, 0L, -1.0)
      errors.remove(n)
      // Counter sampled around EACH timed run separately, and the delta
      // recorded only for the run whose time is KEPT (min), after both
      // error checks: a rebuild confined to the discarded slower run
      // must not flag the kept timing, and an errored run must not
      // write a cache_build entry at all (ADVICE r12). The delta is
      // RETURNED, not committed here: a re-time loop may discard this
      // whole attempt, and a discarded attempt's rebuild must not fail
      // the bench or annotate a kept time that never paid it (ADVICE
      // r13) — the caller commits only the delta of the attempt that
      // supplied the final kept best. cpu_seconds travels the same way:
      // the artifact carries the cpu of the RUN whose wall was kept.
      val b0 = graft.ops.SessionLru.buildsSoFar
      val (a, aCpu) = runOnce(n)
      val b1 = graft.ops.SessionLru.buildsSoFar
      if (a < 0) return (w, -1.0, 0L, -1.0)
      val (x, xCpu) = runOnce(n)
      val b2 = graft.ops.SessionLru.buildsSoFar
      if (x < 0) return (w, -1.0, 0L, -1.0)
      val keptDelta = if (a <= x) b1 - b0 else b2 - b1
      val keptCpu = if (a <= x) aCpu else xCpu
      (w, math.min(a, x), keptDelta, keptCpu)
    }
    // Host-speed calibration (r17): a fixed single-thread xorshift loop
    // timed before and after the sweep. On a VM the host's clock /
    // noisy-neighbor state drifts BETWEEN rounds — measured ±40% on
    // identical code within one day — and neither loadavg (local only)
    // nor cpu-seconds (which inflate with the clock) can see it. Two
    // artifacts whose calib values differ are comparable only after
    // scaling; a calib drift inside one run flags the run itself.
    def calibOnce(): Double = {
      var x = 0x9E3779B97F4A7C15L
      var s = 0L
      var i = 0
      val t0 = System.nanoTime()
      while (i < 200000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; s += x; i += 1
      }
      val d = (System.nanoTime() - t0) / 1e9
      if (s == 42L) print("") // defeat dead-code elimination
      d
    }
    def calib(): Double = { calibOnce(); math.min(calibOnce(), calibOnce()) }
    val calibBefore = calib()
    val perLoad = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val retimed = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val perCpu = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val results = names.map { n =>
      val lq = load1()
      perLoad(n) = lq
      if (lq > loadMax) loadMax = lq
      var (warm, best, bestDelta, bestCpu) = attempt(n)
      // Suspect iff the timed min exceeds 3x the warm run (and is not
      // trivially small): the warm run bounds the query's true cost
      // from above, so a far-slower timed run means external load hit
      // the timed window. Re-time up to twice; keep the overall best —
      // and the cache delta travels WITH the kept best's attempt.
      var tries = 1
      while (best >= 0 && tries <= 2 && retriesLeft > 0 &&
          best > 3.0 * warm && best > 0.3) {
        retriesLeft -= 1
        val (w2, b2, d2, c2) = attempt(n)
        if (w2 >= 0 && w2 < warm) warm = w2
        if (b2 >= 0 && b2 < best) { best = b2; bestDelta = d2; bestCpu = c2 }
        tries += 1
        retimed(n) = tries - 1
      }
      if (best >= 0 && bestDelta > 0) cacheBuilds(n) = bestDelta
      if (best >= 0) perCpu(n) = bestCpu
      val lEnd = load1()
      if (lEnd > loadMax) loadMax = lEnd
      n -> best
    }
    val calibAfter = calib()
    val loadContaminated = loadMax > loadThresh
    val loadavg = scala.util.Try(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).trim.split(" ").take(3)
        .mkString(" ")).getOrElse("unknown")
    def js(s: String): String = JsonEscape(s)
    // Locale.ROOT: scala's "%.2f".format uses the JVM default locale —
    // a comma-decimal locale would emit 0,52 and break the JSON artifact
    def fmt2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def fmt3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def fmtLoad(v: Double): String = fmt2(v)
    val qs = results.map { case (k, v) => js(k) + ":" + v }
      .mkString("{", ",", "}")
    val loadJson = perLoad.map { case (k, v) => js(k) + ":" + fmtLoad(v) }
      .mkString("{", ",", "}")
    val retimedJson = retimed.map { case (k, v) => js(k) + ":" + v }
      .mkString("{", ",", "}")
    val cacheBuildJson = cacheBuilds.map { case (k, v) => js(k) + ":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => js(k) + ":" + js(v) }
      .mkString("{", ",", "}")
    val cpuJson = perCpu.map { case (k, v) => js(k) + ":" + fmt2(v) }
      .mkString("{", ",", "}")
    val cpuTotal = perCpu.values.filter(_ >= 0).sum
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // Calib-normalized total (r17 verdict item 2): wall scaled by the
    // pinned reference calib over THIS run's calib, so artifacts from
    // different host windows compare directly instead of re-litigating
    // ±40% VM drift by hand each round. CALIB_REF pins the r16-era
    // host speed (r16 frozen runs and r17's fast windows both read
    // ~0.34 s for the fixed xorshift loop); the run's calib is the
    // min of before/after — the same least-contaminated-sample rule as
    // the kept wall. A normalized total says "what this run's wall
    // WOULD read on the reference-era host", valid because the drift is
    // a clock-speed effect that scales wall and calib together
    // (BUILD_NOTES r17 "wall-vs-cpu attribution").
    val calibRef = 0.340
    val calibRun = math.min(calibBefore, calibAfter)
    val totalCalibNorm =
      if (calibRun > 0) total * calibRef / calibRun else total
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""value_calib_normalized":${fmt2(totalCalibNorm)},""" +
      s""""calib_ref_s":${fmt3(calibRef)},""" +
      s""""cpu_seconds":$cpuJson,"cpu_total":${fmt2(cpuTotal)},""" +
      s""""n_errors":${errors.size},"errors":$errJson,""" +
      s""""loadavg":${js(loadavg)},"load_before":$loadBefore,""" +
      s""""load_per_query":$loadJson,"load_max":${fmtLoad(loadMax)},""" +
      s""""load_threshold":${fmtLoad(loadThresh)},"retimed":$retimedJson,""" +
      s""""cache_build":$cacheBuildJson,""" +
      s""""calib_before_s":${fmt3(calibBefore)},""" +
      s""""calib_after_s":${fmt3(calibAfter)},""" +
      s""""load_contaminated":$loadContaminated,"iterations":2,""" +
      s""""action":"noop_write","sf":"$sfDir"}"""
    val compactLine = s"""{"metric":"total_compact","value":$total,"unit":"sec",""" +
      s""""value_calib_normalized":${fmt2(totalCalibNorm)},""" +
      s""""cpu_total":${fmt2(cpuTotal)},""" +
      s""""n_queries":${names.size},"n_errors":${errors.size},""" +
      s""""loadavg":${js(loadavg)},"load_max":${fmtLoad(loadMax)},""" +
      s""""n_retimed":${retimed.size},""" +
      s""""load_contaminated":$loadContaminated,""" +
      s""""action":"noop_write","sf":"$sfDir"}"""
    // Parse-proof the artifact lines IN-PROCESS before anything reads
    // them (r18 verdict item 2: the r17 round-over-round comparison was
    // erased because a captured bench tail cut mid-JSON and the driver's
    // parser got nothing). Jackson rides Spark's own classpath; a line
    // that does not round-trip is a bench BUG and must fail the run
    // loudly, never ship a silently unparseable artifact.
    val parseErr: Option[String] = {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      Seq("full" -> line, "compact" -> compactLine).flatMap {
        case (tag, l) =>
          try { om.readTree(l); None }
          catch { case e: Exception =>
            Some(s"$tag line unparseable: ${e.getMessage}") }
      }.headOption
    }
    println(line)
    // Durability line: the full per-query JSON above can exceed a bounded
    // log tail (BENCH_r04 lost its total that way). Repeat the headline
    // numbers compactly LAST so any tail window catches them, and FLUSH
    // so a buffered tail capture cannot cut it mid-line.
    println(compactLine)
    System.out.flush()
    // Machine-readable artifact: stdout tails get truncated and parsers
    // drift (BENCH_r05 `parsed: null`); the full JSON line also lands in
    // a file so the round's numbers never depend on tail regexes. A
    // second, RUN-STAMPED copy under bench_runs/ keeps every run's
    // artifact addressable: re-running Bench (e.g. the driver's own
    // sweep) overwrites BENCH_SUMMARY.json in cwd, which kept clobbering
    // the round's frozen numbers (r18 verdict item "working-tree drift").
    scala.util.Try(java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_SUMMARY.json"),
      (line + "\n").getBytes("UTF-8")))
    scala.util.Try {
      val d = java.nio.file.Paths.get("bench_runs")
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(
        d.resolve(s"bench-${System.currentTimeMillis()}-pid${
          ProcessHandle.current().pid()}.json"),
        (line + "\n").getBytes("UTF-8"))
    }
    spark.stop()
    // report both failures; the query-error code (1) outranks the
    // unparseable-artifact code (3)
    parseErr.foreach(m => System.err.println(s"BENCH FAILED: artifact JSON $m"))
    if (errors.nonEmpty) System.err.println(
      s"BENCH FAILED: query errors in ${errors.keys.mkString(", ")}")
    if (errors.nonEmpty) sys.exit(1)
    if (parseErr.isDefined) sys.exit(3)
    // cache_build promoted from attribution to ASSERTION (r12 verdict
    // item 5): the warm run exists to absorb shared-cache first-touch,
    // so a clean run whose TIMED minute rebuilt a cache family means a
    // refactor broke the warm-absorb contract — fail loudly instead of
    // letting every future artifact quietly carry the annotation.
    // GRAFT_BENCH_ALLOW_COLD=1 overrides for legitimately cold runs
    // (e.g. probing first-touch cost on purpose); the artifact above is
    // already written either way.
    if (cacheBuilds.nonEmpty && !sys.env.contains("GRAFT_BENCH_ALLOW_COLD")) {
      System.err.println("BENCH FAILED: timed runs rebuilt shared " +
        s"cache families (cache_build=$cacheBuildJson) — the warm run " +
        "should have absorbed first-touch. Set GRAFT_BENCH_ALLOW_COLD=1 " +
        "only for a deliberately cold measurement.")
      sys.exit(2)
    }
  }
}
