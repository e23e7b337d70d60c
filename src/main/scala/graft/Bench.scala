package graft
import graft.GraftSession.Cost
/** The steady-state query bench: `runMain graft.Bench [prefix ...]` times
  * every declared query, or, given query-name prefixes, the matching
  * queries in argument order. Prints the full artifact line and a compact
  * line, and writes the full line to BENCH_SUMMARY.json and bench_runs/.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = SparkEntry.queryNames(args.toSeq)
    val spark = GraftSession("graft-bench")
    val master = spark.sparkContext.master
    val nCpus = spark.sparkContext.defaultParallelism
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // The timed action is a noop-sink WRITE, not count(): under a count
    // Catalyst prunes every column the count doesn't need, so a
    // projection-heavy query's derived columns were never computed and
    // the bench under-measured materialization (round-10 verdict item 1).
    // The noop DSv2 sink evaluates and serializes every output row on
    // the executors and discards it — full materialization, zero I/O.
    // Methodology change recorded in BASELINE.md (r11): totals before
    // r11 are count()-based, comparable only to each other.
    // Process-CPU and GC seconds sampled around each timed run (r16
    // verdict item 3): wall time on the drain family carries a ±15-20%
    // ambient spread, but a starved run burns the SAME cpu-seconds as a
    // fast one while a deopt/rebuild run burns MORE — cpu_seconds is the
    // stable signal that separates drift from regression without
    // quiet-window reruns, and gc_seconds says how much of a slow run was
    // heap contention rather than plan shape.
    def runOnce(name: String): Option[Cost] =
      try Some(GraftSession.cost {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      })
      catch { case e: Throwable =>
        // Error marker, NOT a near-zero time: a broken query must never
        // read as a fast one (it would *improve* the total).
        errors(name) = (e.getClass.getSimpleName + ": " +
          String.valueOf(e.getMessage)).replace('\n', ' ').take(200)
        None
      }
    // /proc/loadavg's three averages, or None off Linux
    def loadavg(): Option[Array[String]] = scala.util.Try(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).trim.split(" ").take(3))
      .toOption
    def load1(): Double =
      loadavg().flatMap(_.headOption.flatMap(_.toDoubleOption)).getOrElse(-1.0)
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
    //     and trips if ANY sampled window exceeded it, or if the host
    //     calibration drifted across the sweep (`calibDriftBound`).
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
    // The warm run alone is recorded by graft.obs (per query: its scopes'
    // jobs, task cpu, shuffle, planning, streaming durationMs and state
    // peaks); the timed runs run with no listener registered.
    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Map[String, Long]]]
    // returns the warm wall (-1 on error) and, when both timed runs
    // succeeded, the kept run's cost with its cache-miss delta
    def attempt(n: String): (Double, Option[(Cost, Long)]) = {
      val (warm, record) = graft.obs.Obs.record(spark)(graft.obs.Obs.scope(n)(runOnce(n)))
      layers(n) = record
      val w = warm.fold(-1.0)(_.wallSec)
      if (w < 0) return (w, None)
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
      // supplied the final kept best. cpu and gc seconds travel the same
      // way: the artifact carries the cost of the RUN whose wall was kept.
      val b0 = graft.ops.SessionLru.buildsSoFar
      val a = runOnce(n)
      val b1 = graft.ops.SessionLru.buildsSoFar
      if (a.isEmpty) return (w, None)
      val x = runOnce(n)
      val b2 = graft.ops.SessionLru.buildsSoFar
      if (x.isEmpty) return (w, None)
      (w, Some(if (a.get.wallSec <= x.get.wallSec) (a.get, b1 - b0)
        else (x.get, b2 - b1)))
    }
    // Host-speed calibration (r17): a fixed single-thread xorshift loop
    // timed before and after the sweep. On a VM the host's clock /
    // noisy-neighbor state drifts BETWEEN rounds — measured ±40% on
    // identical code within one day — and neither loadavg (local only)
    // nor cpu-seconds (which inflate with the clock) can see it. Two
    // artifacts whose calib values differ are comparable only after
    // scaling; a calib drift inside one run flags the run itself (the
    // `calibDriftBound` check below).
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
    val perGc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val results = names.map { n =>
      val lq = load1()
      perLoad(n) = lq
      if (lq > loadMax) loadMax = lq
      var (warm, kept) = attempt(n)
      def best: Double = kept.fold(-1.0)(_._1.wallSec)
      // Suspect iff the timed min exceeds 3x the warm run (and is not
      // trivially small): the warm run bounds the query's true cost
      // from above, so a far-slower timed run means external load hit
      // the timed window. Re-time up to twice; keep the overall best —
      // and the cache delta travels WITH the kept best's attempt.
      var tries = 1
      while (best >= 0 && tries <= 2 && retriesLeft > 0 &&
          best > 3.0 * warm && best > 0.3) {
        retriesLeft -= 1
        val (w2, k2) = attempt(n)
        if (w2 >= 0 && w2 < warm) warm = w2
        k2.filter(_._1.wallSec < best).foreach(k => kept = Some(k))
        tries += 1
        retimed(n) = tries - 1
      }
      kept.foreach { case (c, delta) =>
        if (delta > 0) cacheBuilds(n) = delta
        perCpu(n) = c.cpuSec
        perGc(n) = c.gcSec
      }
      val lEnd = load1()
      if (lEnd > loadMax) loadMax = lEnd
      n -> best
    }
    val calibAfter = calib()
    // The drift is |after - before| over the faster sample. Sweeps on the
    // 4-core host with no other sign of contamination drifted 0.3-8%, so
    // a drift above 10% means the host's speed moved under the sweep, and
    // the run is flagged like one whose load exceeded the threshold.
    val calibDriftBound = 0.10
    val calibDrift = {
      val lo = math.min(calibBefore, calibAfter)
      if (lo > 0) math.abs(calibAfter - calibBefore) / lo else 0.0
    }
    val loadContaminated = loadMax > loadThresh || calibDrift > calibDriftBound
    val loadavgNow = loadavg().map(_.mkString(" ")).getOrElse("unknown")
    def js(s: String): String = JsonEscape(s)
    // Locale.ROOT: scala's "%.2f".format uses the JVM default locale —
    // a comma-decimal locale would emit 0,52 and break the JSON artifact
    def fmt2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def fmt3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // a JSON object of per-query values, in run order
    def obj(m: Iterable[(String, Any)]): String =
      m.map { case (k, v) => js(k) + ":" + v }.mkString("{", ",", "}")
    val qs = obj(results)
    val loadJson = obj(perLoad.view.mapValues(fmt2))
    val retimedJson = obj(retimed)
    val cacheBuildJson = obj(cacheBuilds)
    val layersJson = obj(layers.view.mapValues(r => obj(r.view.mapValues(
      c => obj(c.filter(_._2 != 0L))))))
    val errJson = obj(errors.view.mapValues(js))
    val cpuJson = obj(perCpu.view.mapValues(fmt2))
    val gcJson = obj(perGc.view.mapValues(fmt2))
    val cpuTotal = perCpu.values.filter(_ >= 0).sum
    val heapMb = Runtime.getRuntime.maxMemory() / (1L << 20)
    val host = s""""cpus":$nCpus,"master":${js(master)},"""
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
      s""""gc_seconds":$gcJson,"heap_mb":$heapMb,""" + host +
      s""""n_errors":${errors.size},"errors":$errJson,""" +
      s""""loadavg":${js(loadavgNow)},"load_before":$loadBefore,""" +
      s""""load_per_query":$loadJson,"load_max":${fmt2(loadMax)},""" +
      s""""load_threshold":${fmt2(loadThresh)},"retimed":$retimedJson,""" +
      s""""cache_build":$cacheBuildJson,"layers":$layersJson,""" +
      s""""calib_before_s":${fmt3(calibBefore)},""" +
      s""""calib_after_s":${fmt3(calibAfter)},""" +
      s""""calib_drift":${fmt3(calibDrift)},""" +
      s""""load_contaminated":$loadContaminated,"iterations":2,""" +
      s""""action":"noop_write","sf":"$sfDir"}"""
    val compactLine = s"""{"metric":"total_compact","value":$total,"unit":"sec",""" +
      s""""value_calib_normalized":${fmt2(totalCalibNorm)},""" +
      s""""cpu_total":${fmt2(cpuTotal)},""" + host +
      s""""n_queries":${names.size},"n_errors":${errors.size},""" +
      s""""loadavg":${js(loadavgNow)},"load_max":${fmt2(loadMax)},""" +
      s""""n_retimed":${retimed.size},""" +
      s""""calib_drift":${fmt3(calibDrift)},""" +
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
    Seq(java.nio.file.Paths.get("BENCH_SUMMARY.json"),
      java.nio.file.Paths.get("bench_runs", s"bench-${
        System.currentTimeMillis()}-pid${ProcessHandle.current().pid()}.json"))
      .foreach { p => scala.util.Try {
        Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.writeString(p, line + "\n")
      } }
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
