package perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Tiny-size runs of every workload through the benchmark entry point,
  * untraced and traced. `query_suite` needs the testdata tables of
  * TESTDATA.md: set PERFBENCH_DATA_DIR to a testdata directory (sf0.001
  * is enough), or the case is cancelled. */
class SmokeSpec extends AnyFunSuite {
  private val out = Files.createTempDirectory("perfbench-smoke")

  private def run(workload: String, trace: Int, extra: String*): String = {
    val o = out.resolve(s"$workload-$trace.json")
    Main.main(Array("--workload", workload, "--seed", "3", "--seconds", "1",
      "--trace", trace.toString, "--work", out.resolve(s"w-$workload").toString,
      "--out", o.toString, "--size", "tiny") ++ extra)
    Files.readString(o)
  }

  for (w <- Seq("catchup_run", "merge_publish", "backfill_ingest", "media_quarantine"))
    test(s"$w: tiny run is correct and reports every metric") {
      val r = run(w, 1)
      assert(r.contains("\"correct\": true"), r.take(2000))
      for (m <- Seq("setup_s", "cold_run_s", "cold_cpu_s", "run_s", "rows_per_s", "cpu_s",
          "peak_rss_mb", "failed_ratio", "trace.overhead_ratio", "stage.")) {
        assert(r.contains(m), s"$m missing")
      }
    }

  test("daily_upsert: the accumulated-delta defect shows as stale winners") {
    val r = run("daily_upsert", 0)
    assert(r.contains("\"stale_winners\""))
    assert(r.contains("\"correct\": false"),
      "every day after the first re-reads earlier deltas; corrected replays " +
        "lose to older rows until the delta is cleared per run")
  }

  test("query_suite: tiny pass over two queries") {
    val dir = sys.env.get("PERFBENCH_DATA_DIR")
    assume(dir.exists(d => Files.isDirectory(Paths.get(d))),
      "PERFBENCH_DATA_DIR is not set")
    val r = run("query_suite", 1, "--data-dir", dir.get)
    assert(r.contains("\"correct\": true"), r.take(2000))
    assert(r.contains("queries.planning_ms") && r.contains("streaming.batches"))
  }
}
