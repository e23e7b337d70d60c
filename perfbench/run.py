#!/usr/bin/env python3
"""Pipeline-first benchmark runner.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--size full|tiny] [--master local[n]] [--data-dir <testdata dir>]

Builds the library and the harness from source with sbt (once per source
fingerprint), runs one benchmark JVM, prints a human-readable summary and,
as the last line of standard output, one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the `end_to_end` metrics of BENCHMARK.json, with `--trace 1`
its `per_layer` metrics. The full result record (host facts, input sizes,
samples, checks, spans) is written under perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CP_FILE = os.path.join(TARGET, "perfbench-classpath.txt")
STAMP_FILE = os.path.join(TARGET, "perfbench-fingerprint.txt")
RUN_DEADLINE_S = 175
QUERY_SUITE_DEADLINE_S = 3600
BUILD_DEADLINE_S = 850

JVM_OPTIONS = os.path.join(HERE, "jvm.options")


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the repository root."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(f for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(fp):
    """Compile the library and the harness; returns the runtime classpath."""
    if os.path.exists(CP_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == fp:
                with open(CP_FILE) as c:
                    return c.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.forcestart=false",
           "export perfbench/Runtime/fullClasspath"]
    print("perfbench: building library and harness with sbt", file=sys.stderr)
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                           timeout=BUILD_DEADLINE_S, text=True)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 3)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {p.returncode})", 3)
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CP_FILE, "w") as f:
        f.write(cp)
    with open(STAMP_FILE, "w") as f:
        f.write(fp)
    return cp


def commit_id(fp):
    # never report the commit of an enclosing repository
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "source-sha256:" + fp[:16]


def run_jvm(cp, args, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(JVM_OPTIONS) as f:
        opts = [l.strip() for l in f if l.strip() and not l.startswith("#")]
    cmd = [java] + opts + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(5.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("benchmark JVM exceeded its time budget", 4)
    return proc.returncode, out


def oracle_check(oracle_dir, data_dir, names):
    """DuckDB oracle compare of the dumped query results, with the same
    canonical form and dtype rule as the repository's local verifier.
    Queries without an oracle are checked for rows and a schema."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from local_verify import canon
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(oracle_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failures = []
    for name in names:
        try:
            mine = con.execute(f"SELECT * FROM read_parquet("
                               f"'{oracle_dir}/{name}/*.parquet')").df()
            if name not in oracle:
                if len(mine) == 0 or len(mine.columns) == 0:
                    failures.append(name)
                continue
            want = con.execute(oracle[name]).df()
        except Exception:
            failures.append(name)
            continue
        kinds = [{c: mine[c].dtype.kind for c in mine.columns},
                 {c: want[c].dtype.kind for c in want.columns}]
        bad = [c for c in kinds[0] if c in kinds[1]
               and {kinds[0][c], kinds[1][c]} == {"i", "f"}]
        a = canon(list(mine.itertuples(index=False, name=None)), list(mine.columns))
        b = canon(list(want.itertuples(index=False, name=None)), list(want.columns))
        if a != b or bad:
            failures.append(name)
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--master", default=None)
    ap.add_argument("--data-dir", default=None)
    a = ap.parse_args()

    start = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no library sources next to the benchmark (build.sbt, "
             "src/main/scala/graft); run from a full checkout", 2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    fp = fingerprint()
    cp = build(fp)
    if time.time() - start > 30:
        start = time.time()  # the first run builds; the run budget starts now

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(HERE, "work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    out = os.path.join(out_dir, f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out, "--size", a.size,
            "--commit", commit_id(fp)]
    if a.master:
        args += ["--master", a.master]
    oracle_dir = None
    if a.workload == "query_suite":
        if not a.data_dir:
            fail("query_suite needs --data-dir <testdata dir>", 2)
        oracle_dir = os.path.join(HERE, "work", f"oracle-{os.getpid()}")
        args += ["--data-dir", os.path.abspath(a.data_dir), "--oracle-out", oracle_dir]
        deadline = start + QUERY_SUITE_DEADLINE_S
    else:
        deadline = start + RUN_DEADLINE_S
    try:
        code, log = run_jvm(cp, args, work, deadline)
        if code != 0 or not os.path.exists(out):
            sys.stderr.write("\n".join(log.splitlines()[-40:]) + "\n")
            fail(f"benchmark JVM failed (exit {code})", 5)
        with open(out) as f:
            res = json.load(f)
        if oracle_dir:
            names = [n for n in os.listdir(oracle_dir)
                     if os.path.isdir(os.path.join(oracle_dir, n))]
            bad = oracle_check(oracle_dir, os.path.abspath(a.data_dir), sorted(names))
            res["oracle"] = {"checked": len(names), "failed": bad}
            res["attempted"] += len(names)
            res["failed"] += len(bad)
            res["correct"] = res["failed"] == 0
            res["end_to_end"]["failed_ratio"]["value"] = res["failed"] / res["attempted"]
            with open(out, "w") as f:
                json.dump(res, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if oracle_dir:
            shutil.rmtree(oracle_dir, ignore_errors=True)

    host = res["host"]
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} "
          f"master={host['master']} nproc={host['nproc']} "
          f"heap={host['driver_heap_mb']}MB spark={host['spark_version']} "
          f"commit={host['commit']} load={host['loadavg_before']} -> "
          f"{host['loadavg_after']}")
    print(f"  inputs: {json.dumps(res['inputs'], sort_keys=True)}")
    st = res["run_s_stats"]
    tail = (f"p{st['p_supported']:.0f} {st['p_supported_value']:.4f} s"
            if st["p_supported"] is not None
            else "no percentile above the median has ten samples beyond it")
    print(f"  run_s: median {st['median']:.4f} s over {st['samples']} warm "
          f"samples, max {st['max']:.4f} s, {tail}")
    for k, v in sorted(res["end_to_end"].items()):
        print(f"  {k:<14} {v['value']:>14.4f} {v['unit']}")
    for k, v in sorted(res["per_layer"].items()):
        print(f"  {k:<40} {v['value']:>16.3f} {v['unit']}")
    print(f"  attempted={res['attempted']} failed={res['failed']} "
          f"record={os.path.relpath(out, ROOT)}")

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = res["per_layer"] if a.trace else res["end_to_end"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"], {"value": 0.0})["value"]
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
