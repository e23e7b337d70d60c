#!/usr/bin/env python3
"""Janino compiles in a Spark log: how many, how long, how many distinct.

Usage:
    python3 tools/codegen_log.py <codegen.log>
    python3 tools/codegen_log.py --selftest

Reads a log written with `tools/log4j2-codegen.properties`, which sends
Spark's `CodeGenerator` logger at DEBUG to its own file, one record per
line that starts with `@@@ <time> <level> [<thread>]: `. Each compile
logs its generated source at DEBUG and `Code generated in <ms> ms` at
INFO. The script prints the number of compiles and their total time,
how many compiled on executor task threads, and how many distinct
sources (by SHA-256) were compiled: a source compiled more than once was
a miss in Spark's class cache, which is keyed by (class loader, source).
See BUILD_NOTES "Spark 4 codegen cache is per class loader".
"""
import collections
import hashlib
import re
import sys

RECORD = re.compile(r"^@@@ \S+ (\w+) \[(.*?)\]: ?(.*)$")
TIME = re.compile(r"Code generated in ([0-9.]+) ms")


def records(lines):
    """(level, thread, text) per log record; text keeps its later lines."""
    cur = None
    for line in lines:
        m = RECORD.match(line.rstrip("\n"))
        if m:
            if cur:
                yield cur
            cur = [m.group(1), m.group(2), [m.group(3)]]
        elif cur:
            cur[2].append(line.rstrip("\n"))
    if cur:
        yield cur


def summarize(lines):
    compiles, ms, on_exec = 0, 0.0, 0
    bodies = collections.Counter()
    for level, thread, text in records(lines):
        body = "\n".join(text).strip()
        t = TIME.search(body)
        if level == "INFO" and t:
            compiles += 1
            ms += float(t.group(1))
            if thread.startswith("Executor task launch worker"):
                on_exec += 1
        elif level == "DEBUG" and body.startswith("/*"):
            bodies[hashlib.sha256(body.encode()).hexdigest()] += 1
    return {"compiles": compiles, "compile_ms": round(ms, 1),
            "compiles_on_executor_threads": on_exec,
            "sources_logged": sum(bodies.values()),
            "distinct_sources": len(bodies)}


SAMPLE = """\
@@@ 10:00:00.000 DEBUG [main]:
/* 001 */ public Object generate(Object[] references) { return 1; }
@@@ 10:00:00.010 INFO [main]: Code generated in 10.5 ms
@@@ 10:00:01.000 DEBUG [Executor task launch worker for task 0.0 in stage 1.0 (TID 1)]:
/* 001 */ public Object generate(Object[] references) { return 1; }
@@@ 10:00:01.020 INFO [Executor task launch worker for task 0.0 in stage 1.0 (TID 1)]: Code generated in 20.0 ms
@@@ 10:00:02.000 DEBUG [main]:
/* 001 */ public Object generate(Object[] references) { return 2; }
@@@ 10:00:02.001 INFO [main]: Code generated in 1.5 ms
"""


def selftest():
    got = summarize(SAMPLE.splitlines(True))
    want = {"compiles": 3, "compile_ms": 32.0, "compiles_on_executor_threads": 1,
            "sources_logged": 3, "distinct_sources": 2}
    assert got == want, got
    print("selftest ok")


def main(argv):
    if argv == ["--selftest"]:
        return selftest()
    if len(argv) != 1:
        sys.exit(__doc__)
    with open(argv[0], encoding="utf-8", errors="replace") as f:
        for k, v in summarize(f).items():
            print(f"{k}: {v}")


if __name__ == "__main__":
    main(sys.argv[1:])
