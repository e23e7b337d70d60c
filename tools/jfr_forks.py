#!/usr/bin/env python3
"""Process starts in a JFR recording, grouped by command, thread and caller.

Usage:
    python3 tools/jfr_forks.py <file.jfr> [--top N] [--jfr /path/to/jfr]
    python3 tools/jfr_forks.py --selftest

Reads the recording's `jdk.ProcessStart` events through the JDK's `jfr`
tool (`jfr print --json`) and prints one table: how many processes each
(program, thread, first non-Hadoop caller) started. The program is the
command's first word without its directory; UUIDs and digit runs in
thread names become `N`, so every task or query thread of one kind
shares a row; the caller is the first stack frame outside the JDK and
Hadoop, i.e. the code that asked Hadoop for the file operation. A recording of a pipeline run is
made with `-XX:StartFlightRecording` (see BUILD_NOTES "no native Hadoop:
forks per file op").

`--selftest` checks the grouping on an embedded small recording and
needs no JVM.
"""
import argparse
import collections
import json
import os
import re
import shutil
import subprocess
import sys

# frames from these packages are plumbing, not the caller that asked for
# the file operation
SKIP_PREFIXES = ("java.", "javax.", "jdk.", "sun.", "org.apache.hadoop.")


def program(command):
    """`chmod` for `/bin/chmod 0644 /x`."""
    words = command.split()
    return os.path.basename(words[0]) if words else "?"


UUID = re.compile(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}")


def thread_kind(name):
    return re.sub(r"\d+", "N", UUID.sub("N", name or "?"))


def caller(frames):
    for f in frames:
        method = f.get("method") or {}
        cls = ((method.get("type") or {}).get("name") or "").replace("/", ".")
        if cls and not cls.startswith(SKIP_PREFIXES):
            return "%s.%s" % (cls, method.get("name", "?"))
    return "?"


def rows(recording):
    """(program, thread kind, caller) for each jdk.ProcessStart event."""
    out = []
    for ev in recording.get("recording", {}).get("events", []):
        if ev.get("type") != "jdk.ProcessStart":
            continue
        v = ev.get("values", {})
        thread = (v.get("eventThread") or {}).get("javaName")
        frames = (v.get("stackTrace") or {}).get("frames") or []
        out.append((program(v.get("command") or ""), thread_kind(thread),
                    caller(frames)))
    return out


def table(rs, top):
    lines = ["%d process starts" % len(rs)]
    by_prog = collections.Counter(r[0] for r in rs)
    lines.append("by program: " + ", ".join(
        "%s %d" % kv for kv in by_prog.most_common()))
    lines.append("%6s  %-10s  %-48s  %s" % ("count", "program", "thread", "caller"))
    for (prog, thread, who), n in collections.Counter(rs).most_common(top):
        lines.append("%6d  %-10s  %-48s  %s" % (n, prog, thread[:48], who))
    return "\n".join(lines)


def read(path, jfr):
    out = subprocess.run(
        [jfr, "print", "--json", "--events", "jdk.ProcessStart",
         "--stack-depth", "64", path],
        check=True, capture_output=True, text=True).stdout
    return json.loads(out)


def _frame(cls, name):
    return {"method": {"type": {"name": cls.replace(".", "/")}, "name": name}}


def selftest():
    rec = {"recording": {"events": [
        {"type": "jdk.ProcessStart", "values": {
            "command": "chmod 0644 /tmp/x/.part.crc",
            "eventThread": {"javaName": "Executor task launch worker for task 3.0 in stage 7.0 (TID 12)"},
            "stackTrace": {"frames": [
                _frame("java.lang.ProcessBuilder", "start"),
                _frame("org.apache.hadoop.util.Shell", "runCommand"),
                _frame("org.apache.hadoop.fs.RawLocalFileSystem", "setPermission"),
                _frame("org.apache.spark.sql.execution.datasources.CodecStreams", "createOutputStream")]}}},
        {"type": "jdk.ProcessStart", "values": {
            "command": "/usr/bin/chmod 0644 /tmp/y/.part.crc",
            "eventThread": {"javaName": "Executor task launch worker for task 4.0 in stage 7.0 (TID 13)"},
            "stackTrace": {"frames": [
                _frame("java.lang.ProcessBuilder", "start"),
                _frame("org.apache.hadoop.fs.RawLocalFileSystem", "setPermission"),
                _frame("org.apache.spark.sql.execution.datasources.CodecStreams", "createOutputStream")]}}},
        {"type": "jdk.ProcessStart", "values": {
            "command": "readlink file:/tmp/ckpt/offsets/3",
            "eventThread": {"javaName": "stream execution thread for [id = "
                                        "0c5a1f2e-9b3d-4e8f-a7c6-1d2e3f4a5b6c]"},
            "stackTrace": {"frames": [_frame("org.apache.hadoop.fs.FileUtil", "readLink")]}}},
        {"type": "jdk.GarbageCollection", "values": {}},
    ]}}
    rs = rows(rec)
    assert len(rs) == 3, rs
    worker = "Executor task launch worker for task N.N in stage N.N (TID N)"
    want = ("chmod", worker,
            "org.apache.spark.sql.execution.datasources.CodecStreams.createOutputStream")
    assert rs[0] == want and rs[1] == want, rs
    assert rs[2] == ("readlink", "stream execution thread for [id = N]", "?"), rs[2]
    t = table(rs, 10)
    assert t.splitlines()[0] == "3 process starts", t
    assert "by program: chmod 2, readlink 1" in t, t
    assert "     2  chmod" in t, t
    print("jfr_forks selftest: ok")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording", nargs="?")
    ap.add_argument("--top", type=int, default=30)
    ap.add_argument("--jfr", default=shutil.which("jfr") or os.path.join(
        os.environ.get("JAVA_HOME", "/usr"), "bin", "jfr"))
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        selftest()
        return 0
    if not a.recording:
        ap.error("a .jfr file is required")
    print(table(rows(read(a.recording, a.jfr)), a.top))
    return 0


if __name__ == "__main__":
    sys.exit(main())
