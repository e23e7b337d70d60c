#!/usr/bin/env python3
"""Scale-verification gate: oracle-check a Verify dump at a replicated SF.

Usage: python3 tools/verify_10x.py <sfBigDir> <verifyOutDir> [subOutDir]

Three phases, so that EVERY query ends the run either full-oracle-green
or bounded-oracle-green, and no single slow oracle can starve the rest
(round 4's failure mode: one hung minhash oracle left q13-q70 unchecked
at scale):

A. Full oracle for EVERY query, each under a watchdog (duckdb
   interrupt). Queries that time out are not failures yet — they fall
   through to phase B. (Round-5 measurement: even the md5-minhash
   family is DuckDB-feasible at 50k docs — q12 65s, q45 51s, q58 188s —
   so normally NOTHING times out and phase B is an empty safety net.)
B. Timed-out queries with a documents-only oracle re-run on a bounded
   sub-corpus: contiguous id windows (whole duplicate families survive,
   all replica copies sampled), the IDENTICAL oracle SQL in DuckDB vs a
   Spark re-run over the same sub-corpus (graft.Verify query filter
   into [subOutDir]). Pass = hash-equal, same as phase A.
C. Invariants on the FULL-scale outputs of the minhash family
   (q12/q45/q48/q58), cheap because they touch only output pairs,
   never the corpus pairing: orientation, jaccard bounds, band
   containment (every reported pair must share >= 1 of the 8 LSH band
   hashes, recomputed from raw text for just the involved docs), and
   q58 cluster-consistency (every >= 0.5 pair co-clustered, cluster_id
   = member min, sizes and canonical flags consistent).

Exit 0 only if every query is full- or bounded-oracle green and all
invariants hold.
"""
import json
import math
import os
import sys
import threading

import duckdb

# timed-out phase-A queries that can fall back to the bounded sub-corpus
# (their oracles read only the documents table)
BOUNDED_FALLBACK = {"q12_minhash_pairs", "q45_minhash_est",
                    "q58_dup_clusters", "q71_incremental_clusters",
                    "q36_winnowing_fp", "q38_edit_distance",
                    "q77_minhash_family_gate"}
ROWS_ONLY = {"q16_ann_ivf", "q48_minhash_fast"}
ORACLE_TIMEOUT_S = 420
MINHASH_N, MINHASH_BANDS = 16, 8

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            rr.append(v)
        out.append(tuple(rr))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [sorted(cols)] + out


def run_with_watchdog(con, sql, seconds):
    """Run sql; interrupt after `seconds`. Returns (df, timed_out)."""
    timer = threading.Timer(seconds, con.interrupt)
    timer.start()
    try:
        return con.execute(sql).df(), False
    except duckdb.InterruptException:
        return None, True
    finally:
        timer.cancel()


# Above this many dump rows, the pandas/tuple canon path is the gate's
# own bottleneck (100x: q68's 105M-row dump alone would cost ~an hour of
# single-threaded itertuples+sort). Large dumps compare IN DuckDB via
# EXCEPT ALL in both directions — the same multiset-equality predicate
# canon() implements, at vectorized speed. NULL/NaN/-0.0 semantics agree
# with canon: DuckDB set ops treat NULLs as equal, define NaN = NaN, and
# compare -0.0 = 0.0; the pandas path stays for small results so the
# historically recorded gates keep their exact code path.
BIG_DUMP_ROWS = 500_000


def _duck_kind(t):
    """DuckDB type → pandas-dtype-kind analog for the column-kind check.

    DECIMAL maps to 'f' because duckdb's .df() hands pandas a float64 for
    it — the in-db path must flag the same divergences the pandas path
    would have. DATE, every TIMESTAMP flavour and BOOLEAN get kinds of
    their own: EXCEPT ALL would otherwise compare them to a VARCHAR column
    after an implicit cast and pass.
    """
    t = t.upper()
    if t.startswith("DECIMAL") or t in ("FLOAT", "DOUBLE", "REAL"):
        return "f"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "i"
    if t == "DATE":
        return "d"
    if t.startswith("TIMESTAMP"):
        return "M"
    if t == "BOOLEAN":
        return "b"
    return "o"


def compare_indb(con, name, sql, dump_glob, n_mine, timeout_s):
    """Multiset-equality compare fully inside DuckDB for large dumps."""
    con.execute(f"CREATE OR REPLACE TEMP VIEW mine_v AS "
                f"SELECT * FROM read_parquet('{dump_glob}')")
    _, timed_out = run_with_watchdog(
        con, f"CREATE OR REPLACE TEMP TABLE want_t AS {sql}", timeout_s)
    if timed_out:
        print(f"TIMEOUT {name}: oracle exceeded {timeout_s}s")
        return "timeout"
    # want_t dropped on EVERY exit (r18 ADVICE): the FAIL/timeout paths
    # used to leave a ~100M-row temp table resident for the rest of
    # phase A, piling memory pressure onto every later oracle.
    try:
        mcols = {r[0]: r[1] for r in con.execute("DESCRIBE mine_v").fetchall()}
        wcols = {r[0]: r[1] for r in con.execute("DESCRIBE want_t").fetchall()}
        if sorted(mcols) != sorted(wcols):
            print(f"FAIL {name}: columns {sorted(mcols)} vs {sorted(wcols)}")
            return "fail"
        # Any kind mismatch fails: EXCEPT ALL coerces both sides to a
        # common type and would erase a string-vs-number (or -date, or
        # -boolean) divergence the pandas canon path catches via tuple
        # inequality.
        dtype_bad = [c for c in mcols
                     if _duck_kind(mcols[c]) != _duck_kind(wcols[c])]
        if dtype_bad:
            print(f"FAIL {name}: dtype-kind divergence on {dtype_bad} "
                  f"({ {c: (mcols[c], wcols[c]) for c in dtype_bad} })")
            return "fail"
        sel = ", ".join(f'"{c}"' for c in sorted(mcols))
        n_want = con.execute("SELECT count(*) FROM want_t").fetchone()[0]
        # EXCEPT ALL both ways == multiset equality (what sorted-rows canon
        # states); each direction under its own watchdog so a pathological
        # compare can't hang the gate.
        diffs = []
        for a, b in (("mine_v", "want_t"), ("want_t", "mine_v")):
            df, timed_out = run_with_watchdog(
                con, f"SELECT count(*) FROM (SELECT {sel} FROM {a} "
                     f"EXCEPT ALL SELECT {sel} FROM {b})", max(timeout_s, 600))
            if timed_out:
                print(f"TIMEOUT {name}: in-db compare exceeded "
                      f"{max(timeout_s, 600)}s")
                return "timeout"
            diffs.append(int(df.iloc[0, 0]))
        if diffs == [0, 0] and n_mine == n_want:
            print(f"PASS {name} ({n_mine} rows, in-db)")
            return "pass"
        print(f"FAIL {name}: rows {n_mine} vs {n_want}, multiset diff "
              f"mine-want={diffs[0]}, want-mine={diffs[1]}")
        return "fail"
    finally:
        con.execute("DROP TABLE IF EXISTS want_t")


def compare(con, name, sql, out_dir, timeout_s=ORACLE_TIMEOUT_S):
    """Returns 'pass' | 'fail' | 'timeout'."""
    dump_glob = f"{out_dir}/{name}/*.parquet"
    try:
        n_mine = con.execute(
            f"SELECT count(*) FROM read_parquet('{dump_glob}')").fetchone()[0]
        if n_mine > BIG_DUMP_ROWS:
            return compare_indb(con, name, sql, dump_glob, n_mine, timeout_s)
        mine = con.execute(
            f"SELECT * FROM read_parquet('{dump_glob}')").df()
    except Exception as e:
        print(f"FAIL {name}: spark dump unreadable: {e}")
        return "fail"
    want, timed_out = run_with_watchdog(con, sql, timeout_s)
    if timed_out:
        print(f"TIMEOUT {name}: oracle exceeded {timeout_s}s")
        return "timeout"
    a = canon(list(mine.itertuples(index=False, name=None)), list(mine.columns))
    b = canon(list(want.itertuples(index=False, name=None)), list(want.columns))
    kinds = [{c: mine[c].dtype.kind for c in mine.columns},
             {c: want[c].dtype.kind for c in want.columns}]
    dtype_bad = [c for c in kinds[0]
                 if c in kinds[1] and {kinds[0][c], kinds[1][c]} == {"i", "f"}]
    if a == b and not dtype_bad:
        print(f"PASS {name} ({len(mine)} rows)")
        return "pass"
    if dtype_bad:
        print(f"FAIL {name}: int-vs-float dtype divergence on {dtype_bad}")
    elif a[0] != b[0]:
        print(f"FAIL {name}: columns {a[0]} vs {b[0]}")
    else:
        diffs = [(x, y) for x, y in zip(a[1:], b[1:]) if x != y]
        print(f"FAIL {name}: rows {len(a) - 1} vs {len(b) - 1}, "
              f"{len(diffs)} differing; first: "
              f"{diffs[0] if diffs else '(row count only)'}")
    return "fail"


def phase_a(sf_dir, out_dir, oracle):
    print(f"== phase A: full oracle at {sf_dir} for every query ==")
    con = connect(sf_dir)
    results = {}
    for name, sql in sorted(oracle.items()):
        results[name] = compare(con, name, sql, out_dir)
    for name in sorted(ROWS_ONLY):
        # A rows-only entry must never OVERWRITE a phase-A verdict: if a
        # name has oracle SQL, the full compare above is the check, and
        # converting its fail into a rows-only pass would silently mask
        # it (exactly what happened to q32's 100x HLL-tolerance miss
        # before the rsd fix — the flag rode a rows-only entry to green).
        if name in results:
            continue
        try:
            df = con.execute(f"SELECT * FROM "
                             f"read_parquet('{out_dir}/{name}/*.parquet')").df()
            assert len(df) > 0
            print(f"PASS {name} (rows-only, {len(df)} rows)")
            results[name] = "pass"
        except Exception as e:
            print(f"FAIL {name}: rows-only dump unreadable/empty: {e}")
            results[name] = "fail"
    con.close()
    return results


def phase_b(sf_dir, sub_out_dir, oracle, names):
    sub_dir = sub_out_dir + "_data"
    print(f"== phase B: bounded sub-corpus oracle for {sorted(names)} ==")
    os.makedirs(sub_dir, exist_ok=True)
    con0 = duckdb.connect()
    # contiguous 200-id window from each replica copy: whole duplicate
    # families survive sampling, every copy contributes
    con0.execute(
        f"COPY (SELECT * FROM read_parquet('{sf_dir}/documents.parquet') "
        f"WHERE doc_id % 10000000 < 200) TO "
        f"'{sub_dir}/documents.parquet' (FORMAT PARQUET)")
    n_sub = con0.execute(f"SELECT count(*) FROM "
                         f"read_parquet('{sub_dir}/documents.parquet')").fetchone()[0]
    con0.close()
    print(f"sub-corpus: {n_sub} docs at {sub_dir}")
    for t in TABLES:
        if t == "documents":
            continue
        dst = f"{sub_dir}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{sf_dir}/{t}.parquet", dst)
    arg_names = " ".join(sorted(names))
    rc = os.system(
        f"cd /root/repo && SPARK_GRAFT_CPUS=16 sbt -batch "
        f"'runMain graft.Verify {sub_dir} {sub_out_dir} {arg_names}' "
        f">> /tmp/verify_10x_sub.log 2>&1")
    if rc != 0:
        print(f"FAIL: sub-corpus Verify run exited {rc} "
              f"(see /tmp/verify_10x_sub.log)")
        return {n: "fail" for n in names}
    con = connect(sub_dir)
    results = {}
    for name in sorted(names):
        # recursive-CTE closure (q58/q71) over the sub-corpus is fine;
        # give the md5 family a generous but bounded window
        results[name] = compare(con, name, oracle[name], sub_out_dir,
                                timeout_s=600)
    con.close()
    return results


def band_containment_sql(pairs_glob, docs_parquet):
    sigs = ",\n    ".join(
        f"list_aggregate(list_transform(shingles, s -> md5('{j}:' || s)), "
        f"'min') AS sig_{j}" for j in range(MINHASH_N))
    bands = ", ".join(
        f"md5(sig_{2 * b} || '|' || sig_{2 * b + 1})"
        for b in range(MINHASH_BANDS))
    return f"""
WITH out_pairs AS (
  SELECT doc_a, doc_b FROM read_parquet('{pairs_glob}')
), involved AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM out_pairs
    UNION ALL SELECT doc_b FROM out_pairs)
), toks AS (
  SELECT d.doc_id, string_split(d.text, ' ') AS t
  FROM read_parquet('{docs_parquet}') d
  JOIN involved USING (doc_id)
  WHERE len(string_split(d.text, ' ')) >= 3
), sh AS (
  SELECT doc_id,
    [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)] AS shingles
  FROM toks
), sigs AS (
  SELECT doc_id, {sigs} FROM sh
), bandlists AS (
  SELECT doc_id, [{bands}] AS bands FROM sigs
)
SELECT count(*) AS violations FROM out_pairs p
JOIN bandlists a ON a.doc_id = p.doc_a
JOIN bandlists b ON b.doc_id = p.doc_b
WHERE len(list_intersect(a.bands, b.bands)) = 0
"""


def phase_c(sf_dir, out_dir, only=None):
    # Scope the invariants to the queries the caller actually ran: a
    # --only subset that excludes a family member means its dump is
    # absent (crash) or a stale leftover from an earlier full run
    # (silently gating on artifacts the caller excluded) — both wrong.
    fam = {"q12_minhash_pairs", "q45_minhash_est",
           "q48_minhash_fast", "q58_dup_clusters"}
    inc = fam if only is None else fam & only
    if not inc:
        print("== phase C: minhash family excluded by --only; skipped ==")
        return True
    print("== phase C: full-scale invariants on the minhash family ==")
    con = duckdb.connect()
    docs = f"{sf_dir}/documents.parquet"
    ok = True

    def check(label, sql, expect_zero=True):
        nonlocal ok
        v = con.execute(sql).fetchone()[0]
        good = (v == 0) if expect_zero else (v > 0)
        print(f"{'PASS' if good else 'FAIL'} invariant: {label} = {v}")
        ok = ok and good

    for name, col in [("q12_minhash_pairs", "jaccard"),
                      ("q45_minhash_est", "est_jaccard")]:
        if name not in inc:
            continue
        glob = f"{out_dir}/{name}/*.parquet"
        check(f"{name} pair count > 0",
              f"SELECT count(*) FROM read_parquet('{glob}')", expect_zero=False)
        check(f"{name} misoriented pairs (doc_a >= doc_b)",
              f"SELECT count(*) FROM read_parquet('{glob}') WHERE doc_a >= doc_b")
        check(f"{name} {col} out of (0, 1]",
              f"SELECT count(*) FROM read_parquet('{glob}') "
              f"WHERE {col} <= 0 OR {col} > 1 OR {col} IS NULL")
        check(f"{name} pairs not sharing any LSH band",
              band_containment_sql(glob, docs))
    if "q48_minhash_fast" in inc:
        q48 = f"{out_dir}/q48_minhash_fast/*.parquet"
        check("q48 pair count > 0",
              f"SELECT count(*) FROM read_parquet('{q48}')",
              expect_zero=False)
        check("q48 pairs not sharing any LSH band",
              band_containment_sql(q48, docs))
    # q58: every verified >= 0.5 pair is co-clustered; labels are minima;
    # sizes and canonical flags are internally consistent
    if "q58_dup_clusters" in inc:
        q58 = f"{out_dir}/q58_dup_clusters/*.parquet"
        q12 = f"{out_dir}/q12_minhash_pairs/*.parquet"
        check("q58 rows = corpus size",
              f"SELECT (SELECT count(*) FROM read_parquet('{q58}')) - "
              f"(SELECT count(*) FROM read_parquet('{docs}'))")
        if "q12_minhash_pairs" in inc:
            check("q58 edges split across clusters",
                  f"SELECT count(*) FROM read_parquet('{q12}') p "
                  f"JOIN read_parquet('{q58}') a ON a.doc_id = p.doc_a "
                  f"JOIN read_parquet('{q58}') b ON b.doc_id = p.doc_b "
                  f"WHERE p.jaccard >= 0.5 AND a.cluster_id <> b.cluster_id")
        check("q58 cluster_id is not the member minimum somewhere",
              f"SELECT count(*) FROM (SELECT cluster_id, min(doc_id) m "
              f"FROM read_parquet('{q58}') GROUP BY 1) WHERE cluster_id <> m")
        check("q58 cluster_size inconsistent somewhere",
              f"SELECT count(*) FROM (SELECT cluster_id, count(*) n, "
              f"any_value(cluster_size) s FROM read_parquet('{q58}') "
              f"GROUP BY 1) WHERE n <> s")
        check("q58 clusters without exactly one canonical member",
              f"SELECT count(*) FROM (SELECT cluster_id, "
              f"sum(CASE WHEN is_canonical THEN 1 ELSE 0 END) c "
              f"FROM read_parquet('{q58}') GROUP BY 1) WHERE c <> 1")
    con.close()
    return ok


def main():
    # args: <sfBigDir> <verifyOutDir> [subOutDir] [--only q01_x,q02_y,...]
    # --only restricts the gate to a query subset (the 100x gate runs the
    # batch families only; streaming drains at 100x are hours of fixture
    # replay that add no magnitude-sensitive arithmetic coverage).
    argv = list(sys.argv[1:])
    only = None
    if "--only" in argv:
        i = argv.index("--only")
        assert i + 1 < len(argv), "--only needs a comma-separated query list"
        only = set(argv[i + 1].split(","))
        del argv[i:i + 2]
    sf_dir, out_dir = argv[0], argv[1]
    sub_out_dir = argv[2] if len(argv) > 2 else "/tmp/v10sub"
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    if only is not None:
        missing = only - set(oracle) - ROWS_ONLY
        assert not missing, f"--only names not in oracle_sql: {missing}"
        oracle = {k: v for k, v in oracle.items() if k in only}
        ROWS_ONLY.intersection_update(only)
    results = phase_a(sf_dir, out_dir, oracle)
    timed_out = {n for n, r in results.items() if r == "timeout"}
    fallback = timed_out & BOUNDED_FALLBACK
    uncovered = timed_out - BOUNDED_FALLBACK
    if fallback:
        for name, r in phase_b(sf_dir, sub_out_dir, oracle, fallback).items():
            results[name] = "bounded-" + r
    else:
        print("== phase B: nothing timed out; bounded fallback not needed ==")
    for name in sorted(uncovered):
        print(f"FAIL {name}: oracle timed out and has no bounded fallback")
        results[name] = "fail"
    inv_ok = phase_c(sf_dir, out_dir, only)
    n = {"pass": 0, "bounded-pass": 0, "fail": 0}
    for name, r in sorted(results.items()):
        if r in n:
            n[r] += 1
        elif r != "timeout":
            n["fail"] += 1
    print(f"== {n['pass']} full-oracle pass, {n['bounded-pass']} bounded "
          f"pass, {n['fail']} fail, "
          f"invariants {'PASS' if inv_ok else 'FAIL'} ==")
    sys.exit(0 if n["fail"] == 0 and inv_ok else 1)


if __name__ == "__main__":
    main()
