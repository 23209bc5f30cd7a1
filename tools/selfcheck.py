#!/usr/bin/env python3
"""Mimic the driver's correctness gate locally.

Usage: python3 tools/selfcheck.py [sfdir] [outdir] [names]

Reads outdir/<name>/ parquet (written by `sbt "runMain graft.Verify
<sfdir> <outdir>"`) plus outdir/oracle_sql.json, runs each oracle in
DuckDB with views named after the testdata tables, and compares:
schema (column names sorted), row count, and values (rows sorted by
all columns, floats compared to 1e-9 relative — the driver hashes
exactly, so we also report max float deltas to catch near-misses).

`names` (comma-separated entry names, the same list given to Verify's
third argument) compares only those entries: each must have an oracle,
a dump and an "ok" manifest status, or it fails. Without it every
oracle is compared and the manifest must cover every oracle key.
"""
import glob
import json
import math
import sys
import time

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    # STRICT: the driver hashes exact values, so floats must be
    # bit-identical — any rounding here would hide a gate failure
    # (round 1 shipped three such misses behind a round(v, 9)).
    return v


def main():
    sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    failed = []
    if only is not None:
        for name in sorted(only - set(oracles)):
            print(f"FAIL {name}: no oracle")
            failed.append(name)
        oracles = {k: v for k, v in oracles.items() if k in only}
    # Key-set completeness (r10 postmortem): Verify writes queries.json
    # with EVERY SparkEntry.queries key -> "ok" | "err: ...". A query
    # that errors must appear here as a FAIL row — it may never vanish
    # from the report and read as "no failures".
    try:
        manifest = json.load(open(f"{outdir}/queries.json"))
    except FileNotFoundError:
        manifest = None
        print("WARN: no queries.json manifest — key-set completeness unchecked")
    if manifest is not None and only is not None:
        for name in sorted(only & set(oracles)):
            st = manifest.get(name, "not run")
            if st != "ok":
                print(f"FAIL {name}: verify-time {st}")
                failed.append(name)
    elif manifest is not None:
        for name, st in sorted(manifest.items()):
            if st != "ok":
                print(f"FAIL {name}: verify-time {st}")
                failed.append(name)
        missing = set(oracles) - set(manifest)
        if missing:
            print(f"FAIL manifest: oracle keys missing from SparkEntry.queries: {sorted(missing)}")
            failed.append("manifest")
    # per-query DuckDB wall seconds (execute + fetch) — the measured
    # baseline side of the 2x bench gate, recorded as an in-repo
    # artifact (ORACLE_TIMING.json) instead of a judge estimate
    timing = {}
    # Oracle-result cache keyed by the SQL text (VERDICT r17 item 6):
    # several gate queries share one brute all-pairs oracle verbatim
    # (q27/q83/q83b/q83c are the SAME minhash-pair SQL over the same
    # corpus, ~8 min each at sf0.1) — within one run the result set is
    # identical by construction, so re-executing it buys nothing but
    # wall time. A hit replays the first execution's rows AND its
    # measured seconds (the timing artifact stays the measured cost of
    # the oracle, never 0.0 for a memo lookup); the `cached` list in
    # ORACLE_TIMING.json records which keys reused which. Identical
    # gate semantics: the compare below still runs per query.
    oracle_cache = {}  # sql -> (first_name, cols, rows, sec)
    cached = {}
    for name, sql in sorted(oracles.items()):
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            failed.append(name)
            continue
        try:
            spark_rel = con.execute(
                f"SELECT * FROM read_parquet({files!r})")
            spark_cols = [d[0] for d in spark_rel.description]
            spark_rows = spark_rel.fetchall()
            if sql in oracle_cache:
                first, oracle_cols, oracle_rows, sec = oracle_cache[sql]
                timing[name] = sec
                cached[name] = first
            else:
                t0 = time.monotonic()
                oracle_rel = con.execute(sql)
                oracle_cols = [d[0] for d in oracle_rel.description]
                oracle_rows = oracle_rel.fetchall()
                sec = round(time.monotonic() - t0, 3)
                timing[name] = sec
                oracle_cache[sql] = (name, oracle_cols, oracle_rows, sec)
        except Exception as e:
            print(f"FAIL {name}: exec error {e}")
            failed.append(name)
            continue
        if sorted(spark_cols) != sorted(oracle_cols):
            print(f"FAIL {name}: cols spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}")
            failed.append(name)
            continue
        # align column order by sorted name (like the driver); the sort
        # key must tolerate NULLs (None sorts first within a column)
        def key(row):
            return tuple((v is None, 0 if v is None else v) for v in row)
        sidx = [spark_cols.index(c) for c in sorted(spark_cols)]
        oidx = [oracle_cols.index(c) for c in sorted(oracle_cols)]
        s = sorted((tuple(norm(r[i]) for i in sidx) for r in spark_rows), key=key)
        o = sorted((tuple(norm(r[i]) for i in oidx) for r in oracle_rows), key=key)
        if len(s) != len(o):
            print(f"FAIL {name}: rows spark={len(s)} oracle={len(o)}")
            failed.append(name)
            continue
        bad = None
        maxdelta = 0.0
        for sr, orow in zip(s, o):
            for a, b in zip(sr, orow):
                if isinstance(a, float) and isinstance(b, float):
                    if a != b:
                        d = abs(a - b) / max(abs(a), abs(b), 1e-12)
                        maxdelta = max(maxdelta, d)
                        if d > 1e-9 or math.isnan(d):
                            bad = (sr, orow)
                elif a != b:
                    bad = (sr, orow)
            if bad:
                break
        if bad:
            print(f"FAIL {name}: first diff\n  spark : {bad[0]}\n  oracle: {bad[1]}")
            failed.append(name)
        else:
            exact = " EXACT" if maxdelta == 0.0 else f" maxrel={maxdelta:.2e} (NOT hash-exact!)"
            print(f"PASS {name}: {len(s)} rows{exact}")
    out = {
        "sf": sfdir,
        "engine": f"duckdb {duckdb.__version__}",
        "n_queries": len(timing),
        "total_sec": round(sum(timing.values()), 3),
        "queries": timing,
        # name -> first key that executed the identical SQL this run;
        # such entries carry the first execution's measured seconds
        # (total_sec stays "what the oracles cost run independently")
        "cached": cached,
    }
    # Correctness summary artifact with the gate-invariant block
    # (VERDICT r16 item 4): Verify dumps gate_invariants.json when a
    # replay-gate query ran; embedding it here makes "the invariants
    # held for THIS run" visible in the round's correctness record
    # instead of only in a transient stderr line. A recorded violation
    # is a FAIL in its own right.
    gate = None
    try:
        gate = json.load(open(f"{outdir}/gate_invariants.json"))
        if gate.get("violations", 0):
            print(f"FAIL gate_invariants: {gate['violations']} violation(s) — {gate}")
            failed.append("gate_invariants")
    except FileNotFoundError:
        pass
    n_named = len(oracles) if only is None else len(only)
    correctness = {
        "sf": sfdir,
        "n_queries": n_named,
        "n_pass": n_named - len(set(failed) - {"gate_invariants", "manifest"}),
        "failed": sorted(set(failed)),
        "gate_invariants": gate,
    }
    with open(f"{outdir}/CORRECTNESS_local.json", "w") as f:
        json.dump(correctness, f, indent=1, sort_keys=True)
    if sfdir.rstrip("/").endswith("sf0.1") and only is None:
        with open("CORRECTNESS_local.json", "w") as f:
            json.dump(correctness, f, indent=1, sort_keys=True)
    # The repo-root ORACLE_TIMING.json is the HEADLINE artifact — the
    # sf0.1 numbers the bench gate is judged against. Only an sf0.1
    # run may touch it (an sf0.01 selfcheck once clobbered a completed
    # 35-minute sf0.1 pass); every run also drops a copy in outdir.
    dest = f"{outdir}/ORACLE_TIMING.json"
    with open(dest, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    if sfdir.rstrip("/").endswith("sf0.1") and only is None:
        dest = "ORACLE_TIMING.json"
        with open(dest, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    print(f"\noracle total {out['total_sec']}s over {out['n_queries']} queries -> {dest}")
    # per-query ratio must match n_pass: the raw failed list holds
    # non-query sentinels (gate_invariants, manifest) and can hold
    # duplicate appends for one query (ADVICE r17)
    print(f"{correctness['n_pass']}/{n_named} passed")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
