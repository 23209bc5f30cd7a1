#!/usr/bin/env python3
"""Regenerate the benchmark's committed check data from the corpus.

    python3 perfbench/make_golden.py [--selfcheck tools/selfcheck.py]

1. enumerates the corpus's (source, group) clusters -> golden/groups.tsv
   (the seeded generator draws getCluster parameters from it);
2. runs every workload once in golden mode: each entry the workloads
   call is digested (golden/digests.tsv) and its rows kept as parquet;
3. compares those rows with the entries' DuckDB oracle SQL using the
   repository's tools/selfcheck.py; a digest is only written when every
   oracle-backed entry passes hash-exact.
Run it only when the corpus or an entry's defined output changes.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

import run


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--selfcheck", default=os.path.join(run.REPO, "tools", "selfcheck.py"))
    a = ap.parse_args()
    classpath = run.build()
    os.makedirs(os.path.join(run.BUILD, "runs"), exist_ok=True)
    root = tempfile.mkdtemp(prefix="golden-", dir=os.path.join(run.BUILD, "runs"))
    try:
        run.run_jvm(classpath, root, ["--workload", "enumerate", "--corpus", run.CORPUS,
                                      "--enumerate", run.GROUPS], timeout=300)
        gdir = os.path.join(root, "golden")
        for w in run.WORKLOADS:
            wroot = os.path.join(root, w)
            os.makedirs(wroot)
            plan = run.make_plan(w, 0, run.corpus_facts(), 1)
            plan_file = os.path.join(wroot, "plan.tsv")
            with open(plan_file, "w") as f:
                f.write(run.plan_lines(plan))
            run.run_jvm(classpath, wroot, [
                "--workload", w, "--plan", plan_file, "--corpus", run.CORPUS,
                "--out", os.path.join(wroot, "out"), "--trace", "0",
                "--golden", "-", "--write-golden", gdir], timeout=900)
        sql = {}
        for w in run.WORKLOADS:
            with open(os.path.join(gdir, "parquet", f"oracle_sql.{w}.json")) as f:
                sql.update(json.load(f))
        with open(os.path.join(gdir, "parquet", "oracle_sql.json"), "w") as f:
            json.dump(sql, f)
        r = subprocess.run([sys.executable, a.selfcheck, run.CORPUS, os.path.join(gdir, "parquet")],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        print(r.stdout)
        lines = [l for l in r.stdout.splitlines() if l.startswith(("PASS", "FAIL"))]
        bad = [l for l in lines if not (l.startswith("PASS") and l.endswith("EXACT"))]
        if r.returncode != 0 or bad:
            raise SystemExit("oracle compare failed; golden digests not written:\n" + "\n".join(bad))
        checked = {l.split()[1].rstrip(":") for l in lines}
        names = sorted(n for n in os.listdir(gdir) if n != "parquet")
        with open(run.GOLDEN, "w") as f:
            f.write("# entry\tsha256 of sorted row texts:rows  (oracle: DuckDB hash-exact | none)\n")
            for n in names:
                with open(os.path.join(gdir, n)) as g:
                    f.write(f"{n}\t{g.read().strip()}\t{'duckdb' if n in checked else 'none'}\n")
        print(f"wrote {len(names)} digests, {len(checked)} oracle-checked")
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
