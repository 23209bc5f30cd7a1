#!/usr/bin/env python3
"""graft benchmark: one seeded workload per run, every result checked.

    python3 perfbench/run.py --workload interactive|curation \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds graft and the
harness from source into .bench_build/perfbench (scalac from the Spark
jars). Each run then launches one JVM (local[4], one client thread)
that executes the call list generated here from the seed, and prints
every metric with its unit; the last stdout line is the JSON result.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

import layers

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CORPUS = os.path.join(HERE, "data", "sf0.01")
GOLDEN = os.path.join(HERE, "golden", "digests.tsv")
GROUPS = os.path.join(HERE, "golden", "groups.tsv")


def spark_jars():
    """$SPARK_JARS, else the jar directory build.sbt compiles against (its unmanagedBase)."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    try:
        with open(os.path.join(REPO, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SPARK_JARS = spark_jars()
BUILD = os.path.join(REPO, ".bench_build", "perfbench")
WORKLOADS = ("interactive", "curation")

# Call lists: one call per graft module, so that a run can afford a cold
# JVM's set-up and still measure several whole rounds within a run of about
# a minute; README.md lists what was left out.
DASHBOARD = [
    "q02_session_stats",        # Sessions
    "q43_chat_stats",           # Messages
    "q51_chats_overview",       # Analytics
    "q22_region_volume",        # Relational
    "q14_groups",               # Vectors
]
ANN_PROBES = ["q48_ivf_persisted"]
SEARCH_KINDS = ("vsearch", "csearch", "getcluster", "randcluster")
SEARCHES_PER_KIND = 1
STAGES = [
    "q27_dedup_minhash",        # Dedup
    "q53_dup_clusters",         # DupGraph
    "q54_decontam",             # Curation
    "q31_quality_score",        # TextAnalysis
]
BUILDS = ["vectorindex.build", "pq.build"]
# graft.streaming through StreamHarness: a live-query reuse entry (RocksDB
# state) and a start/stop-per-invocation entry. They run on the run's
# first corpus copy, the live feed, while the snapshot is rebuilt.
STREAMS = ["q85b_threads_rocks", "q83d_stream_gate"]
# A run measures round(seconds / this) whole rounds, at least one, so every
# run of a workload does the same work. Sized so that a run of either
# workload, set-up included, takes about 50-60 s on 4 cores.
SECONDS_PER_ROUND = {"interactive": 3.3, "curation": 5.0}


# ------------------------------------------------------------------ plan

def corpus_facts():
    """Values the generator draws from, enumerated from the corpus."""
    import pyarrow.parquet as pq
    vec_ids = sorted(pq.read_table(os.path.join(CORPUS, "embeddings.parquet"),
                                   columns=["vec_id"]).column(0).to_pylist())
    sources = sorted(set(pq.read_table(os.path.join(CORPUS, "documents.parquet"),
                                       columns=["source"]).column(0).to_pylist()))
    groups = []
    with open(GROUPS) as f:
        for line in f:
            if line.strip() and not line.startswith("#"):
                s, g, n = line.rstrip("\n").split("\t")
                groups.append((s, int(g), int(n)))
    return {"vec_ids": vec_ids, "sources": sources, "groups": groups}


def search_call(kind, rng, facts):
    if kind == "vsearch":
        p = {"vec": rng.choice(facts["vec_ids"]), "topk": rng.choice([5, 10, 20, 50]),
             "threshold": rng.choice(["0.0", "0.1", "0.25", "0.4"])}
        if rng.random() < 0.5:
            p["source"] = rng.choice(facts["sources"])
    elif kind == "csearch":
        p = {"vec": rng.choice(facts["vec_ids"]), "topk": rng.choice([20, 50, 100]),
             "clusters": rng.choice([5, 10]), "threshold": rng.choice(["0.0", "0.1", "0.25"])}
    elif kind == "getcluster":
        s, g, _ = rng.choice(facts["groups"])
        p = {"source": s, "group": g}
    else:
        biggest = max(n for _, _, n in facts["groups"])
        p = {"min": rng.choice([m for m in (2, 3, 5) if m <= biggest]),
             "seed": rng.randrange(0, 2 ** 31)}
    return ("search", kind, "mcp", p)


def rounds_for(workload, seconds):
    return max(1, round(seconds / SECONDS_PER_ROUND[workload]))


def make_plan(workload, seed, facts, rounds):
    """Whole call list for one run: (cls, kind, name, params) tuples.

    cls "warm" calls run untimed during set-up; then `rounds` rounds,
    each opened by a "round" marker, are timed. Every round holds each
    call kind the same number of times, so a seed changes order and
    parameters but not the mix.
    """
    rng = random.Random(f"{workload}:{seed}")
    marker = ("round", "-", "-", {})
    plan = []
    if workload == "interactive":
        plan += [("warm", "entry", n, {}) for n in DASHBOARD + ANN_PROBES]
        plan += [("warm",) + search_call(k, rng, facts)[1:] for k in SEARCH_KINDS]
        for _ in range(rounds):
            rnd = [("dashboard", "entry", n, {}) for n in DASHBOARD]
            rnd += [("search", "entry", n, {}) for n in ANN_PROBES]
            rnd += [search_call(k, rng, facts) for k in SEARCH_KINDS for _ in range(SEARCHES_PER_KIND)]
            rng.shuffle(rnd)
            plan += [marker] + rnd
    elif workload == "curation":
        plan += [("warm", "entry", n, {}) for n in STAGES + STREAMS]
        plan += [("warm", "build", b, {}) for b in BUILDS]
        for _ in range(rounds):
            calls = [("stage", "entry", n, {}) for n in STAGES] + [("stream", "entry", n, {}) for n in STREAMS]
            rng.shuffle(calls)
            plan += [marker] + calls + [("build", "build", b, {}) for b in BUILDS]
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return plan


def plan_lines(plan):
    return "".join(
        "\t".join([c, k, n, ";".join(f"{a}={b}" for a, b in sorted(p.items()))]) + "\n"
        for c, k, n, p in plan)


# ----------------------------------------------------------------- build

def sources_under(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_scala(srcs, classpath, out):
    if os.path.isdir(out):
        return
    os.makedirs(os.path.dirname(out), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=os.path.basename(out) + ".", dir=os.path.dirname(out))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
         "-nowarn", "-classpath", classpath, "-d", tmp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"compile failed: {out}")
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build got there first
        shutil.rmtree(tmp, ignore_errors=True)


def source_key(paths, salt=""):
    h = hashlib.sha256(salt.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile graft's main sources, then the harness; each cached by its source hash."""
    main_src = sources_under(os.path.join(REPO, "src", "main", "scala"))
    harness_src = sources_under(os.path.join(HERE, "harness"))
    if not main_src or not harness_src or not os.path.isdir(SPARK_JARS):
        raise SystemExit("graft sources, harness sources or Spark jars not found")
    jars = os.path.join(SPARK_JARS, "*")
    graft_key = source_key(main_src)
    graft_out = os.path.join(BUILD, f"graft-{graft_key}")
    harness_out = os.path.join(BUILD, f"harness-{source_key(harness_src, graft_key)}")
    compile_scala(main_src, jars, graft_out)
    compile_scala(harness_src, graft_out + os.pathsep + jars, harness_out)
    return [harness_out, graft_out, jars]


def driver_heap():
    """Half the host memory, clamped to 2..8 GiB, as the test setup sizes the driver heap."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(classpath, root, args, timeout):
    """Run the harness in its own process group; killed with it on timeout or interrupt."""
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{driver_heap()}", "-Xss8m", *JVM_OPENS,
           f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           "-Dderby.system.home=" + tmp,
           "-cp", os.pathsep.join(classpath), "perfbench.Main", "--root", root, *args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(root, "local"), TMPDIR=tmp)
    log = open(os.path.join(root, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=root,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        log.close()
    if rc != 0:
        with open(os.path.join(root, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness JVM exited with {rc}")


# ---------------------------------------------------------------- checks

def oracle_check(search_file):
    """Replay each distinct parameterized search in DuckDB; return {key: error}."""
    import duckdb
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{CORPUS}/{t}.parquet'")
    bad = {}
    with open(search_file) as f:
        for line in f:
            rec = json.loads(line)
            rel = con.execute(rec["sql"])
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
            err = compare_rows(rec["cols"], rec["rows"], ocols, orows)
            if err:
                bad[rec["key"]] = err
    return bad


def compare_rows(scols, srows, ocols, orows):
    if sorted(scols) != sorted(ocols):
        return f"columns {sorted(scols)} != oracle {sorted(ocols)}"
    si = [scols.index(c) for c in sorted(scols)]
    oi = [ocols.index(c) for c in sorted(ocols)]

    def key(row):
        return tuple((v is None, "" if v is None else v) for v in row)
    s = sorted((tuple(r[i] for i in si) for r in srows), key=key)
    o = sorted((tuple(r[i] for i in oi) for r in orows), key=key)
    if s != o:
        return f"{len(s)} rows differ from the oracle's {len(o)}"
    return None


# --------------------------------------------------------------- metrics

def percentile(values, p):
    """Nearest-rank percentile; failed operations enter as +inf."""
    if not values:
        return float("nan")
    v = sorted(values)
    return v[max(0, math.ceil(p / 100.0 * len(v)) - 1)]


def max_reportable_percentile(n):
    """Highest of p50/p75/p90/p99 with at least ten samples beyond it."""
    best = None
    for p in (50, 75, 90, 99):
        if n * (100 - p) / 100.0 >= 10:
            best = p
    return best


def latencies(ops, adjusted=True):
    """Call latencies, failures as +inf; adjusted ones leave out the hypervisor's steal share."""
    return [(o["ms"] * (1.0 - o.get("steal", 0.0)) if adjusted else o["ms"]) if o["ok"] else math.inf
            for o in ops]


def apply_failures(ops, summary, oracle_bad):
    """Fold post-run checks into the per-op records: a mismatch fails the op."""
    for o in ops:
        why = oracle_bad.get(o["key"])
        if o["kind"] == "build":  # the untimed probes after a curation round check its builds
            why = why or summary["failures"].get(f"round-{o['round']}")
        if why and o["ok"]:
            o["ok"], o["err"] = False, why
    return ops


def round_sums(ops, adjusted=True):
    """Summed call latency of each round of the timed phase (rounds always run whole)."""
    sums = {}
    for o, ms in zip(ops, latencies(ops, adjusted)):
        sums[o["round"]] = sums.get(o["round"], 0.0) + ms
    return [sums[r] for r in sorted(sums)]


def streaming_batches(ops, progress):
    """Attach each micro-batch progress record to the invocation that ran it."""
    out = {o["id"]: [] for o in ops}
    spans = sorted((o["start_ms"], o["start_ms"] + o["ms"], o["id"]) for o in ops)
    for p in progress:
        for s, e, oid in spans:
            if s - 1 <= p["ts_ms"] <= e + 1:
                out[oid].append(p)
                break
    return out


def med(xs):
    xs = [x for x in xs if x is not None and not math.isnan(x)]
    return statistics.median(xs) if xs else 0.0


def end_to_end(workload, ops, summary, progress):
    timed = [o for o in ops if o["phase"] == "timed"]
    lat = latencies(timed)
    rounds = round_sums(timed)
    m = {
        "setup_s": (summary["setup_ms"] * (1.0 - summary["setup_steal"]) / 1000.0, "s"),
        "pass_s": (med(rounds) / 1000.0 if rounds else math.inf, "s"),
        "retained_heap_mb": (summary["retained_heap_mb"], "MB"),
    }
    # per-class figures, printed beside the gated metrics
    raw_rounds = round_sums(timed, adjusted=False)
    extra = {"p50_ms": (percentile(lat, 50), "ms"),
             "setup_raw_s": (summary["setup_ms"] / 1000.0, "s"),
             "p50_raw_ms": (percentile(latencies(timed, adjusted=False), 50), "ms"),
             "pass_raw_s": (med(raw_rounds) / 1000.0 if raw_rounds else math.inf, "s"),
             "steal_share": (med([o["steal"] for o in timed]), "ratio"),
             "pass_cpu_s": (med([r["cpu_ms"] for r in summary["rounds"]]) / 1000.0, "s"),
             "setup_session_s": (summary["setup_session_ms"] / 1000.0, "s"),
             "p90_ms": (percentile(lat, 90), "ms"),
             "ops": (len(timed), "count"), "rounds": (len(rounds), "count"),
             "max_percentile": (max_reportable_percentile(len(timed)) or 0, "p")}
    if workload == "interactive":
        for cls in ("dashboard", "search"):
            l = latencies([o for o in timed if o["cls"] == cls])
            extra[f"{cls}_p50_ms"] = (percentile(l, 50), "ms")
            extra[f"{cls}_p90_ms"] = (percentile(l, 90), "ms")
            extra[f"{cls}_samples"] = (len(l), "count")
    else:
        passes = summary["rounds"]
        extra["pipeline_s"] = (med(rounds) / 1000.0 if rounds else math.inf, "s")
        extra["index_build_s"] = (med([p["build_ms"] for p in passes]) / 1000.0, "s")
        extra["index_mb"] = (med([p["index_bytes"] for p in passes]) / 1048576.0, "MB")
        streams = [o for o in timed if o["cls"] == "stream"]
        batches = streaming_batches(streams, progress)
        trig = [b["durations"].get("triggerExecution", 0) for bs in batches.values() for b in bs]
        extra["microbatch_p50_ms"] = (percentile(trig, 50), "ms")
        extra["microbatch_p90_ms"] = (percentile(trig, 90), "ms")
        extra["microbatch_samples"] = (len(trig), "count")
        rows = sum(b["rows"] for bs in batches.values() for b in bs)
        wall = sum(o["ms"] for o in streams) / 1000.0
        extra["ingest_rows_per_s"] = (rows / wall if wall else 0.0, "rows/s")
        for name in STREAMS:
            inv = [o for o in streams if o["name"] == name]
            if inv:
                for tag, o in (("first", inv[0]), ("last", inv[-1])):
                    h = o["ms"] - sum(b["durations"].get("triggerExecution", 0) for b in batches[o["id"]])
                    extra[f"{name}.{tag}_ms"] = (o["ms"], "ms")
                    extra[f"{name}.{tag}_harness_ms"] = (h, "ms")
                extra[f"{name}.median_ms"] = (med([o["ms"] for o in inv]), "ms")
    return m, extra


# ------------------------------------------------------------------- run

def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def main(argv=None):
    # a terminated run still kills its JVM and removes its directory (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--golden", default=GOLDEN, help="digest file the results are checked against")
    a = ap.parse_args(argv)

    if not os.path.isdir(CORPUS) or not os.path.exists(GROUPS):
        raise SystemExit("benchmark corpus not found")
    classpath = build()
    facts = corpus_facts()
    # a traced run measures its rounds twice: untraced, then traced
    plan = make_plan(a.workload, a.seed, facts, rounds_for(a.workload, a.seconds) * (2 if a.trace else 1))

    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(BUILD, "runs"))
    try:
        out = os.path.join(root, "out")
        plan_file = os.path.join(root, "plan.tsv")
        with open(plan_file, "w") as f:
            f.write(plan_lines(plan))
        args = ["--workload", a.workload, "--plan", plan_file, "--corpus", CORPUS, "--out", out,
                "--trace", str(a.trace), "--golden", a.golden]
        run_jvm(classpath, root, args, timeout=170)
        ops = read_jsonl(os.path.join(out, "ops.jsonl"))
        with open(os.path.join(out, "summary.json")) as f:
            summary = json.load(f)
        oracle_bad = oracle_check(os.path.join(out, "search.jsonl"))
        ops = apply_failures(ops, summary, oracle_bad)
        progress = read_jsonl(os.path.join(out, "stream.jsonl"))
        spans = read_jsonl(os.path.join(out, "spans.jsonl"))
        events = read_jsonl(os.path.join(out, "events.jsonl"))
        if a.trace:  # a traced run keeps its spans and raw records
            kept = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}")
            shutil.rmtree(kept, ignore_errors=True)
            shutil.copytree(out, kept)
            print(f"spans and records: {os.path.relpath(kept, REPO)}")
    finally:
        shutil.rmtree(root, ignore_errors=True)

    measured = [o for o in ops if o["phase"] != "warm"]
    failed = [o for o in ops if not o["ok"]]
    setup_failed = [o for o in ops if o["phase"] == "warm" and not o["ok"]]
    for o in failed[:20]:
        print(f"FAILED {o['phase']} {o['key']}: {o['err']}")
    for k, v in list(summary["failures"].items())[:20]:
        print(f"FAILED check {k}: {v}")
    if a.trace:
        metrics, extra = layers.per_layer(ops, summary, progress, spans, events)
    else:
        metrics, extra = end_to_end(a.workload, ops, summary, progress)
    attempted = len(measured)
    n_failed = len([o for o in measured if not o["ok"]]) + len(setup_failed)
    extra["error_rate"] = (n_failed / attempted if attempted else 1.0, "ratio")
    for k, (v, u) in list(metrics.items()) + list(extra.items()):
        print(f"{a.workload} {k} = {v} {u}")
    correct = n_failed == 0 and not summary["failures"] and attempted > 0
    result = {"correct": correct, "attempted": attempted, "failed": n_failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
