"""graft benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the checkout root. The command builds graft and the benchmark
driver from source (perfbench/build.py) and starts one driver JVM on
local[4]: set-up, warm-up, a timed closed loop with one client, then
verification outside the timed region. Outputs are checked against
DuckDB for ops that have oracle SQL (canonicalised as
tools/check_oracle.py does) and against the digests pinned in
perfbench/digests.json for all of them.

The corpus workload reads the sf0.01 `documents` and `embeddings` tables
shipped in perfbench/data; the season workload builds its own input.

Workloads (reasons and layer mapping in BENCHMARK.json):
  corpus_x5    kernel cells and an index upsert -> serve round on a x5 corpus
  season_eppa  season EPPA over one replicated copy of the toy plays per op
               (Normalize -> SeasonJob.run)

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer
metrics of a traced run (and writes its spans to
.bench_run/<workload>/trace_spans.jsonl). The last stdout line is one
JSON object; the lines before it list every metric by name and unit.
All state lives under .bench_run/<workload>, wiped at the start of a run.
"""
import argparse
import glob
import json
import os
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
import build  # noqa: E402

DIGESTS = os.path.join(BENCH_DIR, "digests.json")
DATA_DIR = os.path.join(BENCH_DIR, "data")
WORKLOADS = ["corpus_x5", "season_eppa"]
JVM_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def oracle_check(result, work, root):
    """Compare each oracle op's Spark result with DuckDB over the same
    corpus, canonicalised by tools/check_oracle.py; values compare as text."""
    if not result["oracle_sql"]:
        return 0, {}
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(root, "tools"))
    from check_oracle import canon

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        p = os.path.join(work, "corpus", f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    bad = {}
    for name, sql in sorted(result["oracle_sql"].items()):
        files = glob.glob(os.path.join(work, "results", name, "*.parquet"))
        try:
            got = canon(pd.concat([pd.read_parquet(f) for f in files]))
            want = canon(con.execute(sql).fetchdf())
        except Exception as e:  # a broken result or oracle is a mismatch
            bad[name] = f"{type(e).__name__}: {e}"[:300]
            continue
        if list(got.columns) != list(want.columns):
            bad[name] = f"columns {list(got.columns)} != {list(want.columns)}"
        elif len(got) != len(want):
            bad[name] = f"rows {len(got)} != {len(want)}"
        elif (got.astype(str) != want.astype(str)).any().any():
            bad[name] = "values differ"
    return len(result["oracle_sql"]), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    try:
        b = build.build(root)
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    t_start = time.monotonic()  # the run's time limit excludes the first-run build

    work = os.path.join(root, ".bench_run", a.workload)
    build.make_dirs(work)

    cmd = b.java(work, ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--data", DATA_DIR, "--work", work])
    budget = JVM_TIMEOUT_S - (time.monotonic() - t_start)
    try:
        rc = subprocess.run(cmd, env=build.jvm_env(work), stdout=sys.stderr,
                            timeout=max(10, budget)).returncode
    except subprocess.TimeoutExpired:
        log("driver JVM timed out")
        return 3
    result_file = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(result_file):
        log(f"driver JVM exited with code {rc}")
        return 3
    with open(result_file) as fh:
        result = json.load(fh)

    problems = {k: v for k, v in result["checks"].items() if v != "ok"}
    n_oracle, bad = oracle_check(result, work, root)
    problems.update({f"oracle:{k}": v for k, v in bad.items()})
    with open(DIGESTS) as fh:
        want = json.load(fh).get(a.workload, {})
    for name, d in sorted(result["digests"].items()):
        if want.get(name) != d:
            problems[f"digest:{name}"] = f"{d} != pinned {want.get(name)}"

    e2e = dict(result["end_to_end"], setup_s=result["setup_jvm_s"])
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = result["per_layer"] if a.trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        log(f"metrics not produced: {missing}")
        return 4
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}

    # the JVM flags record the heap and the class-data-sharing archive in use
    prov = dict(result["provenance"], source_sha256=b.stamp, workload=a.workload,
                jvm_options=[o for o in cmd if o.startswith("-X")])
    git = os.path.join(root, ".git")
    if os.path.exists(git):
        prov["git_commit"] = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                                            text=True).stdout.strip()
    for m in spec["end_to_end"]:
        if m["name"] in e2e:
            print(f"{a.workload} {m['name']} = {e2e[m['name']]:.6g} {m['unit']}")
    for k, v in result["extra"].items():
        print(f"{a.workload} {k} = {v}")
    if a.trace:
        for m in spec["per_layer"]:
            print(f"{a.workload} trace {m['name']} = {source[m['name']]:.6g} {m['unit']}")
    print(f"{a.workload} provenance = {json.dumps(prov, sort_keys=True)}")
    print(f"{a.workload} checks: {len(result['checks'])} harness, {n_oracle} oracle, "
          f"{len(result['digests'])} digests; problems = {json.dumps(problems)}")
    for f in result["failures"]:
        print(f"{a.workload} FAILED op {f['op']}: {f['error']}")
    correct = not problems and result["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
