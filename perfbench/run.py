#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

    python3 perfbench/run.py --workload flow_pipeline --seed 1 \
        --seconds 18 --trace 0

Run from the root of a checkout. One run:
  1. builds the engine and the benchmark's JVM runner (perfbench/build.py);
  2. generates the workload's tables from the seed (perfbench/gen.py);
     generation is not part of any timed metric;
  3. starts one JVM on local[4] that sets up, runs one cold pass over the
     workload's queries into the noop sink, writes each query's result
     once as parquet (untimed), then runs the warm passes;
  4. checks those results against the DuckDB oracle with
     scripts/check_oracle.py (queries without oracle SQL get rows > 0);
  5. prints the run record, then as its last line one JSON object with
     the end-to-end metrics (--trace 0) or the per-layer metrics of a
     traced run (--trace 1), with the names and units of BENCHMARK.json.
Everything it writes goes under .bench_work/ and .bench_build/.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")
JVM_TIMEOUT_S = 165

# both workloads: a 1% key subset of the sf0.1 shape for the relational
# tables (set-up runs a k-core fixture whose round count grows with this
# graph) and the sf0.01 corpus for documents and embeddings
SIZES = dict(customer=150, supplier=10, part=200, orders=1500,
             lineitem=6000, events=2000, documents=500, embeddings=500)

WORKLOADS = {
    # the paper's own pipeline: flow tables, daily series, OLS, the
    # congruent-transaction query in ANSI and BigQuery SQL, and the
    # MutableTable write path; no native kernels, censuses or streams.
    # 11 of q1-q48, one or more of each shape in a layer profile of all
    # 48: single-job scans (q2), two-job aggregates (q1, q14, q30),
    # shuffle-heavy dedup (q9), multi-job joins (q12, q15, q20) and
    # build-heavy writers (q40, q47, q48)
    "flow_pipeline": dict(
        dup_share=0.0, views=None, par=None, pass_s=5.0,
        queries=["q1_agg", "q2_filter_project", "q9_dupe_audit",
                 "q12_join_broadcast", "q14_daily_series", "q15_ols_daily",
                 "q20_flow_ledger", "q30_congruent", "q40_scd2",
                 "q47_delete_merge", "q48_bq_dialect"]),
    # training-data curation: native kernels, the shared BPE census and a
    # stateful streaming dedup. The SQL operator views (~25 s first use)
    # and the util.Par margin-mining audit t76 (~3 s warm) are timed in
    # the traced run only: they do not fit a timed run's budget
    "corpus_curation": dict(
        dup_share=0.2, views="q50_sql_drift_panel", pass_s=2.5,
        par="t76_margin_ann_check",
        queries=["t55_bpe", "t68_bpe_encode", "t2_dedup_minhash",
                 "t17_streaming_dedup"]),
}

# measured only on the workload that names a view query; 0 elsewhere
PER_LAYER_ONLY_WITH_VIEWS = ("sql.views_build_s", "sql.view_query_first_s",
                             "sql.view_query_warm_s")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, int(round(q * len(s) + 0.5)) - 1))]


def make_inputs(wl, seed):
    data = os.path.join(WORK, "data")
    os.makedirs(data)
    t0 = time.perf_counter()
    rows = gen.generate(data, seed, SIZES, wl["dup_share"])
    gen_s = time.perf_counter() - t0
    in_bytes = sum(os.path.getsize(os.path.join(data, f)) for f in os.listdir(data))
    return data, rows, gen_s, in_bytes


def warm_passes(wl, seconds):
    """Warm passes that fill about `seconds` at the workload's nominal
    warm pass time `pass_s`; a count, not a deadline, so every run makes
    the same passes (at least 2)."""
    return max(2, round(seconds / wl["pass_s"]))


def run_jvm(data, wl, seconds, trace, out):
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    # a fixed heap and the throughput collector: under G1 (the default)
    # the passes' humongous allocations start a concurrent cycle every
    # few seconds, and query latencies spread more across runs
    cmd = (["java"] + build.ADD_OPENS + [
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        f"-Dderby.system.home={WORK}",
        "-cp", build.classpath(), "graftbench.Runner",
        f"input={data}", "queries=" + ",".join(wl["queries"]),
        f"views={wl['views'] or ''}", f"par={wl['par'] or ''}", f"warm={warm_passes(wl, seconds)}",
        f"trace={trace}", f"out={out}"])
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_LOCAL_DIRS=local)
    log_path = os.path.join(WORK, "jvm.log")
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                             cwd=WORK)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        raise SystemExit(f"runner JVM failed ({rc}); log in {log_path}")
    with open(os.path.join(out, "run.json")) as fh:
        return json.load(fh)


def oracle_check(data_dir, verify_dir):
    """Per-query verdicts from scripts/check_oracle.py."""
    script = os.path.join(ROOT, "scripts", "check_oracle.py")
    r = subprocess.run([sys.executable, script, data_dir, verify_dir],
                       capture_output=True, text=True, timeout=120)
    verdicts = {}
    for line in r.stdout.splitlines():
        m = re.match(r"^(ok|FAIL|warn)\s+(\S+?):\s(.*)$", line)
        if m and m.group(1) != "warn":
            verdicts[m.group(2)] = (m.group(1) == "ok", m.group(3))
    if not verdicts:
        sys.stderr.write(r.stdout + r.stderr)
        raise SystemExit("oracle check produced no verdicts")
    return verdicts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]

    build.build()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    data, rows, gen_s, in_bytes = make_inputs(wl, a.seed)
    out = os.path.join(WORK, "out")
    res = run_jvm(data, wl, a.seconds, a.trace, out)
    verdicts = oracle_check(data, os.path.join(out, "verify"))

    execs = res["execs"]
    passes = sorted({e["pass"] for e in execs})
    wall = {p: sum(e["build_s"] + e["action_s"] for e in execs if e["pass"] == p)
            for p in passes}
    warm = [p for p in passes if p > 0]
    # per-query latency: each query's median over the warm passes; the
    # percentiles are taken over the queries of the workload
    runs = {}
    for e in execs:
        if e["pass"] > 0 and e["error"] is None:
            runs.setdefault(e["query"], []).append(e["build_s"] + e["action_s"])
    lat = [median(v) for v in runs.values()]
    ran = execs + res["par_execs"]
    exec_fail = [e for e in ran if e["error"] is not None]
    check_fail = {q: v[1] for q, v in verdicts.items() if not v[0]}
    probes = [wl[k] for k in ("views", "par") if a.trace and wl[k]]
    checked = wl["queries"] + probes
    missing = [q for q in checked if q not in verdicts]
    attempted = len(ran) + len(checked)
    failed = len(exec_fail) + len(check_fail) + len(missing)
    setup = res["setup"]
    warm_written = sum(e["written_b"] for e in execs if e["pass"] > 0)

    record = dict(res["record"], workload=a.workload, seed=a.seed,
                  seconds=a.seconds, trace=a.trace, queries=len(wl["queries"]),
                  warm_passes=len(warm), latency_queries=len(lat),
                  input_rows=rows, input_bytes=in_bytes, dup_share=wl["dup_share"],
                  generate_s=round(gen_s, 3),
                  failed_queries=sorted({e["query"] for e in exec_fail}),
                  oracle_failures=check_fail, missing_verdicts=missing)
    with open(os.path.join(WORK, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print("run record: " + json.dumps(record, sort_keys=True))

    if a.trace == 0:
        values = {
            "setup_s": setup["create_s"] + setup["warmup_s"] + setup["prewarm_s"],
            "cold_pass_s": wall[0],
            "warm_pass_s": median([wall[p] for p in warm]),
            "query_p50_s": median(lat),
            "query_p90_s": percentile(lat, 0.9) if lat else 0.0,
            "ok_frac": (attempted - failed) / attempted,
            "retained_mb": res["retained_mb"],
            "write_amp": warm_written / len(warm) / in_bytes,
        }
    else:
        values = dict(res["layers"])
        values.update({f"session.{k}": v for k, v in setup.items()})
        values["pin.blocks"] = res["pin_blocks"]
        values["pin.mb"] = res["pin_mb"]
        for k in PER_LAYER_ONLY_WITH_VIEWS:
            values.setdefault(k, 0.0)
    # names and units come from BENCHMARK.json; a missing value is an error
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if a.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
