#!/usr/bin/env python3
"""graft benchmark: end-to-end and per-layer cost of registry queries.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds graft and generates
the data (minutes); later runs reuse both. One run is one JVM with one
SparkSession: set-up and warm-up, a timed phase of `--seconds` worth of
requests (traced with `--trace 1`, followed by the edge pass). Every
result is checked against its DuckDB oracle after the JVM exits. The last
line of stdout is the run's JSON result; see README.md for the metrics.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

JVM_TIMEOUT_S = 160

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
             "ok_frac": "frac"}


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "frac"
    return "count"


def meminfo():
    out = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            out[k] = int(v.split()[0])
    return out


def cpu_ticks():
    """(steal, total) jiffies of the whole machine from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def env_record():
    mi = meminfo()
    rec = {"nproc": os.cpu_count(), "mem_total_kb": mi.get("MemTotal"),
           "mem_available_kb": mi.get("MemAvailable"), "load1": os.getloadavg()[0],
           "source_digest": build.source_digest(), "cpu_ticks": cpu_ticks()}
    head = os.path.join(build.ROOT, ".git")
    if os.path.exists(head):
        p = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True)
        rec["git_commit"] = p.stdout.strip() or None
    return rec


def driver_heap():
    """Driver heap from MemTotal: half of it, between 2 and 8 GB."""
    g = meminfo().get("MemTotal", 0) // 2097152
    return f"{min(8, max(2, g))}g"


def duckdb_memory_gb():
    """DuckDB's memory limit from MemTotal: a quarter, between 1 and 8 GB."""
    return min(8, max(1, meminfo().get("MemTotal", 0) // 4194304))


def run_jvm(classes, jars, cfg_path, run_dir, log_path):
    cmd = build.java_cmd(classes, jars, driver_heap(), f"{run_dir}/tmp")
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{run_dir}/local")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd + ["perfbench.Harness", cfg_path], stdout=log, stderr=log,
                             env=env, cwd=run_dir, start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tracing_overhead(runs_path, record):
    """This traced run's wall_s against the median untraced wall_s of the
    same workload and sources in the run log."""
    walls = []
    with open(runs_path) as fh:
        for line in fh:
            r = json.loads(line)
            if (not r["trace"] and r["workload"] == record["workload"]
                    and r["seconds"] == record["seconds"]
                    and r["env_start"]["source_digest"] == record["env_start"]["source_digest"]):
                walls.append(r["e2e"]["wall_s"])
    if not walls:
        return "tracing overhead: no untraced run of these sources in the run log yet"
    base = statistics.median(walls)
    return (f"tracing overhead: {record['e2e']['wall_s'] / base - 1:+.1%} wall_s "
            f"against the median of {len(walls)} untraced runs")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    w = workloads.WORKLOADS[a.workload]
    cores = os.cpu_count() or 1
    env_start = env_record()
    try:
        classes, jars, catalog, data = build.ensure(workloads.scales(), cores)
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        sys.exit(f"perfbench: build failed: {e}")
    pool = workloads.pool(a.workload, catalog["queries"])
    missing = [q for q in pool if q not in catalog["queries"]]
    if missing or not pool:
        sys.exit(f"perfbench: queries not in the registry: {missing or a.workload}")

    distinct, warm, rounds = workloads.plan(a.workload, a.seed, a.seconds, catalog["queries"])
    data_dir = data[w["sf"]]
    run_dir = os.path.join(build.ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("artifacts", "ann", "stream", "local", "tmp", "results", "duck"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        cfg = dict(launch_ns=time.time_ns(), data=data_dir, run_dir=run_dir, cores=cores,
                   warm=warm, rounds=rounds, trace=bool(a.trace),
                   out=os.path.join(run_dir, "out.json"))
        cfg_path = os.path.join(run_dir, "config.json")
        with open(cfg_path, "w") as fh:
            json.dump(cfg, fh)
        log_path = os.path.join(run_dir, "jvm.log")
        rc = run_jvm(classes, jars, cfg_path, run_dir, log_path)
        if rc != 0 or not os.path.exists(cfg["out"]):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-4000:])
            sys.exit(f"perfbench: harness exited {rc}")
        with open(cfg["out"]) as fh:
            out = json.load(fh)
        t_oracle = time.time()
        verdicts = oracle.check(distinct, catalog["oracle"], data_dir,
                                os.path.join(run_dir, "results"),
                                os.path.join(os.path.dirname(data_dir), "oracle", f"sf{w['sf']}"),
                                os.path.join(run_dir, "duck"), duckdb_memory_gb())
        oracle_s = time.time() - t_oracle
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for r in out["warm"]:
        if r["error"]:
            verdicts[r["name"]] = "failed in the warm-up pass: " + r["error"]
    wrong = {q for q, v in verdicts.items() if v}
    if all(r["error"] or r["name"] in wrong for r in out["requests"]):
        sys.exit("perfbench: no request returned a verified result: "
                 + "; ".join(f"{q}: {verdicts[q]}" for q in sorted(wrong)))
    e2e, tail_info, n_failed = stats.end_to_end(out, wrong)
    errors = {r["name"]: r["error"] for r in out["requests"] if r["error"]}
    steal, ticks = (e - s for e, s in zip(cpu_ticks(), env_start["cpu_ticks"]))
    record = dict(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                  env_start=env_start, load1_end=os.getloadavg()[0],
                  steal_frac=steal / ticks if ticks else 0.0, rss_peak_mb=out["rss_peak_mb"],
                  mem_available_end_kb=meminfo().get("MemAvailable"),
                  warm=[(r["name"], r["end"] - r["start"]) for r in out["warm"]],
                  round_walls=out["round_walls"],
                  oracle_s=oracle_s,
                  requests=[(r["name"], r["client"], r["end"] - r["start"], r["built"] - r["start"])
                            for r in out["requests"]], failed=n_failed, tail=tail_info,
                  wrong_results={q: verdicts[q] for q in sorted(wrong)}, errors=errors, e2e=e2e)
    out_dir = os.path.join(build.ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    runs_path = os.path.join(out_dir, "runs.jsonl")
    if a.trace:
        metrics, roots = stats.per_layer(out)
        record["per_layer"] = metrics
        report = {k: {"value": v, "unit": layer_unit(k)} for k, v in metrics.items()}
        with open(os.path.join(out_dir, f"spans-{a.workload}-{a.seed}.json"), "w") as fh:
            json.dump(roots, fh)
    else:
        report = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    with open(runs_path, "a") as fh:
        fh.write(json.dumps(record) + "\n")

    for q, why in sorted(record["wrong_results"].items()):
        print(f"WRONG {q}: {why}")
    for q, why in sorted(errors.items()):
        print(f"ERROR {q}: {why}")
    print(f"env: nproc={env_start['nproc']} mem_total_kb={env_start['mem_total_kb']} "
          f"load1={env_start['load1']:.2f}->{record['load1_end']:.2f} "
          f"steal={record['steal_frac']:.1%} "
          f"commit={env_start.get('git_commit') or env_start['source_digest']}")
    print(f"latency_tail_s is p{tail_info['tail_percentile']:.1f} "
          f"({tail_info['tail_beyond']} of {tail_info['samples']} samples beyond it)")
    for k, v in report.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    if a.trace:
        print(tracing_overhead(runs_path, record))
    correct = not wrong and not errors
    print(json.dumps({"correct": correct, "attempted": len(out["requests"]),
                      "failed": n_failed, "metrics": report}))


if __name__ == "__main__":
    main()
