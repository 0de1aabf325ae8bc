#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repo root):
  python3 perfbench/run.py --workload <kinesis_ingest|lake_upsert|query_mix>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (skipped when
unchanged), generates the base tables, runs the workload in one JVM,
checks the outputs with the workload's correctness gate, prints a table
of every metric with its unit, and ends with one JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gates  # noqa: E402
import gen_data  # noqa: E402

ROOT = build.ROOT
WORK = build.WORK
WORKLOADS = ["kinesis_ingest", "lake_upsert", "query_mix"]
DEADLINE_S = 175  # the whole invocation, optional passes included
OPTIONAL_PASS_S = 70  # time an extra pass needs before it is started
BASELINE_SECONDS = 8  # steady phase of the local[1] diagnostic pass
START = time.monotonic()
LATE_LIMIT_MS = 100.0  # one generator tick
BUSY_LIMIT = 0.5  # share of all CPUs busy just before the run starts
STEAL_LIMIT = 0.1  # share of CPU time stolen by the hypervisor during the run

UNITS = {
    "setup_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms",
    "read_latency_p50_ms": "ms", "read_latency_tail_ms": "ms",
    "lag_max_records": "records", "catchup_records_per_s": "records/s",
    "requests_per_s": "1/s", "error_ratio": "fraction", "rss_peak_mb": "MB",
}
APPLIES = {
    "read_latency_p50_ms": {"lake_upsert"}, "read_latency_tail_ms": {"lake_upsert"},
    "lag_max_records": {"kinesis_ingest"}, "catchup_records_per_s": {"kinesis_ingest"},
}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_jvm(workload, seed, seconds, trace, cores, data, tag, digest):
    """Run the workload in one JVM; returns its result and run directory.
    The result file records what produced it (`stamp`), so results of
    other code, data or run lengths are never mixed in later."""
    run_dir = os.path.join(WORK, "runs", f"{workload}-s{seed}-{tag}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    cmd = ["java", "-Xms1g", "-Xmx2g", "-Xmn384m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--data", data, "--work", run_dir,
            "--out", out, "--cores", str(cores)]
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=jlog, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(remaining() - 5, 1))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            log(f.read()[-6000:])
        raise SystemExit(f"benchmark process failed ({rc}); log in {run_dir}/jvm.log")
    with open(out) as f:
        res = json.load(f)
    res["stamp"] = stamp(digest, seconds)
    with open(out, "w") as f:
        json.dump(res, f)
    return res, run_dir


def stamp(digest, seconds):
    return {"source_digest": digest, "data_version": gen_data.VERSION, "seconds": seconds}


def remaining():
    return DEADLINE_S - (time.monotonic() - START)


def prune(run_dir):
    """Drop the run's bulky data; keep result, spans and log."""
    for name in os.listdir(run_dir):
        if name not in ("result.json", "spans.jsonl", "jvm.log"):
            path = os.path.join(run_dir, name)
            shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)


def cpu_times():
    """(total, idle, steal) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[3] + v[4], v[7]


def share(before, after, field):
    return (after[field] - before[field]) / max(after[0] - before[0], 1)


def validity(res, busy, steal):
    reasons = []
    late = res["run"]["gen_late_max_ms"]
    if late > LATE_LIMIT_MS:
        reasons.append(f"generator ran {late:.0f} ms late (limit {LATE_LIMIT_MS:.0f})")
    if busy > BUSY_LIMIT:
        reasons.append(f"host {busy:.0%} busy before the run (limit {BUSY_LIMIT:.0%})")
    if steal > STEAL_LIMIT:
        reasons.append(f"hypervisor took {steal:.0%} of the CPU time during the run "
                       f"(limit {STEAL_LIMIT:.0%})")
    return reasons


def git_commit():
    """HEAD of the checkout, when the checkout itself is a git repository."""
    def git(*args):
        return subprocess.run(["git", *args], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip()
    try:
        if os.path.realpath(git("rev-parse", "--show-toplevel") or "/nonexistent") != \
                os.path.realpath(ROOT):
            return None
        return git("rev-parse", "HEAD") or None
    except (OSError, subprocess.SubprocessError):
        return None


def print_table(workload, res, title):
    log(f"== {title}")
    e = res["e2e"]
    for name, unit in UNITS.items():
        if name in APPLIES and workload not in APPLIES[name]:
            continue
        extra = ""
        if name.endswith("tail_ms"):
            pre = name[:-len("_ms")]
            extra = f"  (p{e[pre + '_percentile']:g}, {e[pre + '_beyond']} samples beyond)"
        log(f"  {name:24s} {e[name]:14.4f} {unit}{extra}")


def overhead(workload, traced_e2e, data, seed, seconds, cores, digest):
    """Traced minus untraced end-to-end metrics, against the median of
    this checkout's untraced results of the workload from the same code,
    data and run length (one is run when there are none)."""
    refs = []
    for p in glob.glob(os.path.join(WORK, "runs", f"{workload}-s*-untraced", "result.json")):
        with open(p) as f:
            r = json.load(f)
        if r.get("stamp") == stamp(digest, seconds):
            refs.append(r["e2e"])
    if not refs and remaining() > OPTIONAL_PASS_S:
        res, run_dir = run_jvm(workload, seed, seconds, False, cores, data, "untraced", digest)
        prune(run_dir)
        refs.append(res["e2e"])
    if not refs:
        return {"skipped": "no untraced run of this code, data and length, and no time "
                           "left for one"}
    out = {}
    for name in UNITS:
        if name in traced_e2e and all(name in r for r in refs):
            vals = sorted(r[name] for r in refs)
            out[name] = traced_e2e[name] - vals[len(vals) // 2]
    return out


def self_time_table(layers):
    wall = layers.get("selftime.wall_ms", 0.0)
    log("== self time per request (ms, mean)")
    for k in ["selftime.exec_ms", "selftime.catalyst_ms", "selftime.sources_ms", "driver.other_ms"]:
        share = layers[k] / wall if wall else 0.0
        log(f"  {k:24s} {layers[k]:12.2f}  {share:6.1%}")
    parts = sum(layers[k] for k in ["selftime.exec_ms", "selftime.catalyst_ms",
                                     "selftime.sources_ms", "driver.other_ms"])
    log(f"  {'request wall':24s} {wall:12.2f}  (parts sum {parts:.2f})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()

    b = spec()
    source_digest = build.build()
    data = os.path.join(WORK, "data")
    gen_data.ensure(data)
    # Half the CPUs (at most 4) run tasks; the rest keep the driver, the
    # generator, the collector and the JIT off the task threads' CPUs,
    # which keeps results steadier on a shared host.
    cores = max(1, min(4, os.cpu_count() or 1) // 2)
    tag = "traced" if a.trace else "untraced"
    t0 = cpu_times()
    time.sleep(0.5)
    t1 = cpu_times()
    busy = 1.0 - share(t0, t1, 1)
    res, run_dir = run_jvm(a.workload, a.seed, a.seconds, bool(a.trace), cores, data, tag,
                           source_digest)
    steal = share(t1, cpu_times(), 2)

    try:
        problems = gates.check(a.workload, res["gate"], data)
    except Exception as ex:  # a gate that cannot run is a failed gate
        problems = [f"gate error: {ex!r}"]
    prune(run_dir)
    attempted = max(int(res["attempted"]), 1)
    failed = int(res["failed_ops"])
    if problems:
        failed = attempted
    correct = not problems and failed == 0
    res["e2e"]["error_ratio"] = failed / attempted

    invalid = validity(res, busy, steal)
    record = dict(res["run"], git_commit=git_commit(), source_digest=source_digest,
                  host_busy_before=busy, host_steal_during=steal, valid=not invalid,
                  invalid_reasons=invalid)
    print_table(a.workload, res, f"{a.workload} seed={a.seed} trace={a.trace}")
    for p in problems + res["errors"]:
        log(f"  FAILED: {p}")
    for r in invalid:
        log(f"  INVALID RUN: {r}")
    detail = {"workload": a.workload, "run": record, "e2e": res["e2e"], "gate": problems}

    if a.trace:
        layers = res["layers"]
        self_time_table(layers)
        detail["layers"] = layers
        detail["tracing_overhead"] = overhead(a.workload, res["e2e"], data, a.seed,
                                              a.seconds, cores, source_digest)
        if a.workload == "kinesis_ingest" and remaining() > OPTIONAL_PASS_S:
            base, base_dir = run_jvm(a.workload, a.seed, min(a.seconds, BASELINE_SECONDS),
                                     False, 1, data, "local1", source_digest)
            prune(base_dir)
            print_table(a.workload, base, "single-threaded baseline (local[1], diagnostic)")
            detail["baseline_local1"] = base["e2e"]
        elif a.workload == "kinesis_ingest":
            detail["baseline_local1"] = "skipped: no time left in this invocation"
        names = [m["name"] for m in b["per_layer"]]
        units = {m["name"]: m["unit"] for m in b["per_layer"]}
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": units[n]} for n in names}
    else:
        names = [m["name"] for m in b["end_to_end"]]
        units = {m["name"]: m["unit"] for m in b["end_to_end"]}
        metrics = {n: {"value": float(res["e2e"][n]), "unit": units[n]} for n in names}

    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
