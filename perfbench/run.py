#!/usr/bin/env python3
"""Closed-loop benchmark of the program's query surface.

One client runs a workload's queries one after another through
`SparkEntry.queries`, in one JVM at local[nproc], over generated tables
(see gen_data.py). `--seed` only permutes the query order inside each
pass. See perfbench/README.md for the workloads and metrics.

Usage:
  python3 perfbench/run.py --workload dashboard_reads --seed 1 --seconds 3 --trace 0

The last line of stdout is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {value, unit}}}
with the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
The exit code is non-zero when any query failed, any output fingerprint
did not match, or a trace self-check failed.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = {
    "dashboard_reads": [
        "q01_pricing_summary", "q03_topk_parts", "q27_dow_trend"],
    "curation_loops": ["q192_kcore_peel"],
    "etl_ingest_cold": ["q66_incremental_etl"],
}

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
    ("query_p50_s", "s"), ("query_p90_s", "s"), ("peak_rss_mb", "MB"), ("ok_frac", "ratio")]

LAYER_UNITS = {
    "build_s": "s", "build_jobs": "count", "analysis_ms": "ms", "optimization_ms": "ms",
    "planning_ms": "ms", "graft_rules_ms": "ms", "codegen_compiles": "count",
    "codegen_compile_ms": "ms", "exec_s": "s", "jobs": "count", "stages": "count",
    "tasks": "count", "task_run_ms": "ms", "task_cpu_ms": "ms", "straggler_ms": "ms",
    "gc_ms": "ms", "input_rows": "count", "scan_amplification": "ratio", "output_mb": "MB",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "stream_batches": "count",
    "stream_batch_ms": "ms", "state_commit_ms": "ms", "failed_tasks": "count"}

SETUP_PROCESSES = 3
# warm passes at least; a traced run, which alternates traced and untraced
# passes, runs one more
MIN_PASSES = 2
# Fixed heap and young generation: with G1 sizing them, peak RSS measured
# how far eden grew before its first collection, and swung by a third
# between identical runs.
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-Xmn256m"]
DEADLINE_S = 170  # from the end of the build to the end of the run
SETUP_TIMEOUT_S = 60
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
EXPECTED = os.path.join(HERE, "expected.json")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().strip()


def jvm_cmd(cp, tmp, main_class, args):
    """A JVM running `main_class` with its temp files under `tmp`."""
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", *opens, *JVM_MEMORY, "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-cp", cp, main_class] + args)


def start_jvms(cp, run_dir, main_args):
    """Start the measured JVM and the set-up probes together; return the
    measured process and each one's seconds from start to READY. Probes are
    killed at READY; the measured JVM then waits for GO on stdin."""
    procs = []
    try:
        for i in range(SETUP_PROCESSES):
            tmp = os.path.join(run_dir, f"jvm{i}")
            os.makedirs(tmp)
            env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
            args = ["--cpus", str(nproc())] + (main_args if i == 0 else ["--setup-only", "1"])
            procs.append(subprocess.Popen(jvm_cmd(cp, tmp, "perfbench.Main", args),
                                          stdin=subprocess.PIPE,
                                          stdout=subprocess.PIPE, stderr=sys.stderr,
                                          text=True, env=env))
        t0 = time.perf_counter()
        ready = [None] * len(procs)

        def wait_ready(i):
            for line in procs[i].stdout:
                if line.strip() == "READY":
                    ready[i] = time.perf_counter() - t0
                    return

        threads = [threading.Thread(target=wait_ready, args=(i,), daemon=True)
                   for i in range(len(procs))]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=max(0.0, SETUP_TIMEOUT_S - (time.perf_counter() - t0)))
        if None in ready:
            raise RuntimeError("a JVM did not get its session ready")
    except BaseException:
        for p in procs:
            p.kill()
            p.wait()
        raise
    for p in procs[1:]:
        p.kill()
        p.wait()
    return procs[0], ready


def git_commit():
    """HEAD of the checkout, or None where it is not a git repository."""
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        return r.stdout.strip() or None
    except OSError:
        return None


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def pct(xs, p):
    """p-th percentile, interpolated between samples (never beyond them)."""
    if len(xs) < 2:
        return xs[0] if xs else float("nan")
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def pass_time(p):
    """Pass time without the untimed work between queries."""
    return p["wall_s"] - p["cleanup_s"]


def check_fingerprints(workload, scale, got):
    """Compare with expected.json; returns (checked, [mismatch messages])."""
    with open(EXPECTED) as f:
        want = json.load(f).get(str(scale), {})
    bad = []
    for q in WORKLOADS[workload]:
        g, w = got.get(q, {}), want.get(q)
        if "error" in g:
            bad.append(f"{q}: fingerprint failed: {g['error']}")
        elif w is None:
            bad.append(f"{q}: no expected fingerprint at scale {scale}")
        elif (g.get("rows"), g.get("hash")) != (w["rows"], w["hash"]):
            bad.append(f"{q}: got rows={g.get('rows')} hash={g.get('hash')}, "
                       f"want rows={w['rows']} hash={w['hash']}")
    return len(WORKLOADS[workload]), bad


def end_to_end(rec, setup):
    cold = [p for p in rec["passes"] if p["kind"] == "cold"]
    warm = [p for p in rec["passes"] if p["kind"] == "warm"]
    samples = [q["total_s"] for p in warm for q in p["queries"] if q["ok"]]
    return {
        "setup_s": median(setup),
        "cold_pass_s": pass_time(cold[0]),
        "warm_pass_s": median([pass_time(p) for p in warm]),
        "query_p50_s": median(samples),
        "query_p90_s": pct(samples, 90),
        "peak_rss_mb": rec["peak_rss_mb"],
    }, len(samples)


def per_layer(rec, table_rows):
    """Layer sums: median over traced warm passes, and the cold pass
    (prefix cold_). Also the self-checks; returns (metrics, [failures])."""
    out, bad = {}, []
    traced = [p for p in rec["passes"] if p["traced"]]
    for p in traced:
        lay = p["layers"]
        read = sum(table_rows.get(t, 0) for t in lay["tables"])
        lay["scan_amplification"] = lay["input_rows"] / read if read else 0.0
        for q in lay["per_query"]:
            if q["build_jobs"] + q["exec_jobs"] != q["jobs"]:
                bad.append(f"{p['kind']} {q['q']}: build_jobs {q['build_jobs']} + final-action "
                           f"jobs {q['exec_jobs']} != jobs in span {q['jobs']}")
        spans = sum(q["span_s"] for q in lay["per_query"])
        if abs(spans - pass_time(p)) > 0.01 * pass_time(p) + 0.005:
            bad.append(f"{p['kind']}: query spans cover {spans:.3f}s of {pass_time(p):.3f}s")
    warm = [p["layers"] for p in traced if p["kind"] == "warm"]
    cold = [p["layers"] for p in traced if p["kind"] == "cold"]
    for name in LAYER_UNITS:
        out[name] = median([w[name] for w in warm])
        out["cold_" + name] = cold[0][name]
    untraced = [pass_time(p) for p in rec["passes"] if p["kind"] == "warm" and not p["traced"]]
    out["trace_overhead_s"] = median([pass_time(p) for p in rec["passes"]
                                      if p["kind"] == "warm" and p["traced"]]) - median(untraced)
    return out, bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.01,
                    help="input size, in TPC-H scale-factor units")
    a = ap.parse_args()

    try:
        cp = build.classpath()
        data_dir, table_rows = build.data(a.scale)
    except (build.BuildError, OSError) as e:
        log(f"build failed: {e}")
        return 2

    t_start = time.perf_counter()
    host = {"nproc": nproc(), "loadavg_start": loadavg(), "data_dir": data_dir,
            "scale": a.scale, "commit": git_commit(), "source_stamp": build.source_stamp()}
    run_dir = os.path.join(build.OUT, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out_file = os.path.join(run_dir, "record.json")
    main_proc = None
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main_proc, setup = start_jvms(cp, run_dir, [
            "--data", data_dir, "--queries", ",".join(WORKLOADS[a.workload]),
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--min-passes", str(MIN_PASSES + a.trace),
            "--out", out_file])
        log(f"set-up took {', '.join(f'{t:.2f}s' for t in setup)}")
        main_proc.stdin.write("GO\n")
        main_proc.stdin.flush()
        main_proc.communicate(timeout=max(1.0, DEADLINE_S - (time.perf_counter() - t_start)))
        log(f"measured JVM ended {time.perf_counter() - t_start:.2f}s after the build")
        if main_proc.returncode != 0:
            log(f"benchmark JVM exited with code {main_proc.returncode}")
            return 3
        with open(out_file) as f:
            rec = json.load(f)
        spans_file = out_file + ".spans.jsonl"
        os.makedirs(os.path.join(build.OUT, "traces"), exist_ok=True)
        if os.path.exists(spans_file):
            shutil.move(spans_file, os.path.join(
                build.OUT, "traces", f"{a.workload}-seed{a.seed}.spans.jsonl"))
    except subprocess.TimeoutExpired:
        log(f"run exceeded {DEADLINE_S}s")
        return 4
    except RuntimeError as e:
        log(str(e))
        return 3
    finally:
        if main_proc is not None and main_proc.poll() is None:
            main_proc.kill()
            main_proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    host["loadavg_end"] = loadavg()

    failures = [f"{p['kind']} {q['q']}: {q.get('error', '')}"
                for p in rec["passes"] for q in p["queries"] if not q["ok"]]
    checked, mismatches = check_fingerprints(a.workload, a.scale, rec["fingerprints"])
    attempted = rec["attempted"]
    failed = len(failures) + len(mismatches)

    e2e, n_samples = end_to_end(rec, setup)
    e2e["ok_frac"] = (attempted - failed) / attempted
    trace_bad = []
    if a.trace:
        metrics, trace_bad = per_layer(rec, table_rows)
        units = dict(LAYER_UNITS, trace_overhead_s="s")
        units.update({"cold_" + k: u for k, u in LAYER_UNITS.items()})
    else:
        metrics, units = e2e, dict(END_TO_END)

    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "host": host,
              "setup_samples_s": setup, "warm_query_samples": n_samples,
              "end_to_end": e2e, "metrics": metrics, "failures": failures,
              "fingerprint_mismatches": mismatches, "trace_check_failures": trace_bad,
              "passes": [{k: v for k, v in p.items() if k != "layers"} for p in rec["passes"]]}
    os.makedirs(os.path.join(build.OUT, "records"), exist_ok=True)
    with open(os.path.join(build.OUT, "records",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    for msg in failures + mismatches + trace_bad:
        log(msg)
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  nproc {host['nproc']}  "
          f"load {host['loadavg_start']} -> {host['loadavg_end']}")
    print(f"  {len(WORKLOADS[a.workload])} queries, {n_samples} warm query samples, "
          f"{checked} fingerprints checked, {len(mismatches)} mismatched")
    for name in metrics:
        print(f"  {name:28s} {metrics[name]:14.4f} {units[name]}")
    correct = failed == 0 and not trace_bad
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
