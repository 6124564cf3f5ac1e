#!/usr/bin/env python3
"""Benchmark of the graft engine: two closed-loop workloads over seeded
inputs, one fresh JVM per run.

usage (from the repository root):
  python3 perfbench/run.py --workload catalog_load|query_mix
                           --seed N --seconds S --trace 0|1

Steps: build the engine and perfbench.Main (perfbench/build.sh), generate
the inputs for the seed (perfbench/gen.py), run perfbench.Main in a fresh
JVM, check its outputs with DuckDB (perfbench/checks.py), and print one
JSON object as the last line of stdout: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Everything the run
writes lives under .bench_build/ and the run's own directories are
deleted before it exits. See perfbench/README.md for what each metric
measures.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

JVM_TIMEOUT_S = 165

WORKLOADS = {
    "catalog_load": {"default_seed": 11, "gen": {
        "days": 9, "photos_per_day": 2000, "repull_share": 0.2},
        "jvm": {"min_rounds": 1, "seedings": 2}},
    "query_mix": {"default_seed": 33, "gen": {"scale": 1},
                  "jvm": {"min_rounds": 3, "queries": [
        "q02_star_join", "q12_popularity_scores", "q65_bloom_url_conflict",
        "q17_sanitize_strings", "q68_incremental_dedup", "q78_unigram_lm",
        "q31_embedding_stats", "q76_kmv_distinct", "q38_percentile_agg",
        "q58_license_backfill", "q74_source_mix"]}},
}

END_TO_END = [("setup_s", "s"), ("op_cpu_p50_s", "s"), ("items_per_cpu_s", "1/s"),
              ("jobs_per_op", "count"), ("tasks_per_op", "count"),
              ("op_retained_heap_mb", "MB")]

SPAN_COUNTERS = [("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
                 ("sched_wait_s", "s"), ("exec_cpu_s", "s"), ("shuffle_bytes", "B")]


def _spans(names, counters=SPAN_COUNTERS):
    return [(f"{s}.{c}", u) for s in names for c, u in counters]


LAYERS = {
    "catalog_load": _spans(["inat.transform", "sources.tsv_stage",
                            "operators.media_clean", "operators.load_filter",
                            "sources.merge_commit"]) +
    [("sources.merge_commit.rows_written_per_staged_row", "ratio")],
    "query_mix": _spans([f"queries.{p}" for p in [
        "RelationalQueries", "PopularityQueries", "LoadQueries", "CleaningQueries",
        "DedupeQueries", "TextQueries", "SimilarityQueries", "EventQueries",
        "EnrichmentQueries", "MaintenanceQueries", "SamplingQueries"]],
        [c for c in SPAN_COUNTERS if c[0] != "shuffle_bytes"]),
}


# Per-op JVM figures, reported by the traced run of either workload from
# its untraced steady ops: the JIT compiler threads' CPU and the classes
# Spark's code generator compiled (cache misses).
JVM_LAYERS = [("jvm.jit_cpu_s_per_op", "s"), ("jvm.codegen_classes_per_op", "count")]


def per_layer_metrics():
    """(name, unit) of the per-layer metrics a traced run prints: those of
    every workload, in BENCHMARK.json order."""
    return [m for w in WORKLOADS for m in LAYERS[w]] + JVM_LAYERS


def host_sample():
    """(steal jiffies, total jiffies, 1-minute loadavg) from /proc, read
    the way graft.Bench's cpuJiffies/loadAvg read it."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        with open("/proc/loadavg") as f:
            la = float(f.read().split()[0])
        return (v[7] if len(v) > 7 else 0, sum(v), la)
    except (OSError, ValueError):
        return (0, 0, -1.0)


def java_cmd(classes, work, out, args):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    with open(os.path.join(ROOT, ".bench_build", "spark-jars")) as f:
        jars = f.read().strip()
    return (["java"] + opens + [
        "-Xms3g", "-Xmx3g", "-XX:-UseDynamicNumberOfCompilerThreads", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work}/tmp", "-cp", f"{classes}:{jars}/*",
        "perfbench.Main", "--out", out] + args)


def run_jvm(cmd, log_path):
    """Run the benchmark JVM in its own process group. The whole group is
    killed if it overruns or if this process is told to stop, and it is
    always waited for."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=ROOT, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
            signal.signal(signal.SIGINT, signal.default_int_handler)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def engine_cpu(o):
    """An op's process CPU-seconds without the JIT compiler threads'."""
    return o["cpu"] - o["jit"]


def steady_units(raw):
    """The steady ops, and the same ops grouped into the units the per-op
    metrics count: one group per batch of catalog_load, one per warm
    pass of query_mix. The cold query pass is left out."""
    steady = [o for o in raw["ops"] if o["kind"] != "cold"]
    if raw["workload"] == "query_mix":
        return steady, [[o for o in steady if o["round"] == r]
                        for r in sorted({o["round"] for o in steady})]
    return steady, [[o] for o in steady]


def end_to_end(raw):
    """The end-to-end metrics: set-up in process CPU-seconds, the per-op
    times in engine CPU-seconds, and Spark jobs, tasks and retained heap
    per op."""
    steady, units = steady_units(raw)
    seed = raw["seed_cpu_s"]
    return {"setup_s": raw["session_cpu_s"] + (median(seed) if seed else 0.0),
            "op_cpu_p50_s": median([sum(engine_cpu(o) for o in u) for u in units]),
            "items_per_cpu_s": sum(o["items"] for o in steady) / sum(engine_cpu(o) for o in steady),
            "jobs_per_op": median([sum(o["jobs"] for o in u) for u in units]),
            "tasks_per_op": median([sum(o["tasks"] for o in u) for u in units]),
            "op_retained_heap_mb": median([max(o["heap_mb"] for o in u) for u in units])}


def wall_figures(raw):
    """The time metrics recomputed from wall seconds, a diagnostic."""
    steady, units = steady_units(raw)
    seed = raw["seed_s"]
    return {"setup_s": raw["session_s"] + (median(seed) if seed else 0.0),
            "op_p50_s": median([sum(o["wall"] for o in u) for u in units]),
            "items_per_s": sum(o["items"] for o in steady) / sum(o["wall"] for o in steady)}


def layers(raw):
    spans = raw["spans"]
    _, units = steady_units(dict(raw, ops=[o for o in raw["ops"]
                                           if o["round"] < raw["traced_round"]]))
    out = {"jvm.jit_cpu_s_per_op": median([sum(o["jit"] for o in u) for u in units]),
           "jvm.codegen_classes_per_op": median([sum(o["classes"] for o in u) for u in units])}
    for name, _ in per_layer_metrics():
        if name in out:
            continue
        if name in raw["extra"]:
            out[name] = raw["extra"][name]
        else:
            span, counter = name.rsplit(".", 1)
            out[name] = spans.get(span, {}).get(counter, 0)
    return out


def correctness(con, wl, raw, data, check, cfg):
    """(checks, failed op count). A wrong output fails every op that
    produced it; rounds whose state digest differs from the checked
    (last) round fail too."""
    import checks
    ops = raw["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    results = []
    last = max(o["round"] for o in ops)
    if wl == "catalog_load":
        results = checks.check_live(con, data, check, cfg["gen"]["days"])
        if not all(ok for _, ok, _ in results):
            failed += sum(1 for o in ops if o["round"] == last and o["ok"])
    else:
        results = checks.check_oracles(con, data, check, cfg["jvm"]["queries"])
        bad = {n for n, k, _ in results if not k}
        failed += sum(1 for o in ops if o["ok"] and o["id"] in bad)
    d = raw["digests"]
    if d:
        ref = d[max(d, key=lambda k: int(k.rsplit("_r", 1)[1]))]
        drift = [k for k, v in d.items() if v != ref]
        results.append(("state_digest_equal_across_rounds", not drift,
                        f"rounds differing: {drift}" if drift else f"{len(d)} rounds agree"))
        for k in drift:
            r = int(k.rsplit("_r", 1)[1])
            failed += sum(1 for o in ops if o["round"] == r and o["ok"])
    if raw["errors"]:
        results.append(("jvm_errors", False, "; ".join(raw["errors"])[:500]))
    return results, failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    wl, cfg = a.workload, WORKLOADS[a.workload]
    seed = cfg["default_seed"] if a.seed is None else a.seed

    if subprocess.run(["bash", os.path.join(HERE, "build.sh")], cwd=ROOT).returncode != 0:
        print("perfbench: build failed", file=sys.stderr)
        return 1
    import duckdb
    import gen

    build = os.path.join(ROOT, ".bench_build")
    work = os.path.join(build, f"run-{wl}-{os.getpid()}")
    data, check = os.path.join(work, "data"), os.path.join(work, "check")
    try:
        os.makedirs(os.path.join(work, "tmp"))
        t_gen = time.monotonic()
        gen.generate(wl, data, seed, cfg["gen"])
        jvm_cfg = dict(cfg["gen"], **cfg.get("jvm", {}))
        if wl == "query_mix":
            jvm_cfg["queries"] = sorted(jvm_cfg["queries"])
            random.Random(seed).shuffle(jvm_cfg["queries"])
        cfg_arg = ",".join(f"{k}={'+'.join(v) if isinstance(v, list) else v}"
                           for k, v in jvm_cfg.items())
        raw_path = os.path.join(work, "raw.json")
        h0 = host_sample()
        t_jvm = time.monotonic()
        rc = run_jvm(java_cmd(os.path.join(build, "classes"), work, raw_path, [
            "--workload", wl, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", work, "--cfg", cfg_arg]),
            os.path.join(work, "jvm.log"))
        h1 = host_sample()
        t_check = time.monotonic()
        if rc != 0 or not os.path.exists(raw_path):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            print(f"perfbench: benchmark JVM exited with {rc}", file=sys.stderr)
            return 1
        with open(raw_path) as f:
            raw = json.load(f)
        con = duckdb.connect()
        con.execute("SET threads=2")
        results, failed = correctness(con, wl, raw, data, check, cfg)
        t_end = time.monotonic()
        con.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    dt = h1[1] - h0[1]
    diag = {"workload": wl, "seed": seed, "trace": a.trace,
            "steal_pct": round(100.0 * (h1[0] - h0[0]) / dt, 3) if dt > 0 else 0.0,
            "loadavg_1m": [h0[2], h1[2]], "cpus": os.cpu_count(),
            "rounds": 1 + max(o["round"] for o in raw["ops"]),
            "peak_rss_mb": raw["peak_rss_mb"], "extra": raw["extra"],
            "op_wall_s": {k: round(median([o["wall"] for o in raw["ops"] if o["id"] == k]), 4)
                          for k in dict.fromkeys(o["id"] for o in raw["ops"])},
            "op_cpu_s": {k: round(median([engine_cpu(o) for o in raw["ops"] if o["id"] == k]), 4)
                         for k in dict.fromkeys(o["id"] for o in raw["ops"])},
            "op_jit_cpu_s": {k: round(median([o["jit"] for o in raw["ops"] if o["id"] == k]), 4)
                             for k in dict.fromkeys(o["id"] for o in raw["ops"])},
            "op_heap_mb": {k: round(median([o["heap_mb"] for o in raw["ops"] if o["id"] == k]), 2)
                           for k in dict.fromkeys(o["id"] for o in raw["ops"])},
            "wall": None if a.trace else wall_figures(raw),
            "phase_s": {"gen": round(t_jvm - t_gen, 2), "jvm": round(t_check - t_jvm, 2),
                        "check": round(t_end - t_check, 2)},
            "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in results]}
    attempted = len(raw["ops"])
    if a.trace:
        covered = raw["op_cover"]
        traced = sum(c["wall_s"] for c in covered)
        untraced = sum(o["wall"] for o in raw["ops"]
                       if o["round"] == raw["traced_round"] - 1)
        trace_doc = {"workload": wl, "seed": seed, "spans": raw["spans"],
                     "span_records": raw["span_records"], "op_cover": covered,
                     "remainder_s": sum(c["remainder_s"] for c in covered),
                     "tracing_overhead": traced / untraced if untraced else None}
        with open(os.path.join(build, f"trace-{wl}-seed{seed}.json"), "w") as f:
            json.dump(trace_doc, f, indent=1)
        diag["trace_summary"] = {k: trace_doc[k] for k in ("remainder_s", "tracing_overhead")}
        units = dict(per_layer_metrics())
        values = layers(raw)
    else:
        units = dict(END_TO_END)
        values = end_to_end(raw)
        cold = [engine_cpu(o) for o in raw["ops"] if o["kind"] == "cold"]
        if cold:
            diag["first_pass_cpu_s"] = sum(cold)
    print(json.dumps({"diagnostics": diag}))
    correct = all(ok for _, ok, _ in results) and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
