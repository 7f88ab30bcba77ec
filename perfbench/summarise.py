#!/usr/bin/env python3
"""Per-layer numbers and self time from traced benchmark runs.

    python3 perfbench/summarise.py [--run [--seed N]]

Reads the results run.py leaves in .bench_build/results/ and prints, for each
workload, the end-to-end metrics (from untraced runs), every per-layer metric
and the self time of each span layer (from traced runs), and the tracing
overhead: traced minus untraced wall_s at the same seed. With --run it first
runs every workload untraced and traced, so one command prints setup_s,
wall_s, cpu_s and failed_frac for each workload and checks every digest.

Spans nest run > key > {build, plan, action} > job > stage. The runner
records key and phase spans itself; jobs and stages come from a
SparkListener and are attributed to the phase (jobs) or job (stages) they
started in. Self time is a span's duration minus the union of its
children's intervals clipped to it.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
RESULTS = HERE.parent / ".bench_build" / "results"
MB = 1048576.0


def union_s(intervals, lo, hi):
    """Seconds of [lo, hi] (ms) covered by the union of intervals (ms)."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in cut:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1e3


def pct(xs, q):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0


def spans(res):
    """(phases, jobs, stages) with each job's phase and each stage's job."""
    phases = []
    for r in res["records"]:
        for s in r["spans"]:
            phases.append(dict(s, key=r["key"], end_ms=s["start_ms"] + s["dur_s"] * 1e3))
    tr = res["trace"]
    jobs = [j for j in tr["jobs"] if j["end_ms"] >= 0]
    for j in jobs:
        j["phase"] = next((p for p in phases
                           if p["start_ms"] <= j["start_ms"] <= p["end_ms"] + 1), None)
    stage_job = {}
    for j in jobs:
        for s in j["stages"]:
            stage_job.setdefault(s, j)
    stages = [s for s in tr["stages"] if s["end_ms"] >= 0]
    for s in stages:
        s["job"] = stage_job.get(s["id"])
    return phases, jobs, stages


def per_layer(res):
    """Every per-layer metric of a traced run: {name: (value, unit)}."""
    phases, jobs, stages = spans(res)
    all_stages = res["trace"]["stages"]
    wall = res["wall_s"]

    def phase_sum(layer, field):
        return sum(p[field] for p in phases if p["layer"] == layer)

    def counter(field):
        return sum(p[field] for p in phases)

    def tasks(field):
        return sum(s[field] for s in all_stages)

    keys = [(r["start_ms"], r["start_ms"] + (r["build_s"] + r["plan_s"] + r["action_s"]) * 1e3)
            for r in res["records"]]
    job_iv = [(j["start_ms"], j["end_ms"]) for j in jobs]
    no_job = sum((b - a) / 1e3 - union_s(job_iv, a, b) for a, b in keys)
    job_ms = [j["end_ms"] - j["start_ms"] for j in jobs]

    self_s = {"key": 0.0, "build": 0.0, "plan": 0.0, "action": 0.0, "job": 0.0, "stage": 0.0}
    for a, b in keys:
        kid = [(p["start_ms"], p["end_ms"]) for p in phases if a <= p["start_ms"] < b]
        self_s["key"] += (b - a) / 1e3 - union_s(kid, a, b)
    for p in phases:
        kid = [(j["start_ms"], j["end_ms"]) for j in jobs if j["phase"] is p]
        self_s[p["layer"]] += p["dur_s"] - union_s(kid, p["start_ms"], p["end_ms"])
    for j in jobs:
        kid = [(s["start_ms"], s["end_ms"]) for s in stages if s["job"] is j]
        self_s["job"] += (j["end_ms"] - j["start_ms"]) / 1e3 - union_s(kid, j["start_ms"], j["end_ms"])
    self_s["stage"] = sum((s["end_ms"] - s["start_ms"]) / 1e3 for s in stages)

    task_s = tasks("run_ms") / 1e3
    m = {
        "operators.build_s": (phase_sum("build", "dur_s"), "s"),
        "operators.build_share": (phase_sum("build", "dur_s") / wall, "ratio"),
        "operators.build_jobs": (sum(1 for j in jobs if j["phase"] and j["phase"]["layer"] == "build"), "count"),
        "catalyst.plan_s": (phase_sum("plan", "dur_s"), "s"),
        "catalyst.rules_s": (counter("rules_s"), "s"),
        "codegen.compile_s": (counter("compile_s"), "s"),
        "codegen.compiles": (counter("compiles"), "count"),
        "scheduler.jobs": (len(jobs), "count"),
        "scheduler.stages": (len(all_stages), "count"),
        "scheduler.tasks": (tasks("tasks"), "count"),
        "scheduler.job_p50_ms": (pct(job_ms, 0.5), "ms"),
        "scheduler.job_p99_ms": (pct(job_ms, 0.99), "ms"),
        "scheduler.failed_tasks": (tasks("failed_tasks"), "count"),
        "driver.no_job_s": (no_job, "s"),
        "executor.task_s": (task_s, "s"),
        "executor.cpu_s": (tasks("cpu_ns") / 1e9, "s"),
        "executor.gc_s": (tasks("gc_ms") / 1e3, "s"),
        "executor.utilisation": (task_s / (wall * res["cpus"]), "ratio"),
        "shuffle.write_mb": (tasks("shuffle_write_b") / MB, "MB"),
        "shuffle.read_mb": (tasks("shuffle_read_b") / MB, "MB"),
        "shuffle.spill_mb": (tasks("spill_b") / MB, "MB"),
        "sources.input_mb": (tasks("input_b") / MB, "MB"),
        "sources.input_rows": (tasks("input_rows"), "count"),
        "sources.output_mb": (tasks("output_b") / MB, "MB"),
        "sources.output_rows": (tasks("output_rows"), "count"),
        "jvm.gc_s": (res["run_counters"]["gc_s"], "s"),
        "jvm.heap_after_gc_mb": (res["heap_after_gc_mb"], "MB"),
        "trace.wall_s": (wall, "s"),
    }
    for layer, v in self_s.items():
        m[f"self.{layer}_s"] = (v, "s")
    return m


def load():
    out = {}
    for f in sorted(RESULTS.glob("*.json")):
        res = json.loads(f.read_text())
        out.setdefault(res["workload"], []).append(res)
    return out


def med(runs, name):
    vals = [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]
    return statistics.median(vals) if vals else None


def report(by_workload):
    for wl, runs in sorted(by_workload.items()):
        plain = [r for r in runs if "trace" not in r]
        traced = [r for r in runs if "trace" in r]
        recs = [x for r in runs for x in r["records"]]
        failed = sum(1 for x in recs if x["status"] != "ok")
        print(f"== {wl}: {len(plain)} untraced and {len(traced)} traced run(s), "
              f"{len(recs)} key runs, failed_frac {failed / max(1, len(recs)):.4f} (ratio)")
        for name, unit in (("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s")):
            v = med(plain, name)
            if v is not None:
                print(f"  {name:28s} {v:12.4f} {unit}   (median of {len(plain)})")
        if not traced:
            continue
        for name, m in traced[-1]["metrics"].items():
            v = med(traced, name)
            print(f"  {name:28s} {v:12.4f} {m['unit']}")
        over = [t["metrics"]["trace.wall_s"]["value"] - p["metrics"]["wall_s"]["value"]
                for t in traced for p in plain if p["seed"] == t["seed"]]
        if over:
            base = med(plain, "wall_s")
            o = statistics.median(over)
            print(f"  {'trace.overhead_s':28s} {o:12.4f} s   ({o / base:+.1%} of untraced wall_s)")


def main():
    ap = argparse.ArgumentParser(description="summarise benchmark runs per layer")
    ap.add_argument("--run", action="store_true", help="run every workload first")
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    if a.run:
        cfg = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        for w in cfg["workloads"]:
            for trace in (0, 1):
                r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", w["name"],
                                    "--seed", str(a.seed), "--seconds", str(cfg["run_seconds"]),
                                    "--trace", str(trace)], stdout=subprocess.PIPE, text=True)
                if r.returncode != 0:
                    sys.exit(f"{w['name']} trace={trace} failed")
    report(load())


if __name__ == "__main__":
    main()
