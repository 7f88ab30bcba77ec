#!/usr/bin/env python3
"""graft benchmark: one workload, one fresh JVM, one closed-loop client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --record --reason "why the outputs changed"
    python3 perfbench/run.py --test

Run from the root of a graft checkout. The first run builds the program and
the runner from source with sbt (offline) and generates the input tables;
later runs reuse both while their sources are unchanged. The workload's keys
(perfbench/workloads.json) run once, in an order permuted by --seed, each
checked against its recorded digest (perfbench/digests.json). A run is always
one cold pass, as graft.Bench times one; --seconds is accepted for the
benchmark's command line and does not change it. The last line of
stdout is one JSON object: correct, attempted, failed and the metrics of
BENCHMARK.json -- end-to-end ones untraced, per-layer ones with --trace 1.

--record re-records every workload key's digest from the current code;
--test runs the benchmark's own tests (perfbench/src/test).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
import summarise  # noqa: E402  (after the bytecode switch)

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build"
LAUNCH = HERE / "target" / "launch"
DIGESTS = HERE / "digests.json"
# the runner's heap: a fixed size, so GC does not depend on the box and the
# heap does not grow during a run (a growing heap made later keys faster)
HEAP = ["-Xms4g", "-Xmx4g"]
DATA_SF = 0.1
TEST_SF = 0.01
# the runner JVM's limit; a run that builds first may also spend BUILD_TIMEOUT_S
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def cpu_count():
    """What `nproc` prints: CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        files = sorted(f for f in p.rglob("*") if f.is_file()) if p.is_dir() else [p]
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = WORK / "tmp" / "sbt"
    tmp.mkdir(parents=True, exist_ok=True)
    # keep sbt's scratch files, locks and JVM perf data inside the checkout
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "-XX:-UsePerfData", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    return env


def sbt(*commands, timeout):
    WORK.mkdir(exist_ok=True)
    with open(WORK / "sbt.log", "w") as out:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *commands],
                               cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"sbt {' '.join(commands)} timed out; see {WORK / 'sbt.log'}")
    if r.returncode != 0:
        tail = (WORK / "sbt.log").read_text(errors="replace").splitlines()[-30:]
        fail("sbt failed:\n" + "\n".join(tail))


def build():
    """Compiles graft and the runner unless their sources are unchanged."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"no graft sources under {ROOT}: run from the root of a graft checkout", 2)
    stamp = tree_hash([ROOT / "build.sbt", ROOT / "project" / "build.properties",
                       ROOT / "src" / "main", HERE / "build.sbt",
                       HERE / "project" / "build.properties", HERE / "src" / "main"])
    done = LAUNCH / "stamp"
    if done.is_file() and done.read_text() == stamp:
        return
    log("building graft and the runner (sbt, offline)")
    t0 = time.time()
    sbt("launcher", timeout=BUILD_TIMEOUT_S)
    done.write_text(stamp)
    log(f"built in {time.time() - t0:.0f} s")


def data(sf):
    """The input tables; generated once per checkout and scale."""
    out = WORK / f"data-sf{sf}"
    stamp = tree_hash([HERE / "datagen.py"]) + f" sf={sf}"
    done = out / "stamp"
    if not (done.is_file() and done.read_text() == stamp):
        shutil.rmtree(out, ignore_errors=True)
        import datagen
        datagen.generate(str(out), sf=sf)
        done.write_text(stamp)
    return out


def workloads():
    return json.loads((HERE / "workloads.json").read_text())


def run_jvm(keys, seed, trace, expected, data_dir, tag, timeout):
    """Runs graft.PerfBench in a fresh JVM and returns its JSON result."""
    tmp = WORK / "tmp" / tag
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    exp_file = tmp / "expected.tsv"
    exp_file.write_text("".join(f"{k}\t{v['rows']}\t{v['digest']}\n"
                                for k, v in expected.items()))
    out = tmp / "result.json"
    cmd = ["java", *HEAP, *LAUNCH.joinpath("jvm_options").read_text().split(),
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-cp", LAUNCH.joinpath("classpath").read_text().strip(), "graft.PerfBench",
           "--data", str(data_dir), "--keys", ",".join(keys), "--expected", str(exp_file),
           "--seed", str(seed), "--trace", str(trace), "--cpus", str(cpu_count()),
           "--out", str(out)]
    logf = WORK / f"{tag}.log"
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)

        def kill():
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(tmp, ignore_errors=True)

        def stop(signum, _frame):
            kill()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            kill()
            fail(f"runner exceeded {timeout:.0f} s; log: {logf}")
    if rc != 0 or not out.is_file():
        tail = logf.read_text(errors="replace").splitlines()[-30:]
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"runner exited {rc}:\n" + "\n".join(tail))
    result = json.loads(out.read_text())
    shutil.rmtree(tmp, ignore_errors=True)
    return result


def end_to_end(res):
    return {name: (res[name], "s") for name in ("setup_s", "wall_s", "cpu_s")}


def bench(a):
    wl = workloads()
    if a.workload not in wl:
        fail(f"unknown workload {a.workload!r}; known: {', '.join(wl)}", 2)
    build()
    data_dir = data(DATA_SF)
    keys = wl[a.workload]["keys"]
    recorded = json.loads(DIGESTS.read_text())["digests"]
    expected = {k: recorded[k] for k in keys if k in recorded}
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    res = run_jvm(keys, a.seed, a.trace, expected, data_dir, tag, RUN_TIMEOUT_S)
    recs = res["records"]
    failed = [r for r in recs if r["status"] != "ok"]
    for r in failed:
        log(f"FAILED {r['key']}: {r['status']} {r['error']}")
    if a.trace:
        metrics = summarise.per_layer(res)
    else:
        metrics = end_to_end(res)
    res["workload"] = a.workload
    res["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    (WORK / "results").mkdir(exist_ok=True)
    (WORK / "results" / f"{tag}.json").write_text(json.dumps(res))
    print(f"{a.workload}: {len(recs)} key runs, "
          f"{len(failed)} failed (failed_frac {len(failed) / len(recs):.4f})")
    for k, (v, u) in metrics.items():
        print(f"  {k:28s} {v:14.4f} {u}")
    print(json.dumps({"correct": not failed, "attempted": len(recs), "failed": len(failed),
                      "metrics": res["metrics"]}))


def record(a):
    """Re-records the digest of every workload key from the current code."""
    if not a.reason:
        fail("--record needs --reason: say why the outputs changed", 2)
    build()
    data_dir = data(DATA_SF)
    keys = sorted({k for w in workloads().values() for k in w["keys"]})
    # two runs in different key orders: a key must give the same output in both
    recs = [r for seed in (1, 2)
            for r in run_jvm(keys, seed, 0, {}, data_dir, "record", 3600)["records"]]
    bad = [r for r in recs if r["status"] != "unrecorded"]
    if bad:
        fail("keys failed while recording: " +
             "; ".join(f"{r['key']}: {r['error']}" for r in bad))
    new = {}
    for r in recs:
        got = {"rows": r["rows"], "digest": r["digest"]}
        if new.setdefault(r["key"], got) != got:
            fail(f"{r['key']} gave different outputs in two runs")
    old = json.loads(DIGESTS.read_text()) if DIGESTS.is_file() else {"log": []}
    changed = sorted(k for k in new if old.get("digests", {}).get(k) != new[k])
    entry = {"date": time.strftime("%Y-%m-%d"), "reason": a.reason, "changed": changed}
    DIGESTS.write_text(json.dumps({"log": old["log"] + [entry], "digests": new},
                                  indent=1, sort_keys=True) + "\n")
    log(f"recorded {len(new)} digests, {len(changed)} changed")


def test(_):
    """The runner's own tests, on small tables; the two-seed digest test
    runs the kernels workload."""
    build()
    os.environ["PERFBENCH_DATA"] = str(data(TEST_SF))
    os.environ["PERFBENCH_KEYS"] = ",".join(workloads()["kernels"]["keys"])
    sbt("test", timeout=1200)
    print((WORK / "sbt.log").read_text(errors="replace"))


def main():
    ap = argparse.ArgumentParser(description="graft benchmark runner")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="accepted; a run is one pass")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--reason")
    ap.add_argument("--test", action="store_true")
    a = ap.parse_args()
    if a.record:
        record(a)
    elif a.test:
        test(a)
    elif a.workload:
        bench(a)
    else:
        ap.error("give --workload, --record or --test")


if __name__ == "__main__":
    main()
