#!/usr/bin/env python3
"""Runs one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload search --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Builds first when needed (build.py). Prints every figure the run measured
as `METRIC <name> <value> <unit>` lines (plus INFO and FAIL lines), then,
as the last line, one JSON object with the keys correct, attempted, failed
and metrics: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. Exits non-zero without a result when the build or the run
fails.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # nothing but the benchmark's sources under perfbench/
import build  # noqa: E402

RUN_TIMEOUT_S = 170  # every run must end within 180 s


def config():
    """Sizes and JVM settings of each workload."""
    return json.load(open(os.path.join(HERE, "workloads.json")))


def declared(key):
    """Names of the `end_to_end` or `per_layer` metrics BENCHMARK.json declares."""
    return [m["name"] for m in json.load(open(os.path.join(build.REPO, "BENCHMARK.json")))[key]]


def cpus():
    return len(os.sched_getaffinity(0))


def params_args(params):
    out = []
    for k, v in sorted(params.items()):
        out += ["--param", f"{k}={v}"]
    return out + ["--param", f"cpus={cpus()}"]


def all_params():
    """Every workload's params in one map (a shared name takes search's value)."""
    params = {}
    for name in ("churn", "build", "search"):
        params.update(config()["workloads"][name]["params"])
    return params


def train_args():
    """Arguments of the warm-up-only run that records the CDS archive."""
    params = all_params()
    return ["--workload", "cds-train", "--seed", "1", "--seconds", "1", "--trace", "0"] + params_args(params)


def jvm(main, argv, work, timeout):
    """Runs a benchmark JVM in `work`; returns (returncode, stdout lines, log path)."""
    os.makedirs(work, exist_ok=True)
    log = os.path.join(work, "jvm.log")
    out = os.path.join(work, "jvm.out")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    cmd = build.java_cmd(main, config()["jvm_heap"]) + argv + ["--work", work]
    with open(log, "w") as lf, open(out, "w") as of:
        p = subprocess.Popen(cmd, stdout=of, stderr=lf, cwd=work, env=env)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = None
        finally:  # also on SIGTERM: never leave the JVM running
            if p.poll() is None:
                p.kill()
                p.wait()
    return rc, open(out, errors="replace").read().splitlines(), log


def log_tail(log, n=40):
    try:
        return "".join(open(log, errors="replace").readlines()[-n:])
    except OSError:
        return ""


def result_of(lines, expected):
    """The RESULT object, checked against the contract; None when invalid."""
    res = [l for l in lines if l.startswith("RESULT ")]
    if not res:
        return None
    r = json.loads(res[-1][len("RESULT "):])
    missing = [n for n in expected if n not in r.get("metrics", {})]
    if missing:
        print(f"declared metrics {missing} were not measured", file=sys.stderr)
        return None
    m = {n: r["metrics"][n] for n in expected}
    if not all(isinstance(v.get("value"), (int, float)) and math.isfinite(v["value"]) for v in m.values()):
        print("a metric value is not a finite number", file=sys.stderr)
        return None
    if not (isinstance(r.get("attempted"), int) and r["attempted"] >= 1 and isinstance(r.get("failed"), int)):
        return None
    return {"correct": bool(r["correct"]), "attempted": r["attempted"], "failed": r["failed"], "metrics": m}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    cfg = config()
    if not a.selftest and a.workload not in cfg["workloads"]:
        print(f"unknown workload {a.workload!r}; one of {sorted(cfg['workloads'])}", file=sys.stderr)
        return 2
    try:
        build.build(train_args=train_args())
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.REPO, ".bench_build", "work", f"run-{os.getpid()}")
    try:
        if a.selftest:
            argv = ["--workload", "selftest", "--seed", "1", "--seconds", "1", "--trace", "0"] + params_args(all_params())
            rc, lines, log = jvm("graftbench.SelfTest", argv, work, RUN_TIMEOUT_S)
            print("\n".join(l for l in lines if l.startswith("SELFTEST")))
            if rc != 0:
                sys.stderr.write(log_tail(log))
            return 0 if rc == 0 else 1
        argv = (["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace)] + params_args(cfg["workloads"][a.workload]["params"]))
        rc, lines, log = jvm("graftbench.Main", argv, work, RUN_TIMEOUT_S)
        result = result_of(lines, declared("per_layer" if a.trace else "end_to_end")) if rc == 0 else None
        if result is None:
            print("run failed" + (" (timed out)" if rc is None else f" (exit {rc})"), file=sys.stderr)
            sys.stderr.write(log_tail(log))
            sys.stderr.write("\n".join(lines[-20:]) + "\n")
            return 1
        for l in lines:
            if l.split(" ", 1)[0] in ("METRIC", "INFO", "FAIL"):
                print(l)
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # runs the cleanup in finally
    sys.exit(main())
