"""Benchmark entry point.

    python3 spexbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. Writes the workload's
input once per (workload, seed) under ``.spexbench_work/``, starts one
measured Spark session in a child process (spexbench/session.py), stops
and reaps every process that session started, then prints the host-weather
guards with the window's throughput and, as the last line, one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json, or
with ``--trace 1`` its per-layer metrics). ``--corrupt 1`` alters one
output row before the check, to show that the check counts it as failed.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "jarvis_ocr_service_spark"
RUN_LIMIT_S = 170
PR_SET_CHILD_SUBREAPER = 36


def reap_all() -> None:
    """Kill and wait for every process left under this one. As a child
    subreaper, this process inherits the orphaned JVM and Python workers."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.time() + 10
        while time.time() < deadline:
            kids = _children()
            if not kids:
                return
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.1)
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass


def _children():
    me = os.getpid()
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    s = f.read()
            except OSError:
                continue
            if int(s[s.rindex(")") + 2 :].split()[1]) == me:
                out.append(int(name))
    return out


def metric_block(spec, values):
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"spexbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from spexbench import inputs
    from spexbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in WORKLOADS:
        print(f"spexbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    started = time.time()
    work = os.path.join(ROOT, ".spexbench_work")
    input_dir = inputs.ensure(work, wl.input_kind, wl.n_pages, args.seed)

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    result_path = os.path.join(work, f"result-{args.workload}.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p])
    env["TMPDIR"] = os.path.join(work, "tmp")
    # the cluster-manager variable overrides spark.local.dir when set
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.makedirs(env["TMPDIR"], exist_ok=True)
    t0 = time.time()
    child = subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "spexbench", "session.py"),
         "--workload", args.workload, "--input", input_dir, "--work", work,
         "--seconds", str(args.seconds), "--trace", str(args.trace),
         "--corrupt", str(args.corrupt), "--t0", repr(t0), "--result", result_path],
        env=env,
        stdout=subprocess.DEVNULL,
        stderr=open(os.path.join(work, f"session-{args.workload}.log"), "w"),
    )
    try:
        rc = child.wait(timeout=max(10.0, RUN_LIMIT_S - (t0 - started)))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        reap_all()
    if rc != 0 or not os.path.exists(result_path):
        print(f"spexbench: session failed (rc={rc}); see .spexbench_work/session-{args.workload}.log",
              file=sys.stderr)
        return 1
    with open(result_path) as f:
        res = json.load(f)

    guards = {k: res[k] for k in ("host.steal_frac", "host.control_mib_s", "first_pass_s",
                                  "pages_per_s", "core_s_per_kpage")}
    guards["pass_s"] = [round(p["s"], 3) for p in res["passes"]]
    print("guards " + json.dumps(guards))
    if args.trace:
        metrics = metric_block(bench["per_layer"], {m["name"]: res["layers"].get(m["name"], 0.0)
                                                    for m in bench["per_layer"]})
    else:
        metrics = metric_block(bench["end_to_end"], res)
    print(json.dumps({
        "correct": not res["failed"],
        "attempted": int(res["attempted"]),
        "failed": len(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
