#!/usr/bin/env python3
"""polyminhash_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Generates (or reuses) the workload's
seeded inputs, runs the workload in a child process against the public
API, checks the outputs, and prints as its last stdout line one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics of BENCHMARK.json with --trace 0, the per-layer metrics with
--trace 1.  The line before it is a JSON object with the host context,
the run's details and, for a failed run, the tail of its stderr.

Exit status: 0 when the outputs are correct, 1 when a check or the run
failed, 2 when the benchmark cannot run here (no engine sources, unknown
workload).  Everything the run writes stays under ``.perfbench/`` in
the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
RUN_LIMIT_S = 150.0          # the whole run, input generation included
KILL_WAIT_S = 10.0           # per signal, for the child's group to exit
STDERR_TAIL_LINES = 40


def _kill_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, the child's process group (the child, its
    JVM and the JVM's Python workers), and wait until none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + KILL_WAIT_S
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] = state, fields[2] = pgrp; zombies are already gone
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _tail(path: str, n: int) -> list[str]:
    try:
        with open(path, errors="replace") as f:
            return f.read().splitlines()[-n:]
    except OSError:
        return []


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t0 = time.monotonic()

    if not os.path.isdir(os.path.join(ROOT, "polyminhash_spark")):
        print("perfbench: no polyminhash_spark package beside perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import host, inputs

    if args.workload not in inputs.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(inputs.WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer" if args.trace else "end_to_end"]

    cores = host.nproc()
    cpu0 = host.cpu_seconds()
    context = {"workload": args.workload, "seed": args.seed,
               "seconds": args.seconds, "trace": args.trace, "nproc": cores,
               "load1_before": host.load1(), **host.versions()}
    input_dir = inputs.prepare(args.workload, args.seed,
                               os.path.join(STATE, "cache"))
    context["input_s"] = round(time.monotonic() - t0, 3)

    stamp = f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    work = os.path.join(STATE, "runs", f"{stamp}-{args.workload}-s{args.seed}")
    os.makedirs(os.path.join(work, "tmp"))
    spec = {
        "workload": args.workload, "kind": inputs.WORKLOADS[args.workload]["kind"],
        "seed": args.seed, "seconds": args.seconds, "trace": bool(args.trace),
        "nproc": cores, "input_dir": input_dir, "work_dir": work,
        "result_path": os.path.join(work, "result.json"),
    }
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
        "SPARK_GRAFT_CPUS": str(cores),
        "TMPDIR": os.path.join(work, "tmp"),
        "POLYMINHASH_LOCAL_DIR": os.path.join(work, "spark-local"),
        # the spark-submit launcher JVM: no hsperfdata file in the
        # system temp directory
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    err_path = os.path.join(work, "child.stderr")
    timed_out = False
    with open(os.path.join(work, "child.stdout"), "w") as out, \
            open(err_path, "w") as err:
        child = subprocess.Popen(
            [sys.executable, "-m", "perfbench.child", json.dumps(spec)],
            cwd=ROOT, env=env, stdout=out, stderr=err, start_new_session=True)
        try:
            child.wait(timeout=max(RUN_LIMIT_S - (time.monotonic() - t0), 10))
        except subprocess.TimeoutExpired:
            timed_out = True
        finally:
            _kill_group(child.pid)
            child.wait()
    context["load1_after"] = host.load1()
    cpu1 = host.cpu_seconds()
    if cpu0 and cpu1:
        # host-wide, so other guests' and containers' work shows here too
        context.update({f"host_{k}": round(cpu1[k] - cpu0[k], 2) for k in cpu0})
    context["wall_s"] = round(time.monotonic() - t0, 3)

    result = None
    if os.path.exists(spec["result_path"]):
        with open(spec["result_path"]) as f:
            result = json.load(f)
    if result is None:
        why = "timed out" if timed_out else f"exited {child.returncode} without a result"
        result = {"attempted": 1, "failed": 1, "notes": [f"child {why}"],
                  "metrics": {}, "detail": {}}
    metrics = {m["name"]: result["metrics"][m["name"]]
               for m in wanted if m["name"] in result["metrics"]}
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing and result["failed"] == 0:
        result["notes"].append(f"metrics missing: {missing}")
        result["failed"] = 1
    correct = result["failed"] == 0 and not missing
    context.update(notes=result["notes"], detail=result["detail"],
                   work_dir=os.path.relpath(work, ROOT))
    if not correct:
        context["stderr_tail"] = _tail(err_path, STDERR_TAIL_LINES)
    final = {"correct": correct, "attempted": max(result["attempted"], 1),
             "failed": result["failed"], "metrics": metrics}
    with open(os.path.join(STATE, "results.jsonl"), "a") as f:
        f.write(json.dumps({"context": context, "result": final}) + "\n")
    print(json.dumps({"context": context}, default=str))
    print(json.dumps(final))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
