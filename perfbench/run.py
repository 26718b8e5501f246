"""Benchmark entry point.

    python3 perfbench/run.py [--cpus 2] --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see ``workloads.py``) in a fresh child process with its
own scratch directory under ``.perfbench/`` in the checkout, samples the
resident memory of the child's whole process tree (Python driver, JVM,
Python workers) while it runs, and prints as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run installs the
layer wrappers and reports the per-layer ones. The line before it is a
``{"diagnostics": ...}`` object (config in force, host canary, steadiness
guards); the same record, and the spans of a traced run, are kept under
``.perfbench/runs/``.
"""

from __future__ import annotations

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
CHECKOUT = os.path.dirname(HERE)
TIMEOUT_S = 170

END_TO_END = {"latency_p50_ms": "ms", "throughput_per_s": "1/s", "setup_s": "s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit, in ``BENCHMARK.json`` order."""
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def host_canary_ms() -> float:
    """Fixed pure-Python work, median of 3: a diagnostic that lets a slow run
    be attributed to the host. Never gated."""

    def spin() -> float:
        t = time.perf_counter()
        x = 0
        for i in range(300_000):
            x = (x ^ i) * 1103515245 % 2147483648
        return (time.perf_counter() - t) * 1e3

    return statistics.median(spin() for _ in range(3))


# -- child: one workload in this process ---------------------------------------


def child(args: argparse.Namespace) -> int:
    sys.path.insert(0, CHECKOUT)
    from perfbench.tracing import Tracer, p
    from perfbench.workloads import WORKLOADS, install_tracer

    canary_before = host_canary_ms()
    t = time.perf_counter()
    from surge_spark.session import get_spark

    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t
    conf = spark.sparkContext.getConf()
    config = {
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory"),
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_graft_extra_confs": os.environ.get("SPARK_GRAFT_EXTRA_CONFS", ""),
        "spark_version": spark.version,
        "python": sys.version.split()[0],
    }
    tracer = Tracer() if args.trace else None
    if tracer is not None:
        install_tracer(tracer)
    origin = time.perf_counter()
    res = WORKLOADS[args.workload](spark, args.seed, args.seconds, os.path.join(os.getcwd(), "data"), tracer)
    if tracer is not None:
        tracer.uninstall()
    latency = statistics.median(res.units_ms)
    throughput = res.work / res.window_s
    out = {
        "attempted": res.attempted,
        "failed": res.failed,
        "end_to_end": {
            "setup_s": session_start_s + statistics.median(res.setup_s),
            "latency_p50_ms": latency,
            "throughput_per_s": throughput,
        },
        "diagnostics": {
            "config": config,
            "session_start_s": session_start_s,
            "setup_reps_s": res.setup_s,
            "timed_units": len(res.units_ms),
            "units_ms": res.units_ms,
            "window_s": res.window_s,
            "host_canary_ms": [canary_before, host_canary_ms()],
            **res.diagnostics,
        },
    }
    if tracer is not None:
        # metrics that do not apply to this workload read 0
        layers = {**dict.fromkeys(per_layer_units(), 0.0), **res.layers}
        layers.update(
            {
                "session.start_s": session_start_s,
                "trace.latency_p50_ms": latency,
                "trace.throughput_per_s": throughput,
                "trace.spans": len(tracer.spans),
                "host.canary_ms": canary_before,
                "steady.half_ratio": res.diagnostics.get("half_ratio", 1.0),
            }
        )
        out["per_layer"] = layers
        tracer.dump(os.path.join(args.record, "spans.jsonl"), origin)
        out["diagnostics"]["span_p50_ms"] = {
            name: p([s.ms for s in tracer.spans if s.name == name], 50)
            for name in sorted({s.name for s in tracer.spans})
        }
    with open(os.path.join(args.record, "child.json"), "w") as f:
        json.dump(out, f)
    spark.stop()
    return 0


# -- parent: guards, process tree, result line ---------------------------------


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, pgid) for every live process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        table[int(name)] = (int(fields[1]), int(fields[2]))
    return table


def _tree_rss_mb(root_pid: int) -> float:
    table = _proc_table()
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in table.items():
            if ppid == parent and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests (``steal``)
    between two readings of /proc/stat."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta), 1)


def _stop_group(pgid: int) -> None:
    """SIGKILL whatever is left of the child's process group and wait until
    every member has exited."""
    deadline = time.time() + 30
    while time.time() < deadline:
        members = [pid for pid, (_, g) in _proc_table().items() if g == pgid]
        if not members:
            return
        for pid in members:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def parent(args: argparse.Namespace) -> int:
    from perfbench.workloads import WORKLOADS

    if os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "").strip():
        print(
            "refusing to run: SPARK_GRAFT_EXTRA_CONFS is set, so the session "
            "would not be the shipped configuration",
            file=sys.stderr,
        )
        return 2
    if not os.path.isfile(os.path.join(CHECKOUT, "surge_spark", "__init__.py")):
        print(f"no surge_spark package under {CHECKOUT}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    stamp = time.strftime("%Y%m%dT%H%M%S")
    record = os.path.join(
        CHECKOUT, ".perfbench", "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}"
    )
    work = os.path.join(record, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(
        os.environ,
        PYTHONPATH=CHECKOUT,
        SPARK_GRAFT_CPUS=str(args.cpus),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    cmd = [
        sys.executable,
        os.path.abspath(__file__),
        "--child",
        "--record",
        record,
        "--workload",
        args.workload,
        "--seed",
        str(args.seed),
        "--seconds",
        str(args.seconds),
        "--trace",
        str(args.trace),
    ]
    peak = 0.0
    started, cpu_before = time.perf_counter(), _cpu_times()
    with open(os.path.join(record, "child.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log, start_new_session=True)
        deadline = time.time() + TIMEOUT_S
        try:
            while proc.poll() is None and time.time() < deadline:
                peak = max(peak, _tree_rss_mb(proc.pid))
                time.sleep(0.25)
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
            _stop_group(proc.pid)
    shutil.rmtree(work, ignore_errors=True)
    result_path = os.path.join(record, "child.json")
    if proc.returncode != 0 or not os.path.isfile(result_path):
        with open(os.path.join(record, "child.log")) as f:
            tail = f.read()[-4000:]
        print(f"workload failed (exit {proc.returncode}); log tail:\n{tail}", file=sys.stderr)
        return 1
    with open(result_path) as f:
        out = json.load(f)
    if args.trace:
        units = per_layer_units()
        metrics = {k: {"value": out["per_layer"][k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": out["end_to_end"][k], "unit": u} for k, u in END_TO_END.items()}
    out["diagnostics"]["peak_rss_mb"] = peak
    out["diagnostics"]["wall_s"] = time.perf_counter() - started
    out["diagnostics"]["cpu_steal_share"] = _steal_share(cpu_before, _cpu_times())
    with open(os.path.join(record, "result.json"), "w") as f:
        json.dump({**out, "metrics": metrics}, f, indent=1)
    print(json.dumps({"diagnostics": out["diagnostics"]}))
    print(
        json.dumps(
            {
                "correct": out["failed"] == 0,
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=2, help="SPARK_GRAFT_CPUS for the session")
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--record", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child:
        return child(args)
    sys.path.insert(0, CHECKOUT)
    return parent(args)


if __name__ == "__main__":
    sys.exit(main())
