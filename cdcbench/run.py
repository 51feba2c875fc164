"""The benchmark's one command.

    python3 cdcbench/run.py --workload relay|churn --seed N \
        --seconds S --trace 0|1

Run from the repository root.  Each run starts the workload in a fresh
child process (one Spark session on ``local[nproc]``, driver memory
sized to the host, a fresh ``TMPDIR`` and Spark scratch dir inside
``.cdcbench_work/``), checks the program's outputs, and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones; the traced run also writes its spans and figures to
``.cdcbench_out/trace-<workload>-seed<N>.json``.  A failed output check
counts in ``failed`` and makes the exit code 1.  Metric names, units and
the reason for each workload are in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("relay", "churn")
# every run, traced ones included, must end within 180 s
RUN_DEADLINE_S = 170
E2E = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "latency_ms_p50": "ms",
    "latency_ms_p90": "ms",
    "trigger_s_p50": "s",
    "read_s_p50": "s",
}


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def host_env(work: str, cpus: int | None = None) -> dict:
    """Run isolation: CPUs from nproc, driver memory from host RAM, and
    a fresh TMPDIR (index caches keyed under it start empty)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(ln for ln in fh if ln.startswith("MemTotal:")).split()[1])
    driver_mb = max(2048, min(8192, mem_kb // 1024 // 4))
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus or len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mb}m",
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
    )
    return env


def run_child(workload, seed, seconds, trace, work, deadline, cpus=None,
              drain_only=False):
    """One workload in a fresh process, killed at ``deadline``
    (monotonic); returns its result dict."""
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.abspath(__file__), "--child",
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--work", work,
    ]
    if drain_only:
        cmd.append("--drain-only")
    log = os.path.join(work, "child.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(
            cmd, cwd=work, env=host_env(work, cpus), stdout=fh,
            stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            # the child's group holds the JVM too: stop all of it
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    if not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"{workload} child exited {proc.returncode} without a result")
    with open(out) as fh:
        return json.load(fh)


def child_main(args) -> None:
    t_process = time.monotonic()
    from cdcbench.common import Tracer, get_session, peak_rss_mb

    from cdcbench import churn, relay

    tracer = Tracer(bool(args.trace))
    spark = get_session(args.work, f"cdcbench-{args.workload}")
    try:
        mod = {"relay": relay, "churn": churn}[args.workload]
        kw = {"drain_only": True} if args.drain_only else {}
        res = mod.run(spark, args.seconds, args.seed,
                      os.path.join(args.work, "w"), tracer, t_process, **kw)
        if not args.drain_only:
            res["layer"]["process.peak_rss_mb"] = (peak_rss_mb(spark), "MB")
            res["spans"] = tracer.spans
    finally:
        spark.stop()
    with open(os.path.join(args.work, "result.json"), "w") as fh:
        json.dump(res, fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--drain-only", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--work", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.child:
        child_main(args)
        return 0
    if not os.path.isdir(os.path.join(ROOT, "pymongo_change_stream_reader_spark")):
        print("cdcbench: the library package is missing next to BENCHMARK.json",
              file=sys.stderr)
        return 2
    deadline = time.monotonic() + RUN_DEADLINE_S
    spec = benchmark_spec()
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}

    work = os.path.join(ROOT, ".cdcbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run_child(args.workload, args.seed, args.seconds, args.trace,
                        work, deadline)
        if args.trace:
            layer = dict(res["layer"])
            if args.workload == "relay":
                base = run_child("relay", args.seed, args.seconds, 0,
                                 work + "-local1", deadline, cpus=1,
                                 drain_only=True)
                layer["relay.events_per_s_local1"] = (base["events_per_s"], "events/s")
            out_dir = os.path.join(ROOT, ".cdcbench_out")
            os.makedirs(out_dir, exist_ok=True)
            side = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
            with open(side, "w") as fh:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "layer": layer, "e2e_traced": res["e2e"],
                           "samples": res["samples"], "spans": res["spans"]},
                          fh, indent=1)
            # a layer metric that does not apply to this workload reads 0
            metrics = {n: {"value": layer.get(n, (0, u))[0], "unit": u}
                       for n, u in per_layer.items()}
        else:
            metrics = {n: {"value": res["e2e"][n][0], "unit": u}
                       for n, u in E2E.items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(work + "-local1", ignore_errors=True)
    for e in res["errors"]:
        print(f"check failed: {e}", file=sys.stderr)
    failed = len(res["errors"])
    print("samples: " + json.dumps(res["samples"]))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
