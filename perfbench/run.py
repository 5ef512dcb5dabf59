"""Benchmark of record: HyDFS append log, live RainStorm stream and
batch queries.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

One workload runs per process, at ``local[$SPARK_GRAFT_CPUS]``
(default: min(4, cores)). The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``, the
end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``. The line before it, ``{"report": ...}``, lists every
named metric of the workload with its unit. ``--workload all`` runs
every workload in its own fresh process. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOADS = ("hydfs_log", "rainstorm_live", "batch_queries")
SETUP_REPS = 3


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _metrics(values: dict, spec_list: list) -> dict:
    """The metrics BENCHMARK.json names, in its order and units; a
    name the workload does not produce is a layer it never calls."""
    out = {}
    for m in spec_list:
        v = values.get(m["name"], (0, m["unit"]))[0]
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out


def _stop_jvm(spark) -> None:
    """Stop Spark, then end the JVM the session launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_one(args) -> int:
    from perfbench import common

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    common.prepare_env(work)
    try:
        importlib.import_module(common.PACKAGE)
    except ImportError as e:
        print(f"perfbench: cannot import the engine package: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    module = importlib.import_module(f"perfbench.{args.workload}")
    spark = None
    try:
        spark, start_s = common.start_session(f"perfbench-{args.workload}")
        tracer = common.Tracer(spark, bool(args.trace))
        tracer.add("session.get_spark", "session", tracer.t0 - start_s, tracer.t0)
        ctx = SimpleNamespace(
            spark=spark,
            tracer=tracer,
            seed=args.seed,
            seconds=args.seconds,
            smoke=args.smoke,
            work=work,
            setup_reps=SETUP_REPS,
        )
        res = module.run(ctx)
        setup_s = start_s + common.median(res["setups"]) + res["warm_s"]
        e2e = dict(res["e2e"], setup_s=(setup_s, "s"))
        attempted, failed = res["attempted"], res["failed"]
        report = dict(
            res["report"],
            setup_s=(setup_s, "s"),
            error_ratio=(failed / max(1, attempted), "ratio"),
            attempted=(attempted, "count"),
            failed=(failed, "count"),
            **res["e2e"],
        )
        layer = dict(res["layer"], **{"session.start_s": (start_s, "s")})
        if tracer.enabled:
            for name, v in tracer.self_times().items():
                layer[f"{name}.self_s"] = (v, "s")
            layer["trace.overhead_s"] = (tracer.overhead_s, "s")
            layer["trace.spans"] = (len(tracer.spans), "count")
            trace_dir = os.path.join(ROOT, ".perfbench_work", "traces")
            tracer.write(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))
        report.update(layer)
    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    spec = _spec()
    metrics = _metrics(layer if args.trace else e2e, spec["per_layer" if args.trace else "end_to_end"])
    print(json.dumps({"workload": args.workload, "report": {
        k: {"value": v, "unit": u} for k, (v, u) in sorted(report.items())
    }}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def run_all(args) -> int:
    """Each workload in its own fresh process; with --trace 1 also an
    untraced run, so the tracing overhead is traced minus untraced."""
    results = {}
    for w in WORKLOADS:
        modes = [0, 1] if args.trace else [0]
        for t in modes:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(t)] + (["--smoke"] if args.smoke else [])
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            sys.stdout.write(p.stdout)
            lines = [x for x in p.stdout.splitlines() if x.startswith("{")]
            if p.returncode != 0 or len(lines) < 2:
                print(f"perfbench: {w} failed (exit {p.returncode})", file=sys.stderr)
                return p.returncode or 1
            results[(w, t)] = (json.loads(lines[-2])["report"], json.loads(lines[-1]))
    attempted = sum(r[1]["attempted"] for r in results.values())
    failed = sum(r[1]["failed"] for r in results.values())
    summary = {}
    for w in WORKLOADS:
        for k, v in results[(w, 0)][0].items():
            summary[f"{w}.{k}"] = v
        if args.trace:
            traced = results[(w, 1)][0]["work_s"]["value"]
            plain = results[(w, 0)][0]["work_s"]["value"]
            summary[f"{w}.trace.e2e_overhead_s"] = {"value": traced - plain, "unit": "s"}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": summary}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the smoke test")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    t0 = time.perf_counter()
    rc = run_one(args)
    print(f"perfbench: {args.workload} took {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    return rc


if __name__ == "__main__":
    sys.exit(main())
