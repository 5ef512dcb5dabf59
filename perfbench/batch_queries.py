"""``batch_queries``: registry queries over fixed generated tables,
noop sink.

After one warm-up query come one cold pass and then warm passes over
``QUERIES``, until the run's time is used up (at least one warm pass).
Each query is timed in two parts: the registry call ``QUERIES[q]``
(plan build, including any eager driver-side work) and the DataFrame
action (``write.format("noop")``). The seed sets the order of the
queries within each pass. Outside the timed region, each query's cold
DataFrame is collected once and compared with its DuckDB oracle;
``bpe_train_merges`` has no oracle and is compared with the hash in
``expected_hashes.json``.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time
import traceback
from statistics import fmean

import numpy as np

from perfbench import gen
from perfbench.common import median, pct

# Plain SQL shapes (q1, q5, events_sessionize), the streaming-op batch
# twin (rs_running_agg), the trained-model cache (ann_ivf_trained) and
# the BPE driver loop (bpe_train_merges).
QUERIES = (
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "events_sessionize",
    "rs_running_agg",
    "ann_ivf_trained",
    "bpe_train_merges",
)
WARMUP_QUERY = "q6_forecast_revenue"
MIN_WARM_PASSES = 1
HASHED = ("bpe_train_merges",)
FULL = {"sf": 0.01, "docs": 500, "vecs": 500}
SMOKE = {"sf": 0.001, "docs": 100, "vecs": 100}
HASH_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_hashes.json")


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if v is None or isinstance(v, (bool, int)):
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return str(v)


def _rows(cols, rows) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


def rows_hash(df) -> str:
    rows = _rows(df.columns, [tuple(r) for r in df.collect()])
    return hashlib.sha256(repr((sorted(df.columns), rows)).encode()).hexdigest()


def _oracle_ok(df, con, sql: str) -> bool:
    """Same columns and the same row multiset (floats rounded) as the
    DuckDB oracle over the same parquet files."""
    res = con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    s_rows = [tuple(r) for r in df.collect()]
    return sorted(df.columns) == sorted(d_cols) and _rows(df.columns, s_rows) == _rows(
        d_cols, d_rows
    )


class _Run:
    def __init__(self, ctx, cfg):
        from distributed_file_system_with_stream_processing_spark.plans.registry import (
            ORACLES,
            QUERIES as REGISTRY,
        )

        self.ctx, self.cfg = ctx, cfg
        self.spark, self.tr = ctx.spark, ctx.tracer
        self.registry, self.oracles = REGISTRY, ORACLES
        self.sf_dir = os.path.join(ctx.work, "tables")
        self.samples: dict[str, list[dict]] = {q: [] for q in QUERIES}
        self.passes: list[float] = []
        self.attempted = self.failed = 0

    def stage(self):
        """Generate the fixed tables and write them as parquet."""
        cfg = self.cfg
        tables = gen.batch_tables(cfg["sf"], cfg["docs"], cfg["vecs"])
        gen.write_tables(tables, self.sf_dir)

    def warm(self):
        df = self.registry[WARMUP_QUERY](self.spark, self.sf_dir)
        df.write.format("noop").mode("overwrite").save()

    def query(self, q: str, kind: str, trace: str):
        tr = self.tr
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            with tr.span(f"plans.{q}", "plans", trace, jobs=True) as sp_b:
                df = self.registry[q](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            plan_s = 0.0
            if tr.enabled:
                # force Catalyst planning on its own, so the action's
                # time is execution (the noop write plans again, from
                # the cached analyzed plan)
                with tr.span(f"plans.{q}.plan", "plans", trace):
                    a = time.perf_counter()
                    df._jdf.queryExecution().executedPlan()
                    plan_s = time.perf_counter() - a
            t2 = time.perf_counter()
            with tr.span(f"exec.{q}", "plans", trace, jobs=True) as sp_e:
                df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        except Exception:  # noqa: BLE001 — a failed query counts into error_ratio
            traceback.print_exc()
            self.failed += 1
            return None
        rec = {"kind": kind, "build": t1 - t0, "plan": plan_s, "exec": t3 - t2}
        if sp_b is not None:
            rec["build_counts"], rec["exec_counts"] = dict(sp_b.counts), dict(sp_e.counts)
        self.samples[q].append(rec)
        return df

    def one_pass(self, order, kind: str, n: int) -> dict:
        t0 = time.perf_counter()
        dfs = {}
        with self.tr.span(f"pass.{kind}{n}", "bench", f"{kind}{n}"):
            for q in order:
                dfs[q] = self.query(q, kind, f"{kind}{n}")
        self.passes.append(time.perf_counter() - t0)
        return dfs

    def check(self, dfs: dict) -> None:
        import duckdb

        with open(HASH_FILE) as fh:
            hashes = json.load(fh)["smoke" if self.ctx.smoke else "full"]
        con = duckdb.connect()
        try:
            for name in os.listdir(self.sf_dir):
                t = name.removesuffix(".parquet")
                con.execute(
                    f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.sf_dir, name)}')"
                )
            for q, df in dfs.items():
                if df is None:
                    continue
                self.attempted += 1
                with self.tr.span(f"check.{q}", "bench", "check"):
                    if q in HASHED:
                        h = rows_hash(df)
                        ok = h == hashes.get(q)
                        if not ok:
                            print(f"perfbench: {q} hash {h}", file=sys.stderr)
                    else:
                        ok = _oracle_ok(df, con, self.oracles[q])
                if not ok:
                    print(f"perfbench: {q} output differs from its oracle", file=sys.stderr)
                    self.failed += 1
        finally:
            con.close()


def run(ctx) -> dict:
    cfg = SMOKE if ctx.smoke else FULL
    r = _Run(ctx, cfg)
    setups = []
    for _ in range(ctx.setup_reps):
        t0 = time.perf_counter()
        with ctx.tracer.span("setup.stage", "bench", "setup"):
            r.stage()
        setups.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    with ctx.tracer.span("setup.warm", "bench", "setup", jobs=True):
        r.warm()
    warm_s = time.perf_counter() - t0

    rng = np.random.default_rng(ctx.seed)
    t_end = time.perf_counter() + ctx.seconds
    cold = r.one_pass([QUERIES[i] for i in rng.permutation(len(QUERIES))], "cold", 0)
    r.check(cold)
    n = 0
    while n < MIN_WARM_PASSES or time.perf_counter() < t_end:
        r.one_pass([QUERIES[i] for i in rng.permutation(len(QUERIES))], "warm", n)
        n += 1

    warm = [s for q in QUERIES for s in r.samples[q] if s["kind"] == "warm"]
    warm_lat = [s["build"] + s["plan"] + s["exec"] for s in warm]
    cold_s, warm_passes = r.passes[0], r.passes[1:]
    e2e = {
        # one sample is one warm pass: the latency of the whole set
        "latency_mean_ms": (1000 * fmean(warm_passes), "ms"),
        "latency_p50_ms": (1000 * pct(warm_passes, 50), "ms"),
        "latency_p90_ms": (1000 * pct(warm_passes, 90), "ms"),
        "work_s": (cold_s, "s"),
    }
    report = {
        "batch_cold_s": (cold_s, "s"),
        "batch_warm_s": (median(warm_passes), "s"),
        "query_warm_p50_ms": (1000 * pct(warm_lat, 50), "ms"),
        "query_warm_p90_ms": (1000 * pct(warm_lat, 90), "ms"),
        "warm_passes": (n, "count"),
    }
    layer: dict = {}
    tot = {k: 0.0 for k in ("cold_build", "cold_plan", "cold_exec", "warm_build", "warm_plan", "warm_exec")}
    tasks = shuffle = failed_tasks = 0
    for q in QUERIES:
        for kind in ("cold", "warm"):
            ss = [s for s in r.samples[q] if s["kind"] == kind]
            if not ss:
                continue
            for part in ("build", "plan", "exec"):
                v = median([s[part] for s in ss])
                tot[f"{kind}_{part}"] += v
                if part != "plan":
                    layer[f"plans.{q}.{kind}_{part}_s"] = (v, "s")
        for s in r.samples[q]:
            if "exec_counts" in s:
                for c in (s["build_counts"], s["exec_counts"]):
                    tasks += c["tasks"]
                    shuffle += c["shuffle_write_bytes"]
                    failed_tasks += c["failed_tasks"]
        cold_s_ = [s for s in r.samples[q] if s["kind"] == "cold" and "build_counts" in s]
        if cold_s_:
            layer[f"plans.{q}.build_jobs"] = (cold_s_[0]["build_counts"]["jobs"], "count")
    for k, v in tot.items():
        kind, part = k.split("_")
        layer[f"plans.{part}_s_{kind}"] = (v, "s")
    if ctx.tracer.enabled:
        layer["plans.exec_tasks"] = (tasks, "count")
        layer["plans.shuffle_write_bytes"] = (shuffle, "bytes")
        layer["plans.failed_tasks"] = (failed_tasks, "count")
    return {
        "setups": setups,
        "warm_s": warm_s,
        "e2e": e2e,
        "report": report,
        "layer": layer,
        "attempted": r.attempted,
        "failed": r.failed,
    }
