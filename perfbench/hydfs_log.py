"""``hydfs_log``: a closed-loop HyDFS append log, one client.

Each round runs a fixed op script against a fresh table: ``create``
with a seeded base, then ``A`` single-file appends followed by one read,
repeated until ``D`` appends are pending, then ``merge`` and one more
read. A read is ``get()`` (builds the lazy base ∪ appends view) plus one
aggregate: ``count(*)`` and a decimal sum of a per-row crc32 over every
column, checked against the generated log. Rounds repeat until the
run's time is used up (at least ``MIN_ROUNDS``); every round sees the
same inputs.
"""

from __future__ import annotations

import os
import time
import traceback
from statistics import fmean

import numpy as np

from perfbench import gen
from perfbench.common import median, pct

FULL = {"base_rows": 20_000, "append_rows": 200, "A": 4, "D": 8}
SMOKE = {"base_rows": 2_000, "append_rows": 50, "A": 2, "D": 4}
MIN_ROUNDS = 2


def _disk_bytes(d: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _user_bytes(pdf) -> int:
    """Raw size of the rows as a user holds them: two 8-byte numbers
    and the category's UTF-8 bytes."""
    return int(16 * len(pdf) + pdf["category"].str.len().sum())


class _Run:
    def __init__(self, ctx, cfg):
        from distributed_file_system_with_stream_processing_spark.dfs import TableStore

        self.ctx, self.cfg = ctx, cfg
        self.spark, self.tr = ctx.spark, ctx.tracer
        self.store = TableStore(self.spark, os.path.join(ctx.work, "store"))
        self.attempted = self.failed = 0
        self.appends: list[float] = []
        self.creates: list[float] = []
        self.merges: list[float] = []
        self.reads: list[dict] = []
        self.scripts: list[float] = []
        self.bytes_ratio: dict[str, float] = {}

    def stage(self):
        """Generate the seeded log and build its DataFrames."""
        rng = np.random.default_rng(self.ctx.seed)
        cfg = self.cfg
        base = gen.log_rows(rng, 0, cfg["base_rows"])
        batches = [
            gen.log_rows(rng, cfg["base_rows"] + i * cfg["append_rows"], cfg["append_rows"])
            for i in range(cfg["D"])
        ]
        mk = lambda pdf: self.spark.createDataFrame(pdf, gen.LOG_SCHEMA)  # noqa: E731
        self.base_df, self.batch_dfs = mk(base), [mk(b) for b in batches]
        # running (count, checksum) after the base and after each append
        n, h = gen.row_hash(base)
        self.expect = [(n, h)]
        for b in batches:
            bn, bh = gen.row_hash(b)
            n, h = n + bn, h + bh
            self.expect.append((n, h))
        self.user_bytes = [_user_bytes(base)]
        for b in batches:
            self.user_bytes.append(self.user_bytes[-1] + _user_bytes(b))

    def warm(self):
        """Create a small table, append to it and read it back."""
        name = "warm"
        self.store.create(name, self.batch_dfs[0])
        self.store.append(name, self.batch_dfs[1])
        self.store.get(name).selectExpr(*gen.CHECKSUM_EXPRS).collect()
        self.store.drop(name)

    # -- timed ops ---------------------------------------------------------

    def _op(self, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 — a failed op counts into error_ratio
            self.failed += 1
            raise

    def read(self, name: str, depth: int, n_appended: int, trace: str) -> tuple:
        tr = self.tr

        def do():
            t0 = time.perf_counter()
            with tr.span("dfs.get", "dfs", trace):
                df = self.store.get(name)
            t1 = time.perf_counter()
            with tr.span("dfs.read_exec", "dfs", trace, jobs=True) as sp:
                row = df.selectExpr(*gen.CHECKSUM_EXPRS).collect()[0]
            t2 = time.perf_counter()
            got = (int(row["n"]), int(row["h"]))
            rec = {"depth": depth, "build": t1 - t0, "exec": t2 - t1}
            if sp is not None:
                rec["counts"] = dict(sp.counts)
            if got != self.expect[n_appended]:
                self.failed += 1
            self.reads.append(rec)
            return got

        return self._op(do)

    def script(self, r: int):
        cfg, tr, st = self.cfg, self.tr, self.store
        name, trace = f"log{r}", f"round{r}"
        t0 = time.perf_counter()
        with tr.span("hydfs.script", "bench", trace):
            a = time.perf_counter()
            with tr.span("dfs.create", "dfs", trace):
                self._op(lambda: st.create(name, self.base_df))
            self.creates.append(time.perf_counter() - a)
            pending = 0
            while pending < cfg["D"]:
                for _ in range(cfg["A"]):
                    if pending >= cfg["D"]:
                        break
                    df = self.batch_dfs[pending]
                    a = time.perf_counter()
                    with tr.span("dfs.append", "dfs", trace):
                        self._op(lambda: st.append(name, df))
                    self.appends.append(time.perf_counter() - a)
                    pending += 1
                before = self.read(name, pending, pending, trace)
            tdir = os.path.join(st.root, name)
            self.bytes_ratio["before_merge"] = _disk_bytes(tdir) / self.user_bytes[pending]
            a = time.perf_counter()
            with tr.span("dfs.merge", "dfs", trace, jobs=True) as sp:
                self._op(lambda: st.merge(name))
            self.merges.append(time.perf_counter() - a)
            if sp is not None:
                self.merge_counts = dict(sp.counts)
            after = self.read(name, 0, pending, trace)
            if after != before:
                self.failed += 1
            self.bytes_ratio["after_merge"] = _disk_bytes(tdir) / self.user_bytes[pending]
        self.scripts.append(time.perf_counter() - t0)
        st.drop(name)


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
    with ctx.tracer.span("setup.warm", "bench", "setup"):
        r.warm()
    warm_s = time.perf_counter() - t0

    # after MIN_ROUNDS, a round starts only if it can end within the
    # run's time
    t_end = time.perf_counter() + ctx.seconds
    rnd = 0
    while rnd < MIN_ROUNDS or time.perf_counter() + r.scripts[-1] <= t_end:
        try:
            r.script(rnd)
        except Exception:  # noqa: BLE001 — counted in r.failed; stop the loop
            traceback.print_exc()
            break
        rnd += 1

    read_s = [x["build"] + x["exec"] for x in r.reads]
    e2e = {
        "latency_mean_ms": (1000 * fmean(read_s), "ms"),
        "latency_p50_ms": (1000 * pct(read_s, 50), "ms"),
        "latency_p90_ms": (1000 * pct(read_s, 90), "ms"),
        "work_s": (median(r.scripts), "s"),
    }
    report = {
        "append_p50_ms": (1000 * pct(r.appends, 50), "ms"),
        "append_p95_ms": (1000 * pct(r.appends, 95), "ms"),
        "read_p50_s": (pct(read_s, 50), "s"),
        "merge_s": (median(r.merges), "s"),
        "hydfs_script_s": (median(r.scripts), "s"),
        "rounds": (rnd, "count"),
        "appends": (len(r.appends), "count"),
        "reads": (len(r.reads), "count"),
    }
    deep = [x for x in r.reads if x["depth"] == cfg["D"]]
    depths = np.array([x["depth"] for x in r.reads], dtype=float)
    builds = np.array([x["build"] for x in r.reads])
    slope = float(np.polyfit(depths, builds, 1)[0]) if len(set(depths)) > 1 else 0.0
    layer = {
        "dfs.create_s": (median(r.creates), "s"),
        "dfs.append_s": (median(r.appends), "s"),
        "dfs.get_build_s": (median(builds), "s"),
        "dfs.get_build_s_per_pending": (slope, "s"),
        "dfs.read_exec_s": (median([x["exec"] for x in r.reads]), "s"),
        "dfs.merge_s": (median(r.merges), "s"),
        "dfs.bytes_per_user_byte": (r.bytes_ratio["before_merge"], "ratio"),
        "dfs.bytes_per_user_byte_merged": (r.bytes_ratio["after_merge"], "ratio"),
    }
    if ctx.tracer.enabled:
        c = deep[-1].get("counts", {})
        mc = getattr(r, "merge_counts", {})
        layer.update(
            {
                "dfs.read_jobs": (c.get("jobs", 0), "count"),
                "dfs.read_tasks": (c.get("tasks", 0), "count"),
                "dfs.merge_jobs": (mc.get("jobs", 0), "count"),
                "dfs.merge_tasks": (mc.get("tasks", 0), "count"),
            }
        )
    return {
        "setups": setups,
        "warm_s": warm_s,
        "e2e": e2e,
        "report": report,
        "layer": layer,
        "attempted": r.attempted,
        "failed": r.failed,
    }
