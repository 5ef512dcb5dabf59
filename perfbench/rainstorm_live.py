"""``rainstorm_live``: the reference's end-to-end loop, open loop.

Source TableStore table -> ``RainStormJob.start_store_stream`` with
op1 = filter ``value >= 50`` and op2 = ``StatefulCountOp`` by
``category`` -> dest TableStore table. A generator thread appends
pre-built 1000-row batches to the source on a fixed schedule (one
append every 0.5 s, 2000 rows/s) whatever the stream does. A batch's
latency runs from its *scheduled* time to the end of the first
trigger whose end offset covers its append stamp.

Then the catch-up phase: stop the query, append a backlog of ``K``
batches, restart from the same checkpoint and time until the dest
covers the backlog. The dest must then hold, per key, ``MAX(total)``
equal to ``run_batch`` over the source and ``SUM(delta)`` equal to
that total, across the restart.
"""

from __future__ import annotations

import json
import os
import threading
import time
from statistics import fmean

import numpy as np

from perfbench import gen
from perfbench.common import median, parse_ui_time, pct, streaming_jobs

FULL = {"batch_rows": 1000, "interval_s": 0.5, "warm_batches": 1, "backlog": 6}
SMOKE = {"batch_rows": 100, "interval_s": 0.5, "warm_batches": 1, "backlog": 2}
OUT_SCHEMA = "category string, total long, delta long"
QUERY = "perfbench_rainstorm"
SRC, DST = "src", "dst"
# Far above the live window's trigger count, so no progress record
# (hence no latency sample) is dropped.
RECENT_PROGRESS = 100_000


def _trigger(prog) -> dict:
    """One ``recentProgress`` record: wall-clock span, end offset,
    rows, ``durationMs`` phases and state-store figures."""
    p = json.loads(prog.json)
    d = p.get("durationMs", {})
    end_off = (p.get("sources") or [{}])[0].get("endOffset") or {}
    if isinstance(end_off, str):
        end_off = json.loads(end_off)
    state = (p.get("stateOperators") or [{}])[0]
    start = parse_ui_time(p["timestamp"])
    return {
        "batch": p.get("batchId"),
        "start": start,
        "end": start + d.get("triggerExecution", 0) / 1000.0,
        "seq": end_off.get("seq") or "",
        "rows": int(p.get("numInputRows", 0)),
        "d": d,
        "state_rows": int(state.get("numRowsTotal", 0)),
        "state_bytes": int(state.get("memoryUsedBytes", 0)),
        "state_commit_ms": float(state.get("commitTimeMs", 0)),
    }


class _Run:
    def __init__(self, ctx, cfg):
        from distributed_file_system_with_stream_processing_spark.dfs import TableStore
        from distributed_file_system_with_stream_processing_spark.streaming import ops as O
        from distributed_file_system_with_stream_processing_spark.streaming.rainstorm import (
            RainStormJob,
        )
        from pyspark.sql import functions as F

        self.ctx, self.cfg = ctx, cfg
        self.spark, self.tr = ctx.spark, ctx.tracer
        self.root = os.path.join(ctx.work, "store")
        # serialize_appends: each batch is staged aside and published by
        # one rename, so the stream never lists a half-written batch
        self.store = TableStore(self.spark, self.root, serialize_appends=True)
        self.job = RainStormJob(
            O.TransformOp("op1", lambda df: df.filter(F.col("value") >= 50.0)),
            O.StatefulCountOp("op2", ["category"]),
        )
        self.ckpt = os.path.join(ctx.work, "ckpt")
        self.attempted = self.failed = 0
        self.appends: list[dict] = []
        self.next = 0
        self.q = None

    def stage(self):
        """Generate the seeded batches and build their DataFrames."""
        cfg = self.cfg
        n_live = max(1, int(round(self.ctx.seconds / cfg["interval_s"])))
        n = cfg["warm_batches"] + n_live + cfg["backlog"]
        rng = np.random.default_rng(self.ctx.seed)
        self.pdfs = [gen.log_rows(rng, k * cfg["batch_rows"], cfg["batch_rows"]) for k in range(n)]
        self.dfs = [self.spark.createDataFrame(p, gen.LOG_SCHEMA) for p in self.pdfs]
        self.n_live = n_live

    def start(self):
        with self.tr.span("streaming.start_store_stream", "streaming", "stream"):
            self.q = self.job.start_store_stream(
                self.spark, self.root, SRC, DST, self.ckpt, query_name=QUERY
            )

    def append(self, scheduled: float | None) -> dict:
        k = self.next
        self.next += 1
        rec = {"k": k, "scheduled": scheduled}
        self.attempted += 1
        rec["begin"] = time.time()
        try:
            with self.tr.span("dfs.append", "dfs", f"batch{k}"):
                rec["seq"] = self.store.append(SRC, self.dfs[k])
        except Exception:  # noqa: BLE001 — a failed append counts into error_ratio
            self.failed += 1
            rec["seq"] = None
        rec["end"] = time.time()
        self.appends.append(rec)
        return rec

    def warm(self):
        """Create the source and dest tables, start the query and run
        its first (slow) triggers on the warm-up batches."""
        a = time.perf_counter()
        with self.tr.span("dfs.create", "dfs", "setup"):
            self.store.create(SRC, self.spark.createDataFrame([], gen.LOG_SCHEMA))
            self.store.create(DST, self.spark.createDataFrame([], OUT_SCHEMA))
        self.create_s = (time.perf_counter() - a) / 2
        self.start()
        for _ in range(self.cfg["warm_batches"]):
            self.append(None)
        self.q.processAllAvailable()

    def live(self):
        """Open-loop generator: append k is due at t0 + k * interval."""
        interval = self.cfg["interval_s"]
        t0 = time.time() + interval
        recs: list[dict] = []

        def gen_loop():
            for k in range(self.n_live):
                due = t0 + k * interval
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                recs.append(self.append(due))

        th = threading.Thread(target=gen_loop, name="perfbench-generator")
        th.start()
        th.join()
        self.q.processAllAvailable()
        self.live_recs = recs

    def catchup(self):
        self.q.stop()
        self.q = None
        backlog = [self.append(None) for _ in range(self.cfg["backlog"])]
        t0 = time.time()
        a = time.perf_counter()
        self.start()
        self.restart_s = time.perf_counter() - a
        self.q.processAllAvailable()
        last = max(r["seq"] for r in backlog if r["seq"])
        progs = [_trigger(p) for p in self.q.recentProgress]
        cover = [t for t in progs if t["seq"] >= last]
        self.catchup_s = (min(t["end"] for t in cover) if cover else time.time()) - t0
        self.catchup_rows = self.cfg["backlog"] * self.cfg["batch_rows"]
        self.catchup_triggers = [t for t in progs if t["rows"] > 0]
        if not cover:
            self.failed += 1

    def dest_rows(self):
        """The dest log's rows, read straight from its parquet files
        (base and every published append batch), not through the engine."""
        import pandas as pd
        import pyarrow.parquet as pq

        parts = []
        for dirpath, dirs, files in os.walk(os.path.join(self.root, DST)):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in files:
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    parts.append(pq.read_table(os.path.join(dirpath, f)).to_pandas())
        return pd.concat(parts) if parts else pd.DataFrame(columns=["category", "total", "delta"])

    def check(self) -> int:
        """Per key: the dest's MAX(total) and SUM(delta) both equal
        ``run_batch`` over the appended rows, which equals the
        generator's own count. Returns the number of keys checked."""
        import pandas as pd

        sent = [p for rec, p in zip(self.appends, self.pdfs) if rec["seq"] is not None]
        src = pd.concat(sent)
        expect = src.loc[src["value"] >= 50.0, "category"].value_counts().to_dict()
        with self.tr.span("streaming.run_batch", "streaming", "check", jobs=True):
            df = self.spark.createDataFrame(src, gen.LOG_SCHEMA)
            batch = {r["category"]: r["total"] for r in self.job.run_batch(df).collect()}
        dest = self.dest_rows().groupby("category").agg(mx=("total", "max"), sd=("delta", "sum"))
        got = {k: (int(r.mx), int(r.sd)) for k, r in dest.iterrows()}
        keys = set(got) | set(batch) | set(expect)
        for key in keys:
            b = batch.get(key)
            if got.get(key) != (b, b) or b != expect.get(key):
                self.failed += 1
        self.attempted += len(keys)
        return len(keys)


def _phase_spans(tr, t: dict, jobs_end: dict, trace: str) -> None:
    """Rebuild one trigger's phase spans from its ``durationMs``."""
    d = t["d"]
    start, end = tr.wall_to_perf(t["start"]), tr.wall_to_perf(t["end"])
    top = tr.add("streaming.trigger", "streaming", start, end, None, trace, rows=t["rows"])
    cur = start
    layer = {"latestOffset": "sources", "getBatch": "sources"}
    for phase in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"):
        ms = d.get(phase, 0)
        sid = tr.add(f"streaming.{phase}", layer.get(phase, "streaming"), cur, cur + ms / 1000.0, top, trace)
        if phase == "addBatch" and t["batch"] in jobs_end:
            # the sink's driver-side commit runs after the write job ends
            job_end = min(tr.wall_to_perf(jobs_end[t["batch"]]), cur + ms / 1000.0)
            tr.add("sinks.commit", "sinks", max(cur, job_end), cur + ms / 1000.0, sid, trace)
        cur += ms / 1000.0


def run(ctx) -> dict:
    cfg = SMOKE if ctx.smoke else FULL
    ctx.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", str(RECENT_PROGRESS))
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
    warm_progress = [_trigger(p) for p in r.q.recentProgress]
    n_warm_progress = len(warm_progress)
    n_warm_busy = sum(1 for t in warm_progress if t["rows"] > 0)

    try:
        r.live()
        live_progress = [_trigger(p) for p in r.q.recentProgress][n_warm_progress:]
        run_id = str(r.q.runId)
        r.catchup()
        catch_run_id = str(r.q.runId)
        r.q.stop()
        r.q = None
        keys = r.check()
    finally:
        if r.q is not None:
            r.q.stop()

    # latency: scheduled time -> end of the first trigger covering the seq
    lat, late, missing = [], [], 0
    for rec in r.live_recs:
        late.append(rec["begin"] - rec["scheduled"])
        if rec["seq"] is None:
            continue
        cover = [t["end"] for t in live_progress if t["seq"] >= rec["seq"]]
        if not cover:
            missing += 1
            continue
        lat.append(min(cover) - rec["scheduled"])
    r.failed += missing
    busy = [t for t in live_progress if t["rows"] > 0]
    trig = [t["d"].get("triggerExecution", 0) for t in busy]
    d = lambda k: median([t["d"].get(k, 0) for t in busy])  # noqa: E731
    dest_batches = len(r.store.ls(DST)["pending_appends"])
    # every trigger that read rows should publish one dest batch
    all_busy = n_warm_busy + len(busy) + len(r.catchup_triggers)
    live_appends = [x["end"] - x["begin"] for x in r.live_recs]

    e2e = {
        "latency_mean_ms": (1000 * fmean(lat), "ms"),
        "latency_p50_ms": (1000 * pct(lat, 50), "ms"),
        "latency_p90_ms": (1000 * pct(lat, 90), "ms"),
        "work_s": (r.catchup_s, "s"),
    }
    report = {
        "stream_latency_p50_s": (pct(lat, 50), "s"),
        "stream_latency_p95_s": (pct(lat, 95), "s"),
        "catchup_rows_per_s": (r.catchup_rows / r.catchup_s, "rows/s"),
        "latency_samples": (len(lat), "count"),
        "keys_checked": (keys, "count"),
    }
    last = (live_progress or [r.catchup_triggers[-1]])[-1]
    layer = {
        "dfs.create_s": (r.create_s, "s"),
        "dfs.append_s": (median(live_appends), "s"),
        "gen.lateness_p95_s": (pct(late, 95), "s"),
        "sources.latest_offset_ms": (d("latestOffset"), "ms"),
        "sources.get_batch_ms": (d("getBatch"), "ms"),
        "streaming.trigger_ms": (pct(trig, 50), "ms"),
        "streaming.trigger_p95_ms": (pct(trig, 95), "ms"),
        "streaming.add_batch_ms": (d("addBatch"), "ms"),
        "streaming.query_planning_ms": (d("queryPlanning"), "ms"),
        "streaming.wal_commit_ms": (d("walCommit"), "ms"),
        "streaming.commit_offsets_ms": (d("commitOffsets"), "ms"),
        "streaming.rows_per_trigger": (median([t["rows"] for t in busy]), "rows"),
        "streaming.triggers": (len(live_progress), "count"),
        "streaming.idle_trigger_ratio": (
            1 - len(busy) / max(1, len(live_progress)), "ratio"),
        "streaming.state_rows": (last["state_rows"], "count"),
        "streaming.state_memory_bytes": (last["state_bytes"], "bytes"),
        "streaming.state_commit_ms": (median([t["state_commit_ms"] for t in busy]), "ms"),
        "streaming.restart_s": (r.restart_s, "s"),
        "streaming.catchup_trigger_ms": (
            median([t["d"].get("triggerExecution", 0) for t in r.catchup_triggers]), "ms"),
        "sinks.dest_batches": (dest_batches, "count"),
        "sinks.useful_ratio": (dest_batches / max(1, all_busy), "ratio"),
    }
    if ctx.tracer.enabled:
        jobs_end = {}
        for rid in (run_id, catch_run_id):
            jobs_end[rid] = streaming_jobs(ctx.spark, rid)
        for t in live_progress:
            _phase_spans(ctx.tracer, t, jobs_end[run_id], "stream")
        for t in r.catchup_triggers:
            _phase_spans(ctx.tracer, t, jobs_end[catch_run_id], "catchup")
    return {
        "setups": setups,
        "warm_s": warm_s,
        "e2e": e2e,
        "report": report,
        "layer": layer,
        "attempted": r.attempted,
        "failed": r.failed,
    }
