"""Shared pieces of the benchmark: the Spark session, the span tracer,
Spark job/stage counts and percentile helpers.

All timing is taken here, from outside the package: spans wrap calls
into the package's public API, and counts come from Spark's status
tracker and the driver UI's local REST API.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "distributed_file_system_with_stream_processing_spark"
SHUFFLE_PARTITIONS = 4  # also the stream's state-store partition count
LAYERS = ("session", "dfs", "sources", "streaming", "sinks", "plans", "bench")


def cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else min(4, os.cpu_count() or 1)


def prepare_env(work: str) -> None:
    """Process environment that must be in place before the JVM starts:
    Python workers import the package from the checkout, and Spark,
    the JVM and Python keep scratch files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    import tempfile

    tempfile.tempdir = tmp


def start_session(app: str):
    """``session.get_spark`` at ``local[cpus]``; returns (spark, seconds)."""
    from distributed_file_system_with_stream_processing_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=app, master=f"local[{cpus()}]", shuffle_partitions=SHUFFLE_PARTITIONS
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sequence."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no samples")
    k = max(0, min(len(v) - 1, math.ceil(q / 100.0 * len(v)) - 1))
    return float(v[k])


def median(values) -> float:
    v = sorted(values)
    n = len(v)
    if not n:
        raise ValueError("median of no samples")
    return float(v[n // 2]) if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2.0


# -- tracing ----------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    trace: str
    counts: dict = field(default_factory=dict)


class Tracer:
    """Spans recorded around calls into each layer, kept in memory and
    written out at the end. Disabled, it records nothing and costs one
    attribute test per call site.

    A span opened with ``jobs=True`` runs its Spark work under its own
    job group, so the jobs, tasks, failed tasks and shuffle bytes it
    caused are counted at the boundary where they happened."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self.t0 = time.perf_counter()
        self.epoch0 = time.time()

    def _new_id(self) -> int:
        with self._lock:
            self._next += 1
            return self._next

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, trace: str = "run", jobs: bool = False):
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        sid = self._new_id()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sc = self.spark.sparkContext
        old = sc.getLocalProperty("spark.jobGroup.id") if jobs else None
        if jobs:
            sc.setJobGroup(f"pb-{sid}", name)
        stack.append(sid)
        rec = Span(sid, name, layer, 0.0, 0.0, parent, trace)
        self.overhead_s += time.perf_counter() - c0
        rec.start = time.perf_counter()
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            c1 = time.perf_counter()
            stack.pop()
            if jobs:
                sc.setLocalProperty("spark.jobGroup.id", old)
                rec.counts.update(job_counts(self.spark, f"pb-{sid}"))
            with self._lock:
                self.spans.append(rec)
            self.overhead_s += time.perf_counter() - c1

    def add(self, name, layer, start, end, parent=None, trace="run", **counts) -> int:
        """Record a span rebuilt after the fact (e.g. trigger phases)."""
        if not self.enabled:
            return 0
        sid = self._new_id()
        with self._lock:
            self.spans.append(Span(sid, name, layer, start, end, parent, trace, counts))
        return sid

    def wall_to_perf(self, epoch_s: float) -> float:
        return self.t0 + (epoch_s - self.epoch0)

    def self_times(self) -> dict[str, float]:
        """Per layer: span durations minus the part of each span's
        interval that its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
                a, b = max(c.start, s.start), min(c.end, s.end)
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s.layer] = out.get(s.layer, 0.0) + max(0.0, (s.end - s.start) - covered)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def job_counts(spark, group: str) -> dict:
    """Jobs, tasks and failed tasks of a job group (status tracker),
    and its shuffle write bytes (driver UI REST API)."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group) or []
    stages: list[int] = []
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.extend(info.stageIds)
    tasks = failed = 0
    for sid in stages:
        si = st.getStageInfo(sid)
        if si is not None and si.numTasks:
            tasks += si.numCompletedTasks
            failed += si.numFailedTasks
    return {
        "jobs": len(jobs),
        "tasks": tasks,
        "failed_tasks": failed,
        "shuffle_write_bytes": shuffle_write_bytes(spark, stages),
    }


def _rest(spark, path: str):
    sc = spark.sparkContext
    url = sc.uiWebUrl
    if not url:
        return None
    try:
        with urllib.request.urlopen(
            f"{url}/api/v1/applications/{sc.applicationId}/{path}", timeout=5
        ) as r:
            return json.loads(r.read())
    except (OSError, ValueError):
        return None


def shuffle_write_bytes(spark, stage_ids) -> int:
    total = 0
    for sid in stage_ids:
        attempts = _rest(spark, f"stages/{sid}") or []
        total += sum(int(a.get("shuffleWriteBytes", 0)) for a in attempts)
    return total


def streaming_jobs(spark, run_id: str) -> dict[int, float]:
    """batchId -> completion time (epoch s) of the last job a stream
    trigger ran, from the REST job list (job descriptions carry the
    query's runId and the batch id)."""
    out: dict[int, float] = {}
    for j in _rest(spark, "jobs?status=succeeded") or []:
        desc = j.get("description") or ""
        end = j.get("completionTime")
        if run_id not in desc or "batch = " not in desc or not end:
            continue
        try:
            batch = int(desc.split("batch = ")[1].split()[0].rstrip(","))
        except (IndexError, ValueError):
            continue
        out[batch] = max(out.get(batch, 0.0), parse_ui_time(end))
    return out


def parse_ui_time(s: str) -> float:
    """'2026-10-17T09:10:11.123GMT' or '...Z' -> epoch seconds."""
    from datetime import datetime, timezone

    s = s.replace("GMT", "").replace("Z", "")
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc).timestamp()
