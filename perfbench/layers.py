"""Per-layer tracing from the benchmark's side of the layer boundaries.

``LayerTracer`` wraps the layers' public entry points where the crawl
loop looks them up (``SnapshotStore.write/compact/commit`` and
``plans.crawl.init_state/new_candidates``). Each wrapped call

* records its wall time (and, for writes and compactions, the bytes and
  files it left on disk), and
* labels the Spark jobs it launches with
  ``sc.setJobDescription("<layer>:<fn>[:table]")``, restoring the
  caller's label on return. Job descriptions are thread-local and the
  crawl writes from pool threads, so the label is set in the thread
  that makes the call.

``read_event_log`` groups an uncompressed Spark event log by those
labels. Nothing here runs in an untraced run.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict

DESC = "spark.job.description"

# job label -> metric suffix; a label outside this map counts as "other"
# (init_state runs in a crawl's untimed first call, outside any window)
LABEL_GROUPS = {
    "seen:new_candidates": "materialize",
    "tableio:write:seen": "write_seen",
    "tableio:write:frontier": "write_frontier",
    "tableio:write:filter": "write_filter",
    "tableio:write:trace": "write_trace",
    "tableio:compact:seen": "compact",
    "tableio:compact:frontier": "compact",
}
GROUPS = sorted(set(LABEL_GROUPS.values())) + ["other"]
# jobs the tracer itself launches; never counted as engine jobs
BENCH_PREFIX = "bench:"
FILTER_TABLES = ("bloom", "cuckoo")


def table_label(table: str) -> str:
    return "filter" if table in FILTER_TABLES else table


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's ``_``/``.`` side files
    are not data."""
    size = files = 0
    for d, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


class LayerTracer:
    """Wraps the layer entry points for the life of a ``with`` block."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.calls: dict[str, list[dict]] = defaultdict(list)
        self.seen_stats: list[dict] = []
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []

    # ---- labelling ----
    def _labelled(self, label: str, fn, *args, **kwargs):
        prev = self.sc.getLocalProperty(DESC)
        self.sc.setLocalProperty(DESC, label)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs), time.perf_counter() - t0
        finally:
            self.sc.setLocalProperty(DESC, prev)

    def _record(self, key: str, **rec) -> None:
        with self._lock:
            self.calls[key].append(rec)

    def _patch(self, owner, name: str, wrapper) -> None:
        self._saved.append((owner, name, getattr(owner, name)))
        setattr(owner, name, wrapper)

    # ---- wrappers ----
    def __enter__(self) -> "LayerTracer":
        from pyspark.sql import functions as F

        from torscrapper_spark.plans import crawl as C
        from torscrapper_spark.sources.tableio import SnapshotStore

        tracer = self
        write, compact, commit = (
            SnapshotStore.write, SnapshotStore.compact, SnapshotStore.commit
        )
        init_state, new_candidates = C.init_state, C.new_candidates

        def traced_write(store, df, table, wave, *a, **kw):
            t = table_label(table)
            out, dt = tracer._labelled(
                f"tableio:write:{t}", write, store, df, table, wave, *a, **kw
            )
            size, files = dir_usage(store.table_path(table, wave))
            tracer._record(f"write.{t}", s=dt, bytes=size, files=files)
            return out

        def traced_compact(store, spark, table, upto, *a, **kw):
            out, dt = tracer._labelled(
                f"tableio:compact:{table}", compact, store, spark, table,
                upto, *a, **kw,
            )
            size, files = dir_usage(os.path.join(store.root, table, out["dir"]))
            tracer._record("compact", s=dt, bytes=size, files=files)
            return out

        def traced_commit(store, wave, info):
            t0 = time.perf_counter()
            commit(store, wave, info)
            tracer._record("commit", s=time.perf_counter() - t0)

        def traced_init_state(*a, **kw):
            out, dt = tracer._labelled("crawl:init_state", init_state, *a, **kw)
            tracer._record("init_state", s=dt)
            return out

        def traced_new_candidates(*a, **kw):
            (new, probe_cache), dt = tracer._labelled(
                "seen:new_candidates", new_candidates, *a, **kw
            )
            tracer._record("materialize", s=dt)
            if probe_cache is not None:
                # over the probe cache new_candidates just filled
                row, _ = tracer._labelled(
                    "bench:seen_stats",
                    lambda: probe_cache.agg(
                        F.count(F.lit(1)).alias("candidates"),
                        F.sum(F.col("maybe_seen").cast("long")).alias("positives"),
                        F.count_distinct(
                            F.when(F.col("maybe_seen"), F.col("pid"))
                        ).alias("pids"),
                    ).collect()[0],
                )
                tracer.seen_stats.append({
                    "candidates": int(row["candidates"]),
                    "positives": int(row["positives"] or 0),
                    "pids": int(row["pids"]),
                })
            return new, probe_cache

        self._patch(SnapshotStore, "write", traced_write)
        self._patch(SnapshotStore, "compact", traced_compact)
        self._patch(SnapshotStore, "commit", traced_commit)
        self._patch(C, "init_state", traced_init_state)
        self._patch(C, "new_candidates", traced_new_candidates)
        return self

    def __exit__(self, *exc) -> None:
        for owner, name, orig in reversed(self._saved):
            setattr(owner, name, orig)
        self._saved.clear()


def seen_metrics(stats: list[dict], manifests: list[dict], shards: int) -> dict:
    """``seen.*`` per-wave means from the probe-cache stats and the
    committed manifests (``new_urls``)."""
    waves = len(stats)
    if waves == 0:
        return {"candidates": 0.0, "positives": 0.0, "new": 0.0,
                "positive_frac": 0.0, "pid_touched_frac": 0.0}
    cand = sum(s["candidates"] for s in stats)
    pos = sum(s["positives"] for s in stats)
    new = sum(int(m.get("new_urls", 0)) for m in manifests)
    return {
        "candidates": cand / waves,
        "positives": pos / waves,
        "new": new / waves,
        "positive_frac": pos / cand if cand else 0.0,
        "pid_touched_frac": sum(s["pids"] for s in stats) / (waves * shards),
    }


def event_log_file(log_dir: str) -> str:
    files = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    return files[-1]


def read_event_log(path: str, windows: list[tuple[int, int]]) -> dict:
    """Spark jobs submitted inside any ``(lo_ms, hi_ms)`` window, grouped
    by label.

    Returns ``{"jobs": {group: n}, "tasks": {group: n},
    "run_s": {group: s}, "shuffle_bytes": {group: n}, "bench_jobs": n,
    "labelled": n, "total": n}``; ``run_s`` is executor run time summed
    over the group's tasks."""
    stage_group: dict[int, str | None] = {}
    out = {k: defaultdict(float) for k in ("jobs", "tasks", "run_s",
                                           "shuffle_bytes")}
    bench_jobs = labelled = total = 0
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                t = int(ev.get("Submission Time", 0))
                if not any(lo <= t <= hi for lo, hi in windows):
                    continue
                label = (ev.get("Properties") or {}).get(DESC) or ""
                if label.startswith(BENCH_PREFIX):
                    bench_jobs += 1
                    group = None
                else:
                    total += 1
                    labelled += bool(label)
                    group = LABEL_GROUPS.get(label, "other")
                    out["jobs"][group] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                if group is None:
                    continue
                m = ev.get("Task Metrics") or {}
                out["tasks"][group] += 1
                out["run_s"][group] += m.get("Executor Run Time", 0) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                out["shuffle_bytes"][group] += sw.get("Shuffle Bytes Written", 0)
    res = {k: dict(v) for k, v in out.items()}
    res.update(bench_jobs=bench_jobs, labelled=labelled, total=total)
    return res
