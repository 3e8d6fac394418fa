"""Layered crawl benchmark: one closed-loop batch crawl per sample.

    python3 perfbench/run.py --workload store_wide --seed 42 --seconds 10 --trace 0

Run from the root of a checkout. One run:

1. makes the workload's graph and its golden trace from ``--seed``
   (untimed, while the JVM starts);
2. sets up three times (a fresh Spark session plus the input load);
3. crawls the workload's graph again and again, each crawl into a fresh
   snapshot store, until ``--seconds`` have passed (at least once). A
   crawl's first wave runs untimed (it warms the JIT and the Python
   workers); the sample is the rest of the crawl, resumed from the
   wave-1 snapshot. Every crawl's trace must equal the golden;
4. prints one JSON line: the end-to-end metrics (``--trace 0``), or the
   per-layer metrics (``--trace 1``: the crawls run with the layer entry
   points wrapped and an event log, then the headline queries and the
   single-process kernels are timed).

See README.md beside this file for the layer -> metric -> workload map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import replace

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_CYCLES = 3
QUERY_WARM = 2
QUERY_TIMED = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_inputs(spark, graph_dir: str, fetch: str, graph_cfg):
    """``(pagestore, seeds, robots, politeness)`` for ``run_crawl``.

    A store-join pagestore is pinned in memory and scanned once, so
    samples read a warm store rather than the disk."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from torscrapper_spark.operators.fetch import SyntheticPagestore
    from torscrapper_spark.plans import crawl as C

    if fetch == "synthetic":
        ps = SyntheticPagestore(graph_cfg)
    else:
        ps = C.load_pagestore(spark, os.path.join(graph_dir, "pagestore.parquet"))
        ps = ps.persist(StorageLevel.MEMORY_AND_DISK)
        ps.select(F.sum(F.length("bytes"))).collect()
    return (
        ps,
        *(spark.read.parquet(os.path.join(graph_dir, f"{t}.parquet"))
          for t in ("seeds", "robots", "politeness")),
    )


def crawl_once(spark, store_dir: str, tables, crawl_cfg, golden,
               trace: bool) -> dict:
    """One crawl into a fresh store, in two ``run_crawl`` calls.

    The first call runs wave 1 (with the wave-0 snapshot) untimed: it
    takes a fresh session's JIT and Python workers to a warm state. The
    timed sample is the second call, which resumes from the committed
    wave-1 snapshot and runs the remaining waves. Raises if the crawl's
    trace is not the golden. With ``trace``, each call runs under its
    own ``LayerTracer``."""
    import inputs
    import layers
    import procstat

    from torscrapper_spark.plans import crawl as C
    from torscrapper_spark.sources.tableio import SnapshotStore

    def tracer():
        return layers.LayerTracer(spark) if trace else nullcontext()

    shutil.rmtree(store_dir, ignore_errors=True)
    store = SnapshotStore(store_dir)
    t0 = time.perf_counter()
    with tracer() as first:
        C.run_crawl(spark, store, *tables, replace(crawl_cfg, max_waves=1))
    first_wave_s = time.perf_counter() - t0
    seen_before = int(store.manifest(1)["seen_total"])

    t_lo = int(time.time() * 1000)
    with tracer() as timed, procstat.TreeSampler() as sampler:
        t0 = time.perf_counter()
        summary = C.run_crawl(spark, store, *tables, crawl_cfg)
        wall = time.perf_counter() - t0
    t_hi = int(time.time() * 1000)
    trace_df = store.read_outputs(spark, "trace").select(*inputs.TRACE_COLS)
    if not inputs.trace_matches(trace_df.toPandas(), golden):
        raise AssertionError(
            f"crawl trace differs from the golden ({len(golden)} golden rows)"
        )
    last = store.last_wave()
    out = {
        "first_wave_s": first_wave_s,
        "wall": wall,
        "fetched": int(summary["fetched_total"]),
        "seen_new": int(summary["seen_total"]) - seen_before,
        "seen_total": int(summary["seen_total"]),
        "wave_secs": list(summary["wave_secs"]),
        "wave_spans": list(summary["wave_spans"]),
        # wave 1 (the untimed call's) and every timed wave
        "manifests": [store.manifest(w) for w in range(1, last + 1)],
        "state_bytes": layers.dir_usage(store_dir)[0],
        "seen_chain_dirs": store.delta_dirs_above_base("seen", last)
        + (store.base_wave("seen") is not None),
        "window_ms": (t_lo, t_hi),
        **sampler.result(),
    }
    if trace:
        out.update(init_state_s=first.calls["init_state"][0]["s"],
                   calls=timed.calls, seen_stats=timed.seen_stats)
    return out


def end_to_end(samples: list[dict], setup_s: float) -> dict:
    urls = sum(s["fetched"] + s["seen_new"] for s in samples)
    wall = sum(s["wall"] for s in samples)
    cpu = sum(sum(s["cpu_s"].values()) for s in samples)
    waves = [w for s in samples for w in s["wave_secs"]]
    return {
        "setup_s": (setup_s, "s"),
        "urls_per_s": (urls / wall, "1/s"),
        "wave_s_p50": (statistics.median(waves), "s"),
        "wave_s_max": (statistics.median(max(s["wave_secs"]) for s in samples), "s"),
        "core_s_per_kurl": (cpu / (urls / 1000), "s"),
        "state_bytes_per_url": (
            statistics.median(s["state_bytes"] / s["seen_total"] for s in samples), "B"
        ),
    }


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(samples: list[dict], events: dict, shards: int,
              setup: list[float]) -> dict:
    """Per-layer metrics of the traced samples; per-wave figures are
    means over every timed wave of every sample."""
    import layers
    import procstat

    out: dict[str, tuple[float, str]] = {}
    n = len(samples)
    waves = sum(len(s["wave_secs"]) for s in samples)
    wall = sum(s["wall"] for s in samples)
    urls = sum(s["fetched"] + s["seen_new"] for s in samples)
    out["trace.urls_per_s"] = (urls / wall, "1/s")

    cpu = {k: sum(s["cpu_s"][k] for s in samples) for k in procstat.KINDS}
    for k, v in cpu.items():
        out[f"cpu.{k}_s"] = (v / n, "s")
    out["cpu.pyworker_frac"] = (cpu["pyworker"] / (sum(cpu.values()) or 1.0), "ratio")
    out["mem.peak_rss_mb"] = (max(s["peak_rss_bytes"] for s in samples) / 2**20, "MB")
    out["host.steal_s"] = (sum(s["steal_s"] for s in samples) / n, "s")
    out["setup.first_session_s"] = (setup[0], "s")
    out["setup.cycle_s"] = (statistics.median(setup), "s")
    out["setup.first_wave_s"] = (samples[0]["first_wave_s"], "s")

    spans = [sp for s in samples for sp in s["wave_spans"]]
    for k in ("budget_select", "fetch_validate", "state_chain"):
        out[f"crawl.span.{k}_s"] = (_mean(sp.get(k, 0.0) for sp in spans), "s")
    calls = {k: [r for s in samples for r in s["calls"].get(k, [])]
             for k in ("materialize", "compact", "commit", "write.seen",
                       "write.frontier", "write.filter", "write.trace")}
    out["crawl.init_state_s"] = (_mean(s["init_state_s"] for s in samples), "s")
    out["crawl.materialize_s"] = (_mean(c["s"] for c in calls["materialize"]), "s")
    out["crawl.wall_ms_per_fetched"] = (
        1000 * wall / sum(s["fetched"] for s in samples), "ms"
    )

    after = [m for s in samples for m in s["manifests"][1:]]
    before = [m for s in samples for m in s["manifests"][:-1]]
    stats = [st for s in samples for st in s["seen_stats"]]
    for k, v in layers.seen_metrics(stats, after, shards).items():
        out[f"seen.{k}"] = (v, "ratio" if k.endswith("frac") else "count")
    out["politeness.selected_frac"] = (
        sum(int(m.get("fetched", 0)) for m in after)
        / (sum(int(m["frontier_count"]) for m in before) or 1),
        "ratio",
    )

    for t in ("seen", "frontier", "filter", "trace"):
        recs = calls[f"write.{t}"]
        out[f"tableio.write_s.{t}"] = (sum(r["s"] for r in recs) / waves, "s")
        out[f"tableio.write_bytes.{t}"] = (sum(r["bytes"] for r in recs) / waves, "B")
        out[f"tableio.write_files.{t}"] = (sum(r["files"] for r in recs) / waves, "count")
    out["tableio.compact_s"] = (sum(r["s"] for r in calls["compact"]) / n, "s")
    out["tableio.compact_bytes"] = (sum(r["bytes"] for r in calls["compact"]) / n, "B")
    out["tableio.commit_s"] = (_mean(r["s"] for r in calls["commit"]), "s")
    out["tableio.seen_chain_dirs"] = (_mean(s["seen_chain_dirs"] for s in samples), "count")

    jobs = events["total"]
    out["spark.jobs_per_wave"] = (jobs / waves, "count")
    out["spark.tasks_per_wave"] = (sum(events["tasks"].values()) / waves, "count")
    out["spark.labelled_frac"] = (events["labelled"] / (jobs or 1), "ratio")
    for g in layers.GROUPS:
        out[f"spark.executor_run_s.{g}"] = (events["run_s"].get(g, 0.0) / waves, "s")
        out[f"spark.shuffle_bytes.{g}"] = (
            events["shuffle_bytes"].get(g, 0.0) / waves, "B"
        )
    return out


def query_probe(spark, names: list[str]) -> tuple[dict, int]:
    """Median seconds of ``QUERY_TIMED`` warm passes per headline query
    over the committed sf0.001 tables, and the number of queries whose
    result differs from the DuckDB oracle (or that raised).

    Each query first runs ``QUERY_WARM`` untimed passes (the first one
    checked against its oracle): a query's first pass in a session
    costs about twice a warm one."""
    sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
    import oracle_check

    from torscrapper_spark.queries import registry

    sf_dir = os.path.join(HERE, "data", "sf0.001")
    con = oracle_check.duck_con(sf_dir)
    reg = registry()
    out, failed = {}, 0
    for name in names:
        fn, sql = reg[name]

        def run_pass() -> float:
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            return time.perf_counter() - t0

        try:
            got = fn(spark, sf_dir).toPandas()
            if oracle_check.compare(got, con.execute(sql).df()):
                failed += 1
            for _ in range(QUERY_WARM - 1):
                run_pass()
            out[f"queries.{name}_s"] = (
                statistics.median(run_pass() for _ in range(QUERY_TIMED)), "s"
            )
        except Exception:
            log(f"query {name} failed:\n{traceback.format_exc()}")
            failed += 1
            out[f"queries.{name}_s"] = (0.0, "s")
    return out, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.path.dirname(HERE)
    if not os.path.isfile(os.path.join(root, "torscrapper_spark", "__init__.py")):
        log(f"no torscrapper_spark package under {root}: run from a full checkout")
        return 2
    sys.path.insert(0, HERE)
    import box
    import inputs
    import layers

    box.prepare_env()
    workloads, query_names = inputs.load_spec()
    if args.workload not in workloads:
        log(f"unknown workload {args.workload!r}; have {sorted(workloads)}")
        return 2
    wl = workloads[args.workload]
    graph_cfg, crawl_cfg = wl.graph_cfg(args.seed), wl.crawl_cfg()
    stores = os.path.join(box.WORK, "stores")
    event_dir = os.path.join(box.WORK, "eventlog")
    shutil.rmtree(stores, ignore_errors=True)
    shutil.rmtree(event_dir, ignore_errors=True)

    # the inputs are made on a thread while the first session launches
    # its JVM; the first set-up cycle is the slowest either way
    with ThreadPoolExecutor(1) as ex:
        prep = ex.submit(inputs.prepare, graph_cfg, crawl_cfg, wl.fetch == "store",
                         os.path.join(box.WORK, "inputs"))
        setup = []
        for cycle in range(SETUP_CYCLES):
            t0 = time.perf_counter()
            last = cycle == SETUP_CYCLES - 1
            spark = box.session(event_dir if (args.trace and last) else None)
            if cycle == 0:
                t_wait = time.perf_counter()
                graph_dir = prep.result()
                t0 += time.perf_counter() - t_wait
            tables = load_inputs(spark, graph_dir, wl.fetch, graph_cfg)
            setup.append(time.perf_counter() - t0)
    golden = inputs.read_golden(graph_dir)
    log("setup cycles " + ", ".join(f"{s:.2f}s" for s in setup)
        + f"; golden has {len(golden)} fetches")

    attempted = failed = 0
    samples: list[dict] = []
    extra: dict = {}
    try:
        deadline = time.perf_counter() + args.seconds
        while not samples or time.perf_counter() < deadline:
            attempted += crawl_cfg.max_waves
            try:
                s = crawl_once(spark, os.path.join(stores, "sample"), tables,
                               crawl_cfg, golden, trace=bool(args.trace))
            except Exception:
                log(f"sample failed:\n{traceback.format_exc()}")
                failed += crawl_cfg.max_waves
                break
            samples.append(s)
            log(f"sample {len(samples)}: first wave {s['first_wave_s']:.2f}s, "
                f"timed {s['wall']:.2f}s, waves {s['wave_secs']}")

        if args.trace and samples:
            import kernels

            qm, qfailed = query_probe(spark, query_names)
            extra.update(qm)
            attempted += len(query_names)
            failed += qfailed
            # the event log is complete once the context has stopped
            spark.stop()
            events = layers.read_event_log(
                layers.event_log_file(event_dir), [s["window_ms"] for s in samples]
            )
            extra.update({k: (v, "us" if k.endswith("_us") else "ms")
                          for k, v in kernels.run(args.seed).items()})
    finally:
        box.shutdown(spark)
        shutil.rmtree(stores, ignore_errors=True)

    if not samples:
        return 1
    if args.trace:
        metrics = per_layer(samples, events, crawl_cfg.bloom_shards, setup)
        metrics.update(extra)
    else:
        # set-up: the median session + input load, plus the untimed first
        # wave that takes the engine from a fresh session to its steady
        # state
        metrics = end_to_end(
            samples, statistics.median(setup) + samples[0]["first_wave_s"]
        )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
