"""Tests of the benchmark's own machinery on a tiny graph.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from dataclasses import replace

import pytest

import box
import inputs
import layers
import procstat
import run

from torscrapper_spark import fixtures


# ---- /proc sampler ----

def test_read_stat_of_self():
    comm, ppid, cpu, rss = procstat.read_stat(os.getpid())
    assert comm.startswith("python")
    assert ppid == os.getppid()
    assert cpu > 0 and rss > 0


def test_classify_tree_splits_by_process_kind():
    stats = {
        10: ("python3", 1, 0.0, 0),        # the benchmark process
        11: ("java", 10, 0.0, 0),          # its JVM
        12: ("python3", 11, 0.0, 0),       # pyspark daemon
        13: ("python3", 12, 0.0, 0),       # a forked worker
        14: ("bash", 10, 0.0, 0),          # a helper of the driver
        15: ("python3", 14, 0.0, 0),       # python not under a JVM
        99: ("java", 1, 0.0, 0),           # outside the tree
    }
    assert procstat.classify_tree(10, stats) == {
        10: "driver", 11: "jvm", 12: "pyworker", 13: "pyworker",
        14: "driver", 15: "driver",
    }


def test_tree_sampler_counts_a_child_born_in_the_window():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.6: pass"
    with procstat.TreeSampler(period_s=0.05) as s:
        p = subprocess.Popen([sys.executable, "-c", burn])
        p.wait(timeout=30)
        time.sleep(0.1)
    r = s.result()
    # the child's CPU is seen up to its last sample before exit
    assert 0.3 < r["cpu_s"]["driver"] < 5
    assert r["cpu_s"]["jvm"] == 0 and r["cpu_s"]["pyworker"] == 0
    assert r["peak_rss_bytes"] > 0 and r["samples"] >= 3


# ---- box-derived session ----

def test_heap_from_ram_and_refusal():
    assert box.heap_mb(16000) == 4000
    assert box.heap_mb(64000) == box.HEAP_MAX_MB
    with pytest.raises(RuntimeError):
        box.heap_mb(900)


def test_workers_get_the_checkout_on_their_path():
    assert box.ROOT in os.environ["PYTHONPATH"].split(os.pathsep)
    assert os.environ["TMPDIR"].startswith(box.WORK)


# ---- golden gate ----

def test_golden_of_synthetic_fetch_ignores_image_size():
    cfg = replace(fixtures.TINY, img_sizes=(16, 32))
    tables = fixtures.generate_all(cfg)
    ccfg = run_cfg()
    full = inputs.golden_trace(tables["pagestore"], tables, ccfg)
    small = fixtures.generate_pagestore(replace(cfg, **inputs.GOLDEN_IMG))
    assert inputs.trace_matches(full, inputs.golden_trace(small, tables, ccfg))


def test_trace_gate_rejects_a_reordered_trace():
    tables = fixtures.generate_all(fixtures.TINY)
    golden = inputs.golden_trace(tables["pagestore"], tables, run_cfg())
    assert inputs.trace_matches(golden.sample(frac=1, random_state=1), golden)
    bad = golden.copy()
    bad.loc[[0, 1], "url"] = bad.loc[[1, 0], "url"].to_numpy()
    assert not inputs.trace_matches(bad, golden)
    assert not inputs.trace_matches(golden.iloc[:-1], golden)


def run_cfg(**kw):
    from torscrapper_spark.plans.crawl import CrawlConfig

    return CrawlConfig(**{"max_waves": 2, "default_budget": 8,
                          "bloom_shards": 4, "bloom_bits": 1 << 14, **kw})


# ---- event-log reader ----

def _ev(**kw):
    return json.dumps(kw) + "\n"


def test_event_log_groups_jobs_by_label(tmp_path):
    desc = {"spark.job.description": "tableio:write:seen"}
    log = tmp_path / "app"
    log.write_text(
        _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 5,
            "Stage IDs": [0], "Properties": desc})
        + _ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 6,
              "Stage IDs": [1, 0], "Properties": {}})
        + _ev(Event="SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 7,
              "Stage IDs": [2], "Properties": {"spark.job.description": "bench:x"}})
        + _ev(Event="SparkListenerJobStart", **{"Job ID": 3, "Submission Time": 99,
              "Stage IDs": [3], "Properties": desc})
        + "".join(
            _ev(Event="SparkListenerTaskEnd", **{"Stage ID": sid, "Task Metrics": {
                "Executor Run Time": 1500,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}})
            for sid in (0, 0, 1, 2, 3)
        )
    )
    ev = layers.read_event_log(str(log), [(0, 4), (5, 50)])
    assert ev["total"] == 2 and ev["labelled"] == 1 and ev["bench_jobs"] == 1
    assert ev["jobs"] == {"write_seen": 1, "other": 1}
    # stage 0 belongs to the job that first listed it
    assert ev["tasks"] == {"write_seen": 2, "other": 1}
    assert ev["run_s"] == {"write_seen": 3.0, "other": 1.5}
    assert ev["shuffle_bytes"] == {"write_seen": 20, "other": 10}


def test_seen_metrics_arithmetic():
    stats = [{"candidates": 100, "positives": 30, "pids": 2},
             {"candidates": 300, "positives": 90, "pids": 4}]
    manifests = [{"new_urls": 80}, {"new_urls": 220}]
    m = layers.seen_metrics(stats, manifests, shards=4)
    assert m == {"candidates": 200.0, "positives": 60.0, "new": 150.0,
                 "positive_frac": 0.3, "pid_touched_frac": 0.75}


# ---- a traced tiny crawl, end to end ----

@pytest.fixture(scope="module")
def traced_tiny(spark, event_dir, tmp_path_factory):
    ccfg = run_cfg(max_waves=3, compact_every=2)
    graph_dir = inputs.prepare(fixtures.TINY, ccfg, True,
                               out=str(tmp_path_factory.mktemp("inputs")))
    tables = run.load_inputs(spark, graph_dir, "store", fixtures.TINY)
    sample = run.crawl_once(spark, str(tmp_path_factory.mktemp("store")), tables,
                            ccfg, inputs.read_golden(graph_dir), trace=True)
    # the event log is complete once the context has stopped
    spark.stop()
    events = layers.read_event_log(layers.event_log_file(event_dir),
                                   [sample["window_ms"]])
    return sample, events


def test_traced_crawl_labels_most_jobs(traced_tiny):
    _sample, events = traced_tiny
    assert events["total"] > 0
    assert events["labelled"] / events["total"] > 0.5
    for g in ("materialize", "write_seen", "write_frontier", "write_filter",
              "write_trace", "compact"):
        assert events["jobs"].get(g, 0) >= 1, g
    # the seen-stats aggregates (one per wave, each one or more AQE jobs)
    # are the tracer's own and never counted as engine jobs
    assert events["bench_jobs"] >= 2


def test_traced_crawl_records_layer_calls(traced_tiny):
    sample, _events = traced_tiny
    calls = sample["calls"]
    # wave 1 runs in the untimed first call; waves 2 and 3 are timed
    assert len(sample["wave_secs"]) == 2
    assert sample["init_state_s"] > 0
    assert "init_state" not in calls
    assert len(calls["materialize"]) == 2
    assert len(calls["commit"]) == 2
    assert len(calls["compact"]) == 1
    for t in ("seen", "frontier", "filter", "trace"):
        assert len(calls[f"write.{t}"]) == 2, t
        assert all(r["bytes"] > 0 for r in calls[f"write.{t}"]), t
    assert sample["cpu_s"]["jvm"] > 0 and sample["cpu_s"]["pyworker"] > 0
    assert sample["fetched"] > 0 and sample["seen_new"] > 0


def test_seen_stats_bound_the_true_duplicates(traced_tiny):
    sample, _events = traced_tiny
    assert len(sample["seen_stats"]) == 2
    for st, m in zip(sample["seen_stats"], sample["manifests"][1:]):
        dups = st["candidates"] - int(m["new_urls"])
        # a probabilistic prefilter has no false negatives
        assert dups <= st["positives"] <= st["candidates"]
        assert 0 <= st["pids"] <= 4
