"""The seen check's two regimes, end to end.

``operators/seen.py::new_candidates`` checks exact broadcast
membership while the seen table fits ``spark.sql.autoBroadcastJoinThreshold``
(every tiny-graph crawl, at the default 10 MB) and probes the filter
above it. Setting the threshold to -1 forces the probe regime, so one
tiny crawl per regime and filter pins both paths to the golden trace —
and to each other: same seen set, same filter snapshot bytes per pid
(the filter is written every wave in both regimes).
"""

import pandas as pd
import pytest

from torscrapper_spark import refsim
from torscrapper_spark.plans import crawl as C
from torscrapper_spark.sources.tableio import SnapshotStore

TRACE_COLS = ["wave", "seq", "url", "depth", "status"]
TYPES = {"wave": "int64", "seq": "int64", "depth": "int64", "status": "int64"}
WAVES = 3


def _crawl(spark, tiny_dir, root, seen_filter):
    store = SnapshotStore(root)
    C.run_crawl(
        spark,
        store,
        C.load_pagestore(spark, f"{tiny_dir}/pagestore.parquet"),
        spark.read.parquet(f"{tiny_dir}/seeds.parquet"),
        spark.read.parquet(f"{tiny_dir}/robots.parquet"),
        spark.read.parquet(f"{tiny_dir}/politeness.parquet"),
        C.CrawlConfig(
            max_waves=WAVES, default_budget=5, seen_filter=seen_filter,
            bloom_shards=4, bloom_bits=1 << 14, cuckoo_buckets=1 << 10,
        ),
    )
    return store


def _trace(spark, store) -> pd.DataFrame:
    pdf = store.read_outputs(spark, "trace").orderBy("wave", "seq").toPandas()
    return pdf[TRACE_COLS].astype(TYPES).reset_index(drop=True)


def _seen(spark, store) -> set:
    return {
        (r.url_hash, r.wave_added)
        for r in store.read_upto(spark, "seen", store.last_wave()).collect()
    }


def _filter_rows(spark, store, seen_filter) -> dict:
    """{wave: sorted filter rows} — the bitmap/fingerprint bytes and
    shard meta of every wave's snapshot, keyed by pid."""
    return {
        w: sorted(tuple(r) for r in store.read(spark, seen_filter, w).collect())
        for w in range(store.last_wave() + 1)
    }


@pytest.mark.parametrize("seen_filter", ["bloom", "cuckoo"])
def test_exact_and_probe_regimes_agree_with_golden(
    spark, tiny_tables, tiny_dir, tmp_path, monkeypatch, broadcast_threshold,
    seen_filter,
):
    t = tiny_tables
    gold = refsim.simulate(
        t["pagestore"], t["seeds"], t["robots"], t["politeness"],
        max_waves=WAVES, default_budget=5,
    )
    gold_trace = gold.trace[TRACE_COLS].astype(TYPES).reset_index(drop=True)

    probe_name = "probe_cuckoo" if seen_filter == "cuckoo" else "probe_bloom"
    probe = getattr(C, probe_name)
    probe_calls = []

    def counting_probe(*a, **kw):
        probe_calls.append(1)
        return probe(*a, **kw)

    monkeypatch.setattr(C, probe_name, counting_probe)

    out = {}
    for regime, threshold in (("exact", None), ("probe", -1)):
        if threshold is not None:
            broadcast_threshold(threshold)
        probe_calls.clear()
        store = _crawl(spark, tiny_dir, str(tmp_path / regime), seen_filter)
        assert _trace(spark, store).equals(gold_trace), regime
        out[regime] = (
            len(probe_calls),
            _seen(spark, store),
            _filter_rows(spark, store, seen_filter),
        )

    exact_probes, exact_seen, exact_filter = out["exact"]
    probe_probes, probe_seen, probe_filter = out["probe"]
    assert exact_probes == 0
    assert probe_probes == WAVES  # one probe per wave, none skipped
    assert exact_seen == probe_seen
    assert sorted(exact_filter) == list(range(WAVES + 1))
    assert exact_filter == probe_filter
