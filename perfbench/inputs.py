"""Workload inputs: crawl graphs made from the seed, and their goldens.

A workload's graph is a ``fixtures.GraphConfig`` with the run's seed.
Generating it and simulating its golden trace (``refsim.simulate``) is
input preparation, not engine work, and is not timed as set-up.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, replace

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))

TRACE_COLS = ["wave", "seq", "url", "depth", "status"]

# the link stream of fixtures.generate_page is drawn before any pixel,
# so a graph's url/html columns do not depend on image size or codec;
# the golden of a synthetic-fetch workload is simulated over 8px pages
GOLDEN_IMG = {"img_sizes": (8,), "fmts": ("rgb8",)}


@dataclass(frozen=True)
class Workload:
    name: str
    fetch: str            # "store" (join a materialized pagestore) or
                          # "synthetic" (SyntheticPagestore)
    graph: dict           # GraphConfig fields, seed excluded
    crawl: dict           # CrawlConfig shape fields

    def graph_cfg(self, seed: int):
        from torscrapper_spark.fixtures import GraphConfig

        return GraphConfig(seed=seed, **_tuples(self.graph))

    def crawl_cfg(self):
        from torscrapper_spark.plans.crawl import CrawlConfig

        return CrawlConfig(**self.crawl)


def _tuples(d: dict) -> dict:
    return {k: tuple(v) if isinstance(v, list) else v for k, v in d.items()}


def load_spec():
    """``(workloads by name, headline query names)`` of workloads.json."""
    with open(os.path.join(HERE, "workloads.json")) as f:
        raw = json.load(f)
    workloads = {
        name: Workload(name=name, **spec)
        for name, spec in raw["workloads"].items()
    }
    return workloads, list(raw["queries"])


def golden_trace(pagestore: pd.DataFrame, tables: dict, crawl_cfg) -> pd.DataFrame:
    """The reference simulator's trace for one crawl shape."""
    from torscrapper_spark import refsim

    sim = refsim.simulate(
        pagestore, tables["seeds"], tables["robots"], tables["politeness"],
        max_waves=crawl_cfg.max_waves, default_budget=crawl_cfg.default_budget,
    )
    return sim.trace[TRACE_COLS].reset_index(drop=True)


def prepare(graph_cfg, crawl_cfg, with_pagestore: bool, out: str) -> str:
    """Write a graph and its golden into ``out`` (replaced); returns it.

    The dir holds ``seeds/robots/politeness.parquet``, ``golden.parquet``
    and, when ``with_pagestore``, ``pagestore.parquet`` (the table the
    store-join fetch reads)."""
    from torscrapper_spark import fixtures

    shutil.rmtree(out, ignore_errors=True)
    small = {
        "seeds": fixtures.generate_seeds(graph_cfg),
        "robots": fixtures.generate_robots(graph_cfg),
        "politeness": fixtures.generate_politeness(graph_cfg),
    }
    if with_pagestore:
        ps = small["pagestore"] = fixtures.generate_pagestore(graph_cfg)
    else:
        ps = fixtures.generate_pagestore(replace(graph_cfg, **GOLDEN_IMG))
    fixtures.write_parquet(small, out)
    golden_trace(ps, small, crawl_cfg).to_parquet(
        os.path.join(out, "golden.parquet"), index=False
    )
    return out


def read_golden(graph_dir: str) -> pd.DataFrame:
    return pd.read_parquet(os.path.join(graph_dir, "golden.parquet"))


def trace_matches(engine: pd.DataFrame, golden: pd.DataFrame) -> bool:
    """Exact crawl-order equality on (wave, seq, url, depth, status)."""
    a = engine.sort_values(["wave", "seq"])[TRACE_COLS].astype("object")
    b = golden.sort_values(["wave", "seq"])[TRACE_COLS].astype("object")
    return a.values.tolist() == b.values.tolist()
