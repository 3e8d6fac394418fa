"""Single-process kernel timings: the Python work inside one Arrow batch.

These run in the benchmark's own process, with no Spark, on one batch
of pages generated from the run's seed. ``fixtures.page_ms.*`` times
the synthetic network (the page generator) and is a workload cost, not
an engine cost.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

# rows per batch: the engine's Arrow batch size at 16px; at 256px the
# generator costs ~12 ms a page, so an eighth of a batch keeps the probe
# to a few seconds while still timing hundreds of rows
BATCH = {16: 2048, 256: 256}
REPEATS = 3


def _timed(fn) -> float:
    """Median seconds of ``REPEATS`` calls."""
    out = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def fetched_batch(seed: int, px: int, rows: int) -> tuple[pd.DataFrame, float]:
    """A batch of fetched rows in ``operators.fetch.FETCH_COLS`` shape and
    the generator's ms per page.

    Pages use the synthetic workload's codec rotation, so 3 in 4 are
    lossless ``zlib-rgb`` and 1 in 4 lossy ``zlib-quant6``."""
    from torscrapper_spark import fixtures
    from torscrapper_spark.operators.fetch import FETCH_COLS

    cfg = fixtures.GraphConfig(
        seed=seed, n_domains=64, pages_per_domain=max(1, rows // 64),
        img_sizes=(px,),
        fmts=("zlib-rgb", "zlib-rgb", "zlib-rgb", "zlib-quant6"),
    )
    coords = [(i, j) for i in range(cfg.n_domains)
              for j in range(cfg.pages_per_domain)][:rows]
    t0 = time.perf_counter()
    pages = [fixtures.generate_page(cfg, i, j) for i, j in coords]
    page_ms = (time.perf_counter() - t0) * 1000 / len(pages)
    pdf = pd.DataFrame(pages)
    pdf["url_hash"] = np.arange(len(pdf), dtype=np.int64)
    pdf["domain"] = [fixtures.domain_name(i) for i, _ in coords]
    pdf["depth"] = np.int32(1)
    pdf["discovered_wave"] = np.int32(1)
    pdf["status"] = np.int32(200)
    return pdf[FETCH_COLS], page_ms


def run(seed: int) -> dict:
    """Every kernel metric, by per-layer metric name."""
    from torscrapper_spark.functions import codecs, urls
    from torscrapper_spark.operators.fetch import _validate_pdf

    out: dict[str, float] = {}
    for px, rows in BATCH.items():
        pdf, page_ms = fetched_batch(seed, px, rows)
        out[f"fixtures.page_ms.{px}px"] = page_ms
        valid = _validate_pdf(pdf)
        if not bool(valid["valid"].all()):
            raise AssertionError(f"kernel batch at {px}px failed validation")
        out[f"fetch.validate_ms_per_row.{px}px"] = (
            _timed(lambda: _validate_pdf(pdf)) * 1000 / len(pdf)
        )
        if px == 256:
            imgs = list(zip(pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"]))
            out["codecs.decode_ms.256px"] = _timed(
                lambda: [codecs.decode(b, f, w, h) for b, f, w, h in imgs]
            ) * 1000 / len(imgs)
            pixels = [codecs.decode(b, f, w, h) for b, f, w, h in imgs]
            out["codecs.avg_phash_ms.256px"] = _timed(
                lambda: [codecs.avg_phash(p) for p in pixels]
            ) * 1000 / len(pixels)
        else:
            html = pdf["html"]
            links = urls.extract_links_series(html)
            hrefs = pd.Series([u for ls in links for u in ls])
            out["urls.extract_links_us"] = _timed(
                lambda: urls.extract_links_series(html)
            ) * 1e6 / len(html)
            out["urls.canonicalize_us"] = _timed(
                lambda: urls.canonicalize_series(hrefs)
            ) * 1e6 / len(hrefs)
    return out
