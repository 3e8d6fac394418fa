"""bench.py's box-derived settings and its repeat summary (no Spark)."""

import pytest

import bench


@pytest.mark.parametrize(
    "cpus, pair", [(1, (1, 4)), (4, (1, 4)), (16, (4, 16)), (18, (4, 16))]
)
def test_scaling_pair_fits_the_box(cpus, pair):
    assert bench.scaling_pair(cpus) == pair


@pytest.mark.parametrize(
    "spec, mb", [("8g", 8192), ("512M", 512), ("16G", 16384), (str(2 << 30), 2048)]
)
def test_heap_mb_parses_jvm_sizes(spec, mb):
    assert bench.heap_mb(spec) == mb


def test_heap_at_or_above_memtotal_is_refused():
    total_mb = 16093  # a 15.7 GB host
    bench.check_heap("8g", total_mb)
    for spec in ("16g", f"{total_mb}m"):
        with pytest.raises(RuntimeError, match="does not fit"):
            bench.check_heap(spec, total_mb)


def test_summarize_reports_median_not_best():
    assert bench.summarize([3.0, 1.0, 2.0]) == {"median": 2.0, "spread": 2.0}
    assert bench.summarize([5.0]) == {"median": 5.0, "spread": 0.0}
