"""Benchmark: crawl throughput + headline query suite.

Default mode (what the driver runs):
    SPARK_GRAFT_SF_DIR=<dir holding the sf0.1 tables> python bench.py
prints ONE JSON line:
    {"metric": "frontier_urls_fetched_deduped_per_sec", "value": ...,
     "unit": "sec", "queries": {name: sec, ...}, "sf": 0.1, ...}
``value`` is the median urls/s of 3 crawls (every repeat is listed) and
each query figure is the median of 3 timed passes.

Scaling mode (BASELINE.md two-cluster-size protocol):
    python bench.py --scaling
runs the SAME crawl on the SAME input at local[N] and local[4N], with
N = max(1, cpus // 4) — (1, 4) on a 4-core box — once per fetch path:
the synthetic-network fetch over the 500k-page 256px scaling graph and
the store join over the default-mode graph. Each leg runs in its own
``--one`` subprocess; the traces of a pair must be bit-identical and
efficiency = (T_4N / T_N) / 4. One more 4N synthetic leg is launched
through ``spark-submit --py-files`` with the driver staged outside the
repo, and its trace fingerprint must equal the in-process leg's. The
command prints one JSON line and writes no file.

SPARK_GRAFT_CPUS defaults to the CPUs this process may run on and
SPARK_DRIVER_MEM to session.get_spark's 8g; a heap that does not fit in
physical memory is refused before any JVM starts.

The scaling graph is deliberately much heavier than the default-mode
graph (500k pages, 256px images): the criterion measures how the engine
scales when compute dominates — which is the regime a 10^10-URL crawl
actually runs in — not how Spark's fixed per-job latency amortizes over
a toy graph. Every timed crawl gets an untimed warmup crawl first (JIT,
whole-stage codegen, Python UDF worker spin-up are one-time costs a
long-running crawler never re-pays).

All graphs are generated deterministically from the sf tier / config
(no external data; north rule) and cached under .cache/. Pagestore
generation fans out over a Spark mapInPandas job (per-domain RNG
streams make domains independent), so even the 1M-page graph builds in
minutes and is byte-identical however many tasks build it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

HEADLINE_QUERIES = [
    "q01_scan_filter_project",
    "q02_tpch_q1",
    "q04_shuffle_join_agg",
    "q05_multi_join",
    "q12_window_rank",
    "q24_json_funcs",
    "q31_dedup_minhash_lsh",
    "q34_ann_cosine_topk",
]

# bump when the fixture generator changes so stale cached graphs rebuild
GEN_V = "v3"

# graph/fixture cache — overridable so a spark-submit deployment run
# from a copied driver script can reuse the repo's generated graphs
CACHE_DIR = os.environ.get("TS_CACHE_DIR", os.path.join(REPO, ".cache"))

# repeats per reported figure; each figure is the median of its repeats
CRAWL_REPEAT = 3
QUERY_REPEAT = 3

# session.get_spark's driver heap when SPARK_DRIVER_MEM is unset
DEFAULT_DRIVER_MEM = "8g"

PS_COLS = [
    "url", "image_id", "bytes", "w", "h", "fmt", "caption",
    "ref_caption", "phash", "ref_bytes", "html", "out_links",
]
PS_SCHEMA = (
    "url string, image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, ref_caption string, phash long, ref_bytes binary, "
    "html string, out_links array<string>"
)


def box_cpus() -> int:
    """CPUs this process may run on (the affinity mask ``nproc`` reports)."""
    return len(os.sched_getaffinity(0))


def scaling_pair(cpus: int) -> tuple[int, int]:
    """The (N, 4N) masters the scaling mode compares on a ``cpus`` box.

    4N must fit the box: local mode runs the Python workers and the
    JVM's scan/shuffle/Arrow threads on the same cores, and an
    oversubscribed 4N leg understates the scaling a real cluster (which
    gives N and 4N executors the same per-executor core budget) would
    show."""
    n = max(1, cpus // 4)
    return n, 4 * n


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb(spec: str) -> int:
    """MB in a JVM memory size such as ``8g``, ``512m`` or ``1t``."""
    s = spec.strip().lower()
    units = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    if s[-1:] in units:
        return int(float(s[:-1]) * units[s[-1]])
    return int(s) // (1024 * 1024)  # bare number: bytes


def check_heap(spec: str, total_mb: int) -> None:
    """Refuse a driver heap of ``total_mb`` or more (perfbench/box.py's
    rule): on a swap-less box such a JVM is OOM-killed mid-run instead
    of failing here with a clear error."""
    if heap_mb(spec) >= total_mb:
        raise RuntimeError(
            f"SPARK_DRIVER_MEM={spec} does not fit in this host's "
            f"{total_mb} MB of RAM; set a smaller heap"
        )


def summarize(xs) -> dict:
    """Median and spread (max - min) of repeated measurements."""
    return {
        "median": round(statistics.median(xs), 3),
        "spread": round(max(xs) - min(xs), 3),
    }


def sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def default_graph_cfg(sf: float):
    """Default-mode graph: sized off the sf tier."""
    from torscrapper_spark.fixtures import GraphConfig

    n_domains = max(50, min(4000, int(2000 * sf / 0.1)))
    # seed list scales with the graph so waves reach politeness-bounded
    # width quickly (throughput is measured on saturated waves, not the
    # ramp-up from a handful of seeds)
    return GraphConfig(
        seed=42, n_domains=n_domains, pages_per_domain=100,
        links_per_page=6, n_hot=max(3, n_domains // 100), hot_frac=0.3,
        n_seeds=n_domains, img_sizes=(16,),
    )


def scaling_graph_cfg():
    """Scaling-mode graph: compute-dominant (500k pages, 256px images).

    The scaling crawl fetches through the production-shaped mapInPandas
    fetcher (``SyntheticPagestore``): each wave costs O(wave) — fetch
    (deterministic page generation standing in for network+server),
    decode, PSNR, phash ≈ 15 ms/row of vectorized Python — instead of
    an O(store) scan of a materialized table, which is exactly how a
    10^10-URL crawl must behave (no crawler scans the whole web per
    wave). Only compressed codecs — they deflate like real photos do.
    """
    from torscrapper_spark.fixtures import GraphConfig

    return GraphConfig(
        seed=42, n_domains=2500, pages_per_domain=200, links_per_page=6,
        n_hot=25, hot_frac=0.3, n_seeds=50000, img_sizes=(256,),
        fmts=("zlib-rgb", "zlib-rgb", "zlib-rgb", "zlib-quant6"),
    )


def crawl_cfg_for(mode: str, pagestore_buckets: int):
    from torscrapper_spark.plans.crawl import CrawlConfig

    if mode == "scaling":
        # salt_buckets=8: the scaling graph has 25 hot domains holding
        # 30% of in-links, so the headline run exercises the two-phase
        # salted A11 budget top-k (semantic equivalence to the exact
        # window is pytest-pinned in test_operators.py, and traces must
        # stay bit-identical)
        return CrawlConfig(
            max_waves=4, default_budget=128, use_bloom=True,
            bloom_shards=64, bloom_bits=1 << 19, bloom_k=5,
            salt_buckets=8, pagestore_buckets=pagestore_buckets,
        )
    if mode == "store":
        # store-join pair. Budget 128: at budget 32 each wave fetched
        # ~17k tiny rows in ~9-12 s — below the per-wave fixed-cost
        # floor (scheduling + commit fsync), so adding threads could not
        # help. 6 waves: the frontier keeps widening for the whole run
        # on this graph, so waves 5-6 carry 2-3× wave 1-4's join volume
        # and each commit amortizes the fixed floor over more scan+join
        # work. 128/domain/wave is non-binding (waves average ~9
        # fetches/domain), so the budget cannot grow waves.
        return CrawlConfig(
            max_waves=6, default_budget=128, use_bloom=True,
            bloom_shards=16, bloom_bits=1 << 21, bloom_k=5,
            salt_buckets=0, pagestore_buckets=pagestore_buckets,
        )
    return CrawlConfig(
        max_waves=4, default_budget=8, use_bloom=True,
        bloom_shards=16, bloom_bits=1 << 21, bloom_k=5,
        salt_buckets=0, pagestore_buckets=pagestore_buckets,
    )


def buckets_for(cfg) -> int:
    n_pages = cfg.n_domains * cfg.pages_per_domain
    return 32 if n_pages > 500_000 else 16


def prepare_graph(spark, cfg, with_pagestore: bool = True) -> str:
    """Generate (once) a bench graph; returns its directory.

    ``with_pagestore=False`` writes only the small driver-side tables
    (seeds/robots/politeness) — the scaling bench fetches through the
    synthetic-network mapInPandas fetcher and needs no materialized
    store.

    Small tables (seeds/robots/politeness) are built driver-side; the
    pagestore fans out over a Spark mapInPandas job keyed by domain id
    (deterministic per-domain RNG streams) and each generation task
    writes its rows STRAIGHT to parquet — no repartition, no
    ``partitionBy``. A physically hash-bucketed layout was measured and
    rejected here: with ~65 KB payload rows, the ``partitionBy`` write
    forces a dynamic-partition sort whose external sorter spill-thrashed
    at ~3 MB/s committed output, and bucket-dir pruning buys nothing for
    the wave fetch join anyway (xxhash64 spreads every wave uniformly
    over all buckets — the join carries a *logical* bucket column
    computed at scan time instead; see ``plans/crawl.py``). On a real
    cluster the store would be an Iceberg table whose bucketing is a
    metadata-time layout, not an execution-time sort.
    """
    from torscrapper_spark import fixtures

    tag = hashlib.md5(
        (repr(cfg) + GEN_V + ("+ps" if with_pagestore else "")).encode()
    ).hexdigest()[:8]
    cache = os.path.join(CACHE_DIR, f"bench_graph_{tag}")
    marker = os.path.join(cache, "_DONE")
    if not os.path.exists(marker):
        tmp = cache + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        small = {
            "seeds": fixtures.generate_seeds(cfg),
            "robots": fixtures.generate_robots(cfg),
            "politeness": fixtures.generate_politeness(cfg),
        }
        fixtures.write_parquet(small, tmp)

        if with_pagestore:
            def gen(batches):
                for pdf in batches:
                    for i in pdf["id"].tolist():
                        yield fixtures.generate_pagestore_domain(cfg, int(i))[PS_COLS]

            n_tasks = min(cfg.n_domains, 256)
            (
                spark.range(cfg.n_domains)
                .repartition(n_tasks)
                .mapInPandas(gen, PS_SCHEMA)
                .write.mode("overwrite")
                .parquet(f"{tmp}/pagestore")
            )
        with open(os.path.join(tmp, "_DONE"), "w") as f:
            f.write("ok")
        shutil.rmtree(cache, ignore_errors=True)
        os.replace(tmp, cache)
    return cache


def warmup_crawl(spark, synthetic: bool = False, like=None) -> None:
    """Untimed mini-crawl: spins up Python UDF workers, JIT-compiles the
    codegen stages, and touches every operator on the timed path
    (including the synthetic-network fetcher when that is the timed
    fetch path).

    ``like``: the timed run's GraphConfig. The warmup graph copies its
    image sizes/codecs so every Python worker allocates AND
    first-touches its per-(h,w) validation scratch (~110 MB at 256px —
    operators/fetch.py) and the big-batch Arrow/codegen paths compile
    BEFORE the timed window; a 16px warmup leaves all of that to the
    timed wave 0."""
    from dataclasses import replace

    from torscrapper_spark import fixtures
    from torscrapper_spark.operators.fetch import SyntheticPagestore
    from torscrapper_spark.plans import crawl as C
    from torscrapper_spark.sources.tableio import SnapshotStore

    wcfg = fixtures.TINY
    if like is not None:
        wcfg = replace(
            fixtures.TINY,
            img_sizes=like.img_sizes,
            fmts=like.fmts,
            n_domains=40, pages_per_domain=12, n_seeds=40,
        )
    tables = fixtures.generate_all(wcfg)
    tmp = tempfile.mkdtemp(prefix="benchwarm_")
    fixtures.write_parquet(tables, tmp)
    if synthetic:
        ps = SyntheticPagestore(wcfg)
    else:
        ps = C.load_pagestore(spark, f"{tmp}/pagestore.parquet")
    cfg = C.CrawlConfig(max_waves=2, default_budget=8, use_bloom=True,
                        bloom_shards=4, bloom_bits=1 << 14, bloom_k=5)
    C.run_crawl(
        spark,
        SnapshotStore(os.path.join(tmp, "snap")),
        ps,
        spark.read.parquet(f"{tmp}/seeds.parquet"),
        spark.read.parquet(f"{tmp}/robots.parquet"),
        spark.read.parquet(f"{tmp}/politeness.parquet"),
        cfg,
    )
    shutil.rmtree(tmp, ignore_errors=True)


def run_crawl_bench(spark, graph_dir: str, crawl_cfg, synthetic_cfg=None) -> dict:
    from torscrapper_spark.operators.fetch import SyntheticPagestore
    from torscrapper_spark.plans import crawl as C
    from torscrapper_spark.sources.tableio import SnapshotStore

    from pyspark import StorageLevel

    if synthetic_cfg is not None:
        # production fetch shape: mapInPandas synthetic network,
        # O(wave) per wave — no materialized store to warm or pin
        ps = SyntheticPagestore(synthetic_cfg)
    else:
        ps = C.load_pagestore(
            spark, f"{graph_dir}/pagestore",
            buckets=crawl_cfg.pagestore_buckets,
        )
        # warm the store BEFORE the timed window: the metric is
        # steady-state crawl throughput (at real scale the store is hot
        # storage / the network, not a cold scan per wave)
        ps = ps.persist(StorageLevel.MEMORY_AND_DISK)
        # count() alone is answered from parquet stats and does NOT
        # touch the payload columns; scan them so the warmup happens
        # here
        from pyspark.sql import functions as F

        ps.select(F.sum(F.length("bytes")).alias("b")).collect()
    seeds = spark.read.parquet(f"{graph_dir}/seeds.parquet")
    robots = spark.read.parquet(f"{graph_dir}/robots.parquet")
    pol = spark.read.parquet(f"{graph_dir}/politeness.parquet")
    snap_dir = tempfile.mkdtemp(prefix="benchsnap_")
    store = SnapshotStore(snap_dir)
    t0 = time.time()
    summary = C.run_crawl(spark, store, ps, seeds, robots, pol, crawl_cfg)
    wall = time.time() - t0
    fetched = summary["fetched_total"]
    deduped = summary["seen_total"]
    if synthetic_cfg is None:
        ps.unpersist()
    return {
        "wall_sec": round(wall, 2),
        "fetched_total": fetched,
        "seen_total": deduped,
        "waves": summary["waves_run"],
        "urls_per_sec": round((fetched + deduped) / wall, 1),
        "fetched_per_sec": round(fetched / wall, 1),
        "wave_secs": summary["wave_secs"],
        "snap_dir": snap_dir,
    }


def warm_sf_tables(spark, sf_dir: str) -> None:
    """Untimed full scan of every fixture table the headline queries
    read, so the query timings measure steady-state plan execution and
    not cold parquet reads."""
    from torscrapper_spark.queries import TABLES

    for name in TABLES:
        spark.read.parquet(f"{sf_dir}/{name}.parquet").write.mode(
            "overwrite"
        ).format("noop").save()


def run_headline_queries(spark, sf_dir: str) -> dict:
    """``{query: summarize(QUERY_REPEAT timed passes)}``."""
    from torscrapper_spark.queries import registry

    reg = registry()
    out = {}
    for name in HEADLINE_QUERIES:
        fn, _sql = reg[name]
        passes = []
        for _ in range(QUERY_REPEAT):
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            passes.append(time.time() - t0)
        out[name] = summarize(passes)
    return out


def trace_fingerprint(spark, snap_dir: str) -> tuple[int, int]:
    """(row_count, order-sensitive hash) of the crawl trace."""
    from pyspark.sql import functions as F

    from torscrapper_spark.sources.tableio import SnapshotStore

    store = SnapshotStore(snap_dir)
    tr = store.read_outputs(spark, "trace")
    h = (
        tr.select(
            F.xxhash64(
                F.concat_ws("|", "wave", "seq", "url", "depth", "status")
            ).alias("h")
        )
        .agg(F.expr("bit_xor(h)").alias("s"), F.count("*").alias("n"))
        .collect()[0]
    )
    return int(h["n"]), int(h["s"])


def package_zip() -> str:
    """Zip the package for --py-files shipping."""
    pkg = os.path.join(CACHE_DIR, "torscrapper_spark_pkg")
    return shutil.make_archive(
        pkg, "zip", root_dir=REPO, base_dir="torscrapper_spark"
    )


def submit_leg_cmd(n: int, out: str, mode: str, zip_path: str,
                   stage: str) -> list:
    """spark-submit invocation for one `--one` crawl leg, with the
    driver script STAGED OUTSIDE the repo (the package import can only
    resolve from the shipped zip). --driver-memory must be a CLI flag:
    under spark-submit the driver JVM is up before any in-session conf
    is read."""
    script = os.path.join(stage, "bench_submit.py")
    shutil.copy(os.path.abspath(__file__), script)
    return [
        shutil.which("spark-submit") or "spark-submit",
        "--master", f"local[{n}]",
        "--driver-memory", os.environ.get("SPARK_DRIVER_MEM", DEFAULT_DRIVER_MEM),
        "--py-files", zip_path,
        script, "--one", str(n), out, mode,
    ]


def fresh_spark(cpus: int, shuffle_partitions: int | None = None):
    from pyspark.sql import SparkSession

    from torscrapper_spark.session import get_spark

    check_heap(os.environ.get("SPARK_DRIVER_MEM", DEFAULT_DRIVER_MEM),
               mem_total_mb())
    # the Python workers unpickle UDFs by importing torscrapper_spark,
    # so they need the checkout on their path when the bench is started
    # from another directory (under spark-submit REPO is the staged
    # script's dir and the package comes from --py-files instead)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + path if path else "")
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    if shuffle_partitions is None:
        shuffle_partitions = max(16, cpus * 2)
    return get_spark(f"local[{cpus}]", shuffle_partitions=shuffle_partitions)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or box_cpus())
    if "--one" in sys.argv:
        i = sys.argv.index("--one")
        mode = sys.argv[i + 3] if len(sys.argv) > i + 3 else "scaling"
        run_one(int(sys.argv[i + 1]), sys.argv[i + 2], mode, sf_of(sf_dir))
    elif "--scaling" in sys.argv:
        print(json.dumps(run_scaling(cpus, sf_dir)))
    else:
        print(json.dumps(run_default(cpus, sf_dir, sf_of(sf_dir))))


def run_one(n: int, out_path: str, mode: str, sf: float) -> None:
    """One scaling leg: warm up, time one crawl at local[n], write its
    figures and trace fingerprint to ``out_path``. Shuffle partitions
    are pinned identically at both parallelism levels (BASELINE.md:
    identical config apart from master)."""
    spark = fresh_spark(n, shuffle_partitions=64)
    synth = mode == "scaling"
    cfg = scaling_graph_cfg() if synth else default_graph_cfg(sf)
    graph_dir = prepare_graph(spark, cfg, with_pagestore=not synth)
    warmup_crawl(spark, synthetic=synth, like=cfg)
    r = run_crawl_bench(
        spark, graph_dir, crawl_cfg_for(mode, buckets_for(cfg)),
        synthetic_cfg=cfg if synth else None,
    )
    r["trace_fp"] = trace_fingerprint(spark, r["snap_dir"])
    # the crawl-state store is evidence-free once the fingerprint is
    # taken; leaking one per leg fills /tmp over a few runs
    shutil.rmtree(r.pop("snap_dir"), ignore_errors=True)
    with open(out_path, "w") as f:
        json.dump(r, f)


def run_leg(n: int, mode: str, sf_dir: str, submit: bool = False) -> dict:
    """Run one ``--one`` leg in its own process and return its figures.

    Every leg gets a fresh process: pyspark's JVM survives
    spark.stop(), so a second in-process session would inherit the
    first run's heap and skew the comparison. ``submit`` launches the
    leg through spark-submit (see submit_leg_cmd): the driver script is
    COPIED outside the repo and the package ships ONLY via --py-files,
    so a torscrapper_spark import succeeding proves the zip path works
    (sys.path[0] is the staged script's dir; the repo is on neither
    sys.path nor PYTHONPATH). Graphs are reused via TS_CACHE_DIR."""
    import subprocess

    fd, out = tempfile.mkstemp(suffix=".json")
    os.close(fd)
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    stage = None
    if submit:
        stage = tempfile.mkdtemp(prefix="ts_submit_")
        env["TS_CACHE_DIR"] = CACHE_DIR
        cmd = submit_leg_cmd(n, out, mode, package_zip(), stage)
    else:
        cmd = [sys.executable, os.path.abspath(__file__), "--one",
               str(n), out, mode]
    try:
        subprocess.run(cmd, check=True, env=env, cwd=stage)
        with open(out) as f:
            return json.load(f)
    finally:
        os.unlink(out)
        if stage is not None:
            shutil.rmtree(stage, ignore_errors=True)


def run_scaling(cpus: int, sf_dir: str) -> dict:
    """The (N, 4N) pair on both fetch paths plus the spark-submit leg."""
    small, big = scaling_pair(cpus)
    legs, pairs = {}, {}
    for mode, key in (("scaling", "synthetic_fetch"), ("store", "store_join")):
        legs[mode] = {n: run_leg(n, mode, sf_dir) for n in (small, big)}
        eff = round(
            legs[mode][big]["urls_per_sec"] / legs[mode][small]["urls_per_sec"] / 4,
            3,
        )
        pairs[key] = {
            "eff": eff,
            "traces_identical":
                legs[mode][small]["trace_fp"] == legs[mode][big]["trace_fp"],
            "legs": {
                f"local[{n}]": {
                    "urls_per_sec": r["urls_per_sec"],
                    "wall_sec": r["wall_sec"],
                    "wave_sec": summarize(r["wave_secs"]),
                }
                for n, r in legs[mode].items()
            },
        }
    sub = run_leg(big, "scaling", sf_dir, submit=True)
    return {
        "metric": f"scaling_efficiency_{small}_to_{big}",
        "value": pairs["synthetic_fetch"]["eff"],
        "unit": "ratio",
        "cpus": cpus,
        **pairs,
        "spark_submit": {
            "master": f"local[{big}]",
            "urls_per_sec": sub["urls_per_sec"],
            "fp_match": sub["trace_fp"] == legs["scaling"][big]["trace_fp"],
        },
    }


def run_default(cpus: int, sf_dir: str, sf: float) -> dict:
    spark = fresh_spark(cpus)
    # headline queries run FIRST (fresh JVM, warmed file cache) so their
    # timings measure plan execution, not cold-disk reads or post-crawl
    # JVM state
    warm_sf_tables(spark, sf_dir)
    queries = run_headline_queries(spark, sf_dir)
    cfg = default_graph_cfg(sf)
    graph_dir = prepare_graph(spark, cfg)
    warmup_crawl(spark, like=cfg)
    crawls = []
    for _ in range(CRAWL_REPEAT):
        r = run_crawl_bench(
            spark, graph_dir, crawl_cfg_for("default", buckets_for(cfg))
        )
        shutil.rmtree(r.pop("snap_dir"), ignore_errors=True)
        crawls.append(r)
    rate = summarize([r["urls_per_sec"] for r in crawls])
    # the repeat at the median carries the detailed crawl figures
    crawl = min(crawls, key=lambda r: abs(r["urls_per_sec"] - rate["median"]))
    return {
        "metric": "frontier_urls_fetched_deduped_per_sec",
        "value": rate["median"],
        "unit": "sec",
        "queries": {q: s["median"] for q, s in queries.items()},
        "sf": sf,
        "value_spread": rate["spread"],
        "crawl": {
            k: crawl[k]
            for k in ("wall_sec", "fetched_total", "seen_total", "waves",
                      "fetched_per_sec", "wave_secs")
        },
        "crawl_repeats": [
            {"urls_per_sec": r["urls_per_sec"], "wall_sec": r["wall_sec"]}
            for r in crawls
        ],
        "query_spread": {q: s["spread"] for q, s in queries.items()},
        "query_total_sec": round(sum(s["median"] for s in queries.values()), 3),
        "cpus": cpus,
    }


if __name__ == "__main__":
    main()
