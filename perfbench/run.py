#!/usr/bin/env python3
"""Benchmark of the pelinker_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One driver process runs local[nproc] in a
closed loop: each call starts only after the previous one returned. The
workload's inputs are built from --seed during set-up; the timed loop
repeats the workload's unit of work until --seconds have passed (and at
least a set number of times); the outputs are checked outside the timed
sections. The last line
of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (spans around calls into the engine's public functions,
a stage-by-stage replay of the link DAG and Spark's event log). The line
before it is a JSON object with the workload's own metrics, the pinned
environment and loadavg. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
from spans import Tracer  # noqa: E402

DRIVER_MEM = "6g"
# a fixed young generation and a heap committed at its full size: G1
# otherwise grows both in steps, and whether a step lands before the run
# ends made the peak RSS of identical runs differ by 20-30%
YOUNG_GEN = "1g"
LOCKED_CLUSTERS_40K_SEED42 = 2_033_372
MIN_F1 = 0.99
# the sf0.01 tables of the repo's oracle gate, shipped with the benchmark
SF_TABLES = os.path.join(HERE, "data", "sf0.01")

# the headline queries of bench.py
BENCH_QUERIES = [
    "q01_pricing_summary",
    "q02_revenue_topk",
    "q04_topk_per_group",
    "q05_modal_event_type",
    "q09_interval_overlap",
    "q12_embed_centroids",
    "q15_deterministic_sample",
    "q17_token_jaccard",
    "q18_cosine_topk",
    "q22_minhash_signatures",
    "q39_jw_pair_scores",
]

END_TO_END = {
    "setup_s": "s",
    "iter_p50_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.build_s": "s",
    "trace.iter_p50_s": "s",
    "extract.rows_out": "count",
    "extract.s": "s",
    "mentions.rows_out": "count",
    "mentions.s": "s",
    "surfaces.rows_out": "count",
    "surfaces.s": "s",
    "prefilter.pass_frac": "ratio",
    "clusters.s": "s",
    "blocking.lsh_pairs": "count",
    "blocking.compact_pairs": "count",
    "blocking.hot_buckets_dropped": "count",
    "blocking.s": "s",
    "scoring.pairs_in": "count",
    "scoring.jw_pass_frac": "ratio",
    "scoring.keys_encoded": "count",
    "scoring.edges": "count",
    "scoring.arrow_rows.jw": "count",
    "scoring.arrow_rows.encode": "count",
    "scoring.s": "s",
    "cc.path": "0drv/1dist",
    "cc.iterations": "count",
    "cc.components": "count",
    "cc.s": "s",
    "checkpoint.write_s": "s",
    "checkpoint.metrics_job_s": "s",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.resume_read_s": "s",
    "streaming.ingest_s": "s",
    "streaming.score_s": "s",
    "streaming.new_keys": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_files": "count",
    "streaming.drop_growth": "ratio",
    "streaming.compact_s": "s",
    "streaming.finalize_cc_s": "s",
    **{f"relational.{q}_s": "s" for q in BENCH_QUERIES},
    "driver.jobs": "count",
    "driver.gap_s": "s",
    "shuffle.bytes": "bytes",
    "shuffle.max_exchange_bytes": "bytes",
    "tasks.cpu_s": "s",
    "tasks.gc_s": "s",
    "spill.bytes": "bytes",
}


# ------------------------------------------------------------ environment


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def _tree_rss_bytes(root_pid: int) -> int:
    """RSS summed over root_pid and all its descendants: the driver JVM
    and the Python workers it forks."""
    parent = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            parent[int(stat.split("/")[2])] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier and p not in tree]
        tree.update(frontier)
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler(threading.Thread):
    """Peak RSS of the process tree, sampled every 0.5 s."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        """Peak RSS in MB."""
        self._stop_evt.set()
        self.join()
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
        return self.peak / 2**20


def pin_environment(work: str, cores: int) -> dict:
    """Everything the run writes stays under `work`; the driver heap is
    pinned well below host RAM. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    return {
        "master": f"local[{cores}]",
        "driver_mem": DRIVER_MEM,
        "driver_jvm_opts": jvm_opts(work),
        "spark_local_dirs": os.path.relpath(local),
    }


def jvm_opts(work: str) -> str:
    return f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms{DRIVER_MEM} -Xmn{YOUNG_GEN}"


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit
    (its Python workers go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------ run context


class Run:
    def __init__(self, args, work: str, spark, tracer: Tracer):
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.spark = spark
        self.tracer = tracer
        self.iters: list[float] = []  # wall of each timed unit of work
        self.detail: dict[str, tuple[float | None, str]] = {}
        self.checks: list[tuple[str, bool]] = []
        self.attempted = 0
        self.failed = 0
        # set-up steps after the session build, each timed; setup_s adds
        # them to the session build
        self.setup_parts: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        # span of the workload's unit of work; the link counts and input
        # the traced replay must reproduce
        self.main_span = ""
        self.parity: dict | None = None
        self.replay_pages = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def setup_step(self, name: str, body) -> None:
        """Run one set-up step (body()) and time it into setup_s."""
        t0 = time.monotonic()
        body()
        self.setup_parts[name] = time.monotonic() - t0

    def timed(self, body, min_iters: int = 1, max_iters: int | None = None) -> None:
        """Closed loop: body(i) until --seconds have passed, at least
        min_iters and at most max_iters times; each body call is one timed
        unit of work and returns its wall."""
        t_end = time.monotonic() + self.seconds
        i = 0
        while i < min_iters or (time.monotonic() < t_end and i != max_iters):
            self.iters.append(body(i))
            i += 1

    def check(self, name: str, ok: bool, ops: int = 1) -> None:
        """Record an output check; a failed one fails `ops` operations."""
        self.checks.append((name, bool(ok)))
        if not ok:
            self.failed += ops


def _distinct_clusters(clusters) -> int:
    return clusters.select("cluster_id").distinct().count()


def _pages_with_chunk(spark, n_pages: int, chunk: int, seed: int, partitions: int):
    """synth.web_pages plus a `chunk` column (page index // chunk), so one
    parquet write yields a separate input per call or drop."""
    from pyspark.sql import functions as F

    from pelinker_spark.synth import web_pages

    idx = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    return web_pages(spark, n_pages, seed=seed, n_entities=200, partitions=partitions).withColumn(
        "chunk", F.floor(idx / chunk).cast("int")
    )


# ------------------------------------------------------------ workloads


def wl_ckpt_2k_calls(run: Run) -> None:
    """Small link_pipeline calls, each on a fresh 2k-page input with a fresh
    checkpoint_dir, each followed by one resume call on the same dir."""
    from pelinker_spark.pipeline import LinkConfig, link_pipeline

    # one input per call; a cycle never takes under 5 s on 4 cores
    spark, n, calls = run.spark, 2000, run.seconds // 5 + 1
    cfg = LinkConfig()
    run.setup_step(
        "materialize_s",
        lambda: _pages_with_chunk(spark, n * calls, n, run.seed, 4)
        .repartition(calls, "chunk")
        .write.partitionBy("chunk")
        .parquet(run.path("input")),
    )
    fresh, resume = [], []

    def cycle(i: int) -> float:
        pages = spark.read.parquet(run.path("input", f"chunk={i}"))
        ck = run.path(f"ckpt{i}")
        t0 = time.monotonic()
        with run.tracer.span("link_pipeline.fresh"):
            r = link_pipeline(spark, pages, cfg=cfg, checkpoint_dir=ck)
            n_fresh = _distinct_clusters(r.clusters)
        t1 = time.monotonic()
        counts = {"edges": r.edges.count(), "clusters": n_fresh}
        rows_before = spark.read.parquet(os.path.join(ck, "_metrics")).count()
        if run.tracer.enabled:
            run.layer.setdefault("checkpoint.bytes_written", _du(ck)[0])
        t2 = time.monotonic()
        with run.tracer.span("link_pipeline.resume"):
            r2 = link_pipeline(spark, pages, cfg=cfg, checkpoint_dir=ck)
            n_resume = _distinct_clusters(r2.clusters)
        t3 = time.monotonic()
        rows_after = spark.read.parquet(os.path.join(ck, "_metrics")).count()
        run.attempted += 2
        run.check(f"resume{i}.same_clusters", n_resume == n_fresh)
        run.check(f"resume{i}.no_metrics_rows_added", rows_after == rows_before)
        fresh.append(t1 - t0)
        resume.append(t3 - t2)
        if i == 0:
            run.parity, run.replay_pages = counts, pages
        return (t1 - t0) + (t3 - t2)

    run.main_span = "link_pipeline.fresh"
    run.timed(cycle, max_iters=calls)
    run.detail["call_p50_s"] = (stats.median(fresh), "s")
    tail = stats.tail_percentile(fresh)
    run.detail["call_tail_s"] = (tail[1] if tail else None, "s")
    run.detail["call_tail_pct"] = (tail[0] if tail else None, "%")
    run.detail["call_samples"] = (len(fresh), "count")
    run.detail["resume_p50_s"] = (stats.median(resume), "s")
    run.layer["checkpoint.resume_read_s"] = stats.median(resume)


def wl_batch_40k(run: Run) -> None:
    """One link_pipeline call on 40k pages per iteration, through clusters."""
    from pelinker_spark.pipeline import LinkConfig, evaluate_against_gold, link_pipeline
    from pelinker_spark.synth import gold_mentions, web_pages

    spark, n = run.spark, 40_000
    parts = 2 * spark.sparkContext.defaultParallelism
    run.setup_step(
        "materialize_s",
        lambda: web_pages(spark, n, seed=run.seed, n_entities=200, partitions=parts)
        .write.parquet(run.path("input")),
    )
    pages = spark.read.parquet(run.path("input"))
    last = {}

    def call(i: int) -> float:
        if last:
            last["r"].unpersist()
        t0 = time.monotonic()
        with run.tracer.span("link_pipeline"):
            r = link_pipeline(spark, pages, cfg=LinkConfig())
            last["clusters"] = _distinct_clusters(r.clusters)
        wall = time.monotonic() - t0
        last["r"] = r
        run.attempted += 1
        return wall

    run.main_span = "link_pipeline"
    run.timed(call)
    r = last["r"]
    run.parity = {"edges": r.edges.count(), "clusters": last["clusters"]}
    run.replay_pages = pages
    f1 = evaluate_against_gold(r.clusters, gold_mentions(spark, n, seed=run.seed, n_entities=200))["f1"]
    r.unpersist()
    run.check("pairwise_f1>=0.99", f1 >= MIN_F1, ops=len(run.iters))
    if run.seed == 42:
        run.check(
            "locked_clusters_40k_seed42",
            last["clusters"] == LOCKED_CLUSTERS_40K_SEED42,
            ops=len(run.iters),
        )
    run.detail["docs_per_s"] = (n / stats.median(run.iters), "docs/s")
    run.detail["pairwise_f1"] = (f1, "ratio")


def wl_incremental_drops(run: Run) -> None:
    """Drops moved one at a time into a watched dir (atomic rename), one
    run_incremental_link call per drop, then finalize_incremental_link."""
    from pelinker_spark.pipeline import LinkConfig, evaluate_against_gold, link_pipeline
    from pelinker_spark.streaming import finalize_incremental_link, run_incremental_link
    from pelinker_spark.synth import gold_mentions

    spark, cfg = run.spark, LinkConfig()
    # four drops, the fewest that give drop_growth one drop per quarter
    n_drop, drops, compact_every = 250, 4, 2
    run.setup_step(
        "materialize_s",
        lambda: _pages_with_chunk(spark, n_drop * drops, n_drop, run.seed, 4)
        .repartition(1, "chunk")
        .write.partitionBy("chunk")
        .parquet(run.path("input")),
    )
    watch, out, ck = run.path("watch"), run.path("out"), run.path("stream_ckpt")
    os.makedirs(watch)
    # a run is the whole fixed sequence of drops (state growth depends on
    # the drop count), so it is not cut short by --seconds
    run.main_span = "run_incremental_link"
    for k in range(drops):
        (src,) = glob.glob(run.path("input", f"chunk={k}", "*.parquet"))
        os.rename(src, os.path.join(watch, f"drop{k:03d}.parquet"))
        t0 = time.monotonic()
        with run.tracer.span("run_incremental_link"):
            run_incremental_link(spark, watch, out, ck, cfg=cfg, compact_every=compact_every)
        run.iters.append(time.monotonic() - t0)
        run.attempted += 1
    walls = run.iters
    t0 = time.monotonic()
    with run.tracer.span("finalize_incremental_link"):
        clusters = finalize_incremental_link(spark, out, incremental_cc=True)
        n_clusters = _distinct_clusters(clusters)
    finalize_s = time.monotonic() - t0
    run.attempted += 1
    f1 = evaluate_against_gold(
        clusters, gold_mentions(spark, n_drop * drops, seed=run.seed, n_entities=200)
    )["f1"]
    run.check("pairwise_f1>=0.99", f1 >= MIN_F1, ops=run.attempted)
    run.detail["drop_p50_s"] = (stats.median(walls), "s")
    run.detail["finalize_s"] = (finalize_s, "s")
    run.detail["pairwise_f1"] = (f1, "ratio")
    run.detail["clusters"] = (n_clusters, "count")
    if run.tracer.enabled:
        from pyspark.sql import functions as F

        # under the default LinkConfig the incremental edge set differs from
        # batch by design (mention mass and block caps are per micro-batch),
        # so the replay is held to a link_pipeline call on the same pages
        run.replay_pages = spark.read.parquet(watch)
        with run.tracer.span("link_pipeline.parity_reference"):
            ref = link_pipeline(spark, run.replay_pages, cfg=cfg)
            run.parity = {"edges": ref.edges.count(), "clusters": _distinct_clusters(ref.clusters)}
        ref.unpersist()
        state_bytes, state_files = _du(out, suffix=".parquet")
        run.layer.update({
            "streaming.drop_growth": stats.drop_growth(walls),
            "streaming.finalize_cc_s": finalize_s,
            "streaming.state_bytes": state_bytes,
            "streaming.state_files": state_files,
            "streaming.new_keys": spark.read.parquet(os.path.join(out, "mentions"))
            .select(F.countDistinct("key")).first()[0],
        })


def wl_queries(run: Run) -> None:
    """The headline operators.relational queries over the sf0.01 tables,
    their rows in a seeded order. Set-up runs one untimed pass that fetches
    every result (Arrow) for the oracle check and warms the session; each
    timed pass writes every query to the noop sink."""
    from pelinker_spark.operators.relational import QUERIES

    spark, data = run.spark, run.path("input")
    run.setup_step("materialize_s", lambda: write_shuffled_tables(data, run.seed))
    results: dict = {}

    def warm_pass() -> None:
        for q in BENCH_QUERIES:
            results[q] = QUERIES[q](spark, data).toPandas()

    run.setup_step("warm_s", warm_pass)
    per_query: dict[str, list[float]] = {q: [] for q in BENCH_QUERIES}

    def query_pass(i: int) -> float:
        total = 0.0
        with run.tracer.span("query_pass"):
            for q in BENCH_QUERIES:
                t0 = time.monotonic()
                with run.tracer.span(f"relational.{q}"):
                    QUERIES[q](spark, data).write.format("noop").mode("overwrite").save()
                wall = time.monotonic() - t0
                per_query[q].append(wall)
                total += wall
        run.attempted += len(BENCH_QUERIES)
        return total

    run.main_span = "query_pass"
    run.timed(query_pass, min_iters=2)
    for q, ok in _oracle_matches(results, data).items():
        run.check(f"oracle.{q}", ok, ops=len(run.iters))
    run.detail["queries_s"] = (stats.median(run.iters), "s")
    for q, walls in per_query.items():
        run.layer[f"relational.{q}_s"] = stats.median(walls)


def write_shuffled_tables(out: str, seed: int) -> None:
    """The sf0.01 tables with their rows in a seeded order, one parquet
    file per table. Query results do not depend on row order."""
    import numpy as np
    import pyarrow.parquet as pq

    from pelinker_spark.operators.relational import TABLES

    os.makedirs(out)
    for i, t in enumerate(TABLES):
        table = pq.read_table(os.path.join(SF_TABLES, f"{t}.parquet"))
        order = np.random.default_rng([seed, i]).permutation(table.num_rows)
        pq.write_table(table.take(order), os.path.join(out, f"{t}.parquet"))


def _oracle_matches(results: dict, data: str) -> dict[str, bool]:
    """query -> whether Spark's rows equal the DuckDB oracle's (row count,
    column names, order-insensitive value hash), as the repo's oracle
    gate compares them."""
    import duckdb

    from pelinker_spark.operators.relational import ORACLES, TABLES
    from tools.check_oracle import value_hash

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from read_parquet('{data}/{t}.parquet')")
    out = {}
    for q, got in results.items():
        want = con.sql(ORACLES[q]).df()
        out[q] = (
            len(got) == len(want)
            and sorted(got.columns) == sorted(want.columns)
            and value_hash(got) == value_hash(want)
        )
    con.close()
    return out


def _du(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) under path, counting files that end with suffix."""
    size = files = 0
    for root, _, names in os.walk(path):
        for f in names:
            if f.endswith(suffix):
                size += os.path.getsize(os.path.join(root, f))
                files += 1
    return size, files


WORKLOADS = {
    "ckpt_2k_calls": wl_ckpt_2k_calls,
    "queries_sf0.01": wl_queries,
    "batch_40k": wl_batch_40k,
    "incremental_drops": wl_incremental_drops,
}
# the session's default warm-up includes a small link pass. The queries
# never call link_pipeline (they warm up with an untimed pass instead), and
# ckpt_2k_calls would pay about 15 s a run for it on 4 cores, which the
# run budget does not hold, so its timed call pays the first compile. The
# by-hand link workloads keep it.
NO_LINK_WARMUP = {"queries_sf0.01", "ckpt_2k_calls"}


# ------------------------------------------------------------ main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "pelinker_spark")):
        print("run from the root of a checkout: pelinker_spark/ not found", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    cores = len(os.sched_getaffinity(0))
    env = pin_environment(work, cores)
    if args.workload in NO_LINK_WARMUP:
        os.environ["PELINKER_WARM_PAGES"] = "0"
    load_before, ticks_before = loadavg(), cpu_ticks()
    sampler = RssSampler()
    sampler.start()

    extra = {
        "spark.driver.extraJavaOptions": jvm_opts(work),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    events_dir = os.path.join(work, "events")
    if args.trace:
        os.makedirs(events_dir)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events_dir}",
            "spark.eventLog.compress": "false",
        })
    from pelinker_spark.session import get_spark

    t0 = time.monotonic()
    spark = get_spark(f"perfbench-{args.workload}", cores=cores, shuffle_partitions=cores, extra_conf=extra)
    session_build_s = time.monotonic() - t0
    tracer = Tracer(f"{args.workload}-{args.seed}", bool(args.trace), spark)
    run = Run(args, work, spark, tracer)
    try:
        WORKLOADS[args.workload](run)
        if args.trace:
            _trace_layers(run)
    finally:
        t_stop = time.monotonic()
        stop_spark(spark)
        peak_rss_mb = sampler.stop()
        run.detail["stop_s"] = (time.monotonic() - t_stop, "s")
    setup_s = session_build_s + sum(run.setup_parts.values())

    if args.trace:
        _event_layers(run, events_dir)
        run.layer["session.build_s"] = session_build_s
        run.layer["trace.iter_p50_s"] = stats.median(run.iters)
        spans_out = os.path.join(root, ".perfbench_work", f"spans-{args.workload}-{args.seed}.json")
        tracer.dump(spans_out)
        metrics = {k: {"value": float(run.layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": setup_s, "iter_p50_s": stats.median(run.iters), "peak_rss_mb": peak_rss_mb}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    run.detail["failed_frac"] = (run.failed / max(1, run.attempted), "ratio")
    run.detail["session_build_s"] = (session_build_s, "s")
    for name, secs in run.setup_parts.items():
        run.detail[name] = (secs, "s")
    steal, total = (a - b for a, b in zip(cpu_ticks(), ticks_before))
    run.detail["cpu_steal_frac"] = (steal / max(1, total), "ratio")
    shutil.rmtree(work, ignore_errors=True)

    correct = all(ok for _, ok in run.checks)
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "environment": env,
        "loadavg": {"before": load_before, "after": loadavg()},
        "iterations": len(run.iters),
        "workload_metrics": {k: {"value": v, "unit": u} for k, (v, u) in run.detail.items()},
        "checks": dict(run.checks),
    }))
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


def _trace_layers(run: Run) -> None:
    """Replay the link DAG stage by stage on the workload's link input and
    require it to reproduce the pipeline's edge and cluster counts."""
    if run.parity is None:
        return
    import replay
    from pelinker_spark.pipeline import LinkConfig

    with run.tracer.span("replay"):
        layer, counts = replay.replay(run.spark, run.replay_pages, LinkConfig(), run.tracer)
    run.layer.update(layer)
    run.check("replay_parity.edges", counts["edges"] == run.parity["edges"])
    run.check("replay_parity.clusters", counts["clusters"] == run.parity["clusters"])


def _event_layers(run: Run, events_dir: str) -> None:
    import eventlog

    spans = run.tracer.spans
    stats_by_span, executions = eventlog.aggregate(eventlog.read_events(events_dir), spans)
    mains = run.tracer.named(run.main_span)
    per_call = [eventlog.rollup(stats_by_span, spans, s) for s in mains]
    run.layer.update({
        "driver.jobs": stats.median([c.jobs for c in per_call]),
        "driver.gap_s": stats.median([c.gap_s for c in per_call]),
        "shuffle.bytes": stats.median([c.shuffle_bytes for c in per_call]),
        "shuffle.max_exchange_bytes": max(c.max_exchange_bytes for c in per_call),
        "tasks.cpu_s": stats.median([c.cpu_s for c in per_call]),
        "tasks.gc_s": stats.median([c.gc_s for c in per_call]),
        "spill.bytes": stats.median([c.spill_bytes for c in per_call]),
    })
    scoring = run.tracer.named("replay.scoring")
    if scoring:
        rows = eventlog.rollup(stats_by_span, spans, scoring[0]).arrow_rows
        run.layer["scoring.arrow_rows.jw"] = rows.get("jw", 0)
        run.layer["scoring.arrow_rows.encode"] = rows.get("encode", 0)

    def within(ex, span_list) -> bool:
        return any(s.start <= ex.start <= s.end for s in span_list)

    if run.args.workload == "ckpt_2k_calls":
        writes = [e for e in executions if "InsertIntoHadoopFsRelationCommand" in e.plan]
        per_call_write, per_call_metrics = [], []
        for s in mains:
            mine = [e for e in writes if within(e, [s])]
            per_call_metrics.append(sum(e.wall for e in mine if "_metrics" in e.plan))
            per_call_write.append(sum(e.wall for e in mine if "_metrics" not in e.plan))
        run.layer["checkpoint.write_s"] = stats.median(per_call_write)
        run.layer["checkpoint.metrics_job_s"] = stats.median(per_call_metrics)
    if run.args.workload == "incremental_drops":
        compact = [e for e in executions if ".compact_tmp" in e.plan]
        run.layer["streaming.compact_s"] = sum(e.wall for e in compact)
        ingest, score = _streaming_split(run, events_dir, mains)
        run.layer["streaming.ingest_s"] = stats.median(ingest)
        run.layer["streaming.score_s"] = stats.median(score)


def _streaming_split(run: Run, events_dir: str, drops) -> tuple[list, list]:
    """Per drop: the wall from the first to the last job of the ingest
    query and of the scoring query (told apart by their query ids)."""
    import eventlog

    ids = {}
    for q in ("ingest", "score"):
        with open(run.path("stream_ckpt", q, "metadata")) as fh:
            ids[json.load(fh)["id"]] = q
    jobs: dict[int, dict] = {}
    for ev in eventlog.read_events(events_dir):
        if ev.get("Event") == "SparkListenerJobStart":
            q = ids.get((ev.get("Properties") or {}).get("sql.streaming.queryId"))
            if q:
                jobs[ev["Job ID"]] = {"q": q, "start": ev["Submission Time"] / 1000.0}
        elif ev.get("Event") == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
    out = {"ingest": [], "score": []}
    for d in drops:
        for q in out:
            mine = [j for j in jobs.values() if j["q"] == q and d.start <= j["start"] <= d.end]
            if mine:
                out[q].append(max(j.get("end", j["start"]) for j in mine) - min(j["start"] for j in mine))
    return out["ingest"] or [0.0], out["score"] or [0.0]


if __name__ == "__main__":
    sys.exit(main())
