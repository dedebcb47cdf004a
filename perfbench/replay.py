"""Stage-by-stage replay of link_pipeline through the engine's public
functions, with the same LinkConfig. Each stage's output is materialized
(an eager localCheckpoint) inside its own span, so the span's wall is the
stage's cost and its row count is exact. Counts that the pipeline itself
never computes run in separate untimed spans.

The replay must reproduce the pipeline's edge and cluster counts; the
caller checks that before it trusts the per-layer numbers."""

from __future__ import annotations

from pyspark.sql import functions as F

from pelinker_spark.blocking import (
    compact_key_pairs,
    has_nonkey_chars,
    lsh_buckets,
    lsh_candidate_pairs,
)
from pelinker_spark.cc import connected_components
from pelinker_spark.mentions import generate_mentions
from pelinker_spark.pipeline import (
    extract_stage,
    incident_link_scores,
    prefilter_pairs,
    score_pairs,
    surface_table,
)


def replay(spark, pages, cfg, tracer) -> tuple[dict, dict]:
    """Returns (per-layer metrics, {"edges": n, "clusters": n})."""
    layer: dict[str, float] = {}

    def stage(name: str, build):
        with tracer.span(f"replay.{name}") as sp:
            df = build().localCheckpoint()
            n = df.count()
        return df, n, sp.wall

    def count(name: str, build) -> int:
        with tracer.span(f"replay.{name}"):
            return build()

    src = pages
    if cfg.lang is not None and "lang" in pages.columns:
        src = pages.where(F.col("lang") == cfg.lang)
    docs, layer["extract.rows_out"], layer["extract.s"] = stage(
        "extract", lambda: extract_stage(src)
    )
    mentions, layer["mentions.rows_out"], layer["mentions.s"] = stage(
        "mentions", lambda: generate_mentions(docs, cfg.windows, cfg.lang)
    )
    surfaces, layer["surfaces.rows_out"], layer["surfaces.s"] = stage(
        "surfaces", lambda: surface_table(mentions)
    )

    linkable = surfaces
    if cfg.lsh_min_mentions > 1:
        linkable = surfaces.where(
            (F.col("n_mentions") >= cfg.lsh_min_mentions)
            | has_nonkey_chars(F.col("key"))
        )
    lsh, layer["blocking.lsh_pairs"], lsh_s = stage(
        "blocking.lsh",
        lambda: lsh_candidate_pairs(
            linkable,
            num_hashes=cfg.lsh_num_hashes,
            bands=cfg.lsh_bands,
            rows=cfg.lsh_rows,
            max_block=cfg.max_block,
            hot_bucket_mode=cfg.hot_bucket_mode,
            stop_block=cfg.lsh_stop_block,
            hot_salts=cfg.lsh_hot_salts,
            dedup=False,
        ),
    )
    compact, layer["blocking.compact_pairs"], compact_s = stage(
        "blocking.compact",
        lambda: compact_key_pairs(surfaces, max_block=cfg.compact_max_block, dedup=False),
    )
    layer["blocking.s"] = lsh_s + compact_s
    drop_above = (
        cfg.max_block
        if cfg.hot_bucket_mode == "drop"
        else (cfg.lsh_stop_block or 40 * cfg.max_block)
    )
    layer["blocking.hot_buckets_dropped"] = count(
        "blocking.hot_buckets",
        lambda: lsh_buckets(linkable, "key", cfg.lsh_num_hashes, cfg.lsh_bands, cfg.lsh_rows)
        .groupBy("band", "bh")
        .count()
        .where(F.col("count") > drop_above)
        .count(),
    )

    raw = lsh.unionByName(compact)
    n_raw = layer["blocking.lsh_pairs"] + layer["blocking.compact_pairs"]
    kept, n_kept, _ = stage("prefilter", lambda: prefilter_pairs(raw))
    layer["prefilter.pass_frac"] = n_kept / n_raw if n_raw else 0.0
    pairs, n_pairs, _ = stage("pairs", lambda: kept.dropDuplicates(["key_a", "key_b"]))

    registry: list = []
    edges, n_edges, layer["scoring.s"] = stage(
        "scoring",
        lambda: score_pairs(pairs, cfg, registry=registry)
        .where(F.col("cos") >= cfg.cos_threshold)
        .select("key_a", "key_b", "jw", "cos"),
    )
    jw_pass, encoded = registry
    n_jw = count("scoring.jw_pass", jw_pass.count)
    layer["scoring.keys_encoded"] = count("scoring.encoded", encoded.count)
    for df in registry:
        df.unpersist()
    layer["scoring.pairs_in"] = n_pairs
    layer["scoring.jw_pass_frac"] = n_jw / n_pairs if n_pairs else 0.0
    layer["scoring.edges"] = n_edges

    cc_stats: dict = {}
    comp, _, layer["cc.s"] = stage(
        "cc",
        lambda: connected_components(
            edges,
            "key_a",
            "key_b",
            driver_max_edges=cfg.cc_driver_max_edges,
            stats=cc_stats,
            n_edges=n_edges,
        ),
    )
    layer["cc.path"] = 1.0 if cc_stats.get("path") == "distributed" else 0.0
    layer["cc.iterations"] = cc_stats.get("iterations", 0)
    layer["cc.components"] = count(
        "cc.components", lambda: comp.select("component").distinct().count()
    )

    # the cluster join of link_pipeline (link_scores on, no KB), through
    # the distinct cluster count the workloads also take
    with tracer.span("replay.clusters") as sp:
        aux = comp.join(incident_link_scores(edges), "key", "left")
        clusters = (
            mentions.join(aux, "key", "left")
            .withColumn("cluster_id", F.coalesce(F.col("component"), F.col("key")))
            .withColumn("exact_key", F.col("link_score").isNull())
            .withColumn("link_score", F.coalesce(F.col("link_score"), F.lit(1.0)))
            .drop("component")
        )
        n_clusters = clusters.select("cluster_id").distinct().count()
    layer["clusters.s"] = sp.wall
    return layer, {"edges": n_edges, "clusters": n_clusters}
