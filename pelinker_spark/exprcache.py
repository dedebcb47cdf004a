"""Session-scoped memoization for static Column expression fragments.

Building a Column tree is not free: every operator/functions call is a
py4j round trip into the JVM (~50-200 us each), and the link pipeline's
DSL — mention window structs, token normalization CASE trees, the 16
minhash aggregates, the unrolled cosine sum — adds up to ~1.6 s of pure
driver-side construction PER PIPELINE CALL, re-paid on every run and
every streaming micro-batch (measured round 6: build_surfaces_df 0.6 s +
build_edges_df 1.0 s at steady state, while Catalyst analyze/optimize/
physical together cost < 50 ms).

Unresolved Column objects are immutable expression wrappers and are
safely reusable across DataFrames and queries, so fragments that depend
only on hashable config (window widths, hash counts, dims) are built
once per JVM session and reused. The fragments live on the active
SparkContext object itself, so a stop()/restart in one process can never
hand stale py4j references to a new JVM (an id()-keyed table could: CPython
reuses ids), and they are dropped with their context.

Arguments are positional only. Two threads building the same fragment at
once may both build it; the last one stored wins, which is harmless since
both are equal.
"""

from __future__ import annotations

import functools
from typing import Callable, TypeVar

T = TypeVar("T")


def session_cached(fn: Callable[..., T]) -> Callable[..., T]:
    """Memoize `fn(*args)` per (active SparkContext, args).

    args must be hashable; the returned value must be immutable/reusable
    (unresolved Columns and tuples of them are)."""

    @functools.wraps(fn)
    def wrapped(*args):
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return fn(*args)
        cache = sc.__dict__.setdefault("_pelinker_fragments", {})
        key = (fn, args)
        if key not in cache:
            cache[key] = fn(*args)
        return cache[key]

    return wrapped
