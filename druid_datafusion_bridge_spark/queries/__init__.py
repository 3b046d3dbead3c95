"""Query registry: name -> (PySpark callable, DuckDB oracle SQL).

Every operator from SURVEY.md §2 registers here via the ``@query``
decorator. ``__spark_entry__.queries()`` / ``oracle_sql()`` are thin
re-exports of these dicts. Policy: every query carries an oracle that
matches the DuckDB result EXACTLY (bit-identical values) — enforced by
tests/test_oracle.py; every registered query is exactly oracled
(approximate operators are oracled via their exactness contract, e.g.
a recall bound or an rsd flag, not left rows-only).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle`` is equivalent DuckDB SQL (or None)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        return fn

    return deco


# An external correctness check runs the FIRST ``WINDOW`` entries of
# all_queries() (``__spark_entry__.queries()``) against their oracles
# and records one row per query in CORRECTNESS_r<N>.json beside the
# package. Every entry already has such a row, so the window's job is
# to keep that evidence fresh: the queries whose code the current change
# edits come first, then the entries whose newest row is oldest.
WINDOW = 50

# Registry queries whose code the current change edits. Replace, do not
# extend, with each change; the window fills the rest by itself.
CHANGED: tuple[str, ...] = (
    "s1b_druid_segment_scan",
    "s1c_druid_segment_time_prune",
    "s1d_druid_segment_dim_filter",
    "s1e_druid_segment_zstd_scan",
    "s1f_druid_segment_in_filter",
    "s1g_druid_segment_mvd_in_filter",
    "s1i_druid_segment_dim_bound_filter",
    "s1k_druid_segment_prefix_filter",
    "s1h_druid_segment_metric_prune",
    "s1l_druid_segment_regex_filter",
    "s1m_druid_segment_search_filter",
    "s1n_druid_segment_like_filter",
    "s1o_druid_segment_split_scan",
    "s1p_druid_segment_ordered_limit",
    "s1q_druid_segment_recent_limit",
)

_ARTIFACT_DIR = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def sampled_rounds(root: str = _ARTIFACT_DIR) -> dict[str, int]:
    """Each query's newest sampled round N, read from every
    CORRECTNESS_r<N>.json in ``root``."""
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if not m:
            continue
        with open(path, encoding="utf-8") as f:
            for name in json.load(f):
                latest[name] = max(latest.get(name, 0), int(m.group(1)))
    return latest


def plan_rotation(
    registered: list[str], latest: dict[str, int]
) -> tuple[str, ...]:
    """The sample window: CHANGED first, then the oldest newest sampled
    round (a never-sampled query counts as round 0), each in
    registration order, up to WINDOW names. With no CORRECTNESS
    artifacts the window is empty and the registry keeps registration order.
    Unknown CHANGED names are a loud error so the list cannot silently
    rot when a query is renamed."""
    missing = [n for n in CHANGED if n not in registered]
    if missing:
        raise ValueError(f"CHANGED names not in registry: {missing}")
    if not latest:
        return ()
    changed = [n for n in registered if n in CHANGED]
    # sorted() is stable: equal rounds stay in registration order
    rest = sorted(
        (n for n in registered if n not in CHANGED),
        key=lambda n: latest.get(n, 0),
    )
    return tuple(changed + rest)[:WINDOW]


@functools.cache
def rotation() -> tuple[str, ...]:
    """plan_rotation over the full registry and the CORRECTNESS
    artifacts, computed once per process."""
    load_all()
    return plan_rotation(list(QUERIES), sampled_rounds())


def _apply_rotation(d: dict[str, Any]) -> dict[str, Any]:
    """A copy of ``d`` with rotation()'s names first, everything else
    following in registration order."""
    head = {n: d[n] for n in rotation() if n in d}
    return head | {n: v for n, v in d.items() if n not in head}


def load_all() -> None:
    """Import every query module so registration side-effects run."""
    from . import (  # noqa: F401
        text_pipeline,
        multimodal,
        tpch,
        tpch_full,
        tpch_subqueries,
        streaming,
        embedding_ops,
        analytics,
        profiling,
        druid_source,
        druid_model,
        dedup,
        druid_functions,
        joins,
        aggregates,
        windows,
        setops,
        relational,
        scalar_funcs,
        temporal,
        similarity,
        text_analysis,
        topn_search,
        lookups,
        native,
    )


def all_queries() -> dict[str, QueryFn]:
    """Every registered query, in sample-window order (rotation())."""
    load_all()
    return _apply_rotation(QUERIES)


def all_oracles() -> dict[str, str]:
    load_all()
    return _apply_rotation(ORACLES)


def run(spark: SparkSession, name: str, sf_dir: str) -> Any:
    load_all()
    return QUERIES[name](spark, sf_dir)
