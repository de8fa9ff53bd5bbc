"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``cs537_spring2021_p3a_mapreduce_spark``;
this module only aggregates the per-module QUERIES/ORACLES dicts.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cs537_spring2021_p3a_mapreduce_spark import streaming
from cs537_spring2021_p3a_mapreduce_spark.operators import (
    bloom,
    dedup,
    graph,
    layout,
    llm,
    mapreduce_core,
    mining,
    multimodal,
    profiling,
    relational,
    temporal,
    tpch2,
)

_MODULES = [
    mapreduce_core,
    bloom,
    layout,
    relational,
    profiling,
    temporal,
    mining,
    tpch2,
    llm,
    dedup,
    graph,
    multimodal,
    streaming,
]


def _rotation_key(names: list[str]):
    """Order queries so the driver's 50-entry sample window lands on
    what most needs (re-)verification.

    Three buckets, in order:

    0. **Recorded failures first** (r4 VERDICT item #2): queries whose
       LATEST driver record is a hard failure — a real traceback in
       ``err``, or any of rows/schema/hash match explicitly False —
       plus rows-only queries (``err == 'no_oracle'``) whose record is
       ≥2 rounds stale (so a healthy weak record refreshes
       periodically without hogging the window every round).
    1. Never-checked queries, in registration order.
    2. Everything else, stalest first: (last round checked, times
       checked). Last-round leads: a query whose latest record is
       r2-vintage must outrank one freshly re-checked in r8 even if
       the former has been checked more times overall — with a
       50-entry window over 280 queries, times-first let six-round-
       stale records sit behind once-checked-but-recent ones
       indefinitely (r8 VERDICT "What's missing" #1).

    Before this ordering, fixed queries sat red for 3 rounds because
    never-checked entries always outranked recorded failures.
    Deterministic given the committed CORRECTNESS_r*.json artifacts.
    """
    here = os.path.dirname(os.path.abspath(__file__))
    times: dict[str, int] = {}
    latest: dict[str, tuple[int, dict]] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                recorded = json.load(f)
            rnd = int("".join(ch for ch in os.path.basename(path) if ch.isdigit()))
        except (OSError, ValueError, json.JSONDecodeError):
            continue
        for q, rec in recorded.items():
            times[q] = times.get(q, 0) + 1
            if not isinstance(rec, dict):
                rec = {}
            if rnd >= latest.get(q, (0, {}))[0]:
                latest[q] = (rnd, rec)
    max_round = max((r for r, _ in latest.values()), default=0)

    # r10 VERDICT Next #1: these two missed every driver window so far;
    # pin them ahead of other never-checked entries so new r11
    # registrations (which land in earlier modules, hence earlier
    # registration order) cannot displace them again.
    priority_unchecked = {
        "stream_dedup_docs_lsh",
        "stream_dedup_docs_minhash_bounded",
    }

    def bucket(n: str) -> float:
        if n not in latest:
            return 0.5 if n in priority_unchecked else 1
        rnd, rec = latest[n]
        err = rec.get("err")
        hard_fail = (err is not None and err != "no_oracle") or any(
            rec.get(k) is False
            for k in ("rows_match", "schema_match", "hash_match")
        )
        if hard_fail:
            return 0
        if err == "no_oracle" and rnd <= max_round - 2:
            return 0  # stale rows-only record: refresh
        return 2

    order = {n: i for i, n in enumerate(names)}
    return lambda n: (
        bucket(n),
        latest.get(n, (0, {}))[0],
        times.get(n, 0),
        order[n],
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: wordcount over documents.text at sf0.001 — the
    reference's own flagship pipeline (main.c:50-74) as one scan +
    one hash aggregate."""
    return mapreduce_core.wordcount(spark, "/root/testdata/sf0.001")


def _released(fn: Callable[[SparkSession, str], DataFrame]):
    """Release the PREVIOUS query's tracked cache entries before this
    one builds. Operators persist reused diamonds via
    session.track_persist(); without a release point, a long-lived
    session running hundreds of queries (the driver's gate, bench.py)
    accumulates every query's cache entries — the CacheManager holds
    them even after the Python handles die. Releasing at call start
    (never mid-plan) is correctness-free: an unpersisted lineage just
    recomputes."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from cs537_spring2021_p3a_mapreduce_spark.session import (
            release_persisted,
        )

        # terminated-stream state providers need no release here:
        # streaming.drain unloads them as each drain ends
        release_persisted()
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    # forward the bench one-time-setup hook (bench.py reads it off
    # the wrapped callable)
    setup = getattr(fn, "bench_setup", None)
    if setup is not None:
        wrapped.bench_setup = setup
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        out.update(mod.QUERIES)
    key = _rotation_key(list(out))
    return {n: _released(out[n]) for n in sorted(out, key=key)}


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(mod.ORACLES)
    key = _rotation_key(list(out))
    return {n: out[n] for n in sorted(out, key=key)}
