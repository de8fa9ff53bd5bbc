"""The benchmark's workloads: which registered queries each one runs
and which fixture tables those queries read.

Every query name is a ``__spark_entry__.queries()`` entry with an
``oracle_sql()`` twin, so each run checks its outputs. The lists are
short because one run (set-up, a cold pass, the timed passes and the
check) has to end in about 40 s.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    tables: tuple[str, ...]  # registered through catalog.table at set-up


WORKLOADS: dict[str, Workload] = {
    # The MapReduce and relational surface, read-only and JVM-only (no
    # Python node): scans, shuffles and aggregates do the work, the
    # query call is ~15% of the wall. A Python, streaming or commit
    # optimisation should show no change here.
    "scan_shuffle": Workload(
        queries=(
            "wordcount",
            "inverted_index",
            "partitioned_sort",
            "grep_filter",
            "distinct_keys",
            "topk_revenue",
            "q21_waiting_suppliers",
            "q2_min_cost_supplier",
        ),
        tables=("documents", "lineitem", "orders", "supplier", "nation", "region"),
    ),
    # LLM-pipeline operators whose time goes to Python/Arrow crossings:
    # the reference's own Mapper/Reducer API over mapInPandas, and the
    # embedding-cluster prune with its vector kernel.
    "python_udf": Workload(
        queries=(
            "mr_wordcount",
            "semdedup_prune",
        ),
        tables=("documents", "embeddings"),
    ),
    # Writes: a stateful stream drain, an exactly-once stream merge into
    # the manifest sink, and checkpointed graph rounds. Their work runs
    # eagerly inside the query call (~90% of the wall), over tens of
    # jobs per pass.
    "drain_commit": Workload(
        queries=(
            "stream_wordcount",
            "stream_merge_manifest",
            "k_core_suppliers",
        ),
        tables=("documents", "events", "lineitem", "supplier"),
    ),
}

# Timed alone before every measured pass, as a drift diagnostic: when
# it moves with everything else, the machine moved, not the code.
CANARY = "wordcount"
