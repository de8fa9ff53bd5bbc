"""Differential test against the REAL reference implementation:
compile /root/reference's wordcount client (mapreduce.c + hashmap.c
+ main.c — build-and-run only, no code is copied) and compare its
reported counts against this engine's wordcount on the same corpus.

This is the strongest parity evidence available: not an oracle
re-implementation (DuckDB) but the reference binary itself, its
10-mapper/10-reducer pthreads engine included. The corpus is written
token-per-line-safe (single spaces, no leading/trailing whitespace)
so the reference's strsep truncation quirk (main.c:23-24, documented
non-goal SURVEY §4.3) never triggers and clean-vs-quirk semantics
coincide.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile

import pytest

from pyspark.sql import functions as F

from cs537_spring2021_p3a_mapreduce_spark.catalog import table
from cs537_spring2021_p3a_mapreduce_spark.operators import mapreduce_core as mc

REF = "/root/reference"
SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ref_binary(tmp_path_factory):
    if shutil.which("gcc") is None:
        pytest.skip("gcc not available")
    sources = [os.path.join(REF, f) for f in ("mapreduce.c", "hashmap.c", "main.c")]
    if not all(os.path.exists(f) for f in sources):
        pytest.skip(f"reference sources not found under {REF}")
    out = tmp_path_factory.mktemp("refbin") / "ref_wordcount"
    subprocess.run(
        ["gcc", "-O2", "-o", str(out)] + sources + ["-lpthread"],
        check=True,
    )
    return str(out)


def test_wordcount_matches_reference_binary(spark, ref_binary):
    docs = table(spark, SF, "documents")
    corpus_dir = tempfile.mkdtemp(prefix="ref_diff_")
    # several shards: exercises the reference's round-robin file
    # scheduler, not just its single-file path
    docs.select("text").repartition(4).write.mode("overwrite").text(corpus_dir)
    shards = sorted(
        os.path.join(corpus_dir, f)
        for f in os.listdir(corpus_dir)
        if f.startswith("part-")
    )

    ours = {
        r.token: r.cnt for r in mc.wordcount(spark, SF).collect()
    }
    assert len(ours) > 5

    # the reference reports one term per run (main.c:68); probe a
    # deterministic spread of the vocabulary plus a miss
    probe_terms = sorted(ours)[:: max(1, len(ours) // 7)] + ["zz_not_a_token"]
    for term in probe_terms:
        proc = subprocess.run(
            [ref_binary, *shards, term], capture_output=True, text=True, check=True
        )
        got = proc.stdout.strip()
        if term in ours:
            assert got == f"Found {term} {ours[term]} times", (term, got)
        else:
            assert got == "Word not found!", (term, got)
