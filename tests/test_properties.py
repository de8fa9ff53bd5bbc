"""Property-based tests (hypothesis) for the contract-critical pure
functions: the bit-exact djb2 partitioner, the tokenizer and the
sliding k-gram window. These
run the Spark EXPRESSIONS against independent Python models over
randomized inputs — the expression-level analog of the reference's
sequential-vs-concurrent differential oracle (SURVEY §5)."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from cs537_spring2021_p3a_mapreduce_spark.functions.text import (
    djb2_partition,
    ngrams,
    tokens,
    window_starts,
)

# printable ASCII without whitespace — the reference reads bytes and
# the fixtures are ASCII (functions/text.py documents the scope)
_WORD = st.text(
    st.characters(min_codepoint=33, max_codepoint=126), min_size=1, max_size=12
)
_TEXT = st.lists(
    st.one_of(_WORD, st.sampled_from([" ", "\t", "\n", "  "])),
    min_size=0,
    max_size=30,
).map("".join)


def _djb2_model(key: str, n: int) -> int:
    """C semantics: unsigned long hash = 5381; hash = hash*33 + c,
    silent mod-2^64 (MR_DefaultHashPartition, mapreduce.c:88-94)."""
    h = 5381
    for ch in key:
        h = (h * 33 + ord(ch)) % (1 << 64)
    return h % n


_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(keys=st.lists(_WORD, min_size=1, max_size=20, unique=True),
       n=st.integers(min_value=1, max_value=64))
@_SETTINGS
def test_djb2_expression_matches_c_model(spark, keys, n):
    df = spark.createDataFrame([(k,) for k in keys], ["key"])
    got = {
        r.key: r.pid
        for r in df.select("key", djb2_partition(F.col("key"), n).alias("pid"))
        .collect()
    }
    assert got == {k: _djb2_model(k, n) for k in keys}


@given(texts=st.lists(_TEXT, min_size=1, max_size=10))
@_SETTINGS
def test_tokens_expression_matches_python_split(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    rows = df.select("text", tokens("text").alias("toks")).collect()
    for r in rows:
        # str.split() == split on whitespace runs, empties dropped —
        # the clean semantics SURVEY §2.A (A3) declares
        assert list(r.toks) == r.text.split()


@given(
    seqs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=8),
        min_size=1,
        max_size=6,
    ),
    k=st.integers(min_value=1, max_value=4),
)
@example(seqs=[[], ["a"], ["a", "b", "c"]], k=4)  # all shorter than k
@example(seqs=[["a", "b", "c", "d"], ["a"]], k=1)
@_SETTINGS
def test_ngrams_kernel_matches_python_slices(spark, seqs, k):
    """``ngrams``/``window_starts`` equal Python's k-wide slices over
    every sequence, in order and with duplicates; a sequence shorter
    than k has no window at all (not the [0, -1] a bare
    ``sequence(0, size-k)`` would give)."""
    df = spark.createDataFrame(
        list(enumerate(seqs)), "i int, ts array<string>"
    )
    rows = df.select(
        "i",
        window_starts("ts", k).alias("starts"),
        ngrams("ts", k, F.array).alias("grams"),
    ).collect()
    assert len(rows) == len(seqs)
    for r in rows:
        xs = seqs[r.i]
        want = [xs[i : i + k] for i in range(len(xs) - k + 1)]
        assert [list(g) for g in r.grams] == want
        assert list(r.starts) == list(range(len(want)))


def test_funnel_stages_are_monotone_non_increasing(spark):
    """Invariant independent of the oracle: each strict-order funnel
    stage can only lose users relative to the previous one."""
    from cs537_spring2021_p3a_mapreduce_spark.operators.relational import (
        funnel_conversion,
    )

    rows = {
        r["stage"]: r["n_users"]
        for r in funnel_conversion(spark, "/root/testdata/sf0.001").collect()
    }
    assert rows["view"] >= rows["view>click"] >= rows["view>click>purchase"] >= 0


def test_mix_corpora_budgets_are_floors(spark):
    """Every language's kept set crosses its token budget by at most
    one document (the prefix rule: last kept doc starts under
    budget), and dropping its largest kept doc goes under budget."""
    from cs537_spring2021_p3a_mapreduce_spark.operators.llm import (
        MIX_BUDGETS,
        MIX_DEFAULT_BUDGET,
        mix_corpora,
    )

    out = mix_corpora(spark, "/root/testdata/sf0.001").collect()
    by_lang: dict[str, list] = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rows in by_lang.items():
        budget = MIX_BUDGETS.get(lang, MIX_DEFAULT_BUDGET)
        assert all(r["cum_before"] < budget for r in rows)
        total = sum(r["n_tokens"] for r in rows)
        # the budget is a floor unless the language ran out of docs
        last = max(rows, key=lambda r: r["cum_before"])
        assert total >= budget or last["cum_before"] + last["n_tokens"] == total


@given(
    toks=st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "hot"]),
        min_size=1,
        max_size=200,
    ),
    parts=st.integers(min_value=1, max_value=5),
)
@_SETTINGS
def test_heavy_hitters_core_exact_on_random_streams(spark, toks, parts):
    """The two-pass Misra-Gries + recount pipeline must equal the
    exact HAVING answer on ANY input and partitioning — the superset
    guarantee, exercised where sketch evictions actually happen
    (MG width 2 << 8 distinct tokens)."""
    import pandas as pd

    from cs537_spring2021_p3a_mapreduce_spark.operators import (
        mapreduce_core as mc,
    )

    k = 4  # heavy = strictly above a 1/4 share
    # Tiny sketch to force evictions — but the superset guarantee is
    # only sound when k <= width + 1 (retention bound n/(width+1)
    # must sit at or below the n/k heavy threshold). width = k - 1
    # is the exact soundness edge; hypothesis found the violation at
    # width = 2 < k - 1 (an all-count-1 stream evicts everything).
    width = k - 1

    df = spark.createDataFrame(
        [(t,) for t in toks], "token string"
    ).repartition(parts)

    def mg_sketch(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for tok, c in pdf["token"].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(c)
            if len(counters) > width:
                vals = sorted(counters.values(), reverse=True)
                m = vals[width]
                counters = {t: c - m for t, c in counters.items() if c > m}
        yield pd.DataFrame({"token": list(counters.keys())})

    candidates = df.mapInPandas(mg_sketch, "token string").distinct()
    total = df.agg(F.count("*").alias("n_total"))
    got = {
        (r.token, r.cnt)
        for r in (
            df.join(F.broadcast(candidates), "token", "left_semi")
            .groupBy("token")
            .agg(F.count("*").alias("cnt"))
            .crossJoin(F.broadcast(total))
            .where(F.col("cnt") * k > F.col("n_total"))
            .select("token", "cnt")
            .collect()
        )
    }
    from collections import Counter

    cnt = Counter(toks)
    want = {(t, c) for t, c in cnt.items() if c * k > len(toks)}
    assert got == want


@given(
    members=st.lists(
        st.integers(min_value=-(2**40), max_value=2**40),
        min_size=1,
        max_size=60,
        unique=True,
    ),
    probes=st.lists(
        st.integers(min_value=-(2**40), max_value=2**40),
        min_size=1,
        max_size=60,
        unique=True,
    ),
)
@_SETTINGS
def test_bloom_prefilter_never_drops_members(spark, members, probes):
    """Bloom soundness over arbitrary long keys (negatives included):
    a member may never fail the prefilter, whatever the bitmap
    sizing lands on."""
    from cs537_spring2021_p3a_mapreduce_spark.operators.bloom import (
        MIN_BITS,
        _next_pow2,
        bloom_bitmap,
        bloom_prefilter,
    )

    build = spark.createDataFrame([(m,) for m in members], "k bigint")
    probe = spark.createDataFrame(
        [(p,) for p in set(members) | set(probes)], "k bigint"
    )
    n_bits = max(MIN_BITS, _next_pow2(10 * len(members)))
    kept = {
        r.k
        for r in bloom_prefilter(
            probe, "k", bloom_bitmap(build, "k", n_bits), n_bits
        ).collect()
    }
    assert set(members) <= kept


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 16) - 1),
            st.integers(min_value=0, max_value=(1 << 16) - 1),
        ),
        min_size=1,
        max_size=40,
    )
)
@_SETTINGS
def test_morton_interleave_matches_python_model(spark, pairs):
    from cs537_spring2021_p3a_mapreduce_spark.operators.layout import (
        Z_BITS,
        _morton_expr,
    )

    def model(a, b):
        z = 0
        for i in range(Z_BITS):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(pairs, "a bigint, b bigint").select(
        "a", "b", _morton_expr("a", "b").alias("z")
    )
    for r in df.collect():
        assert r.z == model(r.a, r.b), (r.a, r.b)


# --- round-3 widening ops: Spark plans vs brute-force Python models


def _skyline_model(points):
    """O(n²) dominance check — the definition, not the algorithm."""
    out = set()
    for i, (pi, si) in enumerate(points):
        dominated = any(
            (pq <= pi and sq >= si and (pq < pi or sq > si))
            for j, (pq, sq) in enumerate(points)
            if j != i
        )
        if not dominated:
            out.add((pi, si))
    return out


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),  # price in cents
            st.integers(min_value=0, max_value=10),  # size
        ),
        min_size=1,
        max_size=25,
    )
)
@_SETTINGS
def test_skyline_matches_quadratic_model(spark, pts):
    from cs537_spring2021_p3a_mapreduce_spark.operators.relational import (
        skyline_parts,
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        rows = [
            (i, "n", "b", "t", s, c / 100.0) for i, (c, s) in enumerate(pts)
        ]
        spark.createDataFrame(
            rows,
            "p_partkey long, p_name string, p_brand string, p_type string,"
            " p_size int, p_retailprice double",
        ).write.parquet(f"{d}/part.parquet")
        got = {
            (round(r.p_retailprice * 100), r.p_size)
            for r in skyline_parts(spark, d).collect()
        }
    assert got == _skyline_model(pts)


def _triangle_model(edges):
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    from collections import Counter

    counts: Counter = Counter()
    verts = sorted(adj)
    for a in verts:
        for b in (x for x in adj[a] if x > a):
            for c in (x for x in (adj[a] & adj[b]) if x > b):
                counts[a] += 1
                counts[b] += 1
                counts[c] += 1
    return dict(counts)


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=25,
    )
)
@_SETTINGS
def test_triangle_counts_match_bruteforce(spark, edges):
    from cs537_spring2021_p3a_mapreduce_spark.operators.graph import (
        triangle_counts,
    )

    clean = [(u, v) for u, v in edges if u != v]
    if not clean:
        return
    df = spark.createDataFrame(clean, "u bigint, v bigint")
    got = {r.vertex: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == _triangle_model(clean)


def _bpe_merge_model(word, a, b):
    """Greedy non-overlapping left-to-right merge of (a, b) over a
    symbol list — the textbook BPE apply step."""
    out, i = [], 0
    while i < len(word):
        if i + 1 < len(word) and word[i] == a and word[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(word[i])
            i += 1
    return out


@given(
    syms=st.lists(st.sampled_from(["a", "b", "ab", "ba", "aa"]),
                  min_size=1, max_size=10),
    pair=st.tuples(st.sampled_from(["a", "b", "ab", "ba", "aa"]),
                   st.sampled_from(["a", "b", "ab", "ba", "aa"])),
)
@_SETTINGS
def test_bpe_marker_replace_matches_greedy_model(spark, syms, pair):
    """The marker-wrapped string replace() used by bpe_train_merges
    must implement exactly the greedy left-to-right non-overlapping
    merge — including multi-char symbols where a naive space-joined
    encoding would false-match across boundaries."""
    a, b = pair
    enc = "".join(f"|{s}|" for s in syms)
    row = spark.sql(
        "SELECT split(trim(BOTH '|' FROM replace("
        f"'{enc}', '|{a}||{b}|', '|{a}{b}|')), "
        r"'\\|\\|') AS out"
    ).first()
    assert list(row.out) == _bpe_merge_model(syms, a, b)


@given(
    versions=st.lists(  # (cust, day, change_id)
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=20),
        ),
        min_size=1,
        max_size=12,
    ),
    facts=st.lists(  # (order_idx, day)
        st.tuples(
            st.integers(min_value=0, max_value=11),
            st.integers(min_value=0, max_value=20),
        ),
        min_size=1,
        max_size=20,
    ),
)
@_SETTINGS
def test_scd2_pit_join_matches_bruteforce_temporal_model(
    spark, versions, facts
):
    """The union-tag + window PIT form must equal the definitional
    'latest version at-or-before fact time' — including same-instant
    facts, multiple versions per instant, and facts before any
    version."""
    import datetime
    import tempfile
    from collections import Counter

    from cs537_spring2021_p3a_mapreduce_spark.operators.relational import (
        scd2_point_in_time_join,
    )

    base = datetime.datetime(2024, 1, 1)
    orders = [
        (cust, ok, base + datetime.timedelta(days=day))
        for ok, (cust, day) in enumerate(versions)
    ]
    lines = [
        (orders[oi % len(orders)][1], base + datetime.timedelta(days=day))
        for oi, day in facts
    ]
    # model: rank versions per cust by (ts, orderkey); fact joins the
    # order to find cust, then takes the latest version <= fact ts
    by_cust: dict[int, list] = {}
    for cust, ok, ts in orders:
        by_cust.setdefault(cust, []).append((ts, ok))
    rank = {}
    for cust, vs in by_cust.items():
        for i, (ts, ok) in enumerate(sorted(vs), start=1):
            rank[(cust, ok)] = (ts, i)
    cust_of = {ok: cust for cust, ok, _ in orders}
    model: Counter = Counter()
    for lok, lts in lines:
        cust = cust_of[lok]
        eligible = [
            (ts, ok) for (ts, ok) in sorted(by_cust[cust]) if ts <= lts
        ]
        ver = rank[(cust, eligible[-1][1])][1] if eligible else -1
        model[(cust, ver)] += 1

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            orders, "o_custkey long, o_orderkey long, o_orderdate timestamp"
        ).write.parquet(f"{d}/orders.parquet")
        spark.createDataFrame(
            lines, "l_orderkey long, l_shipdate timestamp"
        ).write.parquet(f"{d}/lineitem.parquet")
        got = {
            (r.cust_key, r.pit_version): r.n_items
            for r in scd2_point_in_time_join(spark, d).collect()
        }
    assert got == dict(model)


@given(
    evs=st.lists(  # (user, minute offset, is_error)
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.integers(min_value=0, max_value=300),
            st.booleans(),
        ),
        min_size=1,
        max_size=30,
    ),
)
@_SETTINGS
def test_interval_overlap_matches_bruteforce(spark, evs):
    """The grid-cell candidate join must find EXACTLY the pairs the
    definitional inequality join finds — the cell cover may never
    miss an overlapping (incident, span) pair, and the verify filter
    must discard every same-cell non-overlap."""
    import datetime
    import tempfile
    from collections import defaultdict

    from cs537_spring2021_p3a_mapreduce_spark.operators.relational import (
        INCIDENT_US,
        interval_overlap_join,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(minutes=m), u,
         "error" if err else "view", 1.0, "{}")
        for i, (u, m, err) in enumerate(evs)
    ]
    us_of = {r[0]: int(r[1].timestamp() * 1_000_000) for r in rows}
    incidents = [(r[0], us_of[r[0]], us_of[r[0]] + INCIDENT_US)
                 for r in rows if r[3] == "error"]
    spans_map: dict[tuple, list] = {}
    for r in rows:
        if r[3] != "error":
            us = us_of[r[0]]
            key = (r[2], us - us % 3_600_000_000)
            spans_map.setdefault(key, []).append(us)
    model = defaultdict(lambda: [set(), 0])
    for (user, _hour), uss in spans_map.items():
        sp_s, sp_e = min(uss), max(uss)
        for inc_id, inc_s, inc_e in incidents:
            if sp_s < inc_e and inc_s <= sp_e:
                model[user][0].add(inc_id)
                model[user][1] += 1

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).write.parquet(f"{d}/events.parquet")
        got = {
            r.user_id: (r.n_incidents, r.n_pairs)
            for r in interval_overlap_join(spark, d).collect()
        }
    want = {u: (len(ids), n) for u, (ids, n) in model.items()}
    assert got == want


@given(
    ks=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=60),
            st.integers(min_value=100, max_value=99999),
        ),
        min_size=2,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_manifest_cdc_matches_rule_model(spark, ks):
    """The snapshot-diff change feed must equal the generative rules
    (insert = odd keys, delete = %14 non-updated evens, update =
    %10 evens) on ARBITRARY key/price sets — including sets with no
    updates, no deletes, or colliding prices across keys."""
    import datetime
    import tempfile
    from collections import defaultdict

    from cs537_spring2021_p3a_mapreduce_spark.operators.mapreduce_core import (
        manifest_changes_cdc,
    )

    # guarantee a non-empty gen1 (even key) and a non-empty insert set
    ks = list(ks) + [(2, 5000), (3, 7000)]
    ks = list({k: c for k, c in ks}.items())
    d = datetime.datetime(1997, 6, 1)
    rows = [
        (k, 1, "O", c / 100.0, d, "3-MEDIUM") for k, c in ks
    ]
    model = defaultdict(lambda: [0, 0])
    for k, c in ks:
        if k % 2 == 1:
            t = [("insert", c)]
        elif k % 10 == 0:
            t = [("update_preimage", c), ("update_postimage", c + 111)]
        elif k % 14 == 0:
            t = [("delete", c)]
        else:
            t = []
        for name, cents in t:
            model[name][0] += 1
            model[name][1] += cents
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        ).write.parquet(f"{td}/orders.parquet")
        got = {
            r.change_type: (r.n_rows, r.sum_cents)
            for r in manifest_changes_cdc(spark, td).collect()
        }
    assert got == {k: tuple(v) for k, v in model.items()}


# --- CEP pattern matching vs Python re model -------------------------------

_EVT = st.sampled_from(["click", "error", "purchase", "signup", "view"])


@given(
    evs=st.lists(
        st.tuples(st.integers(1, 4), _EVT), min_size=1, max_size=40
    )
)
@_SETTINGS
def test_cep_counts_match_re_model(spark, evs):
    """Random multi-user histories: the Spark sequence build + regex
    count must equal Python re.findall on the per-user strings built
    by an independent model (sorted by (ts, event_id))."""
    import re

    from cs537_spring2021_p3a_mapreduce_spark.operators import temporal as tmp

    rows = [
        (u, float(i), i, et) for i, (u, et) in enumerate(evs)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, _s double, event_id long, event_type string"
    ).select(
        "user_id",
        F.timestamp_seconds(F.col("_s")).alias("ts"),
        "event_id",
        tmp._event_char("event_type").alias("chr"),
    )
    seq = df.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "chr"))),
                lambda s: s["chr"],
            ),
            "",
        ).alias("seq")
    )
    got_seqs = {r.user_id: r.seq for r in seq.collect()}
    model: dict[int, str] = {}
    for u, s, i, et in sorted(rows, key=lambda r: (r[1], r[2])):
        model[u] = model.get(u, "") + tmp.EVENT_CHARS[et]
    assert got_seqs == model
    for name, pat in tmp.CEP_PATTERNS:
        want = sum(len(re.findall(pat, s)) for s in model.values())
        got = (
            seq.select(
                F.size(F.regexp_extract_all("seq", F.lit(pat), F.lit(0))).alias("m")
            )
            .agg(F.sum("m"))
            .collect()[0][0]
        )
        assert got == want, name


# --- sliding distinct users vs brute-force model ---------------------------


@given(
    uds=st.lists(
        st.tuples(st.integers(1, 5), st.integers(0, 20)),  # (user, day offset)
        min_size=1,
        max_size=30,
    )
)
@_SETTINGS
def test_sliding_distinct_matches_bruteforce(spark, uds):
    """Random (user, day) activity: the fan-out composition's trailing
    W-day distinct counts must equal the brute-force window model for
    every anchor day it emits, and its anchor set must be exactly the
    days reachable from an active day within the window (capped at
    max observed day)."""
    import datetime as dt

    from cs537_spring2021_p3a_mapreduce_spark.operators import temporal as tmp

    base = dt.date(2024, 3, 1)
    rows = [(u, base + dt.timedelta(days=d)) for u, d in uds]
    df = spark.createDataFrame(rows, "user_id long, day date")
    mx = df.agg(F.max("day").alias("maxd"))
    fan = df.distinct().crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.least(F.date_add("day", tmp.SLIDING_DAYS - 1), F.col("maxd")),
            )
        ).alias("anchor"),
    )
    got = {
        r.anchor: r.n
        for r in fan.groupBy("anchor")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    days = {d for _, d in rows}
    maxd = max(days)
    anchors = {
        d + dt.timedelta(days=k)
        for d in days
        for k in range(tmp.SLIDING_DAYS)
        if d + dt.timedelta(days=k) <= maxd
    }
    assert set(got) == anchors
    for a in anchors:
        lo = a - dt.timedelta(days=tmp.SLIDING_DAYS - 1)
        want = len({u for u, d in rows if lo <= d <= a})
        assert got[a] == want, a


# --- largest-remainder allocation vs invariants on random weights ---------


@given(
    weights=st.lists(st.integers(0, 10_000), min_size=1, max_size=15),
    total=st.integers(1, 100_000),
)
@_SETTINGS
def test_hamilton_allocation_invariants(spark, weights, total):
    """Random weight vectors: Σalloc == total exactly, every alloc
    within 1 of its real quota, extras ∈ {0,1} — the apportionment
    guarantees, via the operator's own integer expressions."""
    from hypothesis import assume

    from pyspark.sql.window import Window

    assume(sum(weights) > 0)
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(weights)], "k long, w long"
    )
    W = sum(weights)
    staged = df.select(
        "k",
        "w",
        F.expr(f"CAST({total} AS BIGINT) * w DIV {W}").alias("base"),
        F.expr(f"(CAST({total} AS BIGINT) * w) % {W}").alias("rem"),
    )
    base_sum = staged.agg(F.sum("base")).collect()[0][0]
    L = total - base_sum
    win = Window.orderBy(F.col("rem").desc(), F.col("k").asc())
    out = (
        staged.withColumn("rk", F.row_number().over(win))
        .select(
            "k",
            "w",
            (F.col("base") + F.when(F.col("rk") <= L, 1).otherwise(0)).alias("alloc"),
        )
        .collect()
    )
    assert sum(r.alloc for r in out) == total
    for r in out:
        quota = total * r.w / W
        assert abs(r.alloc - quota) < 1.0 + 1e-9


@given(
    evs=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 500), st.integers(0, 1000)),
        min_size=2,
        max_size=25,
    )
)
@_SETTINGS
def test_twap_matches_step_function_model(spark, evs):
    """Random (user, second-offset, cents) series: the operator's
    Σ(cents·µs)/Σµs per user must equal a Python step-function model
    exactly (all-integer arithmetic until one final division)."""
    from hypothesis import assume

    from pyspark.sql.window import Window

    rows = [(u, s * 1_000_000, i, c) for i, (u, s, c) in enumerate(evs)]
    # model: per user, sort by (us, event_id), weight value by gap.
    # Rounding must mirror Spark's round(double, 6) — BigDecimal
    # HALF_UP on the double's exact expansion — NOT Python round()'s
    # banker's rounding: hypothesis found the tie 27·269/384 =
    # 18.9140625, where round() gives …62 and Spark …63.
    from decimal import ROUND_HALF_UP, Decimal

    def half_up6(x: float) -> float:
        return float(
            Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )

    model: dict[int, list] = {}
    for u, us, eid, c in rows:
        model.setdefault(u, []).append((us, eid, c))
    want = {}
    for u, lst in model.items():
        lst.sort()
        num = den = 0
        for (us, _, c), (nus, _, _) in zip(lst, lst[1:]):
            num += c * (nus - us)
            den += nus - us
        if den > 0:
            want[u] = half_up6(num / den)
    assume(want)
    df = spark.createDataFrame(rows, "user_id long, us long, event_id long, cents long")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    stepped = df.withColumn("next_us", F.lead("us").over(w)).where(
        F.col("next_us").isNotNull()
    )
    dur = F.col("next_us") - F.col("us")
    got_rows = (
        stepped.groupBy("user_id")
        .agg(
            F.sum(F.col("cents").cast("decimal(38,0)") * dur.cast("decimal(38,0)")).alias("num"),
            F.sum(dur).alias("den"),
        )
        .where(F.col("den") > 0)
        .select(
            "user_id",
            F.round(F.col("num").cast("double") / F.col("den").cast("double"), 6).alias("t"),
        )
        .collect()
    )
    got = {r.user_id: r.t for r in got_rows}
    assert got == want


@given(
    baskets=st.lists(
        st.lists(st.integers(1, 8), min_size=1, max_size=5, unique=True),
        min_size=1,
        max_size=12,
    )
)
@_SETTINGS
def test_market_basket_counts_match_itertools(spark, baskets):
    """Random baskets: the within-basket pair counts must equal the
    itertools model (each unordered pair counted once per basket it
    co-occurs in)."""
    import itertools
    from collections import Counter

    rows = [(b, item) for b, items in enumerate(baskets) for item in items]
    want = Counter()
    for items in baskets:
        for a, b in itertools.combinations(sorted(set(items)), 2):
            want[(a, b)] += 1
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long").distinct()
    a = df.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = df.select("l_orderkey", F.col("l_partkey").alias("pb"))
    got = Counter(
        {
            (r.pa, r.pb): r.n
            for r in a.join(b, "l_orderkey")
            .where(F.col("pa") < F.col("pb"))
            .groupBy("pa", "pb")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    )
    assert got == want


# --- prefix-filter losslessness ------------------------------------------
#
# PPJoin's contract is a THEOREM (every pair with J >= t survives the
# prefix + length + positional filters) — the strongest possible test
# is random corpora against the brute-force all-pairs model. A small
# vocabulary forces heavy shingle overlap, so high-Jaccard pairs occur
# routinely and the filters are exercised at their boundary.

_SHINGLE_VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
_DOC = st.lists(
    st.sampled_from(_SHINGLE_VOCAB), min_size=0, max_size=9
)
_CORPUS = st.lists(_DOC, min_size=2, max_size=7)


def _write_docs(spark, corpus, d):
    import os

    rows = [
        (i, " ".join(toks), "en", "t", len(" ".join(toks)))
        for i, toks in enumerate(corpus)
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))


def _shingle_sets(corpus):
    return {
        i: {tuple(t[j : j + 3]) for j in range(len(t) - 2)}
        for i, t in enumerate(corpus)
    }


@given(corpus=_CORPUS)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_ppjoin_lossless_vs_bruteforce_jaccard(spark, corpus):
    """Random small corpora: dedup_ppjoin's output must equal the
    brute-force all-pairs exact-Jaccard join at t=0.7 — losslessness
    of the prefix/length/positional filters (and of the r8
    window-count rebuild) over the full random pair spectrum,
    including exact duplicates, empty docs, and sub-3-token docs."""
    import tempfile

    from cs537_spring2021_p3a_mapreduce_spark.operators import dedup as dd

    d = tempfile.mkdtemp(prefix="pp_prop_")
    _write_docs(spark, corpus, d)
    sets = _shingle_sets(corpus)
    want = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                inter = len(sets[a] & sets[b])
                j = inter / (len(sets[a]) + len(sets[b]) - inter)
                if round(j, 6) >= dd.PPJOIN_THRESHOLD:
                    want[(a, b)] = round(j, 6)
    got = {
        (r.a_id, r.b_id): r.jaccard
        for r in dd.dedup_ppjoin(spark, d).collect()
    }
    assert got == want


@given(corpus=_CORPUS)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_containment_lossless_vs_bruteforce(spark, corpus):
    """Random small corpora: containment_join must equal the
    brute-force ordered-pairs containment join at t=0.9 — the
    one-sided prefix bound loses nothing, in both directions."""
    import tempfile

    from cs537_spring2021_p3a_mapreduce_spark.operators import dedup as dd

    d = tempfile.mkdtemp(prefix="cj_prop_")
    _write_docs(spark, corpus, d)
    sets = _shingle_sets(corpus)
    want = {}
    for a in sets:
        for b in sets:
            if a != b and sets[a]:
                c = len(sets[a] & sets[b]) / len(sets[a])
                if round(c, 6) >= dd.CONTAIN_THRESHOLD:
                    want[(a, b)] = round(c, 6)
    got = {
        (r.a_id, r.b_id): r.containment
        for r in dd.containment_join(spark, d).collect()
    }
    assert got == want


@given(corpus=_CORPUS)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_sparse_dot_topk_matches_integer_model(spark, corpus):
    """Random corpora: sparse_dot_topk must equal a from-scratch
    Python model of the exact-integer pipeline — tf, df, the 90%
    df-ceiling, w = tf·SCALE DIV df, pairwise integer dot products,
    and the (score desc, neighbor asc) top-k tie-break."""
    import tempfile
    from collections import Counter

    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    d = tempfile.mkdtemp(prefix="sp_prop_")
    _write_docs(spark, corpus, d)
    n_docs = len(corpus)
    tf = {i: Counter(t) for i, t in enumerate(corpus)}
    df = Counter()
    for c in tf.values():
        for tok in c:
            df[tok] += 1
    kept = {
        t for t, v in df.items() if v * 100 <= llm.SPARSE_DF_CEIL_PCT * n_docs
    }
    w = {
        i: {
            t: (c[t] * llm.SPARSE_IDF_SCALE) // df[t]
            for t in c
            if t in kept
        }
        for i, c in tf.items()
    }
    want = []
    for qid in range(min(n_docs, llm.SPARSE_TOPK_QUERIES)):
        scored = []
        for nid in range(n_docs):
            if nid == qid:
                continue
            sc = sum(w[qid][t] * w[nid][t] for t in w[qid].keys() & w[nid].keys())
            if w[qid].keys() & w[nid].keys():
                scored.append((sc, nid))
        scored.sort(key=lambda x: (-x[0], x[1]))
        for rank, (sc, nid) in enumerate(scored[: llm.SPARSE_TOPK_K], 1):
            want.append((qid, nid, sc, rank))
    got = [
        (r.query_id, r.neighbor_id, r.score, r.rank)
        for r in llm.sparse_dot_topk(spark, d).collect()
    ]
    assert sorted(got) == sorted(want)


@given(corpus=_CORPUS)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bm25_matches_integer_model(spark, corpus):
    """Random corpora: bm25_topk must equal a from-scratch Python
    model of the exact-rational BM25 — df-ceiling, rational idf
    ((N−df+1)·1000 DIV (df+1)), micro-unit tfnorm with clamp, qtf
    clamp, integer score sums, and the top-k tie-break."""
    import tempfile
    from collections import Counter

    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    d = tempfile.mkdtemp(prefix="bm_prop_")
    _write_docs(spark, corpus, d)
    n = len(corpus)
    tf = {i: Counter(t) for i, t in enumerate(corpus)}
    df = Counter()
    for c in tf.values():
        for tok in c:
            df[tok] += 1
    l_total = sum(sum(c.values()) for c in tf.values())
    dl = {i: sum(c.values()) for i, c in tf.items()}
    S, C = llm.BM25_TF_SCALE, llm.BM25_TF_CLAMP
    kept = {t for t, v in df.items() if v * 100 <= llm.SPARSE_DF_CEIL_PCT * n}

    def weight(i, t):
        idf_m = ((n - df[t] + 1) * llm.BM25_IDF_SCALE) // (df[t] + 1)
        tfc = min(tf[i][t], C)
        r = (dl[i] * n * S) // l_total
        tfnorm_u = (22 * tfc * S * S) // (10 * tfc * S + 3 * S + 9 * r)
        return (idf_m * tfnorm_u) // llm.BM25_IDF_SCALE

    want = []
    for qid in range(min(n, llm.SPARSE_TOPK_QUERIES)):
        scored = []
        for nid in range(n):
            if nid == qid:
                continue
            shared = tf[qid].keys() & tf[nid].keys() & kept
            if not shared:
                continue
            sc = sum(min(tf[qid][t], C) * weight(nid, t) for t in shared)
            scored.append((sc, nid))
        scored.sort(key=lambda x: (-x[0], x[1]))
        for rank, (sc, nid) in enumerate(scored[: llm.SPARSE_TOPK_K], 1):
            want.append((qid, nid, sc, rank))
    got = [
        (r.query_id, r.neighbor_id, r.score, r.rank)
        for r in llm.bm25_topk(spark, d).collect()
    ]
    assert sorted(got) == sorted(want)


@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-4, max_value=4), min_size=4, max_size=4
        ),
        min_size=3,
        max_size=12,
    )
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_ivf_int_matches_python_model(spark, vecs):
    """Random small integer embedding corpora (padded to 64 dims):
    similarity_ann_ivf_int must equal a from-scratch Python model of
    the whole pipeline — md5-ordered centroid sample, squared-L2
    argmin assignment with (d2, cid) ties, nprobe probe cut,
    zero-norm-guarded cosine re-rank with the (cos desc, neighbor
    asc) tie-break. Pins the operator independently of the DuckDB
    oracle (same theorem, third implementation)."""
    import hashlib
    import math
    import os
    import tempfile

    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    dim = 64
    emb = [v + [0] * (dim - len(v)) for v in vecs]
    d = tempfile.mkdtemp(prefix="ivf_prop_")
    spark.createDataFrame(
        [(i, [float(x) for x in e], 0) for i, e in enumerate(emb)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(os.path.join(d, "embeddings.parquet"))

    # model: q = round(x * SCALE) — inputs are small integers, exact
    q = {i: [x * llm.PQ_INT_SCALE for x in e] for i, e in enumerate(emb)}
    order = sorted(q, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    cents = {cid: q[i] for cid, i in enumerate(order[: llm.IVF_INT_K])}

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def cells_of(i):
        return sorted((d2(q[i], cq), cid) for cid, cq in cents.items())

    assign = {i: cells_of(i)[0][1] for i in q}
    want = []
    for qid in range(min(len(emb), llm.SIM_N_QUERIES)):
        probe = {cid for _, cid in cells_of(qid)[: llm.IVF_INT_NPROBE]}
        scored = []
        for nid in q:
            if nid == qid or assign[nid] not in probe:
                continue
            na = sum(x * x for x in q[qid])
            nb = sum(x * x for x in q[nid])
            if na > 0 and nb > 0:
                dot = sum(a * b for a, b in zip(q[qid], q[nid]))
                cos = round(dot / (math.sqrt(na) * math.sqrt(nb)), 6)
            else:
                cos = 0.0
            scored.append((cos, nid))
        scored.sort(key=lambda x: (-x[0], x[1]))
        for cos, nid in scored[: llm.SIM_K]:
            want.append((qid, nid, cos))
    got = [
        (r.query_id, r.neighbor_id, r.cos_sim)
        for r in llm.similarity_ann_ivf_int(spark, d).collect()
    ]
    assert sorted(got) == sorted(want)


@given(corpus=_CORPUS)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_dup_span_stats_matches_python_model(spark, corpus):
    """Random corpora: dup_span_stats must equal the Python model —
    every doc's sliding 5-gram windows counted against the
    corpus-wide multiset (within-doc repeats included), integer
    micro fraction, sub-5-token docs absent."""
    import tempfile
    from collections import Counter

    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    d = tempfile.mkdtemp(prefix="ds_prop_")
    _write_docs(spark, corpus, d)
    k = llm.DUP_SPAN_K
    spans = {
        i: [tuple(t[j : j + k]) for j in range(len(t) - k + 1)]
        for i, t in enumerate(corpus)
    }
    total = Counter(s for ss in spans.values() for s in ss)
    want = []
    for i, ss in spans.items():
        if not ss:
            continue
        dup = sum(1 for s in ss if total[s] >= 2)
        want.append((i, len(ss), dup, (dup * 1_000_000) // len(ss)))
    got = [
        (r.doc_id, r.n_spans, r.dup_spans, r.dup_micro)
        for r in llm.dup_span_stats(spark, d).collect()
    ]
    assert sorted(got) == sorted(want)


@given(corpus=_CORPUS)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_remove_dup_spans_matches_python_model(spark, corpus):
    """Random corpora: remove_dup_spans must equal the Python model
    of the exact rule — per span, the min-(doc,pos) occurrence is
    kept, every token covered by any later occurrence is removed,
    cleaned text hashed; all docs present."""
    import hashlib
    import tempfile
    from collections import defaultdict

    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    d = tempfile.mkdtemp(prefix="rds_prop_")
    _write_docs(spark, corpus, d)
    k = llm.DUP_SPAN_K
    occ = defaultdict(list)
    for i, ts in enumerate(corpus):
        for p in range(len(ts) - k + 1):
            occ[tuple(ts[p : p + k])].append((i, p))
    removed = defaultdict(set)
    for lst in occ.values():
        for i, p in sorted(lst)[1:]:
            removed[i].update(range(p, p + k))
    want = []
    for i, ts in enumerate(corpus):
        clean = " ".join(t for p, t in enumerate(ts) if p not in removed[i])
        want.append(
            (i, len(ts), len(removed[i]), hashlib.md5(clean.encode()).hexdigest())
        )
    got = [
        (r.doc_id, r.n_tokens, r.n_removed, r.clean_hash)
        for r in llm.remove_dup_spans(spark, d).collect()
    ]
    assert sorted(got) == sorted(want)


@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-4, max_value=4), min_size=4, max_size=4
        ),
        min_size=3,
        max_size=12,
    )
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_ivfpq_int_matches_python_model(spark, vecs):
    """Random small integer embedding corpora: similarity_ann_ivfpq_int
    must equal a from-scratch Python model of the COMPOSED pipeline —
    md5-sampled coarse centroids, (d2, cid)-tied assignment, residual
    encode against the own cell, shared residual codebook, per-cell
    ADC tables from the query's residual in the PROBED cell, (approx
    desc, id) candidate cut, exact-cosine re-rank. Third independent
    implementation beside Spark and the DuckDB oracle."""
    import hashlib
    import math
    import os
    import tempfile

    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    dim = 64
    emb = [v + [0] * (dim - len(v)) for v in vecs]
    d = tempfile.mkdtemp(prefix="ivfpq_prop_")
    spark.createDataFrame(
        [(i, [float(x) for x in e], 0) for i, e in enumerate(emb)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(os.path.join(d, "embeddings.parquet"))

    q = {i: [x * llm.PQ_INT_SCALE for x in e] for i, e in enumerate(emb)}
    order = sorted(q, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    cents = {cid: q[i] for cid, i in enumerate(order[: llm.IVF_INT_K])}
    sub_d = dim // llm.PQ_M

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def sub(v, m):
        return v[m * sub_d : (m + 1) * sub_d]

    def cells_of(i):
        return sorted((d2(q[i], cq), cid) for cid, cq in cents.items())

    assign = {i: cells_of(i)[0][1] for i in q}
    resid = {i: [a - b for a, b in zip(q[i], cents[assign[i]])] for i in q}
    cb = {k: resid[k] for k in q if k < llm.PQ_K}
    codes = {
        i: [
            min((d2(sub(resid[i], m), sub(rc, m)), k) for k, rc in cb.items())[1]
            for m in range(llm.PQ_M)
        ]
        for i in q
    }
    want = []
    for qid in range(min(len(emb), llm.SIM_N_QUERIES)):
        probe = {cid for _, cid in cells_of(qid)[: llm.IVF_INT_NPROBE]}
        approx = []
        for nid in q:
            if nid == qid or assign[nid] not in probe:
                continue
            rq = [a - b for a, b in zip(q[qid], cents[assign[nid]])]
            a = sum(
                sum(
                    x * y
                    for x, y in zip(sub(rq, m), sub(cb[codes[nid][m]], m))
                )
                for m in range(llm.PQ_M)
            )
            approx.append((a, nid))
        approx.sort(key=lambda t: (-t[0], t[1]))
        scored = []
        for _, nid in approx[: llm.PQ_CAND]:
            na = sum(x * x for x in q[qid])
            nb = sum(x * x for x in q[nid])
            if na > 0 and nb > 0:
                dot = sum(a * b for a, b in zip(q[qid], q[nid]))
                cos = round(dot / (math.sqrt(na) * math.sqrt(nb)), 6)
            else:
                cos = 0.0
            scored.append((cos, nid))
        scored.sort(key=lambda x: (-x[0], x[1]))
        for cos, nid in scored[: llm.SIM_K]:
            want.append((qid, nid, cos))
    got = [
        (r.query_id, r.neighbor_id, r.cos_sim)
        for r in llm.similarity_ann_ivfpq_int(spark, d).collect()
    ]
    assert sorted(got) == sorted(want)


def test_bradley_terry_planted_dominance(spark, tmp_path):
    """Planted transitive dominance (nation 1 beats all, 2 beats 3):
    exact raw win/loss bookkeeping, strict strength ordering, ranks
    1-2-3, and the gauge normalization holds Σπ = N·1e6 up to DIV
    slop."""
    import os

    from cs537_spring2021_p3a_mapreduce_spark.operators import mining

    d = str(tmp_path / "bt")
    li, sup = [], [(1, 1), (2, 2), (3, 3)]
    for ok in range(3):
        li += [
            (ok, 1, 1, 300.0),
            (ok, 2, 2, 200.0),
            (ok, 3, 3, 100.0),
        ]
    spark.createDataFrame(
        li, "l_orderkey long, l_linenumber int, l_suppkey long, "
        "l_extendedprice double"
    ).write.parquet(os.path.join(d, "lineitem.parquet"))
    spark.createDataFrame(
        sup, "s_suppkey long, s_nationkey int"
    ).write.parquet(os.path.join(d, "supplier.parquet"))
    rows = mining.bradley_terry_rating(spark, d).collect()
    got = {r.nationkey: r for r in rows}
    assert (got[1].n_wins, got[1].n_losses) == (6, 0)
    assert (got[2].n_wins, got[2].n_losses) == (3, 3)
    assert (got[3].n_wins, got[3].n_losses) == (0, 6)
    assert got[1].pi_micro > got[2].pi_micro > got[3].pi_micro
    # EXACT MM fixed-point pin (the rounds run as one grid-bounded
    # Arrow pass since r11 — this pins its integer arithmetic to the
    # values the unrolled DuckDB oracle replays: any drift to float
    # division or a changed round structure fails here, not only at
    # the gate)
    assert (got[1].pi_micro, got[2].pi_micro, got[3].pi_micro) == (
        1_936_178,
        773_295,
        290_525,
    )
    assert [r.nationkey for r in sorted(rows, key=lambda r: r.rank)] == [1, 2, 3]
    total = sum(r.pi_micro for r in rows)
    assert 3_000_000 - 3 <= total <= 3_000_000
