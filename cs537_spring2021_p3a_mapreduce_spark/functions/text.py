"""Text column expressions: tokenization, the sliding k-gram window
over a token array, and the reference's djb2 partition function, all
as pure Catalyst expressions.

Reference trace:
- tokenizer: `strsep` on " \\t\\n\\r" per line (main.c:22-27). We use
  the clean `\\s+` split and drop empty tokens; the reference's
  consecutive-delimiter truncation quirk (main.c:23-24) is a
  documented defect (SURVEY §4.3), not reproduced.
- k-gram window: every n-gram/shingle operator slides a k-token
  window over that token array. ``window_starts`` / ``ngrams`` are
  the one construction — narrow per-row higher-order functions, no
  lag/lead window and so no shuffle.
- djb2: `hash*33+c` over key bytes, mod n_partitions
  (MR_DefaultHashPartition, mapreduce.c:88-94), with C unsigned
  64-bit wraparound semantics.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

_UINT64_MOD_10 = 6  # 2**64 % 10 == 6; general form computed per-n below.


def tokens(text: Column | str) -> Column:
    """Split a text column on runs of whitespace → array<string>,
    empties removed. Pair with ``explode`` for the flatMap shape
    (reference A3, main.c:22-27).

    ``array_remove(_, '')`` — not ``F.filter`` with a lambda — drops
    the empties: same semantics (removes ALL empty strings, e.g. the
    leading one from ' a'.split), but it is a plain codegen'd
    expression, where higher-order-function lambdas are interpreted
    per element and were ~3× the cost of the split itself on the
    hot tokenize path."""
    col = F.col(text) if isinstance(text, str) else text
    return F.array_remove(F.split(col, r"\s+"), "")


def window_starts(arr: Column | str, k: int) -> Column:
    """Start indices ``0 .. size(arr)-k`` of every k-wide window over
    an array column, or ``[]`` when the array holds fewer than ``k``
    elements. The guard matters: ``sequence(0, -1)`` DESCENDS to
    ``[0, -1]`` instead of being empty."""
    col = F.col(arr) if isinstance(arr, str) else arr
    return F.when(
        F.size(col) >= k, F.sequence(F.lit(0), F.size(col) - k)
    ).otherwise(F.array().cast("array<int>"))


def ngrams(
    arr: Column | str, k: int, combine: Callable[..., Column]
) -> Column:
    """``transform(window_starts(arr, k), i -> combine(arr[i], …,
    arr[i+k-1]))`` — one value per k-gram, in order, duplicates kept
    (a sequence shorter than ``k`` gives ``[]``). ``combine`` takes
    the ``k`` element columns, e.g. ``F.xxhash64`` for an 8-byte
    shingle identity or ``lambda *t: F.concat_ws(" ", *t)`` for the
    joined string.

    ``arr`` must be a NAMED column (a column name or ``F.col``), not
    an inline expression such as ``tokens("text")``: Catalyst applies
    no common-subexpression elimination inside lambda bodies, so an
    inline array expression re-evaluates on every element access —
    O(len²) per row. Project the array under a name first."""
    col = F.col(arr) if isinstance(arr, str) else arr
    return F.transform(
        window_starts(col, k),
        lambda i: combine(*[F.get(col, i + j) for j in range(k)]),
    )


def djb2_partition(key: Column | str, n_partitions: int) -> Column:
    """Bit-exact djb2 partition id (reference A5, mapreduce.c:88-94).

    C semantics: ``unsigned long hash = 5381; hash = hash*33 + c``
    with silent mod-2^64 wraparound, then ``% n_partitions``. Spark 4
    runs with ANSI arithmetic (overflow throws), so instead of
    relying on wraparound we carry the hash as two 32-bit halves in a
    struct accumulator — every intermediate fits a long with room to
    spare:

        lo' = lo*33 + c          (< 2^38)
        hi' = (hi*33 + lo'>>32) & (2^32-1)
        lo  = lo' & (2^32-1)
        u % n = ((hi % n) * (2^32 % n) + lo) % n

    Pure expression — whole-stage-codegen-friendly, no UDF, ANSI-safe
    for keys of any length.
    """
    if n_partitions <= 0:
        raise ValueError("n_partitions must be positive")
    col = F.col(key) if isinstance(key, str) else key
    # split on '' yields one element per character (no trailing empty
    # in Spark 3/4); non-ASCII is out of scope (reference reads bytes,
    # fixtures are ASCII).
    chars = F.filter(F.split(col, ""), lambda ch: ch != F.lit(""))
    mask32 = F.lit((1 << 32) - 1)
    n = F.lit(n_partitions)

    def _step(acc: Column, ch: Column) -> Column:
        c = F.ascii(ch).cast("long")
        lo_full = acc.lo * F.lit(33) + c
        hi = (acc.hi * F.lit(33) + F.shiftrightunsigned(lo_full, 32)).bitwiseAND(mask32)
        return F.struct(hi.alias("hi"), lo_full.bitwiseAND(mask32).alias("lo"))

    return F.aggregate(
        chars,
        F.struct(
            F.lit(0).cast("long").alias("hi"), F.lit(5381).cast("long").alias("lo")
        ),
        _step,
        lambda acc: F.pmod(
            F.pmod(acc.hi, n) * F.lit((1 << 32) % n_partitions) + acc.lo, n
        ),
    )


def djb2_oracle_sql(key_expr: str, n_partitions: int) -> str:
    """DuckDB-SQL rendering of the same djb2 partition id, using
    HUGEINT (128-bit) arithmetic with an explicit mod-2^64 at each
    step — DuckDB BIGINT traps on overflow rather than wrapping."""
    return (
        "list_reduce("
        f"  list_prepend(5381::HUGEINT, [ord(c)::HUGEINT for c in string_split({key_expr}, '')]),"
        "  (acc, c) -> (acc * 33 + c) % 18446744073709551616::HUGEINT"
        f") % {n_partitions}"
    )
