"""Deterministic hash expressions with exact cross-engine (DuckDB) parity.

The reference partitions map output with FNV-32a: ``ihash(key) & 0x7fffffff``
then ``% NReduce`` (``src/mr/worker.go:16-20``, applied ``:58-60``). Spark's
internal shuffle uses Murmur3 — physical *placement* differs and that's fine
(results don't depend on placement) — but the bucket id itself is a declared
query output (SURVEY §2.5 Q09), so FNV-32a is reproduced here as a pure
**JVM-side** higher-order-function expression (``aggregate`` over a char
sequence), never a Python UDF: it stays inside whole-stage codegen and costs
no Python round-trip at 100 TB.

Only valid for ASCII inputs (``ascii()``/``unicode()`` return the first code
point, == the byte for ASCII); the synthetic corpus is ASCII.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

FNV_OFFSET_BASIS = 2166136261
FNV_PRIME = 16777619
TWO32 = 4294967296


def fnv1a32(col: str | Column) -> Column:
    """FNV-1a 32-bit hash of an ASCII string column, as BIGINT in [0, 2^32).

    JVM-side: aggregate over sequence(1, length) with xor/multiply/mod.
    """
    name = col if isinstance(col, str) else None
    if name is None:
        # Materialize through a SQL expression on the column object.
        raise TypeError("fnv1a32 takes a column *name* so it can be spliced into expr()")
    # Fold over split(s, '') — one linear pass — NOT over
    # sequence(1, length) with substring(s, i, 1): Spark's substring walks
    # the UTF8String from the start on every call, making that form
    # QUADRATIC in the document (a single 100 KB web doc stalled for
    # minutes; 5 MB via split folds in ~1 s). Identical hash values —
    # only the fold's cost model changes (pinned by
    # tests/test_text_props.py::test_fnv_linear_in_document_size).
    return F.expr(
        f"""
        CASE WHEN length({name}) = 0 THEN CAST({FNV_OFFSET_BASIS} AS BIGINT)
        ELSE aggregate(
            split({name}, ''),
            CAST({FNV_OFFSET_BASIS} AS BIGINT),
            (acc, ch) -> ((acc ^ CAST(ascii(ch) AS BIGINT))
                         * {FNV_PRIME}) % {TWO32}
        ) END
        """
    )


def fnv1a32_bucket(col: str, n_buckets: int = 10) -> Column:
    """Reference bucket id: ``(fnv1a32(key) & 0x7fffffff) % n`` (worker.go:16-20)."""
    return ((fnv1a32(col).bitwiseAND(F.lit(0x7FFFFFFF))) % n_buckets).cast("int")


def fnv1a32_duckdb(expr: str) -> str:
    """The same hash as ANSI-ish DuckDB SQL, for oracle queries."""
    return (
        f"CASE WHEN length({expr}) = 0 THEN CAST({FNV_OFFSET_BASIS} AS BIGINT) ELSE "
        f"list_reduce(list_prepend(CAST({FNV_OFFSET_BASIS} AS BIGINT), "
        f"list_transform(range(1, length({expr}) + 1), "
        f"i -> CAST(unicode(substr({expr}, i, 1)) AS BIGINT))), "
        f"(acc, b) -> ((xor(acc, b) * {FNV_PRIME}) % {TWO32})) END"
    )


def fnv1a32_py(s: str | bytes) -> int:
    """Python twin (used by the MR runner's reducers and multimodal stubs)."""
    data = s.encode("utf-8") if isinstance(s, str) else s
    h = FNV_OFFSET_BASIS
    for b in data:
        h = ((h ^ b) * FNV_PRIME) % TWO32
    return h


def key2shard(col: str | Column, n_shards: int = 10) -> Column:
    """Reference shard routing: int(first byte of key) mod NShards.

    ``src/shardkv/client.go:22-29``; ``NShards=10`` (shardctrler/common.go:21).
    Empty key → shard 0, matching Go's guard.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(F.length(c) > 0, F.ascii(F.substring(c, 1, 1)) % n_shards)
        .otherwise(F.lit(0))
        .cast("int")
    )
