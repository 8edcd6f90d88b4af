"""Correctness gates. Each returns a list of problems; empty means pass.

A failed gate counts the unit as failed and makes the run exit non-zero.
The self-check (selfcheck.py) feeds each gate a deliberately corrupted
output to show that it fires.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from decimal import Decimal

import duckdb

# Floats are compared at 9 significant digits: the registry's oracles are
# written to agree exactly, and this only absorbs summation-order noise.
_FLOAT_DIGITS = 9


def _cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, (int, Decimal)) and not isinstance(v, bool):
        d = Decimal(v)
        if d == d.to_integral_value():
            return f"n:{int(d)}"
        return f"f:{float(d):.{_FLOAT_DIGITS}g}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        if v == int(v) and abs(v) < 2**53:
            return f"n:{int(v)}"
        return f"f:{v:.{_FLOAT_DIGITS}g}"
    if isinstance(v, dt.datetime):
        return "t:" + v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return "t:" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={_cell(x)}" for k, x in sorted(v.items())) + "}"
    return f"s:{v}"


def table_digest(rows: list[tuple], cols: list[str]) -> tuple[int, list[str], str]:
    """(row count, sorted column names, order-insensitive value hash)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), [cols[i] for i in order], h


def duckdb_conn(sf_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def oracle_digest(con: duckdb.DuckDBPyConnection, sql: str):
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return table_digest(res.fetchall(), cols)


def query_gate(name: str, got, want) -> list[str]:
    """Spark digest vs DuckDB oracle digest for one registry query."""
    problems = []
    if got[0] != want[0]:
        problems.append(f"{name}: row count {got[0]} != oracle {want[0]}")
    if got[1] != want[1]:
        problems.append(f"{name}: columns {got[1]} != oracle {want[1]}")
    if not problems and got[2] != want[2]:
        problems.append(f"{name}: value hash {got[2]} != oracle {want[2]}")
    return problems


def mr_gate(app: str, got_lines: list[str], want_lines: list[str]) -> list[str]:
    """Sorted run_job output lines equal run_sequential's."""
    if got_lines == want_lines:
        return []
    missing = set(want_lines) - set(got_lines)
    extra = set(got_lines) - set(want_lines)
    return [
        f"{app}: output differs from run_sequential "
        f"({len(got_lines)} vs {len(want_lines)} lines, {len(missing)} missing, "
        f"{len(extra)} unexpected, e.g. {sorted(extra)[:1] or sorted(missing)[:1]})"
    ]


def ingest_gate(
    batch_ids: list[int], decisions: dict[int, tuple], kinds: dict[int, tuple], copy_tier: str = "exact"
) -> list[str]:
    """Admission decisions of the batches in ``batch_ids``.

    ``decisions``: doc_id -> (admitted, tier) over every batch so far;
    ``kinds``: doc_id -> (batch, kind, source_id) for every generated doc.
    Checks exactly one decision per input doc, and that every byte-identical
    re-fetch of an admitted earlier doc was rejected at tier ``copy_tier``."""
    problems = []
    wanted = {d for d, (b, _, _) in kinds.items() if b in batch_ids}
    got = {d for d in decisions if kinds.get(d, (None,))[0] in batch_ids}
    if got != wanted:
        problems.append(
            f"batches {batch_ids}: {len(wanted - got)} docs without a decision, "
            f"{len(got - wanted)} decisions for unknown docs"
        )
    for d in sorted(wanted & got):
        _, kind, src = kinds[d]
        if kind != "exact" or not decisions.get(src, (False, None))[0]:
            continue
        if decisions[d] != (False, copy_tier):
            problems.append(
                f"doc {d}: byte-identical copy of admitted doc {src} got {decisions[d]}, "
                f"expected rejection at tier '{copy_tier}'"
            )
    return problems


def decisions_count_gate(n_rows: int, n_docs: int) -> list[str]:
    """Exactly one decision row per input doc (no duplicate rows)."""
    if n_rows == n_docs:
        return []
    return [f"decisions log holds {n_rows} rows for {n_docs} input docs"]


def decisions_hash(rows: list[tuple]) -> str:
    """Order-insensitive hash of (doc_id, admitted, matched_id, tier, score)."""
    return table_digest(rows, ["doc_id", "admitted", "matched_id", "tier", "score"])[2]
