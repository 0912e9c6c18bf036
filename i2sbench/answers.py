"""Expected answers: order-insensitive result fingerprints and their sources.

An answer is fingerprinted as (sorted column names, row count, SHA-256 of
the sorted normalized rows). Columns are reordered by name first, so the
fingerprint ignores both row and column order. Cells normalize the way the
repository's correctness tests do: floats to 6 significant digits, temporal
values to ISO strings, NULL to a marker.

Expected fingerprints never come from the engine under test. Registry
queries use their DuckDB oracle; serving statements use a DuckDB statement
written beside them (workloads.py); BPE training, which has no SQL oracle,
uses the plain-Python reference below.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os


def _norm_cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def fingerprint(columns, rows) -> dict:
    """Order-insensitive fingerprint of a result set."""
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(lines).encode("utf-8")).hexdigest()
    return {"columns": sorted(cols), "rows": len(lines), "hash": h}


def matches(expected: dict, columns, rows) -> bool:
    return fingerprint(columns, rows) == expected


def duckdb_connection(sf_dir: str, tables):
    """A DuckDB connection with one view per input table."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def duckdb_fingerprint(con, sql: str) -> dict:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return fingerprint(cols, res.fetchall())


def bpe_word_freqs(con) -> dict[str, int]:
    """Word-type frequencies of documents.text, split on single spaces."""
    rows = con.execute(
        "SELECT w, count(*) FROM (SELECT unnest(string_split(text, ' ')) AS w"
        " FROM documents) WHERE w <> '' GROUP BY w").fetchall()
    return {w: int(n) for w, n in rows}


def bpe_merges(word_freqs: dict[str, int], n_merges: int) -> list[tuple]:
    """Plain-Python BPE training: rank, lhs, rhs, pair_count per merge.

    Each round counts frequency-weighted adjacent symbol pairs, picks the
    largest count (ties: smallest lhs, then rhs), stops below a count of
    2, and applies the merge greedily left to right in every word."""
    seqs = {tuple(w): f for w, f in word_freqs.items()}
    merges = []
    for r in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for seq, f in seqs.items():
            for a, b in zip(seq, seq[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (lhs, rhs), cnt = min(counts.items(),
                              key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if cnt < 2:
            break
        merges.append((r, lhs, rhs, cnt))
        merged: dict[tuple[str, ...], int] = {}
        for seq, f in seqs.items():
            out, pending = [], None
            for s in seq:
                if pending is None:
                    pending = s
                elif pending == lhs and s == rhs:
                    out.append(lhs + rhs)
                    pending = None
                else:
                    out.append(pending)
                    pending = s
            if pending is not None:
                out.append(pending)
            merged[tuple(out)] = merged.get(tuple(out), 0) + f
        seqs = merged
    return merges
