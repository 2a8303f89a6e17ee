"""Output checks for query ops.

Every query op's result is reduced to a row count and an
order-independent digest. The first time a query runs in a run its
rows are compared cell by cell with the query's DuckDB oracle on the
same generated data, through the canonical rendering of
``tools/verify_oracle.py`` (column names, per-column kinds, exact value
text). Later runs of the same query in the run must reproduce the
digest of the first.
"""

from __future__ import annotations

import hashlib

import duckdb

from tools import verify_oracle


# (sorted column names, kind per column, sorted rendered rows)
canonical = verify_oracle._canon


def digest(canon) -> str:
    cols, _kinds, rows = canon
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def fast_digest(pdf) -> str:
    """Order-independent digest that skips the per-cell rendering:
    the sorted per-row hashes of the frame with its columns sorted."""
    import pandas as pd

    cols = sorted(pdf.columns)
    frame = pdf[cols].copy()
    for c in cols:
        if frame[c].dtype == object:
            frame[c] = frame[c].map(repr)
    rows = pd.util.hash_pandas_object(frame, index=False).sort_values()
    h = hashlib.sha256(repr((cols, [str(t) for t in frame.dtypes])).encode())
    h.update(rows.to_numpy().tobytes())
    return h.hexdigest()[:16]


class Oracle:
    """DuckDB views over a generated data dir, one per table."""

    def __init__(self, data_dir: str, tables: list[str]):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def compare(self, sql: str, canon) -> str | None:
        """None when the Spark rows equal the oracle's, else a reason."""
        dcols, dkinds, drows = verify_oracle._canon(self.con.execute(sql).df())
        scols, skinds, srows = canon
        if scols != dcols:
            return f"columns spark={scols} oracle={dcols}"
        bad = [c for c in scols if not verify_oracle._kinds_compatible(
            skinds[c], dkinds[c])]
        if bad:
            return f"column kinds differ: {bad}"
        if len(srows) != len(drows):
            return f"rows spark={len(srows)} oracle={len(drows)}"
        if srows != drows:
            n = sum(a != b for a, b in zip(srows, drows))
            return f"{n} of {len(srows)} rows differ"
        return None

    def close(self) -> None:
        self.con.close()
