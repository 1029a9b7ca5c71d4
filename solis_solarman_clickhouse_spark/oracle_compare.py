"""The Spark-vs-DuckDB oracle check — the ONE implementation of the
external gate's comparator, its DuckDB catalog and its time-bounded
oracle call, shared by the test suite (``tests/conftest.py``) and the
registry sweep (``tools/sweep.py``) so the two can never fork.

The external driver reads BOTH result sets through pandas
(``spark_df.toPandas()`` / ``duckdb_con.execute(sql).df()``), sorts
columns by name, sorts rows, and hashes cell representations. Reading
through pandas is load-bearing: DuckDB HUGEINT/DECIMAL widen to float64
and DATE to datetime64 there — representation divergences the
``fetchall()`` path silently masks. Top-level array/map cells crash the
driver's canonicalizer, so :func:`canon_pandas` raises on them too.
"""

from __future__ import annotations

import math
import os
import threading

import numpy as np

from .tables import TABLE_NAMES


def norm_cell(v):
    """Cell canonicalization with int/float TYPE TAGS — an int64 10000
    and a float64 10000.0 must compare UNEQUAL, exactly as they
    hash-differ in the driver's canonicalizer."""
    if v is None:
        return "␀"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        r = round(f, 4)
        return f"f:{0.0 if r == 0 else r:.4f}"
    return str(v)


def canon_pandas(pdf) -> list[tuple]:
    """Column-name-sorted, row-sorted, cell-normalized result set from a
    pandas DataFrame (the driver's path). Raises TypeError on list/dict
    cells, as the driver's canonicalizer does."""
    cols = sorted(pdf.columns)
    out = []
    for row in pdf[cols].itertuples(index=False, name=None):
        for c in row:
            if isinstance(c, (list, dict, set, np.ndarray)):
                raise TypeError(
                    f"unhashable cell type {type(c).__name__}: top-level "
                    "array/map output columns crash the driver — serialize "
                    "them (array_to_string / concat_ws)"
                )
        out.append(tuple(norm_cell(c) for c in row))
    return sorted(out)


class OracleTimeout(Exception):
    """The oracle query ran past its time limit and was interrupted."""


def catalog(sf_dir: str, *, memory_limit: str | None = None):
    """DuckDB connection with one view per ``TABLE_NAMES`` parquet file that
    exists under ``sf_dir``; ``memory_limit`` (e.g. ``"4GB"``) bounds it."""
    import duckdb  # not in requirements.txt: only checks need it

    con = duckdb.connect()
    if memory_limit:
        con.execute(f"SET memory_limit='{memory_limit}'")
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def run_oracle(con, sql: str, timeout_s: float | None = None):
    """``sql``'s result on ``con`` as pandas, read through ``.df()`` like the
    driver. Past ``timeout_s`` seconds the query is interrupted and
    :class:`OracleTimeout` raised. The query runs on its own cursor, which
    shares the catalog but isolates the interrupt, and a late timer is a
    no-op, so an interrupt never reaches the connection's next query."""
    cur = con.cursor()
    done = threading.Event()
    fired = threading.Event()

    def _interrupt() -> None:
        if not done.is_set():
            fired.set()
            cur.interrupt()

    timer = threading.Timer(timeout_s, _interrupt) if timeout_s else None
    if timer:
        timer.start()
    try:
        return cur.execute(sql).df()
    except Exception as exc:
        if fired.is_set():
            raise OracleTimeout(f"oracle interrupted after {timeout_s:g}s") from exc
        raise
    finally:
        done.set()
        if timer:
            timer.cancel()
        cur.close()


def verdict(spark_pdf, oracle_pdf) -> str | None:
    """``None`` when the two pandas results canonicalize equal, else one
    line naming the column-set mismatch, or the row counts and the first
    differing row of the sorted canonical rows."""
    sc, oc = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if sc != oc:
        return f"COLUMN-MISMATCH {sc} vs {oc}"
    a, o = canon_pandas(spark_pdf), canon_pandas(oracle_pdf)
    if a == o:
        return None
    i = next((i for i, (x, y) in enumerate(zip(a, o)) if x != y), min(len(a), len(o)))
    x = a[i] if i < len(a) else None
    y = o[i] if i < len(o) else None
    return (f"MISMATCH {len(a)} vs {len(o)} rows; first differing row {i}: "
            f"spark={x} oracle={y}")
