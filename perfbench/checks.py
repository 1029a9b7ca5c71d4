"""Output checks, made outside the timed passes.

- A registry query's collected rows must equal its oracle SQL run by
  DuckDB over the same parquet. Floats compare at 4 decimals, the
  registry's convention; rows and columns compare as sorted sets.
- The ingest sink's landed table must equal a NumPy recompute of the raw
  files from the benchmark's own register map: per-inverter row counts and
  exact per-inverter column sums. Each (inverter, time) pair lands once,
  and each landed file holds one month, sorted by (inverter, time).

Every check returns a list of failure messages; empty means it passed.
"""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import math
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from inputs import REGISTERS

def duckdb_views(tables_dir: str, names):
    """A DuckDB connection with a view over ``<name>.parquet`` for each name."""
    import duckdb

    con = duckdb.connect()
    for t in names:
        path = os.path.join(tables_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _cell(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        r = round(f, 4)
        return f"{0.0 if r == 0 else r:.4f}"
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return repr(v)


def canon(columns, rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, cells normalised, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    return [columns[i] for i in order], sorted(out, key=repr)


def check_query(name: str, columns, rows, oracle: tuple[list[str], list[tuple]]) -> list[str]:
    got_cols, got = canon(columns, rows)
    want_cols, want = oracle
    if got_cols != want_cols:
        return [f"{name}: columns {got_cols} != oracle {want_cols}"]
    if got != want:
        got_set, want_set = set(got), set(want)
        extra = [r for r in got if r not in want_set][:1]
        missing = [r for r in want if r not in got_set][:1]
        return [f"{name}: {len(got)} rows vs oracle {len(want)}; "
                f"first extra {extra}, first missing {missing}"]
    return []


def oracle_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return canon([d[0] for d in cur.description], cur.fetchall())


# --- ingest ----------------------------------------------------------------

FLOAT_COLS = tuple(n for n, _a, _w, s in REGISTERS if s != 1.0) + (
    "inverter_efficiency_percent",)


def recompute(raw_paths: list[str]) -> dict[str, np.ndarray]:
    """The fact rows the pipeline should land, from the raw files alone:
    u32 = hi << 16 | lo; 0.1 and 0.01 scales rounded to 6 places, stored
    as float32; string watts = round(V * A) half-up on the float32
    product; efficiency = min(100, AC / DC * 100); rows with zero DC
    power dropped."""
    t = pa.concat_tables([pq.read_table(p) for p in raw_paths])

    def reg(a: int) -> np.ndarray:
        return t.column(f"reg_{a}").to_numpy().astype(np.int64)

    out: dict[str, np.ndarray] = {
        "inverter": np.asarray(t.column("inverter").to_pylist(), dtype=object),
        "time": _micros(t.column("time")),
    }
    for name, addr, words, scale in REGISTERS:
        v = (reg(addr) << 16) | reg(addr + 1) if words == 2 else reg(addr)
        out[name] = v if scale == 1.0 else np.round(v * scale, 6).astype(np.float32)
    for i in (1, 2, 3):
        prod = out[f"dc_{i}_voltage"] * out[f"dc_{i}_amps"]  # float32 product
        out[f"dc_{i}_watts"] = np.floor(prod.astype(np.float64) + 0.5).astype(np.int64)
    out["dc_calculated_watts"] = out["dc_1_watts"] + out["dc_2_watts"] + out["dc_3_watts"]
    dc = out["dc_actual_watts"]
    keep = dc > 0
    with np.errstate(divide="ignore", invalid="ignore"):
        eff = np.minimum(100.0, out["ac_actual_watts"].astype(np.float64) / dc * 100)
    out["inverter_efficiency_percent"] = eff.astype(np.float32)
    return {k: v[keep] for k, v in out.items()}


def _micros(col) -> np.ndarray:
    arr = col.to_numpy() if isinstance(col, pa.ChunkedArray) else np.asarray(col)
    return arr.astype("datetime64[us]").astype(np.int64)


def landed_files(sink_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(sink_dir, "batch_id=*", "ym=*", "*.parquet")))


def read_landed(sink_dir: str) -> dict[str, np.ndarray]:
    tables = [pq.read_table(p) for p in landed_files(sink_dir)]
    if not tables:
        return {}
    t = pa.concat_tables(tables)
    out = {c: t.column(c).to_numpy() for c in t.column_names if c not in ("inverter", "time")}
    out["inverter"] = np.asarray(t.column("inverter").to_pylist(), dtype=object)
    out["time"] = _micros(t.column("time"))
    return out


def _per_inverter(cols: dict[str, np.ndarray]) -> dict[str, dict]:
    order = np.argsort(cols["inverter"], kind="stable")
    inv = cols["inverter"][order]
    cut = np.flatnonzero(np.r_[True, inv[1:] != inv[:-1], True])
    out = {}
    for a, b in zip(cut[:-1], cut[1:]):
        idx = order[a:b]
        sums = {}
        for c, v in cols.items():
            if c == "inverter":
                continue
            sums[c] = math.fsum(v[idx].tolist()) if c in FLOAT_COLS else int(v[idx].sum())
        out[inv[a]] = {"rows": int(b - a), "sums": sums}
    return out


def check_landed(sink_dir: str, expected: dict[str, np.ndarray]) -> list[str]:
    errors: list[str] = []
    got = read_landed(sink_dir)
    if not got:
        return [f"{sink_dir}: nothing landed"]
    missing_cols = sorted(set(expected) - set(got))
    if missing_cols:
        return [f"landed table lacks columns {missing_cols}"]
    want_g, got_g = _per_inverter(expected), _per_inverter({c: got[c] for c in expected})
    if sorted(want_g) != sorted(got_g):
        errors.append(f"inverters {sorted(got_g)[:3]}... != expected {sorted(want_g)[:3]}...")
    for inv in sorted(set(want_g) & set(got_g)):
        w, g = want_g[inv], got_g[inv]
        if w["rows"] != g["rows"]:
            errors.append(f"{inv}: {g['rows']} rows landed, {w['rows']} expected")
        bad = [c for c in w["sums"] if w["sums"][c] != g["sums"][c]]
        if bad:
            errors.append(f"{inv}: column sums differ in {bad}")
    keys = np.rec.fromarrays([got["inverter"].astype(str), got["time"]])
    n_unique = len(np.unique(keys))
    if n_unique != len(keys):
        errors.append(f"{len(keys) - n_unique} (inverter, time) pairs landed more than once")
    errors += check_layout(sink_dir)
    return errors


def check_layout(sink_dir: str) -> list[str]:
    """Each landed file: one month, equal to its ``ym=`` directory, and rows
    sorted by (inverter, time)."""
    errors = []
    for path in landed_files(sink_dir):
        ym = re.search(r"ym=(\d{6})", path).group(1)
        t = pq.read_table(path, columns=["inverter", "time"])
        months = np.unique(_micros(t.column("time")).astype("datetime64[us]")
                           .astype("datetime64[M]").astype(str))
        if [m.replace("-", "") for m in months] not in ([ym], []):
            errors.append(f"{path}: months {list(months)} in ym={ym}")
        inv = np.asarray(t.column("inverter").to_pylist(), dtype=object)
        ts = _micros(t.column("time"))
        same = inv[1:] == inv[:-1]
        if (inv[1:] < inv[:-1]).any() or (same & (ts[1:] < ts[:-1])).any():
            errors.append(f"{path}: rows not sorted by (inverter, time)")
    return errors
