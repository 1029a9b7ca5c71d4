"""Seeded inputs: the query tables and the raw register files.

The tables come from the repository's own generator (``tools/gen_sf.py``).
The raw register files are written here, in the program's raw schema
(``inverter``, ``time``, ``reg_<addr>`` as 32-bit ints holding u16 words),
so the ingest workload feeds the pipeline exactly what a poller lands.
``REGISTERS`` is the benchmark's own copy of the reference register map;
the checks recompute the fact table from it instead of from the program.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: (name, first address, words, scale) in the reference fetch order.
REGISTERS = (
    ("dc_1_voltage", 3021, 1, 0.1),
    ("dc_1_amps", 3022, 1, 0.1),
    ("dc_2_voltage", 3023, 1, 0.1),
    ("dc_2_amps", 3024, 1, 0.1),
    ("dc_3_voltage", 3025, 1, 0.1),
    ("dc_3_amps", 3026, 1, 0.1),
    ("dc_actual_watts", 3006, 2, 1.0),
    ("ac_actual_watts", 3004, 2, 1.0),
    ("inverter_temperature_celsius", 3041, 1, 0.1),
    ("dc_busbar_voltage", 3031, 1, 0.1),
    ("ground_voltage", 3030, 1, 0.1),
    ("ac_apparent_watts", 3057, 2, 1.0),
    ("ac_voltage", 3035, 1, 0.1),
    ("ac_amps", 3038, 1, 0.1),
    ("ac_frequency", 3042, 1, 0.01),
    ("kwh_day", 3014, 1, 0.1),
    ("kwh_month", 3010, 2, 1.0),
    ("kwh_annual", 3016, 2, 1.0),
    ("kwh_total", 3008, 2, 1.0),
)

CADENCE_S = 30
#: The fleet's polls start at noon, two and a half days before a month
#: ends. With noon-to-noon files every file holds a whole day and a whole
#: night, and the third one straddles the month boundary, so the sink must
#: split that micro-batch by ``ym``.
START = np.datetime64("2024-01-29T12:00:00", "s")


def repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def generate_tables(sf: float, out: str, seed: int) -> None:
    """The repository's table generator at ``sf`` and ``seed``."""
    path = os.path.join(repo_root(), "tools", "gen_sf.py")
    spec = importlib.util.spec_from_file_location("gen_sf", path)
    if spec is None or spec.loader is None:
        raise FileNotFoundError(path)
    gen_sf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_sf)
    import contextlib
    import io

    with contextlib.redirect_stdout(io.StringIO()):  # one line per table
        gen_sf.generate(sf, out, seed)


def _u16(x: np.ndarray) -> np.ndarray:
    return np.clip(np.rint(x), 0, 65535).astype(np.int32)


def _u32_words(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    v = np.rint(x).astype(np.int64)
    return (v >> 16).astype(np.int32), (v & 0xFFFF).astype(np.int32)


def generate_raw(out: str, seed: int, *, inverters: int, files: int, slots: int) -> list[str]:
    """``files`` raw parquet files of ``slots`` 30 s polls of the fleet each.

    A diurnal fleet: DC power follows the sun between 06:00 and 18:00 under
    a seeded cloud cover, and is exactly zero at night (rows the pipeline
    drops). Plant sizes span 5 kW to 90 kW, so the u32 watt registers use
    both words. kWh counters are monotone; the day counter resets at
    midnight and the month counter at the month boundary. A few polls read
    more AC than DC power, so the efficiency clamp at 100 is exercised.
    File ``i`` gets modification time ``i`` seconds after the first one:
    the streaming file source replays files in modification-time order.
    """
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_slots = files * slots
    t = START + np.arange(n_slots) * CADENCE_S  # per slot, UTC seconds
    tod = (t - t.astype("datetime64[D]")).astype(np.int64)  # seconds into the day
    phase = (tod - 6 * 3600) / (12.0 * 3600)
    sun = np.where((phase >= 0) & (phase <= 1), np.sin(np.clip(phase, 0, 1) * np.pi), 0.0)
    # Cloud cover: a smoothed seeded walk shared by the fleet, in [0.25, 1].
    walk = np.cumsum(rng.normal(0, 0.08, n_slots))
    cloud = 0.25 + 0.75 / (1 + np.exp(-(walk - walk.mean())))

    kw = rng.uniform(5, 90, inverters)  # plant DC size
    v_oc = rng.uniform(3400, 3900, inverters)  # 0.1 V units
    kwh_total0 = rng.integers(100_000, 400_000, inverters)

    # (slot, inverter) grids, slot-major so a file is a contiguous time slice
    sun_g = (sun * cloud)[:, None] * rng.uniform(0.97, 1.0, (n_slots, inverters))
    dc_w = np.rint(sun_g * kw[None, :] * 1000.0)
    strings_v = v_oc[None, :] * (0.85 + 0.15 * sun_g) * (sun_g > 0)
    strings_a = np.where(dc_w > 0, dc_w / 3 / np.maximum(strings_v / 10, 1) * 10, 0)
    eff = rng.uniform(0.93, 0.98, (n_slots, inverters))
    eff[rng.random((n_slots, inverters)) < 0.01] = 1.02  # metering noise
    ac_w = np.floor(dc_w * eff)
    kwh = np.cumsum(dc_w * CADENCE_S / 3.6e6, axis=0)  # kWh produced so far
    day = t.astype("datetime64[D]")
    month = t.astype("datetime64[M]")
    kwh_day = kwh - _first_of_group(kwh, day)
    kwh_month = kwh - _first_of_group(kwh, month)
    temp = 150 + 350 * sun_g + rng.normal(0, 5, (n_slots, inverters))

    regs: dict[int, np.ndarray] = {
        3021: _u16(strings_v), 3022: _u16(strings_a),
        3023: _u16(strings_v * 0.99), 3024: _u16(strings_a * 0.98),
        3025: _u16(strings_v * 0.98), 3026: _u16(strings_a * 1.01),
        3041: _u16(temp), 3031: _u16(strings_v * 1.6 + 1000 * (dc_w > 0)),
        3030: _u16(np.full_like(dc_w, 12) + 10 * sun_g),
        3035: _u16(2300 + rng.normal(0, 15, dc_w.shape)),
        3038: _u16(ac_w / 230 * 10 / 3),
        3042: _u16(5000 + rng.normal(0, 3, dc_w.shape)),
        3014: _u16(kwh_day * 10),
    }
    for addr, val in ((3006, dc_w), (3004, ac_w), (3057, np.floor(dc_w * 0.99)),
                      (3010, kwh_month), (3016, kwh + 50_000),
                      (3008, kwh + kwh_total0[None, :])):
        regs[addr], regs[addr + 1] = _u32_words(val)

    names = np.array([f"INV-{i:03d}" for i in range(inverters)])
    paths = []
    base_mtime = 1_700_000_000
    for f in range(files):
        sl = slice(f * slots, (f + 1) * slots)
        cols = {
            "inverter": pa.array(np.tile(names, slots)),
            "time": pa.array(
                np.repeat(t[sl].astype("datetime64[us]").astype(np.int64), inverters),
                pa.timestamp("us", tz="UTC"),
            ),
        }
        for addr in sorted(regs):
            cols[f"reg_{addr}"] = pa.array(regs[addr][sl].ravel(), pa.int32())
        path = os.path.join(out, f"raw-{f:03d}.parquet")
        pq.write_table(pa.table(cols), path)
        os.utime(path, (base_mtime + f, base_mtime + f))
        paths.append(path)
    return paths


def _first_of_group(x: np.ndarray, keys: np.ndarray) -> np.ndarray:
    """For each row of ``x``, the value of the row before its key group's
    first row (0 for the first group): the counter's value at reset."""
    start = np.r_[True, keys[1:] != keys[:-1]]
    idx = np.maximum.accumulate(np.where(start, np.arange(len(keys)), 0))
    return np.vstack([np.zeros((1, x.shape[1])), x])[idx]


def fingerprint_files(paths: list[str]) -> dict[str, dict]:
    """Row count and content hash of each parquet input file."""
    out = {}
    for p in sorted(paths):
        with open(p, "rb") as fh:
            digest = hashlib.sha256(fh.read()).hexdigest()[:16]
        out[os.path.basename(p)] = {
            "rows": pq.ParquetFile(p).metadata.num_rows,
            "sha256": digest,
        }
    return out
