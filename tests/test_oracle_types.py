"""Registry-wide oracle OUTPUT-TYPE guard (round-3 verdict, fix #3).

The external driver reads oracle results through pandas, where DuckDB
HUGEINT (any uncast SUM / ``//`` over window sums / SUM(CASE...)) and
DECIMAL widen to float64 while Spark emits int64 — a hash mismatch on
value-identical rows. Top-level LIST/STRUCT/MAP columns are worse: the
driver's canonicalizer CRASHES on them (``TypeError: unhashable type:
'list'``). This test walks every registered oracle's DECLARED output
types via ``DESCRIBE`` so the bug class is caught at commit time, not by
the driver a round later.
"""

from __future__ import annotations

import pytest

from solis_solarman_clickhouse_spark.oracle_compare import catalog
from solis_solarman_clickhouse_spark.queries import REGISTRY

from .conftest import SF_DIR

BANNED_FRAGMENTS = ("HUGEINT", "UHUGEINT", "DECIMAL", "[]", "STRUCT", "MAP(")

# Exact-type bans (not substrings): DuckDB DATE reaches pandas as
# datetime64 ('1995-01-31 00:00:00') while Spark yields datetime.date
# ('1995-01-31') — value-identical, hash-divergent. TIMESTAMP stays legal
# (both engines produce pandas Timestamps). Emit dates as strings.
#
# INT width: as of round 6 every integer output column is BIGINT on BOTH
# engines — Spark narrow ints are widened at the registry boundary
# (registry.widen_ints) and the 49 audited narrow-int oracles carry a
# widening outer SELECT (registry._ORACLE_WIDEN). The driver's cell hash
# was empirically width-INsensitive (green int32-vs-BIGINT rows from
# r01-r02), but a dtype-keyed comparator would have failed ~110 columns;
# banning narrow ints here keeps the closed class closed.
BANNED_EXACT = ("DATE", "TINYINT", "SMALLINT", "INTEGER",
                "UTINYINT", "USMALLINT", "UINTEGER")

WITH_ORACLE = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)


@pytest.fixture(scope="module")
def type_audit():
    con = catalog(SF_DIR)
    audit = {}
    for name in WITH_ORACLE:
        rows = con.execute(f"DESCRIBE {REGISTRY[name].oracle}").fetchall()
        audit[name] = [(r[0], r[1]) for r in rows]
    con.close()
    return audit


def test_no_oracle_emits_banned_output_types(type_audit):
    offenders = {}
    for name, cols in type_audit.items():
        bad = [
            (c, ty)
            for c, ty in cols
            if any(b in ty.upper() for b in BANNED_FRAGMENTS)
            or ty.upper() in BANNED_EXACT
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "oracles with HUGEINT/DECIMAL (pandas widens to float64 — driver "
        "hash-fail), DATE (pandas widens to datetime64 — renders with a "
        "midnight time Spark's datetime.date lacks), or LIST/STRUCT/MAP "
        f"(driver canonicalizer crash) output columns:\n{offenders}\n"
        "CAST integers to BIGINT; serialize arrays with array_to_string; "
        "serialize dates with strftime(d,'%Y-%m-%d') / date_format."
    )


def test_every_oracle_describes(type_audit):
    # DESCRIBE succeeded for every oracle (syntax + view resolution) and
    # produced at least one output column.
    empty = [n for n, cols in type_audit.items() if not cols]
    assert not empty, f"oracles with no output columns: {empty}"


def test_widened_oracle_column_order_matches_spark(spark, type_audit):
    """The widening wrapper must be ORDER-PRESERVING: since round 7 it
    emits ``SELECT * REPLACE (CAST(c AS BIGINT) AS c)`` instead of
    EXCLUDE-then-append, so every widened oracle's DESCRIBE column order
    must equal the Spark query's schema order — removing the silent
    dependence on the driver comparator being name-aligned."""
    from solis_solarman_clickhouse_spark.queries.registry import _ORACLE_WIDEN

    mismatched = {}
    for name in sorted(_ORACLE_WIDEN):
        spec = REGISTRY[name]
        if spec.oracle is None:
            continue
        oracle_cols = [c for c, _ty in type_audit[name]]
        spark_cols = list(spec.fn(spark, SF_DIR).columns)
        if oracle_cols != spark_cols:
            mismatched[name] = (spark_cols, oracle_cols)
    assert not mismatched, (
        f"widened oracles whose column order differs from Spark:\n{mismatched}"
    )
