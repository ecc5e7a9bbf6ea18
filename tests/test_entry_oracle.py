"""Driver-contract conformance: run every queries() entry at sf0.001 and
compare against its oracle_sql() DuckDB result the way the driver does —
row count, column names, and order-insensitive values (doubles compared
post-rounding, as both sides already round).

sf0.001 keeps this suite fast; the driver re-runs the same harness at
sf0.01.
"""

from __future__ import annotations

import math
import os
import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("PBOH_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon(df, cols):
    """Sort columns by name, then rows; normalize values for comparison."""
    out = []
    for _, row in df[cols].iterrows():
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append(None)
            elif isinstance(v, float):
                vals.append(round(v, 8))
            elif hasattr(v, "item"):
                vals.append(v.item() if not isinstance(v.item(), float) else round(v.item(), 8))
            else:
                vals.append(v)
        out.append(tuple(str(x) for x in vals))
    return sorted(out)


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_match(spark, ddb, name):
    sdf = _QUERIES[name](spark, SF_DIR).toPandas()
    odf = ddb.execute(_ORACLES[name]).fetchdf()
    scols = sorted(sdf.columns)
    ocols = sorted(odf.columns)
    assert scols == ocols, f"{name}: column mismatch {scols} vs {ocols}"
    assert len(sdf) == len(odf), f"{name}: rowcount {len(sdf)} vs {len(odf)}"
    sv, ov = _canon(sdf, scols), _canon(odf, scols)
    mism = [(a, b) for a, b in zip(sv, ov) if a != b]
    assert not mism, f"{name}: {len(mism)} value mismatches, first: {mism[:3]}"


@pytest.mark.parametrize(
    "name", sorted(set(_QUERIES) - set(_ORACLES))
)
def test_rows_only(spark, name):
    # mirrors the driver's rows-only gate: rows > 0 (>= 0 would be
    # vacuously true and let a regression-to-empty pass)
    df = _QUERIES[name](spark, SF_DIR)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0



def test_linkage_queries_pin_only_what_their_result_reads(spark):
    """A linkage query releases what it pins, except what its lazy result
    still reads: the CC queries return frames over CC's checkpointed
    labels (one entry each), and the threshold grid reads nothing
    pinned. The first call of each builds the seeded corpus'
    session-lifetime persists; a second call may add only those."""
    result_pins = {
        "pboh_e2e_clusters": 1,
        "pboh_surface_clusters": 1,
        "pboh_threshold_grid": 0,
    }

    def force(name):
        _QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    def pinned():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    for name in result_pins:
        force(name)
    for name, n in result_pins.items():
        before = pinned()
        force(name)
        assert len(pinned() - before) == n, name
