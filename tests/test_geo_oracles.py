"""Geo queries against their DuckDB oracles.

Every ``__spark_entry__.queries()`` entry runs on the Spark fixture over
the sf0.01 tables and must equal its ``oracle_sql()`` in DuckDB: same
column names, same row count, same values in any order. These are the
engine-independent checks of the pixel/RLE path (``q_coco_*``) and of
the filter-and-refine join (``q_spatial_join_*``, ``q_knn_*``).
``q_coco_pipeline`` runs the whole append and is checked for rows only.
"""

from __future__ import annotations

import math
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entry_mod

# the sf0.01 tables next to entry()'s sf0.001 (TESTDATA.md)
SF_DIR = Path(entry_mod.SF1).with_name("sf0.01")
ROWS_ONLY = {"q_coco_pipeline"}
QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, int):
        return int(v)
    return v


@pytest.fixture(scope="module")
def sf_dir():
    assert SF_DIR.is_dir(), f"oracle tables missing: {SF_DIR}"
    return str(SF_DIR)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for table in sorted(SF_DIR.glob("*.parquet")):
        con.sql(f"CREATE VIEW {table.stem} AS SELECT * FROM '{table}'")
    yield con
    con.close()


def test_every_query_has_an_oracle():
    assert set(QUERIES) == set(ORACLES) | ROWS_ONLY


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    sdf = QUERIES[name](spark, sf_dir)
    scols = sorted(sdf.columns)
    srows = sorted(tuple(_norm(r[c]) for c in scols) for r in sdf.collect())
    if name in ROWS_ONLY:
        assert srows, f"{name} returned no rows"
        return
    odf = duck.sql(ORACLES[name]).fetchdf()
    ocols = sorted(odf.columns.tolist())
    orows = sorted(
        tuple(_norm(v) for v in row)
        for row in odf[ocols].itertuples(index=False, name=None)
    )
    assert scols == ocols
    assert len(srows) == len(orows)
    diff = next(((a, b) for a, b in zip(srows, orows) if a != b), None)
    assert diff is None, f"first differing row: spark={diff[0]} duckdb={diff[1]}"
