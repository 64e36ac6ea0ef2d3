"""The local mirror of the driver's correctness gate: every query in
``queries()`` with an ``oracle_sql()`` entry must match DuckDB exactly
(row count + column names + order-insensitive values) on the fixture
tables.  Queries without an oracle must at least run and return a stable
schema.
"""

from __future__ import annotations

import inspect
import json
import os
import subprocess
import sys

import pytest

import __spark_entry__ as entry_mod
from tests.conftest import assert_frames_match

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


# The family modules in the order kafka_go_cardinality_spark/queries.py
# imports them.
FAMILIES = (
    "queries_cardinality",
    "queries_relational",
    "queries_datapipe",
    "queries_analytics",
    "queries_streaming",
    "queries_udf",
)

_IMPORT_AUDIT = """
import fnmatch, json, os, sys
seen = []
def hook(event, args):
    if event == "subprocess.Popen":
        seen.append([event, repr(args[1])])
    elif event == "open" and isinstance(args[0], (str, bytes)):
        base = os.path.basename(os.fsdecode(args[0]))
        if fnmatch.fnmatch(base, "CORRECTNESS_r*.json"):
            seen.append([event, base])
sys.addaudithook(hook)
import __spark_entry__
print(json.dumps(seen))
"""


def test_registry_order_is_static():
    """Importing the registry runs no subprocess and reads no
    CORRECTNESS_r*.json artifact, and its order is registration order:
    walking ``queries()``, the defining family module never goes back
    to one imported earlier."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_AUDIT],
        cwd=root,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    assert json.loads(out.stdout.splitlines()[-1]) == []

    positions = [
        FAMILIES.index(
            os.path.splitext(
                os.path.basename(inspect.getsourcefile(inspect.unwrap(fn)))
            )[0]
        )
        for fn in QUERIES.values()
    ]
    assert positions == sorted(positions)


def test_oracle_keys_subset_of_queries():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, f"oracle_sql keys with no queries() entry: {missing}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark, parity_duck, parity_sf_dir):
    """Runs at the driver's checking scale (sf0.01 by default) — the
    exact mirror of the CORRECTNESS gate, including its data volume."""
    q = QUERIES[name]
    spark_pdf = q(spark, parity_sf_dir).toPandas()
    oracle_pdf = parity_duck.execute(ORACLES[name]).fetchdf()
    assert_frames_match(spark_pdf, oracle_pdf)


@pytest.mark.parametrize(
    "name", sorted(set(QUERIES) - set(ORACLES))
)
def test_rows_only_queries_run(name, spark, parity_sf_dir):
    df = QUERIES[name](spark, parity_sf_dir)
    assert df.columns, f"{name} returned no columns"
    assert df.count() >= 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"timestamp", "exact", "approx", "rel_err"}
