"""Oracle type-fidelity guard.

The external correctness driver hashes VALUES through a TYPE-SENSITIVE
encoding: a DuckDB column whose type drifts from the Spark side (the
classic case: ``SUM(BIGINT)`` silently returning HUGEINT) produces a
hash mismatch even when every value is bit-identical.  Round 8 shipped
exactly this defect in ``url_canonical_stats`` — rows_match and
schema_match stayed green while hash_match went red, and the local
parity suite (which normalizes through ``repr(int)``) never noticed.

This sweep binds every registered oracle against the smoke-SF views and
asserts that no output column is HUGEINT / UHUGEINT / wide DECIMAL.
Binding (``con.sql(q).types``) plans the query without executing it, so
the whole catalog checks in seconds with no Spark session.

Repo convention enforced here: integer-summing oracles must wrap in
``CAST(... AS BIGINT)``; ratio/average oracles must produce DOUBLE, not
DECIMAL.
"""

from __future__ import annotations

import duckdb
import pytest

from conftest import SF_SMOKE
from training_catalog.plans import ORACLES

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

# DuckDB type ids that the driver's type-sensitive hash will never agree
# with a Spark schema on (Spark has no 128-bit integer; DECIMAL sums drift
# in precision between engines).
_FORBIDDEN = {"HUGEINT", "UHUGEINT"}


@pytest.fixture(scope="module")
def bind_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_SMOKE}/{t}.parquet')")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_emits_no_untranslatable_types(bind_con, name):
    rel = bind_con.sql(ORACLES[name])
    bad = []
    for col, typ in zip(rel.columns, rel.types):
        tid = str(typ).upper()
        if tid in _FORBIDDEN or tid.startswith("DECIMAL(38"):
            bad.append((col, tid))
    assert not bad, (
        f"oracle '{name}' emits driver-unhashable column types {bad}; "
        f"wrap integer sums in CAST(... AS BIGINT) and decimal math in "
        f"CAST(... AS DOUBLE) — the driver hash is type-sensitive even "
        f"when values match")
