"""Result checks for the query mix: each Spark result must equal the
registry's DuckDB oracle on the same fixture.

Rows are normalised as the repository's oracle test does
(tests/test_queries_oracle.py): columns sorted by name, floats to six
significant digits, rows sorted.  The comparison is on a digest of that
normal form, so an expected result can be stored ahead of time.

The document queries' oracles take minutes in DuckDB at the benchmark's
size, and the documents table does not depend on the seed, so their
digests are stored in ``oracle_digests.json`` (written by
``make_digests.py``).  A stored digest is used only while the oracle SQL and
the fixture version it was made from are unchanged; otherwise the oracle is
run live.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

ORACLE_TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem", "events", "documents")
DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_digests.json")


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}" if abs(v) < 1e15 else repr(v)
    return str(v)


def normalize(rows, columns) -> list[tuple[str, ...]]:
    """Sort columns by name, stringify values with float rounding, sort rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(norm_cell(row[i]) for i in order) for row in rows)


def digest(rows, columns) -> str:
    payload = json.dumps([sorted(columns), normalize(rows, columns)])
    return hashlib.sha256(payload.encode()).hexdigest()


def sql_key(sql: str, fixture_version: str) -> str:
    return hashlib.sha256(f"{fixture_version}\n{sql}".encode()).hexdigest()


def duck_digest(sf_dir: str, sql: str) -> str:
    import duckdb

    con = duckdb.connect()
    try:
        for t in ORACLE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
        rel = con.sql(sql)
        return digest(rel.fetchall(), rel.columns)
    finally:
        con.close()


def load_stored() -> dict:
    with open(DIGESTS_PATH) as f:
        return json.load(f)


def expected_digest(name: str, sql: str, sf_dir: str, fixture_version: str, stored: dict) -> str:
    """The oracle's digest for query ``name``: the stored one when it was
    made from this SQL and fixture version, else computed now."""
    entry = stored.get(name)
    if entry and entry["key"] == sql_key(sql, fixture_version):
        return entry["digest"]
    return duck_digest(sf_dir, sql)
