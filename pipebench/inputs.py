"""Seeded inputs: the Derby "CDS view" the pipelines ingest, and the parquet
fixture the query mix reads.

Everything here is a pure function of its arguments.  The package under test
only ever sees what these functions write.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------- Derby view
# The view is built inside Derby as BASE x DIGITS: BASE holds
# rows/1000 seeded rows, DIGITS 0..999, so seeding costs one INSERT of a few
# hundred rows plus one INSERT ... SELECT that Derby runs without any
# round-trip through Python.  Each row is about 220 bytes of values.
SOURCE_COLUMNS = (
    ("id", "bigint"),
    ("name", "string"),
    ("category", "string"),
    ("amount", "decimal(12,2)"),
    ("qty", "int"),
    ("note", "string"),
)
CATEGORIES = tuple(f"cat_{i:02d}" for i in range(13))
NOTE_CHARS = 176
_WORDS = (
    "batch window spark order data column agg join small line customer query "
    "value table part scan slow fast key hash merge sort row group filter stream "
    "big vector the a"
).split()


def _note(rng: np.random.Generator) -> str:
    words = []
    while sum(len(w) + 1 for w in words) < NOTE_CHARS:
        words.append(_WORDS[rng.integers(len(_WORDS))])
    return " ".join(words)[:NOTE_CHARS]


def source_base_rows(seed: int, rows: int) -> list[tuple]:
    """The seeded BASE rows: (i, name, category, cents, qty, note)."""
    if rows % 1000:
        raise ValueError(f"source rows must be a multiple of 1000, got {rows}")
    rng = np.random.default_rng([seed, 1])
    out = []
    for i in range(rows // 1000):
        out.append(
            (
                i,
                f"name_{rng.integers(10**9):09d}",
                CATEGORIES[rng.integers(len(CATEGORIES))],
                int(rng.integers(100, 10**7)),
                int(rng.integers(1, 50)),
                _note(rng),
            )
        )
    return out


def expected_source_aggregate(seed: int, rows: int) -> dict[str, tuple[int, int, int]]:
    """category -> (rows, sum(qty), sum(amount) in cents) of the view that
    ``seed_derby`` builds, computed in Python from the same BASE rows."""
    digits = np.arange(1000, dtype=np.int64)
    agg: dict[str, list[int]] = {}
    for _i, _name, cat, cents, qty, _note_text in source_base_rows(seed, rows):
        a = agg.setdefault(cat, [0, 0, 0])
        a[0] += 1000
        a[1] += int(((qty + digits) % 50).sum())
        a[2] += int((cents + digits).sum())
    return {k: tuple(v) for k, v in agg.items()}


def seed_derby(jvm, url: str, seed: int, rows: int) -> None:
    """Create table ``src`` with ``rows`` rows in the Derby database at
    ``url`` (which must carry ``;create=true``)."""
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        st.execute("CREATE TABLE digits (d INT)")
        st.execute("INSERT INTO digits VALUES " + ",".join(f"({d})" for d in range(1000)))
        st.execute(
            "CREATE TABLE base (i INT, name VARCHAR(16), category VARCHAR(8), "
            "cents BIGINT, qty INT, note VARCHAR(200))"
        )
        base = source_base_rows(seed, rows)
        for lo in range(0, len(base), 100):  # Derby's parser limits VALUES lists
            values = ",".join(
                f"({i}, '{name}', '{cat}', {cents}, {qty}, '{note}')"
                for i, name, cat, cents, qty, note in base[lo : lo + 100]
            )
            st.execute(f"INSERT INTO base VALUES {values}")
        st.execute(
            "CREATE TABLE src (id BIGINT PRIMARY KEY, name VARCHAR(24), "
            "category VARCHAR(8), amount DECIMAL(12,2), qty INT, note VARCHAR(200))"
        )
        st.execute(
            "INSERT INTO src SELECT CAST(b.i AS BIGINT) * 1000 + g.d, "
            "b.name || '-' || TRIM(CHAR(g.d)), b.category, "
            "CAST(b.cents + g.d AS DECIMAL(12,0)) * 0.01, MOD(b.qty + g.d, 50), b.note "
            "FROM base b, digits g"
        )
        st.close()
    finally:
        conn.close()


def source_value_bytes(seed: int, rows: int) -> int:
    """Bytes of the view's values, as a user would count them: 8 per
    bigint and decimal, 4 per int, one per string character."""
    total = 0
    for _i, name, cat, _cents, _qty, note in source_base_rows(seed, rows):
        total += 1000 * (8 + len(name) + 1 + len(cat) + 8 + 4 + len(note))
        total += sum(len(str(d)) for d in range(1000))
    return total


# ------------------------------------------------------------ query fixture
# Table shapes follow the repository's sf0.1 test fixture (TESTDATA.md):
# same names, columns and parquet types, same row counts, except documents:
# 1,000 rows, not 5,000, to keep a run inside the benchmark's time budget.
# The documents table is the same for every seed (DOCS_SEED) so that the
# DuckDB oracles of the document queries, which take tens of seconds, can be
# computed once ahead of time (oracle.py); every other table follows the run
# seed.
SF_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 1_000,
}
DOCS_SEED = 20240101
FIXTURE_VERSION = "sf0.1-docs1000-v1"
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en"] * 9 + ["de", "de", "de", "es", "es", "fr", "fr", "zh", "zh", "zh"]


def _ts(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def documents_table() -> pa.Table:
    """Seed-independent corpus: random texts over a small vocabulary, one in
    ten a near-copy of an earlier text so the similarity graph has edges."""
    n = SF_ROWS["documents"]
    rng = np.random.default_rng(DOCS_SEED)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.1:
            words = texts[int(rng.integers(i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(len(words)))] = _WORDS[rng.integers(len(_WORDS))]
        else:
            words = [_WORDS[k] for k in rng.integers(len(_WORDS), size=int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), type=pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array([_LANGS[k] for k in rng.integers(len(_LANGS), size=n)]),
            "source": pa.array([f"src{k}" for k in rng.integers(20, size=n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def write_fixture(out_dir: str, seed: int) -> None:
    """Write the query-mix tables for ``seed`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)  # noqa: E731

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": pa.array(_REGIONS),
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    }))
    nc, ns = SF_ROWS["customer"], SF_ROWS["supplier"]
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(nc), type=pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(25, size=nc), type=pa.int32()),
        "c_acctbal": pa.array(money(-999, 9999, nc)),
        "c_mktsegment": pa.array([_SEGMENTS[k] for k in rng.integers(5, size=nc)]),
    }))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(ns), type=pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(25, size=ns), type=pa.int32()),
        "s_acctbal": pa.array(money(-999, 9999, ns)),
    }))
    no = SF_ROWS["orders"]
    day_us = 86_400 * 10**6
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(no), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(nc, size=no), type=pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[k] for k in rng.integers(3, size=no)]),
        "o_totalprice": pa.array(money(1000, 500_000, no)),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2404, size=no) * day_us),
        "o_orderpriority": pa.array([_PRIORITIES[k] for k in rng.integers(5, size=no)]),
    }))
    nl = SF_ROWS["lineitem"]
    qty = rng.integers(1, 51, size=nl).astype(np.float64)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(no, size=nl), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(20_000, size=nl), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(ns, size=nl), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=nl), type=pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=nl) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[k] for k in rng.integers(3, size=nl)]),
        "l_linestatus": pa.array([("F", "O")[k] for k in rng.integers(2, size=nl)]),
        "l_shipdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2600, size=nl) * day_us),
    }))
    ne = SF_ROWS["events"]
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(ne), type=pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), np.sort(rng.integers(0, 30 * day_us, size=ne))),
        "user_id": pa.array(rng.integers(1_500, size=ne), type=pa.int64()),
        "event_type": pa.array([_EVENT_TYPES[k] for k in rng.integers(5, size=ne)]),
        "value": pa.array(money(0, 20, ne)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(100, size=ne)]),
    }))
    _write(out_dir, "documents", documents_table())
