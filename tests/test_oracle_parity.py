"""Driver-contract parity: every queries() entry must match its
oracle_sql() in DuckDB at sf0.01 — row count, column names, and exact
values (order-insensitive), mimicking the driver's CORRECTNESS gate."""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm(v):
    # returns a homogeneous sortable key (rollup rows contain NULL keys)
    if v is None:
        return (0, "")
    if isinstance(v, float):
        if math.isnan(v):
            return (1, "NaN")
        return (1, repr(round(v, 9)))
    return (1, str(v)) if not isinstance(v, (int, bool)) else (2, v)


def _rows(frame):
    return sorted(
        tuple(_norm(v) for v in row) for row in frame
    )


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_query_matches_oracle(name, spark, duck):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql()[name]

    sdf = q(spark, SF_DIR)
    spark_cols = list(sdf.columns)
    spark_rows = [tuple(r[c] for c in spark_cols) for r in sdf.collect()]

    res = duck.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column names differ: {spark_cols} vs {duck_cols}"
    )
    # align duck columns to spark order
    idx = [duck_cols.index(c) for c in spark_cols]
    duck_rows = [tuple(r[i] for i in idx) for r in duck_rows]

    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    srt_s, srt_d = _rows(spark_rows), _rows(duck_rows)
    mismatches = [
        (a, b) for a, b in zip(srt_s, srt_d) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches: {mismatches[:3]}"


def test_every_query_has_an_oracle():
    """No query goes unchecked for want of an oracle, and no oracle
    outlives its query."""
    assert set(entry_mod.queries()) == set(entry_mod.oracle_sql())


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["doc_id", "kind", "text", "media_ref", "offset"]
