"""Local replica of the driver's correctness gate: run every queries()
entry of the ingestion registry (``__spark_entry__``) and of the corpus
registry (``corpus_lab.registry``) at sf0.001 and compare row count,
sorted-column schema, and order-insensitive values against the DuckDB
oracle_sql()."""

import math
import os

import duckdb
import pytest

SF_DIR = os.environ.get("NRS_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _duck(sql: str):
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    rel = con.sql(sql)
    cols = [c for c in rel.columns]
    rows = rel.fetchall()
    con.close()
    return cols, rows


def _canon(value):
    if value is None:
        return None
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        return round(value, 6)
    if isinstance(value, bool):
        return value
    try:
        import decimal
        if isinstance(value, decimal.Decimal):
            return round(float(value), 6)
    except ImportError:
        pass
    if hasattr(value, "isoformat"):
        return value.isoformat()
    return value


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_canon(r[i]) for i in order) for r in rows
    ), [cols[i] for i in order]


def _pairs():
    import __spark_entry__ as entrymod
    from corpus_lab import registry

    pairs = []
    for reg in (entrymod, registry):
        oracles = reg.oracle_sql()
        pairs += [(name, fn, oracles.get(name))
                  for name, fn in reg.queries().items()]
    return pairs


@pytest.mark.parametrize("name,fn,sql", _pairs(), ids=[p[0] for p in _pairs()])
def test_query_matches_oracle(spark, name, fn, sql):
    df = fn(spark, SF_DIR)
    spark_rows = df.collect()
    spark_cols = df.columns
    if sql is None:
        # weaker rows-only check (driver parity for no-oracle entries)
        assert spark_rows is not None
        return
    cols_raw, duck_rows = _duck(sql)
    duck_cols = [c.lower() for c in cols_raw]

    assert sorted(c.lower() for c in spark_cols) == sorted(duck_cols), (
        f"{name}: schema mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    s_set, _ = _rowset([c.lower() for c in spark_cols],
                       [[r[c] for c in spark_cols] for r in spark_rows])
    d_set, _ = _rowset(duck_cols, duck_rows)
    mism = [i for i, (a, b) in enumerate(zip(s_set, d_set)) if a != b][:3]
    assert s_set == d_set, (
        f"{name}: value mismatch at sorted idx {mism}; "
        f"spark={[s_set[i] for i in mism]} duck={[d_set[i] for i in mism]}"
    )


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert df.columns == ["id", "message_url", "datetime", "source", "photo_path", "text"]
    assert len(rows) > 0
