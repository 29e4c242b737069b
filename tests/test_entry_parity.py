"""Replicates the driver's correctness gate: every queries() entry vs
its oracle_sql() twin on DuckDB at sf0.01 — row count + column set +
order-insensitive value equality (floats to 4dp)."""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["nation", "customer", "orders", "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _normalize(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, float):
                v = None if (v is None or (isinstance(v, float) and math.isnan(v))) else round(v, 4)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


QUERIES = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql().get(name)
    assert sql is not None, f"{name} missing oracle sql"

    sdf = q(spark, SF_DIR)
    cols = sorted(sdf.columns)
    spark_rows = [r.asDict() for r in sdf.collect()]

    ddf = duck.execute(sql).fetchdf()
    assert sorted(ddf.columns.tolist()) == cols, f"column mismatch: {sorted(ddf.columns.tolist())} vs {cols}"
    duck_rows = ddf.to_dict("records")

    assert len(spark_rows) == len(duck_rows), f"{name}: rowcount {len(spark_rows)} vs {len(duck_rows)}"
    a = _normalize(spark_rows, cols)
    b = _normalize(duck_rows, cols)
    mismatch = [i for i, (x, y) in enumerate(zip(a, b)) if x != y][:3]
    assert a == b, f"{name}: first mismatches at {mismatch}: " + "; ".join(
        f"spark={a[i]} duck={b[i]}" for i in mismatch
    )


def test_every_query_has_a_twin_and_no_orphan_twin():
    assert set(entry_mod.queries()) == set(entry_mod.oracle_sql())


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and df.schema is not None


def test_sig16_rematerializes_after_clear_cache(spark):
    """clearCache() drops the memoized signature relation's data while
    the frame still reads is_cached == True; the next _sig16 call must
    hand out a frame that scans the cache again, not one that silently
    recomputes the signatures on every use."""
    entry_mod._sig16(spark, SF_DIR)
    spark.catalog.clearCache()
    sig = entry_mod._sig16(spark, SF_DIR)
    assert "InMemoryTableScan" in sig._jdf.queryExecution().executedPlan().toString()
