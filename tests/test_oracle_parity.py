"""Every declared query must match its DuckDB oracle EXACTLY at sf0.01 —
the local mirror of the driver's t2 correctness gate."""

from __future__ import annotations

import pytest

from biodiversity_data_ingestion_spark.plans.queries import QUERIES

from .conftest import SF_DIR
from .oracle_harness import compare, duckdb_con, duckdb_con_raw


@pytest.fixture(scope="module")
def con():
    c = duckdb_con(SF_DIR)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, con, name):
    spec = QUERIES[name]
    if spec["oracle"] is None:
        df = spec["builder"](spark, SF_DIR)
        assert df.count() >= 0  # rows-only check (non-SQL-expressible op)
        return
    result = compare(name, spec["builder"](spark, SF_DIR), con, spec["oracle"])
    assert result.ok, f"{name}: rows {result.spark_rows}/{result.oracle_rows}; " + "; ".join(
        result.problems[:5]
    )


@pytest.mark.parametrize(
    "name", ["part_copurchase_pairs", "copurchase_triangles", "copurchase_kcore"]
)
def test_copurchase_keeps_every_pair_of_a_large_basket(spark, tmp_path, name):
    # two orders of the same 70 parts: each of the 70 * 69 / 2 part
    # pairs is bought together twice. The oracles pair every basket
    # member, so a slice cap on the in-array pair explode (parts past
    # the cap never pair) shows up as missing pairs.
    import pyarrow as pa
    import pyarrow.parquet as pq

    parts = list(range(1, 71))
    pq.write_table(
        pa.table({
            "l_orderkey": pa.array([1] * 70 + [2] * 70, pa.int64()),
            "l_partkey": pa.array(parts * 2, pa.int64()),
        }),
        str(tmp_path / "lineitem.parquet"),
    )
    pq.write_table(
        pa.table({"p_partkey": pa.array(parts, pa.int64()), "p_brand": ["Brand#12"] * 70}),
        str(tmp_path / "part.parquet"),
    )
    con = duckdb_con_raw()
    for t in ("lineitem", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path / t}.parquet'")
    spec = QUERIES[name]
    result = compare(name, spec["builder"](spark, str(tmp_path)), con, spec["oracle"])
    con.close()
    assert result.ok, f"{name}: rows {result.spark_rows}/{result.oracle_rows}; " + "; ".join(
        result.problems[:5]
    )
