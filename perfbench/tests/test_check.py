"""The DuckDB ingest replay accepts a correct table state and rejects
wrong ones."""

from __future__ import annotations

import duckdb
import pytest

from perfbench import gen
from perfbench.check import IngestReplay


@pytest.fixture()
def landed(tmp_path):
    orders = gen.tpch_tables(4, 0.0002)["orders"]
    initial, batches = gen.order_changes(4, orders, 3, 20)
    paths = []
    for c, t in enumerate([initial] + batches):
        paths.append(str(tmp_path / "landing" / f"c{c}.parquet"))
        gen.write(t, paths[-1])
    return paths


def _write_silver(path, landed, current_expr):
    files = "[" + ", ".join(f"'{p}'" for p in landed) + "]"
    (path / "_history" / "pre1").mkdir(parents=True)
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * EXCLUDE (o_totalprice), CAST(o_totalprice AS DECIMAL(15,2)) AS o_totalprice, "
        f"{current_expr} AS is_current, o_orderstatus IS NOT NULL AS data_quality_valid_flag "
        f"FROM read_parquet({files})) TO '{path}/part-0.parquet' (FORMAT PARQUET)"
    )
    # retained history must not be read as live data
    con.execute(f"COPY (SELECT 1 AS junk) TO '{path}/_history/pre1/part-0.parquet' (FORMAT PARQUET)")
    con.close()


def test_replay_accepts_the_correct_scd2_state(tmp_path, landed):
    silver = tmp_path / "silver"
    _write_silver(
        silver, landed,
        "CASE WHEN row_number() OVER (PARTITION BY o_orderkey ORDER BY o_updated_at DESC) = 1 "
        "THEN 1 ELSE 0 END",
    )
    r = IngestReplay()
    try:
        assert r.orders_scd2(landed, str(silver)) == []
        assert r.rows(str(silver)) == sum(duckdb.sql(f"SELECT count(*) FROM '{p}'").fetchone()[0] for p in landed)
    finally:
        r.close()


def test_replay_rejects_a_state_with_every_version_current(tmp_path, landed):
    silver = tmp_path / "silver"
    _write_silver(silver, landed, "1")
    r = IngestReplay()
    try:
        problems = r.orders_scd2(landed, str(silver))
    finally:
        r.close()
    assert any("current rows differ" in p for p in problems)
    assert any("closed versions" in p for p in problems)
