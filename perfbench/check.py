"""Correctness checks, run outside the timed region.

``frame_digest`` canonicalises a result exactly as the repository's
oracle checker (``tools/check_oracle.py``) does: columns sorted by name,
values rendered canonically, rows sorted, SHA-256. It is restated here so
the benchmark's verdict cannot change when that tool changes.

``IngestReplay`` recomputes the expected state of every table the ingest
path writes from the landed change files alone, in DuckDB, and compares
it with the table files on disk.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

import duckdb

from perfbench.storage import live_files


def _canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    return str(v)


def frame_digest(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_canon_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def oracle_digests(tables_dir: str, table_names: list[str], oracles: dict[str, str]) -> dict[str, tuple]:
    """``name -> (row count, sorted columns, digest)`` of each DuckDB
    oracle over the generated tables."""
    con = duckdb.connect()
    try:
        for t in table_names:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
        out = {}
        for name, sql in oracles.items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[name] = (len(rows), sorted(cols), frame_digest(cols, rows))
        return out
    finally:
        con.close()


def result_matches(df, expected: tuple) -> bool:
    """Collect a Spark frame and compare it with an oracle digest."""
    rows = [tuple(r) for r in df.collect()]
    n, cols, digest = expected
    return (
        len(rows) == n
        and sorted(df.columns) == cols
        and frame_digest(df.columns, rows) == digest
    )


def files_sql(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


class IngestReplay:
    """Expected table states from the landed files, compared in DuckDB.

    Every landed order row is a new version by construction (distinct
    keys per batch, a changed price on every update, a later
    ``o_updated_at``), so the SCD2 target must hold exactly one row per
    landed row, the latest per key current; the SCD1 target must hold the
    latest landed row per key."""

    def __init__(self) -> None:
        self.con = duckdb.connect()

    def close(self) -> None:
        self.con.close()

    def _one(self, sql: str):
        return self.con.execute(sql).fetchone()

    def _diff(self, a: str, b: str) -> int:
        """Rows in either query's multiset but not the other's."""
        n1 = self._one(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})")[0]
        n2 = self._one(f"SELECT count(*) FROM ({b} EXCEPT ALL {a})")[0]
        return n1 + n2

    def orders_scd2(self, landed: list[str], silver: str) -> list[str]:
        """Problems found in the SCD2 ``orders`` target (empty = correct)."""
        src = f"read_parquet({files_sql(landed)})"
        tgt = f"read_parquet({files_sql(live_files(silver))}, union_by_name=true)"
        cols = (
            "o_orderkey, o_custkey, o_orderstatus, "
            "CAST(o_totalprice AS DECIMAL(15,2)) AS price, "
            "epoch_us(o_orderdate) AS od, o_orderpriority, epoch_us(o_updated_at) AS ts"
        )
        problems = []
        cur = self._diff(
            f"SELECT {cols} FROM {src} QUALIFY row_number() OVER "
            "(PARTITION BY o_orderkey ORDER BY o_updated_at DESC) = 1",
            f"SELECT {cols} FROM {tgt} WHERE is_current = 1",
        )
        if cur:
            problems.append(f"orders current rows differ in {cur} rows")
        n_src, n_keys, n_null = self._one(
            f"SELECT count(*), count(DISTINCT o_orderkey), "
            f"count(*) FILTER (WHERE o_orderstatus IS NULL) FROM {src}"
        )
        n_closed, n_flagged = self._one(
            f"SELECT count(*) FILTER (WHERE is_current = 0), "
            f"count(*) FILTER (WHERE NOT data_quality_valid_flag) FROM {tgt}"
        )
        if n_closed != n_src - n_keys:
            problems.append(f"closed versions {n_closed} != {n_src - n_keys}")
        if n_flagged != n_null:
            problems.append(f"DQ-flagged rows {n_flagged} != {n_null}")
        return problems

    def rows(self, path: str) -> int:
        return self._one(f"SELECT count(*) FROM read_parquet({files_sql(live_files(path))})")[0]

    def customer_scd1(self, landed: list[str], silver: str) -> list[str]:
        src = f"read_parquet({files_sql(landed)})"
        tgt = f"read_parquet({files_sql(live_files(silver))}, hive_partitioning=true)"
        cols = (
            "c_custkey, c_name, c_nationkey, CAST(c_acctbal AS DECIMAL(12,2)) AS bal, "
            "c_mktsegment, epoch_us(c_updated_at) AS ts"
        )
        diff = self._diff(
            f"SELECT {cols} FROM {src} QUALIFY row_number() OVER "
            "(PARTITION BY c_custkey ORDER BY c_updated_at DESC) = 1",
            f"SELECT {cols} FROM {tgt}",
        )
        return [f"customer SCD1 state differs in {diff} rows"] if diff else []

    def audit(self, path: str, expected: dict[str, int]) -> list[str]:
        got = dict(self.con.execute(
            f"SELECT audit_operation, count(*) FROM read_parquet({files_sql(live_files(path))}) "
            "GROUP BY 1"
        ).fetchall())
        return [] if got == expected else [f"audit rows {got} != {expected}"]
