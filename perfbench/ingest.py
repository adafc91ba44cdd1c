"""``ingest_cycles``: config-table cycles through the medallion path.

One op is one cycle. It lands a seeded ``orders`` change batch and runs
``PipelineBuilder.run_medallion()``: bronze append, then a silver SCD2
merge with cast, transform, DQ and audit. It then lands two small
``customer`` files and drains them with ``run_streaming_merge``
(availableNow, one file per trigger) into a key-bucketed SCD1 target.
Landing is a copy of three small files, inside the op.

Set-up runs the initial load (cycle 0) and ``WARM_CYCLES`` cycles, which
also warm the JVM, and snapshots the state. A pass restores that snapshot
(outside the timed region) and runs the cycles ``PASS_CYCLES``, so
every pass does identical work. After each pass the tables are checked
against a DuckDB replay of the landed files.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics

import pyarrow.parquet as pq

from perfbench import gen, rss, storage
from perfbench.check import IngestReplay
from perfbench.harness import Op

SF = 0.01
ORDERS_BATCH = 750
CUSTOMER_FILES = 2
CUSTOMER_FILE_ROWS = 100
WARM_CYCLES = 1
#: the cycles every pass runs, one op each
PASS_CYCLES = (WARM_CYCLES + 1, WARM_CYCLES + 2)


class Medallion:
    """Landing directories, tables and config rows of the ``orders``
    (batch SCD2) and ``customer`` (streaming SCD1) pipelines under
    ``root``; landed input files are copied from ``inputs``."""

    def __init__(self, root: str, inputs: str):
        self.spark = None
        self.root = root
        self.inputs = inputs
        self.orders_silver = f"{root}/tables/orders_silver"
        self.customer_silver = f"{root}/tables/customer_silver"
        self.audit = f"{root}/tables/audit"

    # -- inputs ------------------------------------------------------------------
    def generate(self, seed: int, cycles: int) -> None:
        base = gen.tpch_tables(seed, SF)
        initial, batches = gen.order_changes(seed, base["orders"], cycles, ORDERS_BATCH)
        gen.write(initial, self._input("orders", 0, 0))
        for c, t in enumerate(batches, 1):
            gen.write(t, self._input("orders", c, 0))
        initial, files = gen.customer_changes(
            seed, base["customer"], cycles, CUSTOMER_FILES, CUSTOMER_FILE_ROWS
        )
        gen.write(initial, self._input("customer", 0, 0))
        for c, ts in enumerate(files, 1):
            for f, t in enumerate(ts):
                gen.write(t, self._input("customer", c, f))

    def _input(self, table: str, cycle: int, f: int) -> str:
        return f"{self.inputs}/{table}_c{cycle:04d}_{f}.parquet"

    def orders_landing(self, cycle: int) -> str:
        return f"{self.root}/landing/orders/c{cycle:04d}"

    def landed_orders(self, upto: int) -> list[str]:
        return [f"{self.orders_landing(c)}/part-0.parquet" for c in range(upto + 1)]

    def _customer_landing(self, cycle: int) -> list[str]:
        files = 1 if cycle == 0 else CUSTOMER_FILES
        return [f"{self.root}/landing/customer/c{cycle:04d}_{f}.parquet" for f in range(files)]

    def landed_customer(self, upto: int) -> list[str]:
        return [p for c in range(upto + 1) for p in self._customer_landing(c)]

    def land_orders(self, cycle: int) -> None:
        dst = self.landed_orders(cycle)[-1]
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(self._input("orders", cycle, 0), dst)

    def land_customer(self, cycle: int) -> None:
        for f, dst in enumerate(self._customer_landing(cycle)):
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(self._input("customer", cycle, f), dst)

    # -- config rows ------------------------------------------------------------
    def orders_row(self, cycle: int) -> dict:
        r = self.root
        return {
            "data_product_name": "perfbench",
            "table_name": "orders",
            "pkeys": "o_orderkey",
            "source_filepath": self.orders_landing(cycle),
            "source_data_type": "parquet",
            # change batches, not full extracts: absent keys stay current
            "source_extraction_type": "IE",
            "source_orderBy_column": "o_updated_at",
            "cast_column": json.dumps({"o_totalprice": "decimal(15,2)"}),
            "transformations": json.dumps(
                [{"type": "with_column", "column": "o_year", "expr": "year(o_orderdate)"}]
            ),
            "run_dq_rules": "True",
            "dq_config": json.dumps({"rules": [
                {"rule_id": "status_null", "rule_type": "null_check", "column": "o_orderstatus"},
                {"rule_id": "price_positive", "rule_type": "range_check",
                 "column": "o_totalprice", "operator": ">", "threshold_low": 0},
            ]}),
            "audit_write": "True",
            "audit_config": json.dumps({"audit_table_path": self.audit}),
            "writes": json.dumps([
                {"table_medallion_layer": "bronze", "path": f"{r}/tables/orders_bronze",
                 "mode": "append"},
                {"table_medallion_layer": "silver", "path": self.orders_silver,
                 "mode": "merge", "scd_type": 2},
            ]),
        }

    def customer_row(self) -> dict:
        return {
            "data_product_name": "perfbench",
            "table_name": "customer",
            "pkeys": "c_custkey",
            "source_filepath": f"{self.root}/landing/customer",
            "source_data_type": "parquet",
            "streaming": "True",
            "source_orderBy_column": "c_updated_at",
            "source_reader_options": json.dumps({"maxFilesPerTrigger": "1"}),
            "cast_column": json.dumps({"c_acctbal": "decimal(12,2)"}),
            "audit_write": "True",
            "audit_config": json.dumps({"audit_table_path": self.audit}),
            "writes": json.dumps([
                {"table_medallion_layer": "silver", "path": self.customer_silver,
                 "mode": "merge", "scd_type": 1, "partition_by": ["bucket_id"],
                 "checkpointLocation": f"{self.root}/checkpoints/customer"},
            ]),
        }

    # -- runs ----------------------------------------------------------------------
    def run_orders(self, cycle: int) -> None:
        from data_ingestion_framework_spark.config import PipelineConfig
        from data_ingestion_framework_spark.plans import PipelineBuilder

        PipelineBuilder(self.spark, PipelineConfig.from_row(self.orders_row(cycle))).run_medallion()

    def run_customer(self) -> None:
        from data_ingestion_framework_spark.config import PipelineConfig
        from data_ingestion_framework_spark.plans import PipelineBuilder

        cfg = PipelineConfig.from_row(self.customer_row())
        PipelineBuilder(self.spark, cfg).run_streaming_merge(cfg.writes[0])

    def check(self, upto: int, streamed: bool) -> list[str]:
        """Problems in the tables after cycles ``0..upto`` (empty =
        correct)."""
        with rss.excluded():
            replay = IngestReplay()
            try:
                return self._check(replay, upto, streamed)
            finally:
                replay.close()

    def _check(self, replay: IngestReplay, upto: int, streamed: bool) -> list[str]:
        landed = self.landed_orders(upto)
        problems = replay.orders_scd2(landed, self.orders_silver)
        n_landed = sum(pq.read_metadata(p).num_rows for p in landed)
        n_bronze = replay.rows(f"{self.root}/tables/orders_bronze")
        if n_bronze != n_landed:
            problems.append(f"bronze rows {n_bronze} != landed {n_landed}")
        expected = {"append": upto + 1, "merge": upto + 1}
        if streamed:
            problems += replay.customer_scd1(self.landed_customer(upto), self.customer_silver)
            expected["streaming_merge"] = upto + 1
        return problems + replay.audit(self.audit, expected)


class IngestCycles:
    name = "ingest_cycles"

    def __init__(self, work: str, seed: int):
        self.state = f"{work}/state"
        self.snapshot = f"{work}/snapshot"
        self.m = Medallion(self.state, f"{work}/inputs")
        self.m.generate(seed, PASS_CYCLES[-1])
        self.problems: list[str] = []
        self.microbatches: list[float] = []
        self.touched: list[int] = []
        self._snap_seq = 0

    def setup(self, spark, tracer) -> None:
        self.m.spark = spark
        for c in range(WARM_CYCLES + 1):
            self._cycle(c)
        problems = self.m.check(WARM_CYCLES, streamed=True)
        if problems:
            raise RuntimeError(f"set-up cycles incorrect: {problems}")
        shutil.copytree(self.state, self.snapshot)
        self._snap_seq = max(storage.commit_seqs(self.m.customer_silver))

    def _cycle(self, c: int) -> None:
        self.m.land_orders(c)
        self.m.run_orders(c)
        self.m.land_customer(c)
        self.m.run_customer()

    def before_pass(self) -> None:
        shutil.rmtree(self.state)
        shutil.copytree(self.snapshot, self.state)

    def pass_ops(self) -> list[Op]:
        return [Op("cycle", lambda c=c: self._cycle(c)) for c in PASS_CYCLES]

    def after_pass(self, results) -> None:
        problems = self.m.check(PASS_CYCLES[-1], streamed=True)
        if problems:
            self.problems += problems
            for r in results:
                r.ok = False
        recs = storage.commit_records(self.m.customer_silver, after=self._snap_seq)
        merges = [r for r in recs if r["op"] == "overwrite_partitions"]
        self.microbatches.append(len(merges) / len(PASS_CYCLES))
        self.touched += [len(r["metrics"].get("touched_partitions", [])) for r in merges]

    def finish(self, timings) -> None:
        pass

    def written_tables(self) -> list[str]:
        return storage.tables_under(f"{self.state}/tables")

    def landed_bytes(self) -> int:
        last = PASS_CYCLES[-1]
        paths = self.m.landed_orders(last) + self.m.landed_customer(last)
        return sum(os.path.getsize(p) for p in paths)

    def layer_metrics(self) -> dict[str, float]:
        return {
            "streaming.microbatches": statistics.mean(self.microbatches),
            "sinks.writers.touched_buckets": statistics.mean(self.touched or [0]),
        }
