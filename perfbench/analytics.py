"""``analytics_mix``: registry queries, curation runs and table-store reads.

One op is one registry query (built, then executed into the ``noop``
sink), one of two LLM-curation runs from the registry, or one read of a silver
``orders`` table that set-up builds through the ingest path (``read``,
``as_of``, a Bloom-indexed ``point_lookup`` or a ``range_scan``). A pass
is a seeded shuffle of all of them; every pass runs the same list.

Each distinct op is checked once per run, outside the timed region:
registry results against their DuckDB oracle (hashed as the repository's
oracle checker does), table reads against DuckDB over the table's live
files, ``as_of`` against the row count the replayed ingest committed.
"""

from __future__ import annotations

import os
import random

import duckdb

from perfbench import gen, rss, storage
from perfbench.check import files_sql, frame_digest, oracle_digests, result_matches
from perfbench.harness import Op, verify
from perfbench.ingest import Medallion

SF = 0.01
DOCUMENTS = 600
EMBEDDINGS = 200
SILVER_CYCLES = 1

#: cheap-to-mid oracle-backed queries: a TPC-H shape, an events sketch, a
#: single-partition-exchange suspect (cumulative window), CDC, SCD2 and DQ
QUERIES = [
    "pricing_summary", "events_hll_distinct_users", "events_cumulative_distinct_users",
    "cdc_find_delta", "scd2_merge_state", "dq_violation_counts",
]

#: LLM-curation runs: the calibrated corpus pipeline (clean, redact,
#: classifier quality gate, dedup, decontaminate, per-source cap, sample)
#: and the quality gate on the distributed-weights trainer
CURATION = ["corpus_pipeline_calibrated", "docs_quality_calibrated_distributed"]

_KEY_COLS = "o_orderkey, CAST(o_totalprice AS VARCHAR) AS price, is_current, o_orderstatus"


class AnalyticsMix:
    name = "analytics_mix"

    def __init__(self, work: str, seed: int):
        from data_ingestion_framework_spark import registry

        self.tables = f"{work}/inputs/tables"
        tables = gen.tpch_tables(seed, SF)
        tables["events"] = gen.events_table(seed, SF)
        tables["documents"] = gen.documents_table(seed, DOCUMENTS)
        tables["embeddings"] = gen.embeddings_table(seed, EMBEDDINGS)
        for name, t in tables.items():
            gen.write(t, f"{self.tables}/{name}.parquet")
        self.n_docs = tables["documents"].num_rows
        self.m = Medallion(f"{work}/state", f"{work}/inputs/ingest")
        self.m.generate(seed, SILVER_CYCLES)
        self.rng = random.Random(seed)
        self.problems: list[str] = []
        self.keep_ratio = 0.0
        self.spark = self.tracer = None
        self.expected = oracle_digests(
            self.tables, registry.TABLES, {q: registry.ORACLES[q] for q in QUERIES + CURATION}
        )
        self.specs: list[tuple[str, tuple]] = []

    # -- set-up --------------------------------------------------------------------
    def setup(self, spark, tracer) -> None:
        from data_ingestion_framework_spark.sources.tablestore import ParquetTable

        self.spark, self.tracer = spark, tracer
        self.m.spark = spark
        for c in range(SILVER_CYCLES + 1):
            self.m.land_orders(c)
            self.m.run_orders(c)
        problems = self.m.check(SILVER_CYCLES, streamed=False)
        if problems:
            raise RuntimeError(f"silver build incorrect: {problems}")
        ParquetTable(spark, self.m.orders_silver).build_bloom_index("o_orderkey")
        self.specs = self._specs()
        for op in self.pass_ops():  # warm-up: every op once, untimed
            op.run()

    def _specs(self) -> list[tuple[str, tuple]]:
        """The seeded op list of one pass."""
        landed = files_sql(self.m.landed_orders(SILVER_CYCLES))
        with rss.excluded():
            con = duckdb.connect()
            keys = [k for (k,) in con.execute(
                f"SELECT o_orderkey FROM read_parquet({landed}) "
                "GROUP BY 1 ORDER BY count(*) DESC, 1"
            ).fetchall()]
            con.close()
        seqs = storage.commit_seqs(self.m.orders_silver)
        r = self.rng
        hot = keys[: max(1, len(keys) // 100)]
        specs = [("query", (q,)) for q in QUERIES + CURATION]
        specs += [("read", ()), ("as_of", (seqs[0],))]
        specs += [("point_lookup", (r.choice(hot),)), ("point_lookup", (r.choice(keys),))]
        span = max(1, len(keys) // 100)
        lo = r.randrange(max(keys) - span)
        specs.append(("range_scan", (lo, lo + span)))
        r.shuffle(specs)
        return specs

    # -- ops -----------------------------------------------------------------------
    def _execute(self, build, build_span: str | None = None):
        t = self.tracer
        if build_span is None:
            df = build()
        else:
            with t.span(build_span):
                df = build()
        if t.enabled:
            with t.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
        with t.span("query.action"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def _op(self, kind: str, args: tuple) -> Op:
        from data_ingestion_framework_spark import registry
        from data_ingestion_framework_spark.sources.tablestore import ParquetTable

        spark, silver = self.spark, self.m.orders_silver
        table = lambda: ParquetTable(spark, silver)  # noqa: E731
        if kind == "query":
            (q,) = args
            return Op(
                f"query:{q}",
                lambda: self._execute(
                    lambda: registry.QUERIES[q](spark, self.tables), "registry.query_build"
                ),
                lambda df: self._check_query(q, df),
            )
        if kind == "read":
            return Op("read", lambda: self._execute(lambda: table().read()), self._check_read)
        if kind == "as_of":
            (seq,) = args
            return Op(
                f"as_of:{seq}",
                lambda: self._execute(lambda: table().as_of(seq)),
                lambda df: df.count() == self._committed_rows(seq),
            )
        if kind == "point_lookup":
            (key,) = args
            return Op(
                f"point_lookup:{key}",
                lambda: self._execute(lambda: table().point_lookup("o_orderkey", key)),
                lambda df: self._check_rows(df, f"o_orderkey = {key}"),
            )
        lo, hi = args
        return Op(
            f"range_scan:{lo}-{hi}",
            lambda: self._execute(lambda: table().range_scan("o_orderkey", lo, hi)),
            lambda df: self._check_rows(df, f"o_orderkey BETWEEN {lo} AND {hi}"),
        )

    def before_pass(self) -> None:
        pass

    def pass_ops(self) -> list[Op]:
        return [self._op(kind, args) for kind, args in self.specs]

    def after_pass(self, results) -> None:
        pass

    # -- checks ---------------------------------------------------------------------
    def _check_query(self, name: str, df) -> bool:
        if name == "corpus_pipeline_calibrated":
            self.keep_ratio = df.count() / self.n_docs
        return result_matches(df, self.expected[name])

    def _duck(self, sql: str) -> list[tuple]:
        files = files_sql(storage.live_files(self.m.orders_silver))
        con = duckdb.connect()
        try:
            return con.execute(sql.replace("SILVER", f"read_parquet({files})")).fetchall()
        finally:
            con.close()

    def _check_read(self, df) -> bool:
        from pyspark.sql import functions as F

        got = df.agg(
            F.count(F.lit(1)), F.sum("o_orderkey"), F.sum(F.when(F.col("is_current") == 1, 1))
        ).collect()[0]
        want = self._duck(
            "SELECT count(*), sum(o_orderkey), count(*) FILTER (WHERE is_current = 1) FROM SILVER"
        )[0]
        return tuple(got) == tuple(want)

    def _check_rows(self, df, where: str) -> bool:
        from pyspark.sql import functions as F

        got = df.select(
            "o_orderkey", F.col("o_totalprice").cast("string").alias("price"),
            "is_current", "o_orderstatus",
        ).collect()
        want = self._duck(f"SELECT {_KEY_COLS} FROM SILVER WHERE {where}")
        cols = ["o_orderkey", "price", "is_current", "o_orderstatus"]
        return frame_digest(cols, [tuple(r) for r in got]) == frame_digest(cols, want)

    def _committed_rows(self, seq: int) -> int:
        """Rows of the SCD2 table after the commit ``seq``: one per landed
        row of the loads up to it (commit i is load i)."""
        i = storage.commit_seqs(self.m.orders_silver).index(seq)
        paths = self.m.landed_orders(SILVER_CYCLES)[: i + 1]
        con = duckdb.connect()
        try:
            return con.execute(f"SELECT count(*) FROM read_parquet({files_sql(paths)})").fetchone()[0]
        finally:
            con.close()

    def finish(self, timings) -> None:
        with rss.excluded():
            failures = verify(self.pass_ops(), timings.ops)
        for r in timings.ops:
            if r.kind in failures:
                r.ok = False
        self.problems += [f"{k}: {v[0]}" for k, v in failures.items()]

    # -- metrics --------------------------------------------------------------------
    def written_tables(self) -> list[str]:
        return storage.tables_under(f"{self.m.root}/tables")

    def landed_bytes(self) -> int:
        return sum(os.path.getsize(p) for p in self.m.landed_orders(SILVER_CYCLES))

    def layer_metrics(self) -> dict[str, float]:
        return {"plans.corpus.keep_ratio": self.keep_ratio}
