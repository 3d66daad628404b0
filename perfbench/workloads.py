"""The benchmark's workloads: inputs, one op, and the check of each op.

Each workload is driven by ``run.py`` as one client in a closed loop: the
next op starts when the previous one has returned. Every op is checked
against an independent reference outside its timer.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

import gen

# One landed PaySim file per op, as the Lambda ran it: every op lands the
# seed's file again under its own batch id.
ETL_ROWS = 1_000_000

# query_mix: bench-flagged registry queries, one per layer family the mix
# must exercise, in registry order rotated to start at a query that sets up
# quickly. Each has a DuckDB oracle that runs in well under a second and,
# but bpe_merge_training (~0.7 s), runs >= 1 s warm at sf 0.1 on 4 cores.
QUERY_MIX = (
    "q5_local_supplier_revenue",        # five-way join, shuffles
    "bpe_merge_training",               # explode, then a single-task MapInArrow kernel
    "minhash_signatures",               # md5 shingle hashing in JVM expressions
    "stream_velocity_alerts",           # streaming drain into a memory sink
    "q21_sole_return_supplier",         # semi and anti joins
    "nation_trade_pagerank",            # iterations, broadcasts, Python workers
)
STAR_SF = 0.1


class EtlPaysim:
    """The paper's query: land a PaySim CSV, run the validity and fraud
    filters, append the fraud rows to a snapshot table. Items are input
    rows."""

    name = "etl_paysim"
    whole_passes = 1  # any number of ops may be timed
    warmup_passes = (3, 6)  # until op wall time and CPU stop falling

    def __init__(self, engine: dict, work: str, seed: int):
        self.e, self.work = engine, work
        table = gen.paysim(np.random.default_rng(seed), ETL_ROWS)
        self.path = os.path.join(work, "landing", f"paysim-{seed}.csv")
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        gen.write_csv(table, self.path)
        self.expected = gen.fraud_counts(table)
        self.table = None
        self.written = 0

    def open_table(self, tag: str) -> None:
        self.table = os.path.join(self.work, "tables", f"etl-{tag}")
        self.written = 0

    def op(self, spark, i: int, tracer=None):
        e = self.e

        def sink(df):
            df, obs = e["observability"].observed(df, "written")
            if tracer is not None:
                tracer.planned(df)
            e["snapshot"].append(df, self.table, batch_id=f"{os.path.basename(self.path)}#{i}")
            return int(obs.get["n"])

        report = e["pipeline"].run_batch(spark, self.path, sink=sink)
        return report.rows_fetched, report

    def check(self, r) -> bool:
        fetched, valid, fraud = self.expected
        ok = (r.status == 200 and (r.rows_fetched, r.rows_valid, r.rows_fraud) == (fetched, valid, fraud)
              and r.rows_written == fraud)
        self.written += r.rows_written
        return ok

    def final_check(self, spark) -> bool:
        """The table holds exactly the rows the appends reported."""
        return self.e["snapshot"].read(spark, self.table).count() == self.written


class QueryMix:
    """Registered bench queries through the ``noop`` sink, one query per op,
    on star-schema tables generated from the seed. Items are queries."""

    name = "query_mix"
    whole_passes = len(QUERY_MIX)  # time whole passes so every run times the same set
    # One warm pass: a second would still run ~10% faster, but does not fit
    # the run budget (~1 min a run).
    warmup_passes = (1, 1)

    def __init__(self, engine: dict, work: str, seed: int):
        self.e = engine
        self.sf_dir = os.path.join(work, "sf")
        os.makedirs(self.sf_dir, exist_ok=True)
        for name, table in gen.star_tables(np.random.default_rng(seed), STAR_SF).items():
            pq.write_table(table, os.path.join(self.sf_dir, f"{name}.parquet"))
        bench = engine["plans"].BENCH_QUERIES()
        self.specs = [bench[q] for q in QUERY_MIX]
        self._oracle: dict[str, int] = {}

    def open_table(self, tag: str) -> None:
        pass

    def op(self, spark, i: int, tracer=None):
        spec = self.specs[i % len(self.specs)]
        df = tracer.build(spec.fn, spark, self.sf_dir) if tracer else spec.fn(spark, self.sf_dir)
        df, obs = self.e["observability"].observed(df, "rows")
        if tracer is not None:
            tracer.planned(df)
        df.write.format("noop").mode("overwrite").save()
        return 1, (spec, int(obs.get["n"]))

    def check(self, result) -> bool:
        spec, rows = result
        if spec.name not in self._oracle:
            self._oracle[spec.name] = self._oracle_count(spec)
        return rows == self._oracle[spec.name]

    def _oracle_count(self, spec) -> int:
        import duckdb

        con = duckdb.connect()
        try:
            for t in self.e["schemas"].FIXTURE_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            return con.execute(f"SELECT count(*) FROM ({spec.oracle})").fetchone()[0]
        finally:
            con.close()

    def final_check(self, spark) -> bool:
        return True


WORKLOADS = {w.name: w for w in (EtlPaysim, QueryMix)}
