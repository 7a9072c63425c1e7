"""``warehouse_build``: one batch build of claims warehouse tables from
a single driver.

Each op builds one table through its engine registry builder (which
calls ``tables.*``), writes it with ``sources.io.write_table``, reads
it back and gates it with ``qa.fused_table_qa``, the way
``pipeline.run_mcaid_pipeline`` gates between stages. The seed draws
the inputs. The build order is fixed: with two tables, a permuted
order split the warm pass into two modes about 12 % apart, since each
table reads faster or slower by what ran before it.

One untimed pass first builds every table once: a fresh driver's
first pass is dominated by first-use compilation, reads 1.5 to 2.5
times slower than a warm one and swings with host contention. After
the timed region every written table is read back in DuckDB and
compared with the registry's DuckDB oracle for that table over the
same inputs; a red gate or a mismatch fails the op. A caller of the
batch waits for the whole pass, so the pass is the unit of latency.
"""

from __future__ import annotations

import os

import check

# the two most expensive claims tables, which the open optimization
# work targets; the registry's other claims tables are left out to keep
# a run inside the time budget
TABLES = ["claim_moud", "apcd_ed_episode"]
RAW_TABLES = ["customer", "orders", "lineitem", "part"]


def gate_spec(name: str) -> dict:
    """``fused_table_qa`` arguments: the invariants each table keeps
    for every input."""
    from pyspark.sql import functions as F

    null = lambda c: F.col(c).isNull()  # noqa: E731
    return {
        "claim_moud": {"extra_flags": {"id-not-null": null("id_mcaid")}},
        "apcd_ed_episode": {"unique_keys": ["claim_header_id"],
                            "event_id": "ed_pophealth_id", "person_id": "id_apcd"},
    }[name]


class WarehouseBuild:
    ops_per_pass = len(TABLES)
    call_is_pass = True
    sf = 0.02  # 30k orders, 120k line items
    min_passes = 1
    nominal_pass_s = 12.0  # a warm pass on a 4-vCPU host
    setups = 7  # a set-up is under a second here; more of them steady the median

    def __init__(self, raw_dir: str, work_dir: str, seed: int):
        self.raw_dir = raw_dir
        self.out_dir = os.path.join(work_dir, "claims_warehouse")
        self.spark = None
        self._con = None

    def setup(self, spark, tracer) -> None:
        import __spark_entry__ as registry

        self.spark = spark
        self.builders = registry.queries()
        self.oracles = registry.oracle_sql()

    def written_dirs(self) -> list[str]:
        return [self.out_dir]

    def passes(self):
        while True:
            yield list(TABLES)

    def warmup_ops(self) -> list[str]:
        return list(TABLES)

    def run(self, name: str, tracer):
        from claims_data_spark.qa import fused_table_qa
        from claims_data_spark.sources.io import write_table

        path = os.path.join(self.out_dir, name)
        with tracer.span("tables", name, count_jobs="tables.build_jobs"):
            df = self.builders[name](self.spark, self.raw_dir)
        with tracer.span("sources", "write_table"):
            write_table(df, path)
        tracer.plan_phases(df, force_plan=True)
        with tracer.span("qa", "fused_table_qa"):
            checks = fused_table_qa(self.spark.read.parquet(path), **gate_spec(name))
        tracer.count("qa.checks", len(checks))
        return path, checks

    def check(self, name: str, result) -> bool:
        path, checks = result
        if not checks or not all(ok for _, ok, _ in checks):
            return False
        return check.same_rows(self._duck(), check.parquet_relation(path), self.oracles[name])

    def _duck(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in RAW_TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.raw_dir, t)}.parquet')")
        return self._con

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
