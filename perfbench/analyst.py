"""``analyst_session``: one analyst in a closed loop against a published
warehouse.

Set-up derives the analyst warehouse from the generated inputs in the
shapes of the engine registry's fixtures (``demo``, month-grain
``timevar``, ``claims`` headers, two-row-per-claim ``icdcm`` and
per-member CCW ``condition`` intervals) and writes it with
``sources.io.write_table``. The timed calls read those tables, plus the
80-row ``ref_ccs`` grid held in the session and per-member ``cohort``
windows derived from ``demo``.

One untimed round warms the session. The timed call stream is made of
rounds. Each round calls every entry point once (top_causes once with
and once without per-member windows) with freshly drawn parameters, in
a seeded order, and re-runs its claims_elig and both top_causes calls
later in the round, the way an analyst re-runs a query: three of every
ten calls are repeats. Two rounds are timed. The seed draws values
(windows, thresholds, filters, members); the plan shapes and the mix
are fixed, so seeds differ in data, not in the kind of work. Every
result is collected with ``toPandas()`` and checked against a DuckDB
rendering of the same call over the same parquet files.
"""

from __future__ import annotations

import os
import random

import check
import oracles

CONDITIONS = [
    "ccw_asthma", "ccw_diabetes", "ccw_hypertension",
    "ccw_depression", "ccw_copd", "ccw_anemia",
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TABLES = ["demo", "timevar", "claims", "icdcm", "condition"]
REF_CCS_SCHEMA = "icdcm string, icdcm_version int, ccs_detail_desc string, ccs_catch_all int"
REF_CCS = [(f"C{i}", v, f"cat{i % 12}", 1 if i % 10 == 0 else (None if i % 5 == 0 else 0))
           for i in range(40) for v in (9, 10)]
# one round: every entry point once, top_causes in both of its plan
# shapes (per-member windows or not), then three re-runs
ROUND = [("claims_elig", False), ("claims_condition", False), ("top_causes", True),
         ("top_causes", False), ("elig_timevar_collapse", False),
         ("claims_summary", False), ("tabloop", False)]
REPEATED = [0, 2, 3]  # the round's claims_elig and both top_causes calls


def _ds(col: str):
    """A date column as ``YYYY-MM-DD`` text, the registry's convention
    for comparing dates across engines."""
    from pyspark.sql import functions as F

    return F.col(col).cast("string").alias(col)


def _year(rng: random.Random, first: int = 1995, last: int = 2000) -> tuple[str, str, int]:
    y = rng.randint(first, last)
    days = 366 if y % 4 == 0 else 365
    return f"{y}-01-01", f"{y}-12-31", days


def draw(kind: str, rng: random.Random, member_ids: list[int], ind_dates: bool) -> dict:
    """Fresh parameters for one call of entry point ``kind``. Values are
    drawn; the plan shape is not (``ind_dates`` is the caller's)."""
    if kind == "claims_elig":
        f, t, days = _year(rng)
        return {"from": f, "to": t, "days": days,
                "cov_min": rng.choice([0, 20, 40]),
                "sex": rng.choice(["female", "male"]),
                "dual_min": rng.choice([0, 10, 25]),
                "cov_type": rng.choice([["mc"], ["ffs"], ["mc", "ffs"]])}
    if kind == "claims_condition":
        f, t, _ = _year(rng)
        return {"from": f, "to": t, "condition": rng.choice(CONDITIONS)}
    if kind == "top_causes":
        y = rng.randint(1995, 1999)
        return {"from": f"{y}-01-01", "to": f"{y + 1}-12-31",
                "top_n": rng.choice([5, 10]),
                "type": rng.choice(["ed", "inpatient"]),
                "ind_dates": ind_dates}
    if kind == "elig_timevar_collapse":
        k = min(200, len(member_ids))
        return {"group_cols": rng.choice([["dual"], ["cov_type"], ["dual", "cov_type"]]),
                "ids": sorted(rng.sample(member_ids, k))}
    if kind == "claims_summary":
        f, t, _ = _year(rng)
        n_flags = rng.choice([2, 3])
        return {"from": f, "to": t,
                "segments": sorted(rng.sample(SEGMENTS, 2)),
                "flags": sorted(rng.sample(["ed", "inpatient", "dental"], n_flags))}
    if kind == "tabloop":
        f, t, _ = _year(rng)
        return {"from": f, "to": t,
                "loop_vars": rng.sample(["claim_status", "priority", "ed", "dental"], 2),
                "upper": rng.choice([5, 10])}
    raise ValueError(kind)


def materialize(spark, raw_dir: str, out_dir: str, tracer) -> None:
    """Derive the analyst warehouse from the raw inputs and write it."""
    from pyspark.sql import functions as F

    from claims_data_spark.sources.io import write_table

    o = spark.read.parquet(os.path.join(raw_dir, "orders.parquet"))
    c = spark.read.parquet(os.path.join(raw_dir, "customer.parquet"))
    ok, ck = F.col("o_orderkey"), F.col("c_custkey")
    od = F.col("o_orderdate").cast("date")
    demo = c.select(
        ck.alias("id_mcaid"),
        F.date_add(F.lit("1950-01-01").cast("date"), ((ck * 7) % 17000).cast("int")).alias("dob"),
        (ck % 2).cast("int").alias("gender_female"),
        (1 - ck % 2).cast("int").alias("gender_male"),
        F.col("c_mktsegment").alias("segment"),
    )
    timevar = o.select(
        F.col("o_custkey").alias("id_mcaid"),
        F.date_trunc("month", od).cast("date").alias("from_date"),
        F.last_day(od).alias("to_date"),
        F.when(F.month(od) % 3 == 0, "Y").otherwise("N").alias("dual"),
        F.when((F.col("o_custkey") + F.month(od)) % 2 == 0, "MC").otherwise("FFS").alias("cov_type"),
    ).distinct()
    claims = o.select(
        F.col("o_custkey").alias("id_mcaid"),
        ok.alias("claim_header_id"),
        od.alias("first_service_date"),
        F.when(ok % 3 == 0, F.floor(ok / 3)).alias("ed_pophealth_id"),
        F.when(ok % 5 == 0, F.floor(ok / 5)).alias("inpatient_id"),
        F.when(ok % 13 != 0, F.lit("dx")).alias("primary_diagnosis"),
        (ok % 11 == 0).cast("int").alias("ed"),
        (ok % 7 == 0).cast("int").alias("inpatient"),
        (ok % 5 == 0).cast("int").alias("dental"),
        F.col("o_orderstatus").alias("claim_status"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("amount_dec"),
    )
    ver = F.when(ok % 2 == 0, 9).otherwise(10).cast("int")
    icdcm = o.select(
        ok.alias("claim_header_id"),
        F.when(ok % 7 == 0, "admit").when(ok % 11 == 0, "03").otherwise("01").alias("icdcm_number"),
        F.concat(F.lit("C"), (ok % 40).cast("int").cast("string")).alias("icdcm_norm"),
        ver.alias("icdcm_version"),
    ).unionByName(o.select(
        ok.alias("claim_header_id"),
        F.lit("02").alias("icdcm_number"),
        F.concat(F.lit("C"), ((ok + 17) % 40).cast("int").cast("string")).alias("icdcm_norm"),
        ver.alias("icdcm_version"),
    ))
    conds = F.array(*[F.lit(x) for x in CONDITIONS])
    condition = o.groupBy(
        F.col("o_custkey").alias("id_mcaid"),
        F.element_at(conds, (ok % len(CONDITIONS) + 1).cast("int")).alias("ccw_desc"),
    ).agg(F.min(od).alias("first_encounter_date"), F.max(od).alias("last_encounter_date"))
    frames = {"demo": demo, "timevar": timevar, "claims": claims, "icdcm": icdcm,
              "condition": condition}
    for name in TABLES:
        with tracer.span("sources", "write_table"):
            write_table(frames[name], os.path.join(out_dir, name))


class AnalystSession:
    ops_per_pass = len(ROUND) + len(REPEATED)
    call_is_pass = False
    sf = 0.01  # 1.5k members, 15k claims: results stay small
    min_passes = 2  # 20 calls for the median
    nominal_pass_s = 9.0  # a warm round on a 4-vCPU host
    setups = 3

    def __init__(self, raw_dir: str, work_dir: str, seed: int):
        self.raw_dir = raw_dir
        self.wh_dir = os.path.join(work_dir, "analyst_warehouse")
        self.rng = random.Random(seed)
        self.t: dict = {}
        self.member_ids: list[int] = []
        self._expected: dict[str, tuple] = {}
        self._con = None

    # -- set-up ---------------------------------------------------------
    def setup(self, spark, tracer) -> None:
        materialize(spark, self.raw_dir, self.wh_dir, tracer)
        self.t = {n: spark.read.parquet(os.path.join(self.wh_dir, n)) for n in TABLES}
        self.t["ref_ccs"] = spark.createDataFrame(REF_CCS, REF_CCS_SCHEMA)

    def written_dirs(self) -> list[str]:
        return [self.wh_dir]

    def _duck(self):
        if self._con is None:
            import duckdb
            import pyarrow.parquet as pq

            self._con = duckdb.connect()
            for n in TABLES:
                self._con.execute(
                    f"CREATE VIEW {n} AS SELECT * FROM "
                    f"{check.parquet_relation(os.path.join(self.wh_dir, n))}")
            self._con.execute(f"CREATE TABLE ref_ccs ({REF_CCS_SCHEMA.replace('string', 'varchar')})")
            self._con.executemany("INSERT INTO ref_ccs VALUES (?, ?, ?, ?)", REF_CCS)
            ids = pq.read_table(
                os.path.join(self.raw_dir, "customer.parquet"), columns=["c_custkey"])
            self.member_ids = ids.column(0).to_pylist()
        return self._con

    # -- the call stream -------------------------------------------------
    def passes(self):
        """Endless rounds of calls; each call is ``(kind, params)``."""
        self._duck()
        while True:
            rnd = [(k, draw(k, self.rng, self.member_ids, ind)) for k, ind in ROUND]
            repeats = [rnd[i] for i in REPEATED]
            self.rng.shuffle(rnd)
            for call in repeats:
                rnd.insert(self.rng.randint(rnd.index(call) + 1, len(rnd)), call)
            yield rnd

    def warmup_ops(self) -> list[tuple[str, dict]]:
        """One round without repeats, with parameters drawn apart from
        the timed stream: the session's first use of each code path."""
        self._duck()
        rng = random.Random(-1)
        return [(k, draw(k, rng, self.member_ids, ind)) for k, ind in ROUND]

    def run(self, op, tracer):
        from pyspark.sql import functions as F

        from claims_data_spark import api
        from claims_data_spark.operators.tabulate import suppress, tabloop

        kind, p = op
        t = self.t
        layer = "operators.tabulate" if kind == "tabloop" else "api"
        with tracer.span(layer, kind, count_jobs="api.build_jobs"):
            if kind == "claims_elig":
                df = api.claims_elig(
                    t["demo"], t["timevar"], p["from"], p["to"],
                    cov_min=p["cov_min"], dual_min=p["dual_min"], cov_type=p["cov_type"],
                    **{p["sex"]: 1},
                ).select("id_mcaid", F.col("cov_days").cast("long").alias("cov_days"),
                         "cov_pct", F.col("covgap_max").cast("long").alias("covgap_max"),
                         "dual_pct")
            elif kind == "claims_condition":
                df = api.claims_condition(
                    t["condition"], p["condition"], p["from"], p["to"],
                ).select("id_mcaid", "ccw_desc", _ds("first_encounter_date"),
                         _ds("last_encounter_date"))
            elif kind == "top_causes":
                start = F.date_add(F.lit("1995-01-01").cast("date"),
                                   ((F.col("id_mcaid") % 400) * 5).cast("int"))
                cohort = t["demo"].select(
                    "id_mcaid", start.alias("from_date"),
                    F.date_add(start, 180).alias("to_date"))
                df = api.top_causes(
                    cohort, t["claims"], t["icdcm"], t["ref_ccs"], p["from"], p["to"],
                    top_n=p["top_n"], type=p["type"], catch_all=False,
                    primary_dx=True, ind_dates=p["ind_dates"],
                ).select("ccs_detail_desc",
                         F.col("event_count").cast("long").alias("event_count"),
                         F.col("rk").cast("long").alias("rk"))
            elif kind == "elig_timevar_collapse":
                cols = p["group_cols"]
                df = api.elig_timevar_collapse(t["timevar"], cols, ids=p["ids"]).select(
                    "id_mcaid", _ds("from_date"), _ds("to_date"), *cols, "cov_time_day")
            elif kind == "claims_summary":
                cohort = t["demo"].filter(F.col("segment").isin(p["segments"])).select(
                    "id_mcaid", "segment")
                df = api.claims_summary(
                    cohort, t["claims"], p["from"], p["to"], flag_cols=p["flags"],
                ).select("id_mcaid", "segment", *[f"{c}_cnt" for c in p["flags"]], "no_claims")
            else:
                window = t["claims"].filter(
                    F.col("first_service_date").between(
                        F.lit(p["from"]).cast("date"), F.lit(p["to"]).cast("date")))
                tab = tabloop(window, [], p["loop_vars"], stats={
                    "n": ("count", "amount_dec"),
                    "n_cust": ("count_distinct", "id_mcaid"),
                    "total": ("sum", "amount_dec"),
                    "med_price": ("median", "amount"),
                })
                tab = tab.withColumn("total", F.col("total").cast("double")).withColumn(
                    "med_price", F.round("med_price", 4))
                df = suppress(tab, ["n"], lower=1, upper=p["upper"]).select(
                    "group_cat", "group", "n", "n_cust", "total", "med_price")
        with tracer.span("api", "collect"):
            pdf = df.toPandas()
        tracer.count("api.result_rows", len(pdf))
        tracer.plan_phases(df)
        return pdf

    def check(self, op, pdf) -> bool:
        kind, p = op
        key = repr(op)
        if key not in self._expected:
            sql = oracles.TEMPLATES[kind](p)
            self._expected[key] = check.rows(self._duck().execute(sql).df())
        return check.rows(pdf) == self._expected[key]

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
