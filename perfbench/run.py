"""Benchmark driver: one workload, one seed, one process.

    python3 perfbench/run.py --workload analyst_session --seed 1 \
        --seconds 10 --trace 0 [--smoke]

Run from the repository root. The run generates its inputs from the
seed under ``.perfbench_work/``, starts one Spark driver on
``local[<cpus>]``, sets up several times (fresh session, first
action, the workload's materialization) and reports the median as
``setup_s``, runs the workload's untimed warm-up ops, then times a
fixed number of whole passes of its seeded op stream: the
workload's ``min_passes``, or more if ``--seconds`` holds more passes
at the workload's nominal pass cost. The count never depends on
measured time, so every run of a workload times the same work. The
end-to-end time it reports is ``cpu_s``, the CPU seconds the driver's
Python process and its JVM run per pass; wall time on a shared host
follows the hypervisor's steal too closely to be gated. Every
op's output is checked outside the timed region. ``--trace 1`` records
spans and Spark's own counters over the same passes and reports the
per-layer metrics instead of the end-to-end ones. ``--smoke`` runs at
scale factor 0.001 with a single set-up, no warm-up and a single
pass.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``;
the line before it carries the detail (per-op latencies, the ungated
latency figures ``wall_s`` and ``call_p50_s``, CPU probes, layer self
times).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SMOKE_SF = 0.001

API_ENTRIES = ["claims_elig", "claims_condition", "top_causes",
               "elig_timevar_collapse", "claims_summary"]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["analyst_session", "warehouse_build"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    return ap.parse_args(argv)


def make_workload(name: str, raw_dir: str, work_dir: str, seed: int):
    from analyst import AnalystSession
    from warehouse import WarehouseBuild

    cls = {"analyst_session": AnalystSession, "warehouse_build": WarehouseBuild}[name]
    return cls(raw_dir, work_dir, seed)


def op_kind(op) -> str:
    return op[0] if isinstance(op, tuple) else op


def disk_usage(dirs: list[str]) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``dirs``."""
    size = files = 0
    for d in dirs:
        for base, _, names in os.walk(d):
            for n in names:
                if n.endswith(".parquet"):
                    size += os.path.getsize(os.path.join(base, n))
                    files += 1
    return size, files


def run_ops(wl, ops, tracer, records, log, cpu_s):
    """Run and check ``ops``; append ``(kind, wall, cpu, ok)`` per op,
    where wall and cpu cover the op and not its check."""
    for op in ops:
        kind = op_kind(op)
        ok = False
        c0, t0 = cpu_s(), time.perf_counter()
        try:
            with tracer.op(kind):
                result = wl.run(op, tracer)
            dt, dc = time.perf_counter() - t0, cpu_s() - c0
            ok = wl.check(op, result)
        except Exception:  # a failed op is counted, and the run goes on
            dt, dc = time.perf_counter() - t0, cpu_s() - c0
            log.append(traceback.format_exc(limit=3))
        records.append((kind, dt, dc, ok))


def timed_passes(wl, seconds: float) -> int:
    """Passes to time: set by ``--seconds`` and the workload's nominal
    pass cost, never by measured time."""
    return max(wl.min_passes, int(seconds // wl.nominal_pass_s))


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # the engine under test; without it there is nothing to measure
    import __spark_entry__  # noqa: F401
    import claims_data_spark  # noqa: F401

    import datagen
    from harness import Session, cpu_probe, cpu_ticks, ncpu
    from spans import NullTracer, Tracer

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw = os.path.join(work, "data")
    wl = make_workload(args.workload, raw, work, args.seed)
    sf = SMOKE_SF if args.smoke else wl.sf
    phases = {}
    t_run = time.perf_counter()
    rows = datagen.generate(raw, args.seed, sf)
    phases["datagen"] = time.perf_counter() - t_run

    probes = [cpu_probe()]
    session = Session(work)
    null = NullTracer()
    setups, starts = [], []
    try:
        for _ in range(1 if args.smoke else wl.setups):
            t0 = time.perf_counter()
            spark = session.start()
            starts.append(time.perf_counter() - t0)
            wl.setup(spark, null)
            setups.append(time.perf_counter() - t0)

        log: list[str] = []
        warm: list = []
        t0 = time.perf_counter()
        run_ops(wl, [] if args.smoke else wl.warmup_ops(), null, warm, log, session.cpu_s)
        phases["warmup"] = time.perf_counter() - t0

        tracer = Tracer(spark) if args.trace else null
        records: list = []
        n = wl.ops_per_pass
        ticks0 = cpu_ticks()
        t0 = time.perf_counter()
        n_passes = 1 if args.smoke else timed_passes(wl, args.seconds)
        for _, ops in zip(range(n_passes), wl.passes()):
            run_ops(wl, ops, tracer, records, log, session.cpu_s)
        instrument_s = tracer.instrument_s
        phases["timed_with_checks"] = time.perf_counter() - t0
        ticks1 = cpu_ticks()

        peak_rss = session.peak_rss_mb()
        layer = layer_metrics(tracer, wl, records, starts, ncpu()) if args.trace else {}
    finally:
        wl.close()
        session.close()
    probes.append(cpu_probe())
    phases["total"] = time.perf_counter() - t_run

    ops_lat = [dt for _, dt, _, _ in records]
    ops_cpu = [dc for _, _, dc, _ in records]
    pass_walls = [sum(ops_lat[i:i + n]) for i in range(0, len(ops_lat), n)]
    pass_cpu = [sum(ops_cpu[i:i + n]) for i in range(0, len(ops_cpu), n)]
    # a batch caller waits for the whole pass, an analyst for each call
    lat = pass_walls if wl.call_is_pass else ops_lat
    checked = records + warm
    failed = sum(1 for _, _, _, ok in checked if not ok)
    attempted = len(checked)
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "cpu_s": (statistics.median(pass_cpu), "s"),
        "peak_rss_mb": (sum(peak_rss), "MB"),
    }
    if args.trace:
        layer["host.cpu_probe_s"] = (statistics.fmean(probes), "s")
        # the traced passes over the same passes less the time spent
        # reading Spark's instruments inside them
        traced = sum(ops_lat)
        layer["trace.overhead_ratio"] = (traced / (traced - instrument_s), "ratio")
        metrics = layer
    else:
        metrics = e2e

    by_kind: dict[str, list[float]] = {}
    for kind, dt, _, _ in records:
        by_kind.setdefault(kind, []).append(round(dt, 4))
    detail = {
        "workload": args.workload, "seed": args.seed, "sf": sf, "rows": rows,
        "setups_s": setups, "pass_walls_s": pass_walls, "pass_cpu_s": pass_cpu,
        # latency, not gated: it follows the host's hypervisor steal
        "wall_s": statistics.median(pass_walls), "call_p50_s": statistics.median(lat),
        "failed_ratio": failed / attempted,
        "host.cpu_probe_s": {"before": probes[0], "after": probes[1]},
        "host.steal_share": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
        "peak_rss_mb": {"python": peak_rss[0], "jvm": peak_rss[1]},
        "latency_s": by_kind, "phases_s": phases, "errors": log[:5],
    }
    if args.trace:
        detail["self_s"] = tracer.self_times()
        detail["instrument_s"] = instrument_s
        detail["spans_file"] = os.path.join(work, "spans.jsonl")
        tracer.write(detail["spans_file"])
        detail["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def layer_metrics(tracer, wl, records, starts, cpus) -> dict:
    from warehouse import TABLES

    c = tracer.counts
    busy = sum(dt for _, dt, _, _ in records)
    ex = tracer.exec_counts()
    size, files = disk_usage(wl.written_dirs())
    api_build = (tracer.total("api") - tracer.total("api", "collect")
                 + tracer.total("operators.tabulate"))
    m = {
        "session.start_s": (statistics.median(starts), "s"),
        "sources.write_s": (tracer.total("sources"), "s"),
        "sources.bytes_written": (size, "bytes"),
        "sources.files_written": (files, "count"),
        "tables.build_s": (tracer.total("tables"), "s"),
        "tables.build_jobs": (c["tables.build_jobs"], "count"),
    }
    for t in TABLES:
        d = tracer.durations("op", t)
        m[f"tables.{t}.s"] = (statistics.median(d) if d else 0.0, "s")
    m["qa.gate_s"] = (tracer.total("qa"), "s")
    m["qa.checks"] = (c["qa.checks"], "count")
    m["api.build_s"] = (api_build, "s")
    m["api.build_jobs"] = (c["api.build_jobs"], "count")
    m["api.collect_s"] = (tracer.total("api", "collect"), "s")
    for e in API_ENTRIES + ["tabloop"]:
        d = tracer.durations("op", e)
        name = "operators.tabulate.tabloop.call_s" if e == "tabloop" else f"api.{e}.call_s"
        m[name] = (statistics.median(d) if d else 0.0, "s")
    m["api.result_rows"] = (c["api.result_rows"], "count")
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = (c[f"catalyst.{phase}_ms"], "ms")
    for k in ("exec.jobs", "exec.stages", "exec.tasks", "exec.exchanges"):
        m[k] = (ex.get(k, 0.0), "count")
    for k in ("exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes"):
        m[k] = (ex.get(k, 0.0), "bytes")
    m["exec.task_busy_s"] = (ex.get("exec.task_busy_s", 0.0), "s")
    m["exec.core_busy_ratio"] = (ex.get("exec.task_busy_s", 0.0) / (busy * cpus), "ratio")
    m["exec.failed_tasks"] = (ex.get("exec.failed_tasks", 0.0), "count")
    return m


if __name__ == "__main__":
    sys.exit(main())
