"""Layered ELT benchmark for dlt_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload merge_ingest --seed 1 --seconds 20 --trace 0

Runs one workload as one closed-loop client in a fresh process: builds
seeded inputs, sets up a fresh store through the engine's public API,
warms up with untimed ops, then runs ops back to back until ``--seconds``
have passed (ending on an op boundary) and checks every result.  The last
stdout line is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  A full report goes to
``.perfbench_out/<workload>-s<seed>-t<trace>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")

CORES = 4  # local[N]: N = min(CORES, nproc)
DRIVER_HEAP = "3g"
# untimed ops after the build: the JIT is still warming after them, less so each op
WARM_OPS = {"merge_ingest": 2, "relation_reads": 2}
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s", "rows_per_s": "rows/s",
              "store_bytes_per_row": "B/row"}


def process_age_s() -> float:
    """Seconds since this process started (interpreter start included),
    to the kernel clock tick."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def calibrate() -> dict:
    """Fixed CPU and memory-bandwidth work; a slow reading means a
    contended host.  Diagnostic only: never used to drop or rescale."""
    import hashlib

    import numpy as np

    buf = bytes(range(256)) * 16384  # 4 MiB
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(24):
        h.update(buf)
    t1 = time.perf_counter()
    a = np.ones(8 * 1024 * 1024)  # 64 MiB
    b = np.empty_like(a)
    for _ in range(12):
        np.copyto(b, a)
    t2 = time.perf_counter()
    return {"cpu_s": t1 - t0, "mem_s": t2 - t1, "total_s": t2 - t0}


def peak_rss_mb(jvm_pid: int) -> float:
    import resource

    def hwm_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    return (hwm_kb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def tail(latencies: list) -> tuple:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than 11 samples."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def make_session(work: str):
    import dlt_spark

    n = min(CORES, os.cpu_count() or 1)
    overrides = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.ui.enabled": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    spark = dlt_spark.spark_session("perfbench", master=f"local[{n}]", shuffle_partitions=2 * n,
                                    overrides=overrides)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, n


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def median_of(records: list, key: str) -> float:
    vals = [r[key] for r in records if key in r]
    return float(statistics.median(vals)) if vals else 0.0


def main() -> int:
    # process start on the perf_counter clock: set-up time is measured from it
    t_process = time.perf_counter() - process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import dlt_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the dlt_spark engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable

    spark = None
    try:
        calib_start = calibrate()
        t = time.perf_counter()
        spark, n_cores = make_session(work)
        session_s = time.perf_counter() - t

        tracer = None
        if args.trace:
            from collector import StatusCollector
            from tracer import Tracer, install_engine_spans

            tracer = Tracer(StatusCollector(spark))
            install_engine_spans(tracer)
        else:
            from tracer import NullTracer

        wl = workloads.WORKLOADS[args.workload](spark, args.seed, work, tracer or NullTracer())
        t = time.perf_counter()
        wl.setup()
        build_s = time.perf_counter() - t
        t = time.perf_counter()
        for i in range(WARM_OPS[args.workload]):
            wl.op(i, wl.prepare(i))
        warm_s = time.perf_counter() - t

        result = measure(args, wl, tracer)
        calib_end = calibrate()

        ops = result["ops"]
        setup_s = ops[0]["start"] - t_process
        measured = [o["id"] for o in ops]
        late_failures = wl.verify(measured)
        for o in ops:
            if o["id"] in late_failures:
                o["ok"] = False
        failed = sum(1 for o in ops if not o["ok"])
        correct = wl.setup_ok and failed == 0

        lat = [o["latency_s"] for o in ops]
        wall = ops[-1]["end"] - ops[0]["start"]
        tail_v, tail_pct, tail_n = tail(lat)
        rss = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        values = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(lat),
            "ops_per_s": len(ops) / wall,
            "rows_per_s": sum(o["rows"] for o in ops) / sum(lat),
            "store_bytes_per_row": wl.store_bytes_per_row(),
        }
        e2e = {k: (values[k], unit) for k, unit in END_TO_END.items()}
        if args.trace:
            layer = per_layer(result, wl, tracer, n_cores)
            layer.update({
                "op_tail_s": (tail_v, "s"),
                "peak_rss_mb": (rss, "MB"),
                "session.start_s": (session_s, "s"),
                "host.calib_start_s": (calib_start["total_s"], "s"),
                "host.calib_end_s": (calib_end["total_s"], "s"),
            })
            metrics = layer
        else:
            metrics = e2e

        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "correct": correct, "attempted": len(ops), "failed": failed,
            "setup": {"session_s": session_s, "build_s": build_s, "warm_s": warm_s,
                      "warm_ops": WARM_OPS[args.workload], "setup_s": setup_s},
            "op_tail": {"value_s": tail_v, "percentile": tail_pct, "n": tail_n},
            "peak_rss_mb": rss,
            "host": {"calib_start": calib_start, "calib_end": calib_end, "nproc": os.cpu_count()},
            "spark_conf": effective_conf(spark),
            "end_to_end": {k: v for k, (v, _u) in e2e.items()},
            "metrics": {k: v for k, (v, _u) in metrics.items()},
            "notes": wl.notes,
            "ops": ops,
        }
        if tracer is not None:
            report["self_time_s"] = self_times(tracer, result)
        write_report(args, report, tracer)
        print(json.dumps({
            "correct": correct, "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def measure(args, wl, tracer) -> dict:
    """Closed loop: ops back to back until ``--seconds`` have passed since
    the first op started; the run ends on an op boundary.  In a traced
    run ops are traced in the pattern T U U T T U U T ..., so that the
    traced and untraced ops sit at the same average point of the JIT
    warm-up curve and ``trace.overhead_ratio`` is not biased by it."""
    ops, counters, layer_extra = [], {}, {}
    i = WARM_OPS[args.workload]
    first_start = None
    while True:
        prepared = wl.prepare(i)
        traced = tracer is not None and len(ops) % 4 in (0, 3)
        tag = f"pb-op-{i}"
        before = wl.layer_before() if tracer is not None else None
        if tracer is not None:
            tracer.collector.add_tag(tag)
            tracer.begin_op(i, traced)
        start_wall = time.time()
        t0 = time.perf_counter()
        ok = True
        try:
            with (tracer.span("op") if traced else contextlib.nullcontext()):
                res = wl.op(i, prepared)
        except Exception:
            traceback.print_exc()
            ok = False
            res = None
        t1 = time.perf_counter()
        end_wall = time.time()
        if first_start is None:
            first_start = t0
        if tracer is not None:
            tracer.end_op()
            tracer.collector.remove_tag(tag)
            counters[i] = tracer.collector.collect(tag)
            if res is not None:
                layer_extra[i] = wl.layer_after(before, res)
        ops.append({
            "id": i, "start": t0, "end": t1, "start_wall": start_wall, "end_wall": end_wall,
            "latency_s": t1 - t0, "rows": res.rows if res else 0,
            "ok": ok and bool(res and res.ok), "traced": traced,
        })
        i += 1
        if t1 - first_start >= args.seconds:
            break
    return {"ops": ops, "counters": counters, "layer_extra": layer_extra}


SPAN_TIMES = {
    "extract.wall_s": "extract",
    "normalize.wall_s": "normalize",
    "schema.update_table_s": "schema.update_table",
    "incremental.apply_s": "incremental.apply",
    "incremental.update_state_s": "incremental.update_state",
    "load.write_chain_s": "load.write_chain",
    "load.commit_s": "load.commit",
    "store.overwrite_s": "store.overwrite",
    "store.append_s": "store.append",
    "store.append_rows_s": "store.append_rows",
    "store.read_s": "store.read",
    "dataset.query_s": "dataset.query",
    "dataset.row_counts_s": "dataset.row_counts",
    "dataset.load_ids_s": "dataset.load_ids",
    "relation.where_fetch_s": "dash.where_fetch",
    "relation.join_fetch_s": "dash.join_fetch",
    "relation.max_s": "dash.max",
    "relation.arrow_s": "dash.arrow",
    "relation.construct_s": "relation.construct",
    "relation.fetch_s": "relation.fetch",
}
SPAN_CALLS = {
    "schema.update_table_calls": "schema.update_table",
    "store.read_calls": "store.read",
    "store.list_tables_calls": "store.list_tables",
}
SPAN_JOBS = {
    "extract.jobs": "extract",
    "normalize.jobs": "normalize",
    "incremental.update_state_jobs": "incremental.update_state",
    "load.write_chain_jobs": "load.write_chain",
}
DATAOPS_QUERIES = ["pagerank"]
DATAOPS = ["construct_s", "construct_jobs", "execute_s", "executor_run_s", "shuffle_bytes", "materializations"]


def layer_names() -> list:
    """Every per-layer metric name with its unit, in report order."""
    names = [
        ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
        ("spark.executor_run_s", "s"), ("spark.slot_idle_ratio", "ratio"),
        ("spark.shuffle_bytes", "bytes"), ("spark.spill_bytes", "bytes"), ("spark.input_bytes", "bytes"),
        ("driver.outside_jobs_s", "s"), ("spark.materializations", "count"),
    ]
    names += [(k, "s") for k in SPAN_TIMES]
    names += [(k, "count") for k in list(SPAN_CALLS) + list(SPAN_JOBS)]
    names += [("normalize.tables_out", "count")]
    names += [("store.commits", "count"), ("store.files_written", "count"), ("store.bytes_written", "bytes"),
              ("store.write_amp", "ratio"), ("store.control_dirs", "count")]
    for q in DATAOPS_QUERIES:
        for m in DATAOPS:
            unit = "s" if m.endswith("_s") else ("bytes" if m.endswith("bytes") else "count")
            names.append((f"dataops.{q}.{m}", unit))
    names += [("op_tail_s", "s"), ("peak_rss_mb", "MB"), ("session.start_s", "s"), ("host.calib_start_s", "s"),
              ("host.calib_end_s", "s"), ("trace.overhead_ratio", "ratio"), ("trace.ops", "count")]
    return names


def per_layer(result: dict, wl, tracer, n_cores: int) -> dict:
    """Per-op values, then the median over ops.  Spark and store counters
    come from every measured op; span metrics from the traced ops."""
    ops = result["ops"]
    spark_recs, span_recs = [], []
    for o in ops:
        c = result["counters"][o["id"]]
        lo, hi = o["start_wall"] * 1000.0, o["end_wall"] * 1000.0
        run_s = c.stage_sum(c.jobs, "executor_run_ms") / 1000.0
        rec = {
            "spark.jobs": len(c.jobs),
            "spark.stages": len(c.stages),
            "spark.tasks": sum(s.tasks for s in c.stages.values()),
            "spark.executor_run_s": run_s,
            "spark.slot_idle_ratio": 1.0 - run_s / (o["latency_s"] * n_cores),
            "spark.shuffle_bytes": c.stage_sum(c.jobs, "shuffle_bytes"),
            "spark.spill_bytes": c.stage_sum(c.jobs, "spill_bytes"),
            "spark.input_bytes": c.stage_sum(c.jobs, "input_bytes"),
            "driver.outside_jobs_s": o["latency_s"] - c.busy_seconds(lo, hi),
        }
        rec.update(result["layer_extra"].get(o["id"], {}))
        spark_recs.append(rec)
        if not o["traced"]:
            continue
        spans = tracer.op_spans(o["id"])
        ev = tracer.events.get(o["id"], {})
        srec = {"spark.materializations": ev.get("materializations", 0),
                "normalize.tables_out": ev.get("tables_out", 0)}
        for k, name in SPAN_TIMES.items():
            srec[k] = sum(s.duration for s in spans if s.name == name)
        for k, name in SPAN_CALLS.items():
            srec[k] = sum(1 for s in spans if s.name == name)

        def jobs_of(name):
            tags = {s.tag for s in spans if s.name == name and s.tag}
            return [j for j in c.jobs if tags & set(j.tags)]

        for k, name in SPAN_JOBS.items():
            srec[k] = len(jobs_of(name))
        for q in DATAOPS_QUERIES:
            p = f"dataops.{q}"
            if not any(s.name == p for s in spans):
                continue
            qjobs = jobs_of(p)
            srec[f"{p}.construct_s"] = sum(s.duration for s in spans if s.name == f"{p}.construct")
            srec[f"{p}.construct_jobs"] = len(jobs_of(f"{p}.construct"))
            srec[f"{p}.execute_s"] = sum(s.duration for s in spans if s.name == f"{p}.execute")
            srec[f"{p}.executor_run_s"] = c.stage_sum(qjobs, "executor_run_ms") / 1000.0
            srec[f"{p}.shuffle_bytes"] = c.stage_sum(qjobs, "shuffle_bytes")
            srec[f"{p}.materializations"] = ev.get(f"{p}.materializations", 0)
        span_recs.append(srec)

    traced = [o["latency_s"] for o in ops if o["traced"]]
    untraced = [o["latency_s"] for o in ops if not o["traced"]]
    overhead = (statistics.median(traced) / statistics.median(untraced) - 1.0) if traced and untraced else 0.0
    end = wl.run_end_counters()
    out = {}
    for name, unit in layer_names():
        if name in end:
            val = end[name]
        elif any(name in r for r in span_recs):
            val = median_of(span_recs, name)
        else:
            val = median_of(spark_recs, name)
        out[name] = (val, unit)
    out["trace.overhead_ratio"] = (overhead, "ratio")
    out["trace.ops"] = (len(traced), "count")
    return out


def self_times(tracer, result: dict) -> dict:
    """Median per-op self time (span minus its children) by span name."""
    per_op = {}
    for o in result["ops"]:
        if not o["traced"]:
            continue
        acc = {}
        for s in tracer.op_spans(o["id"]):
            acc[s.name] = acc.get(s.name, 0.0) + s.self_s
        per_op[o["id"]] = acc
    names = sorted({n for acc in per_op.values() for n in acc})
    return {n: statistics.median([acc.get(n, 0.0) for acc in per_op.values()]) for n in names}


def effective_conf(spark) -> dict:
    from dlt_spark.session import SCALE_DEFAULTS

    conf = dict(spark.sparkContext.getConf().getAll())
    for k in list(SCALE_DEFAULTS) + ["spark.sql.shuffle.partitions", "spark.sql.autoBroadcastJoinThreshold"]:
        conf[k] = spark.conf.get(k, None)
    return {k: v for k, v in sorted(conf.items()) if "id" not in k.rsplit(".", 1)[-1].lower()}


def write_report(args, report: dict, tracer) -> None:
    os.makedirs(OUT_ROOT, exist_ok=True)
    stem = os.path.join(OUT_ROOT, f"{args.workload}-s{args.seed}-t{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    if tracer is not None:
        with open(stem + ".spans.jsonl", "w") as f:
            for idx, s in enumerate(tracer.spans):
                if s.op is None:
                    continue
                f.write(json.dumps({"id": idx, "name": s.name, "op": s.op, "parent": s.parent,
                                    "start": s.start, "end": s.end, "self_s": s.self_s}) + "\n")


if __name__ == "__main__":
    sys.exit(main())
