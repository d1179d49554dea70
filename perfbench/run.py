"""Seeded end-to-end benchmark of the log/transcript engine.

    python3 perfbench/run.py --workload ingest_incremental --seed 1 --seconds 8 --trace 0

Generates the workload's inputs from ``--seed``, starts one Spark
session on ``local[nproc]``, times the workload's operations for
``--seconds`` and checks every output against an independent
reference.  Human-readable figures go to stdout first; the LAST line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}`` with
the end-to-end metrics (``--trace 0``) or the per-layer metrics of a
traced run (``--trace 1``, which also writes its spans to
``.perfbench_out/``).  All scratch data lives under ``.perfbench_work/``
in the current directory and is removed on exit.

Workloads, metrics and the layer each metric belongs to are described
in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
MIN_OPS = 2  # untraced timed ops per run, however long they take


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def tail(samples: list[float]) -> tuple[float, int] | None:
    """(value, percentile) of the highest whole percentile that still
    has at least ten samples above it, or None with fewer than 20."""
    n = len(samples)
    s = sorted(samples)
    for pct in (99, 95, 90, 75, 50):
        k = math.ceil(n * pct / 100) - 1
        if k >= 0 and n - 1 - k >= 10:
            return s[k], pct
    return None


def spark_session(work: str, trace: bool):
    """local[nproc] session from the engine's own factory, sized to the
    host, with every scratch path under ``work``."""
    from log_aggregation_pipeline_spark.session import get_spark

    import tracing as T

    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        ram_gb = int(f.readline().split()[1]) / 2**20
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1, min(4, int(ram_gb // 4)))}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # the gateway launcher writes its handshake file here
    os.environ["PYSPARK_PYTHON"] = sys.executable
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update(T.event_log_conf(os.path.join(work, "events")))
    spark = get_spark(app_name="perfbench", cores=cores, shuffle_partitions=cores,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run(args) -> dict:
    import tracing as T
    import workloads as W

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(work)
    os.environ["TZ"] = "UTC"
    time.tzset()
    tracer = T.Tracer() if args.trace else None
    spark = sampler = wl = None
    try:
        t0 = time.perf_counter()
        spark = spark_session(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        from pyspark import SparkContext

        sampler = T.RssSampler(SparkContext._gateway.proc.pid).start()
        wl = W.WORKLOADS[args.workload](spark, work, args.seed, W.SIZES[args.scale], tracer)

        stage_s = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.stage(rep)
            stage_s.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(stage_s)
        wl.prepare_checks()

        attempted = failed = 0
        lat, items = [], 0

        def one(i: int, traced: bool):
            nonlocal attempted, failed
            inst = T.Instrumentation(tracer, spark) if traced else None
            rec = None
            t0 = time.perf_counter()
            try:
                if traced:
                    tracer.op = i
                    calls0 = tracer.py4j_calls
                    with tracer.span("op", workload=args.workload) as rec:
                        dt, n, check = wl.op(i)
                    rec["py4j_calls"] = tracer.py4j_calls - calls0
                else:
                    dt, n, check = wl.op(i)
            except Exception as e:  # an operation the engine fails counts as failed
                print(f"op {i} failed: {e!r}", file=sys.stderr)
                dt, n, check, rec = time.perf_counter() - t0, 0, (lambda: False), None
            finally:
                if inst:
                    inst.remove()
            attempted += 1
            if args.corrupt_one_row and i == 0:
                _corrupt(wl)
            try:
                ok = check()
            except Exception as e:  # a check that cannot run is a failed op
                print(f"check error on op {i}: {e!r}", file=sys.stderr)
                ok = False
            failed += not ok
            return dt, n, rec

        first_op_s, _, _ = one(0, False)
        # untimed warm-up: the JVM keeps compiling for several operations
        for i in range(1, 1 + wl.WARMUP_OPS):
            one(i, False)
        i, busy = 1 + wl.WARMUP_OPS, 0.0
        traced_ops, traced_lat = [], []
        while busy < args.seconds or len(lat) < MIN_OPS:
            traced = bool(args.trace) and i % 2 == 0
            dt, n, rec = one(i, traced)
            busy += dt
            if rec is not None:
                traced_lat.append(dt)
                traced_ops.append({"op": i, "span": rec["id"], "py4j_calls": rec["py4j_calls"]})
            elif not traced:
                lat.append(dt)
                items += n
            i += 1

        figures = {
            "session_s": (session_s, "s"),
            "setup_s": (setup_s, "s"),
            "first_op_s": (first_op_s, "s"),
            "op_p50_ms": (1e3 * statistics.median(lat), "ms"),
            "work_per_s": (items / sum(lat), "1/s"),
        }
        tl = tail(lat)
        if tl:
            figures[f"op_p{tl[1]}_ms"] = (1e3 * tl[0], "ms")
        figures.update(wl.report)
        if args.trace:
            layers = _traced_layers(wl, tracer, traced_ops, traced_lat, lat)
            attempted += wl.extra_attempted
            failed += wl.extra_failed
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
        figures["peak_rss_mb"] = (sampler.stop(), "MiB")
        sampler = None
        figures["error_rate"] = (failed / attempted, "ratio")
        print(f"workload={args.workload} seed={args.seed} ops={len(lat)} "
              f"item={wl.item} attempted={attempted} failed={failed}")
        print("  op latencies ms: " + " ".join(f"{1e3 * x:.0f}" for x in lat))
        for k, (v, u) in figures.items():
            print(f"  {k:>16} = {v:.4f} {u}")
        if args.trace:
            stop_spark(spark)
            spark = None
            ev = T.read_event_log(os.path.join(work, "events"))
            layers.update(_spark_layers(ev, len(traced_ops)))
            layers["mem.peak_rss_mb"] = figures["peak_rss_mb"][0]
            out = os.path.join(os.getcwd(), ".perfbench_out",
                               f"trace_{args.workload}_{args.seed}.json")
            tracer.dump(out, {"layers": layers, "event_log": ev})
            for k in sorted(layers):
                print(f"  {k:>26} = {layers[k]:.6g}")
            result["metrics"] = {k: _metric(v, LAYER_UNITS[k]) for k, v in layers.items()
                                 if k in LAYER_UNITS}
        else:
            result["metrics"] = {k: _metric(figures[k][0], figures[k][1])
                                 for k in END_TO_END}
        return result
    finally:
        if sampler:
            sampler.stop()
        if wl:
            wl.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass


def _corrupt(wl) -> None:
    """Self-test hook: drop one committed row of the errors sink."""
    import pyarrow.parquet as pq

    import reference as R

    d = R.committed_dirs(wl.out)["errors"][0]
    path = os.path.join(d, next(f for f in sorted(os.listdir(d)) if f.endswith(".parquet")))
    pq.write_table(pq.read_table(path).slice(1), path)


def _traced_layers(wl, tracer, traced_ops, traced_lat, lat) -> dict:
    """Per-layer figures of the traced ops, with the tracing overhead as
    the traced minus the untraced median op time."""
    import tracing as T

    layers = dict.fromkeys(LAYER_UNITS, 0.0)
    layers.update(wl.layers(traced_ops))
    ops = {o["op"] for o in traced_ops}
    per_op = lambda name, key: statistics.median(  # noqa: E731
        sum(s.get(key, 0) for s in tracer.spans if s["op"] == o and s["name"] in name)
        for o in ops)
    actions = ("write", "metrics", "agg", "write_other", "save", "collect")
    layers["py4j.calls"] = statistics.median(o["py4j_calls"] for o in traced_ops)
    # plan construction: op wall time not spent inside a Spark action, a
    # lineage file operation or the tracer's own plan-shape reads
    build = [T.op_wall(tracer, o["span"]) - T.outermost_s(tracer, o["op"], actions + T.FILE_OPS)
             - sum(s.get("shape_s", 0.0) for s in tracer.spans if s["op"] == o["op"])
             for o in traced_ops]
    layers["plan.build_ms"] = 1e3 * statistics.median(build)
    layers["plan.exchanges"] = per_op(actions, "exchanges")
    layers["plan.file_scans"] = per_op(actions, "file_scans")
    layers["trace.overhead_ms"] = 1e3 * (statistics.median(traced_lat)
                                        - statistics.median(lat))
    if "resume_s" in wl.report:
        layers["ingest.resume_s"] = wl.report["resume_s"][0]
    return layers


def _spark_layers(ev: dict, n_ops: int) -> dict:
    tot = ev["totals"]
    per = lambda k: tot.get(k, 0.0) / max(1, n_ops)  # noqa: E731
    agg = ev["per_label"].get("agg", {})
    return {
        "spark.executor_run_s": per("executor_run_s"),
        "spark.jvm_gc_s": per("jvm_gc_s"),
        "spark.shuffle_write_mb": per("shuffle_write_mb"),
        "spark.shuffle_read_mb": per("shuffle_read_mb"),
        "spark.spill_mb": per("spill_mb"),
        "spark.task_skew": tot.get("task_skew", 1.0),
        "spark.tasks": per("tasks"),
        "agg.shuffle_read_mb": agg.get("shuffle_read_mb", 0.0) / max(1, n_ops),
    }


END_TO_END = ("setup_s", "first_op_s", "op_p50_ms", "work_per_s")

LAYER_UNITS = {
    "plan.build_ms": "ms", "py4j.calls": "count",
    "plan.exchanges": "count", "plan.file_scans": "count",
    "sources.scan_s": "s", "parse.exec_s": "s", "parse.ok_ratio": "ratio",
    "parse.udf_mb": "MiB", "enrich.exec_s": "s", "route.exec_s": "s",
    "route.fanout": "ratio",
    **{f"pipeline.{p}_s": "s" for p in
       ("gc", "lineage", "write", "metrics", "fold", "commit", "agg", "other", "wall")},
    "sink.bytes_per_turn": "B", "ingest.resume_s": "s",
    "lineage.read_ms": "ms", "lineage.manifest_files": "count",
    "agg.shuffle_read_mb": "MiB",
    **{f"query.{k}_ms": "ms" for k in
       ("search", "terms", "histogram", "count", "lookup", "session")},
    "cache.hit_ratio": "ratio", "cache.hit_ms": "ms", "cache.fill_ms": "ms",
    "dedupe.exact_s": "s", "dedupe.lsh_pairs_s": "s", "dedupe.verify_ratio": "ratio",
    "cluster.drop_list_s": "s", "decontam.flag_s": "s", "text.quality_s": "s",
    "spark.executor_run_s": "s", "spark.jvm_gc_s": "s", "spark.shuffle_write_mb": "MiB",
    "spark.shuffle_read_mb": "MiB", "spark.spill_mb": "MiB", "spark.task_skew": "ratio",
    "spark.tasks": "count",
    "trace.overhead_ms": "ms", "mem.peak_rss_mb": "MiB",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest_incremental", "corpus_curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    ap.add_argument("--corrupt-one-row", action="store_true",
                    help="self-test only: damage one routed row after the first op")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "log_aggregation_pipeline_spark")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
