"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload hashtag_ingest --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run keeps all its files under
``.bench_work/`` (deleted at exit) and, with ``--trace 1``, writes the
spans and per-layer metrics to ``.bench_out/``. The last line of stdout
is ``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer ones (which
include the end-to-end figures measured under tracing, so the tracing
overhead can be read off). Exits non-zero, printing no result, when the
checkout has no program to measure.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E = (
    ("setup_s", "s"),
    ("retained_mb", "MB"),
    ("rows_per_s", "rows/s"),
    ("tick_p50_s", "s"),
)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("hashtag_ingest", "stream_dedup", "query_mix"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep every file Spark and Python write inside the run's work dir
    (the JVM's perf-data file would go to /tmp, so it is turned off), and
    make the checkout importable in Python workers."""
    from perfbench import harness

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(harness.cores())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # spark-submit first runs a short-lived launcher JVM, then the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '{jvm_opts}' --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM to
    exit (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
            proc.kill()
            proc.wait()


def measure(wl, seconds: float, tracer) -> dict:
    """Warm up, then run ticks back to back until ``seconds`` have passed
    since the first timed tick started (at least one tick)."""
    ticks: dict[int, tuple] = {}
    walls: dict[int, float] = {}
    timed: list[int] = []
    start = deadline = None
    op = 0
    while True:
        inp = wl.prepare()
        if op == wl.warmup:
            start = time.perf_counter()
            deadline = start + seconds
        if tracer is not None:
            tracer.op = op
        t = time.perf_counter()
        try:
            out = wl.tick(inp)
        except Exception:  # noqa: BLE001 — a failed tick is counted, the run goes on
            traceback.print_exc()
            out = None
        walls[op] = time.perf_counter() - t
        ticks[op] = (inp, out)
        phase = "warm-up" if op < wl.warmup else "timed"
        print(f"tick {op} ({phase}): {walls[op]:.3f} s", file=sys.stderr)
        if op >= wl.warmup:
            timed.append(op)
            if time.perf_counter() >= deadline:
                break
        op += 1
    return {"ticks": ticks, "walls": walls, "timed": timed, "start": start}


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "etl_instagram_spark", "__init__.py")):
        print(f"no etl_instagram_spark package under {ROOT}: nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        configure_env(work)
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args: argparse.Namespace, work: str) -> int:
    from etl_instagram_spark.session import get_spark
    from perfbench import harness, workloads

    spark = get_spark(f"perfbench-{args.workload}")
    try:
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, os.path.join(work, "data"))
        tracer = ledger = None
        if args.trace:
            ledger = harness.JobLedger(spark)
            tracer = harness.Tracer(spark, ledger)
            wl.instrument(tracer)
        try:
            m = measure(wl, args.seconds, tracer)
        finally:
            if tracer is not None:
                tracer.unwrap()
            wl.close()
        setup_s = m["start"] - T_PROCESS
        retained = harness.retained_mb(spark)
        verdict = wl.verify(m["ticks"])

        ok_ops = [op for op in m["timed"] if op not in verdict.failed_ops]
        failed = len(m["timed"]) - len(ok_ops)
        correct = verdict.ok and not verdict.failed_ops
        if not ok_ops:
            print("every timed tick failed", file=sys.stderr)
            return 1
        e2e = {
            "setup_s": setup_s,
            "retained_mb": retained,
            "rows_per_s": sum(wl.rows(*m["ticks"][op]) for op in ok_ops) / sum(m["walls"][op] for op in ok_ops),
            "tick_p50_s": harness.median(m["walls"][op] for op in ok_ops),
        }
        if args.trace:
            metrics = layer_metrics(wl, m, ok_ops, tracer, ledger, verdict, e2e)
            write_trace(args, tracer, metrics, m)
        else:
            metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in E2E}
        print(json.dumps({
            "correct": bool(correct),
            "attempted": len(m["timed"]),
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        stop_spark(spark)


def layer_metrics(wl, m, ok_ops, tracer, ledger, verdict, e2e) -> dict:
    """Per-layer metrics: medians over the successful timed ticks."""
    from perfbench import harness, workloads

    spans = tracer.spans
    jobs = ledger.load(min(s.job0 for s in spans), max(s.job1 for s in spans))
    ops = set(ok_ops)
    values: dict[str, float] = {}
    roots = [s for s in spans if s.name == wl.root_span and s.op in ops]
    cores = harness.cores()
    per_tick = [
        {**harness.spark_counters(r, jobs, cores), **wl.tick_layers(m["ticks"][r.op][1], r)}
        for r in roots
    ]
    for name in per_tick[0]:
        values[name] = harness.median(c[name] for c in per_tick)
    for span, fields in harness.span_rollup(spans, jobs, ops).items():
        for f, vals in fields.items():
            values[f"{span}.{f}"] = harness.median(vals)
    for name, vals in workloads.merge_figures(spans, ops).items():
        values[name] = harness.median(vals)
    values.update(verdict.extras)
    for name, _ in E2E:
        values[f"trace.{name}"] = e2e[name]
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit, _ in workloads.per_layer_spec()
    }


def write_trace(args, tracer, metrics: dict, m: dict) -> None:
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "timed_ops": m["timed"],
        "spans": [
            {"name": s.name, "op": s.op, "parent": s.parent, "start": s.start - T_PROCESS,
             "end": s.end - T_PROCESS, "first_job": s.job0, "end_job": s.job1,
             "attrs": s.attrs}
            for s in tracer.spans
        ],
        "metrics": metrics,
    }
    with open(path, "w", encoding="utf-8") as f:
        json.dump(doc, f, indent=1)
    print(f"trace written to {os.path.relpath(path, ROOT)}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
