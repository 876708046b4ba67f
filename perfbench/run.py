"""Closed-loop API benchmark of ``aruna_spark.api.Engine``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload interactive_read --seed 1 \
        --seconds 20 --trace 0

``--seconds`` sets how much work a run measures: each client sends the
first ``seconds x rate`` requests of its script (``runner.RATES``), which
takes about that long on a 4-core machine. A fixed count, not a deadline,
ends the loop, so every run of a workload sends the same sequence of
operations and runs compare request for request.

Prints one line per metric (name, value, unit) and, as the last line of
standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` runs the same workload and seed with spans recorded around
the engine's public functions and reports the per-layer metrics. See
``perfbench/README.md`` for the workloads and what each metric measures.

Every run works in a fresh directory under ``perfbench/.work/runs/``: the
engine's store cache, Spark's local directories and temporary files all
live there, and it is deleted when the run ends. Each request's timing and
answer, and in a traced run every span, are written to
``perfbench/.work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def process_start_epoch() -> float:
    """When this process started, from ``/proc`` (10 ms resolution)."""
    with open("/proc/self/stat", encoding="ascii") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat", encoding="ascii") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def isolate(run_dir: str, cpus: int) -> None:
    """Point every cache and scratch directory of the engine and Spark at
    ``run_dir``. Must run before ``aruna_spark`` is imported: its store
    module reads ``ARUNA_SPARK_CACHE`` at import."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        ARUNA_SPARK_CACHE=os.path.join(run_dir, "store"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark"),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM="2g",
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYSPARK_PYTHON=sys.executable,
    )


def stop_spark() -> None:
    """Stop the session, if one started, and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["interactive_read", "ingest_search"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_proc = process_start_epoch()
    sys.path.insert(0, ROOT)
    # the engine must be importable from this checkout; without it the
    # run fails before printing a result
    import aruna_spark  # noqa: F401

    from perfbench import corpus

    os.makedirs(WORK, exist_ok=True)
    t0 = time.time()
    corpus_dir = corpus.ensure_corpus(WORK)
    corpus_s = time.time() - t0  # input generation, not the engine's set-up
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "runs", uuid.uuid4().hex)
    isolate(run_dir, cpus)
    load_start = os.getloadavg()
    try:
        from perfbench import checks, metrics, runner, tracing

        tracer = tracing.Tracer() if args.trace else None
        bench = runner.Bench(args.workload, args.seed, args.seconds, corpus_dir, tracer)
        bench.setup()
        setup_s = time.time() - t_proc - corpus_s
        bench.run()
        bench.verify_writes()
        read_only = args.workload != "ingest_search"
        verdicts = checks.check_all(bench.records, corpus_dir, read_only)
        warm_failed = sum(r.error is not None for r in bench.warmup)
        if args.trace:
            tracer.finish()
            result = metrics.per_layer(bench, verdicts, tracer)
        else:
            result = metrics.end_to_end(bench, verdicts, setup_s)
        info = metrics.run_info(bench, verdicts, cpus, load_start, os.getloadavg())
        info["warmup_failed"] = warm_failed
    finally:
        stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
    out = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    runner.dump_records(bench.records, f"{out}.requests.jsonl")
    if tracer is not None:
        tracer.dump(f"{out}.spans.jsonl")
    for name, m in sorted(result["metrics"].items()):
        print(f"{name:40s} {m['value']:>14.4f} {m['unit']}")
    for v in verdicts:
        if not v.ok:
            print(f"FAILED {v.record.req['id']} {v.record.req['op']}: {v.reason}")
    print("info " + json.dumps(info, sort_keys=True))
    result["correct"] = info["warmup_failed"] == 0 and result["failed"] == 0
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
