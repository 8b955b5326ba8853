"""Benchmark entry point.

    python3 engine_bench/run.py --workload ingest --seed 1 --seconds 2 --trace 0

Run from the root of a checkout of the repository: the engine is imported
from that checkout and nowhere else. The last line of standard output is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A traced run also keeps its spans, its Spark
event log and its per-layer table under
``.bench_scratch/traces/<workload>-seed<seed>-<pid>/``.
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

END_TO_END = [("setup_s", "s"), ("op_geomean_ms", "ms"), ("suite_s", "s"),
              ("throughput_per_s", "1/s")]


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bdc_collection_builder_spark",
                                       "__init__.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import lifecycle

    cores = len(os.sched_getaffinity(0))
    scratch = os.path.join(ROOT, ".bench_scratch")
    run_dir = os.path.join(scratch, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    trace_dir = (os.path.join(scratch, "traces",
                              f"{args.workload}-seed{args.seed}-{os.getpid()}")
                 if args.trace else None)
    lifecycle.prepare_env(run_dir, cores)
    lifecycle.install_signal_handlers()

    spark = None
    interrupted = False
    try:
        from tracing import PER_LAYER, Tracer, instrument
        from workloads import WORKLOADS

        tracer = Tracer(enabled=bool(args.trace))
        event_dir = os.path.join(trace_dir, "eventlog") if trace_dir else None
        spark = lifecycle.boot(run_dir, cores, event_dir)
        boot_s = time.perf_counter() - start
        if tracer.enabled:
            instrument(tracer)
        outcome = WORKLOADS[args.workload](
            spark, run_dir, args.seed, args.seconds, tracer, boot_s)
        tracer.restore()
    except lifecycle.Interrupted as exc:
        interrupted = True
        print(f"interrupted by {exc}; cleaned up", file=sys.stderr)
        return 128 + (15 if str(exc) == "SIGTERM" else 2)
    finally:
        lifecycle.ignore_signals()
        lifecycle.shutdown(spark, graceful=not interrupted)
        shutil.rmtree(run_dir, ignore_errors=True)

    for err in outcome.errors:
        print(f"check failed: {err}", file=sys.stderr)
    print(f"wall: total {time.perf_counter() - start:.1f}s, boot {boot_s:.1f}s, setup "
          f"{outcome.setup_s:.1f}s, warm-up {outcome.warmup_s:.1f}s, timed "
          f"{outcome.timed_wall_s:.1f}s", file=sys.stderr)
    print(f"detail: {json.dumps(outcome.detail)}", file=sys.stderr)
    e2e = outcome.end_to_end()
    correct = outcome.failed == 0
    if args.trace:
        metrics, checks = traced_metrics(tracer, trace_dir, outcome, boot_s,
                                         cores, e2e)
        correct = correct and all(checks.values())
        units = dict(PER_LAYER)
    else:
        metrics = e2e
        units = dict(END_TO_END)
    print(json.dumps({
        "correct": correct,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


def traced_metrics(tracer, trace_dir: str, outcome, boot_s: float,
                   cores: int, e2e: dict) -> tuple[dict, dict]:
    """Fold the event log into the spans, keep the trace on disk and
    report its consistency checks on stderr."""
    from tracing import event_log_file, fold_event_log, layers

    jobs = fold_event_log(event_log_file(os.path.join(trace_dir, "eventlog")))
    extra = dict(outcome.trace_extra, boot_s=boot_s,
                 warmup_s=outcome.warmup_s, cores=cores)
    table = layers(tracer, jobs, extra)
    tracer.dump(os.path.join(trace_dir, "spans.json"))
    with open(os.path.join(trace_dir, "layers.json"), "w") as fh:
        json.dump({"end_to_end": e2e, **table}, fh, indent=1)
    print(f"trace: {trace_dir} checks={table['checks']} "
          f"end_to_end={json.dumps(e2e)}", file=sys.stderr)
    return table["metrics"], table["checks"]


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except KeyboardInterrupt:
        sys.exit(130)
