"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Runs from the root of a source checkout.  One run builds a Spark session
(timed from process start as ``setup_s``), generates the workload's
inputs from the seed, drains whole rounds of the workload until
``--seconds`` have passed, checks every output, and prints one JSON line:
the end-to-end metrics with ``--trace 0``, the per-layer metrics of a
traced run with ``--trace 1``.  See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "spark_ss_hudi_delta_poc_spark"
WORKLOADS = ("lakehouse_ingest", "stateful_ingest", "corpus_curation")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true", help="show that the output checks catch doctored outputs")
    args = ap.parse_args(argv)
    if not args.self_test and args.workload is None:
        ap.error("--workload is required")
    return args


def _pin_environment(work: str) -> None:
    """Run isolation, before anything reads TMPDIR or starts the JVM."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # staging caches, checkpoints and spark_graft_stream scratch follow TMPDIR
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the notification source runs in Spark's Python workers
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]


def _check(rnd) -> tuple[list[str], int]:
    """(problems, failed operations) for one round."""
    import checks

    out = rnd.outputs
    if rnd.workload == "lakehouse_ingest":
        listing = rnd.phases[0]
        rows_in = sum(p["num_input_rows"] for p in listing.progress)
        problems = checks.lakehouse_sink(out["sink"], rnd.expected, rows_in, out["battery"])
        return problems, checks.notification_failed_files(out["notify_sink"], rnd.expected["notify"])
    problems = checks.registry_results(out["sf"], out["results"])
    if rnd.workload == "corpus_curation":
        problems += checks.corpus_build(out["sf"], out["corpus_sink"], out["corpus_build"])
    return problems, 0


def run(args) -> dict:
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _pin_environment(work)
    import measure
    import workloads

    t_proc = measure.process_start_wall()
    tracer = None
    if args.trace:
        import spans

        tracer = spans.Tracer()
        tracer.install()
    try:
        t0 = time.time()
        with measure.PeakRss() as rss:
            spark = workloads.start_session(work, bool(args.trace))
            build_ms = 1000 * (time.time() - t0)
            spark.range(1).count()
            setup_s = time.time() - t_proc
            try:
                log = measure.ProgressLog()
                spark.streams.addListener(log)
                ctx = workloads.Ctx(spark, log, args.seed, tracer)
                rounds, job_ms = [], []
                start = time.perf_counter()
                with ctx.span(args.workload):
                    while not rounds or time.perf_counter() - start < args.seconds:
                        root = os.path.join(work, f"round{len(rounds)}")
                        t_round = time.time()
                        rounds.append(workloads.WORKLOADS[args.workload](ctx, root))
                        job_ms.append(measure.spark_job_ms(spark, t_round, time.time()))
                peak_mb = rss.peak_bytes / 2**20
                problems, failed = [], 0
                for rnd in rounds:
                    p, f = _check(rnd)
                    problems += p
                    failed += f
                per_layer = tracer.per_layer(spark, args.workload, args.seed, rounds, log, build_ms) if tracer else None
            finally:
                workloads.stop_session(spark)
    finally:
        if tracer:
            tracer.uninstall()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run is using it

    for i, rnd in enumerate(rounds):
        for ph in rnd.phases:
            print(f"round {i} {ph.name}: {ph.seconds:.3f} s + {ph.read_seconds:.3f} s read", file=sys.stderr)
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    if per_layer is not None:
        metrics = per_layer
    else:
        figures = [workloads.end_to_end(r, ms) for r, ms in zip(rounds, job_ms)]
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }
        units = {"work_s": "s", "step_p50_ms": "ms", "rows_per_s": "rows/s"}
        for k, unit in units.items():
            metrics[k] = {"value": statistics.median(f[k] for f in figures), "unit": unit}
    return {
        "correct": not problems,
        "attempted": sum(r.attempted for r in rounds),
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package next to {HERE}; run from a source checkout", file=sys.stderr)
        return 2
    if args.self_test:
        work = os.path.join(HERE, ".work", f"selftest-{os.getpid()}")
        _pin_environment(work)
        import selftest

        return selftest.main(work)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
