"""The three benchmark workloads.

Each workload writes its whole input backlog for a round before any
timing starts, then drains it through the program's public entry points
(the ``runner`` jobs and the registry query functions) in one Spark
session.  A round returns its timings, the streaming progress events of
each phase and what the output checks need.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import gen
from measure import ProgressLog

from spark_ss_hudi_delta_poc_spark import runner
from spark_ss_hudi_delta_poc_spark.config import resolve
from spark_ss_hudi_delta_poc_spark.plans import all_queries
from spark_ss_hudi_delta_poc_spark.session import get_spark

# lakehouse_ingest: listing-stream backlog, notification backlog, caps
RETAIL_DAYS = 16
RETAIL_ROWS_PER_DAY = 400
RETAIL_DUP_SRNO = 24
LISTING_MAX_FILES = 2
NOTIFY_FILES = 8
NOTIFY_MAX_FILES = 4
# The notification files do not depend on --seed: every one of them fails
# today (CHANGES.md, notification CSV fault), and a fixed input keeps the
# failed share identical in every run.
NOTIFY_SEED = 20101201
NOTIFY_FIRST_SRNO = 1_000_000

# stateful_ingest / corpus_curation: generated testdata tables
N_DOCS = 200
N_EVENTS = 1500
N_VECS = 200

STATEFUL_QUERIES = (
    "q103_stream_scd2_compacting",
    "q112_stream_shard_export",
    "q115_stream_ann_autoretrain",
)
CURATION_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_fuzzy_edit",
    "curation_dsir",
    "curation_contamination",
    "ann_recall_report",
    "text_bm25_search",
    "embedding_knn_graph_lsh",
)
DRIVER_HEAP = "2g"
YOUNG_GEN = "512m"
BATTERY_QUERIES = 4  # count, group count, distinct count, duplicate keys


def start_session(work: str, traced: bool):
    """The program's own session (session.get_spark), sized to this machine."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # The session defaults to a 16g heap, more than a small shared box has.
    # Initial heap = max heap and a fixed young generation: left adaptive,
    # the heap's resident size follows G1's pause-time-driven sizing and
    # spread 20-30% between runs.  Fixed, it is the young generation plus
    # what the old generation retains, which persisted data moves.
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms{DRIVER_HEAP} -Xmn{YOUNG_GEN}",
    }
    if traced:
        # keep every job and stage in the UI store for the REST walk
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


@dataclass
class Ctx:
    spark: object
    log: ProgressLog
    seed: int
    tracer: object | None = None

    def span(self, name: str, kind: str = "bench"):
        return self.tracer.span(name, kind) if self.tracer else contextlib.nullcontext()


@dataclass
class Phase:
    """One timed call into the program and the streams it ran."""

    name: str
    seconds: float
    progress: list[dict] = field(default_factory=list)
    read_seconds: float = 0.0


@dataclass
class Round:
    workload: str
    phases: list[Phase]
    expected: dict
    outputs: dict
    attempted: int


def _timed(ctx: Ctx, name: str, fn, *args):
    """Run ``fn`` under a span, returning (result, seconds, progress)."""
    mark = ctx.log.mark()
    with ctx.span(name):
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(sys.stderr):  # jobs print their JSON summaries
            out = fn(*args)
        seconds = time.perf_counter() - t0
    ctx.log.settle()
    return out, seconds, ctx.log.since(mark)


def _queue_state(queue_dir: str) -> tuple[frozenset, frozenset]:
    """Queued messages and the source's range manifests."""
    state = os.path.join(queue_dir, ".state")
    manifests = os.listdir(state) if os.path.isdir(state) else ()
    return frozenset(n for n in os.listdir(queue_dir) if n.endswith(".json")), frozenset(manifests)


def lakehouse_ingest(ctx: Ctx, root: str) -> Round:
    listing_src = os.path.join(root, "listing_in")
    expected = gen.write_retail_days(
        np.random.default_rng(ctx.seed), listing_src, RETAIL_DAYS, RETAIL_ROWS_PER_DAY, RETAIL_DUP_SRNO
    )
    notify = gen.write_retail_days(
        np.random.default_rng(NOTIFY_SEED),
        os.path.join(root, "notify_in"),
        NOTIFY_FILES,
        RETAIL_ROWS_PER_DAY,
        0,
        first_srno=NOTIFY_FIRST_SRNO,
    )
    queue = os.path.join(root, "queue")
    gen.write_queue(queue, notify["files"])
    expected["notify"] = notify

    sink = os.path.join(root, "sink")
    cfg = resolve(
        "local",
        source=listing_src,
        sink=sink,
        checkpoint=os.path.join(root, "ck_listing"),
        max_files_per_trigger=LISTING_MAX_FILES,
    )
    _, s, prog = _timed(ctx, "runner.job_stream_retail", runner.job_stream_retail, ctx.spark, cfg)
    phases = [Phase("listing", s, prog)]

    notify_cfg = resolve(
        "local",
        source=queue,
        sink=os.path.join(root, "notify_sink"),
        checkpoint=os.path.join(root, "ck_notify"),
        max_files_per_trigger=NOTIFY_MAX_FILES,
    )
    # availableNow ends after one capped batch, so the queue is drained by
    # starting the job again until a start changes nothing in the queue.
    # The last batch's messages stay queued (FOUND in CHANGES.md), so an
    # empty queue cannot be the end condition.
    max_starts = -(-NOTIFY_FILES // NOTIFY_MAX_FILES) + 3
    mark = ctx.log.mark()
    t0 = time.perf_counter()
    starts, before = 0, _queue_state(queue)
    with ctx.span("notification.drain"):
        while True:
            if starts == max_starts:
                raise RuntimeError(f"notification queue not drained after {starts} starts")
            with ctx.span("runner.job_notification_ingest"):
                runner.job_notification_ingest(ctx.spark, notify_cfg)
            starts += 1
            after = _queue_state(queue)
            if after == before:
                break
            before = after
    notify_s = time.perf_counter() - t0
    ctx.log.settle()
    phases.append(Phase("notification", notify_s, ctx.log.since(mark)))

    battery_cfg = dict(cfg, source=sink, group_key="StockCode", dup_key="srno")
    out, s, _ = _timed(ctx, "runner.job_batch_reader", runner.job_batch_reader, ctx.spark, battery_cfg)
    phases.append(Phase("battery", s))
    return Round(
        "lakehouse_ingest",
        phases,
        expected,
        {"sink": sink, "notify_sink": notify_cfg["sink"], "battery": out, "notify_starts": starts},
        attempted=RETAIL_DAYS + NOTIFY_FILES + BATTERY_QUERIES,
    )


def write_tables(ctx: Ctx, root: str) -> tuple[str, dict]:
    sf = os.path.join(root, "sf")
    return sf, gen.write_tables(np.random.default_rng(ctx.seed), sf, N_DOCS, N_EVENTS, N_VECS)


def _registry_phase(ctx: Ctx, name: str, sf: str) -> tuple[Phase, object]:
    """Build the registry query (the stateful ones run their streams here)
    and collect its result (the read-back of the state it maintains)."""
    q = all_queries()[name]
    mark = ctx.log.mark()
    with ctx.span(name):
        t0 = time.perf_counter()
        with ctx.span("plans.build", "step"):
            df = q.fn(ctx.spark, sf)
        t1 = time.perf_counter()
        with ctx.span("plans.collect", "step"):
            pdf = df.toPandas()
        t2 = time.perf_counter()
    if "streaming" in q.tags:
        ctx.log.settle()
    return Phase(name, t1 - t0, ctx.log.since(mark), read_seconds=t2 - t1), pdf


def stateful_ingest(ctx: Ctx, root: str) -> Round:
    sf, expected = write_tables(ctx, root)
    phases, results = [], {}
    for name in STATEFUL_QUERIES:
        phase, results[name] = _registry_phase(ctx, name, sf)
        phases.append(phase)
    return Round("stateful_ingest", phases, expected, {"sf": sf, "results": results}, len(STATEFUL_QUERIES))


def corpus_curation(ctx: Ctx, root: str) -> Round:
    sf, expected = write_tables(ctx, root)
    sink = os.path.join(root, "corpus")
    out, s, _ = _timed(
        ctx, "runner.job_corpus_build", runner.job_corpus_build, ctx.spark, {"sf_dir": sf, "sink": sink}
    )
    phases, results = [Phase("corpus_build", s)], {}
    for name in CURATION_QUERIES:
        phase, results[name] = _registry_phase(ctx, name, sf)
        phases.append(phase)
    return Round(
        "corpus_curation",
        phases,
        expected,
        {"sf": sf, "results": results, "corpus_sink": sink, "corpus_build": out},
        1 + len(CURATION_QUERIES),
    )


WORKLOADS = {
    "lakehouse_ingest": lakehouse_ingest,
    "stateful_ingest": stateful_ingest,
    "corpus_curation": corpus_curation,
}


def _nonempty_trigger_ms(phases: list[Phase]) -> list[float]:
    return [p["duration_ms"]["triggerExecution"] for ph in phases for p in ph.progress if p["num_input_rows"] > 0]


def end_to_end(rnd: Round, job_ms: list[float]) -> dict[str, float]:
    """The round's end-to-end figures; README.md maps each to the
    workload's own operations.  ``job_ms`` holds the durations of the
    Spark jobs the round ran."""
    work_s = sum(p.seconds + p.read_seconds for p in rnd.phases)
    ph = {p.name: p for p in rnd.phases}
    if rnd.workload == "lakehouse_ingest":
        listing = ph["listing"]
        step = np.median(_nonempty_trigger_ms([listing]))
        rows_per_s = rnd.expected["rows"] / listing.seconds
    elif rnd.workload == "stateful_ingest":
        step = np.median(_nonempty_trigger_ms(rnd.phases))
        rows = sum(p["num_input_rows"] for phase in rnd.phases for p in phase.progress)
        rows_per_s = rows / work_s
    else:
        step = np.median(job_ms)
        rows_per_s = rnd.expected["documents"] / ph["corpus_build"].seconds
    return {"work_s": work_s, "step_p50_ms": float(step), "rows_per_s": rows_per_s}
