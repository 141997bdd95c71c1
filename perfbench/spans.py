"""Traced runs: spans around the program's public functions, streaming
progress phases and Spark jobs and stages, and the per-layer metrics
derived from them.

Spans are kept in memory and written to ``perfbench/traces/`` when the
run ends.  Each span has a name, a kind, a start, an end and a parent:

- ``bench``: the workload, each job or registry query, and each call
  into a public function, recorded by wrappers this module installs
  over the package's module attributes (nothing in the package changes);
- ``trigger`` and ``phase``: one span per streaming trigger from its
  progress event, with the ``durationMs`` phases laid end to end inside
  it in execution order (the event gives their lengths, not their
  starts);
- ``spark.job`` and ``spark.stage``: from the Spark UI REST API, each
  job a child of the innermost bench or trigger span open when it was
  submitted.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import sys
import threading
import time
from dataclasses import asdict, dataclass, field

import duckdb

from measure import iso_seconds as _iso, spark_jobs, spark_rest
from workloads import CURATION_QUERIES, STATEFUL_QUERIES

PACKAGE = "spark_ss_hudi_delta_poc_spark"
HERE = os.path.dirname(os.path.abspath(__file__))

# (module, function, span name): the public calls each layer exposes
WRAPPED = [
    ("sources.stream", "read_file_stream", "sources.read_file_stream"),
    ("sources.sinks", "write_stream", "sinks.write_stream"),
    ("sources.notification", "notification_ingest", "notification.start"),
    ("operators.enrich", "enrich", "operators.enrich"),
    ("operators.dedup", "exact_dedup", "operators.exact_dedup"),
    ("operators.dedup", "ngram_jaccard_pairs", "operators.ngram_jaccard_pairs"),
    ("operators.dedup", "dedup_clusters", "operators.dedup_clusters"),
    ("operators.text_analysis", "quality_score", "operators.quality_score"),
    ("operators.text_analysis", "scrub_pii", "operators.scrub_pii"),
    ("operators.text_analysis", "chunk_documents", "operators.chunk_documents"),
    ("streaming.jobs", "stage_table", "streaming.stage_table"),
    ("streaming.jobs", "stage_id_ordered", "streaming.stage_id_ordered"),
    ("streaming.jobs", "scd2_apply_batch", "scd2.apply_batch"),
    ("streaming.jobs", "compact_scd2_log", "scd2.compact"),
    ("streaming.incremental", "fold_committed_incs", "incremental.fold_committed_incs"),
    ("streaming.incremental", "retrain_ann_index", "ann.retrain"),
]
INCREMENTAL_PREFIXES = ("ingest_increment", "incremental_")
INCREMENTAL_SUFFIXES = ("_from_state",)

# durationMs keys in the order a micro-batch runs them
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


@dataclass
class Span:
    id: int
    name: str
    kind: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


def _union_ms(intervals, lo: float, hi: float) -> float:
    """Milliseconds of [lo, hi] covered by the union of ``intervals``."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return 1000 * covered


def _med(values, default=0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # --- recording -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, kind: str = "bench"):
        # one stack for all threads: foreachBatch bodies run on the py4j
        # callback thread while the main thread waits in awaitTermination
        with self._lock:
            s = Span(len(self.spans), name, kind, time.time(), parent=self._stack[-1].id if self._stack else None)
            self.spans.append(s)
            self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            with self._lock:
                self._stack.remove(s)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Replace each wrapped function in every package module that
        holds it, so calls through any import path are traced."""
        import importlib

        from spark_ss_hudi_delta_poc_spark.plans import all_queries

        all_queries()  # imports every plan, job and operator module
        targets = []
        for mod, fn, name in WRAPPED:
            targets.append((getattr(importlib.import_module(f"{PACKAGE}.{mod}"), fn), name))
        inc = importlib.import_module(f"{PACKAGE}.streaming.incremental")
        for attr, val in vars(inc).items():
            if callable(val) and getattr(val, "__module__", "") == inc.__name__ and (
                attr.startswith(INCREMENTAL_PREFIXES) or attr.endswith(INCREMENTAL_SUFFIXES)
            ):
                targets.append((val, f"incremental.{attr}"))
        modules = [m for k, m in list(sys.modules.items()) if k.startswith(PACKAGE) and m is not None]
        for fn, name in targets:
            traced = self._wrap(fn, name)
            for m in modules:
                for attr, val in list(vars(m).items()):
                    if val is fn:
                        self._patched.append((m, attr, fn))
                        setattr(m, attr, traced)

    def uninstall(self) -> None:
        for m, attr, fn in reversed(self._patched):
            setattr(m, attr, fn)
        self._patched.clear()

    # --- reconstruction ------------------------------------------------------
    def _add(self, name, kind, start, end, parent=None, **attrs) -> Span:
        s = Span(len(self.spans), name, kind, start, end, parent, attrs)
        self.spans.append(s)
        return s

    @staticmethod
    def _innermost(candidates: list[Span], start: float, end: float, tol: float = 0.002) -> Span | None:
        inside = [c for c in candidates if c.start - tol <= start and end <= c.end + tol]
        return max(inside, key=lambda c: (c.start, -c.end)) if inside else None

    def _add_triggers(self, progress: list[dict]) -> list[Span]:
        bench = [s for s in self.spans if s.kind == "bench"]
        triggers = []
        for p in progress:
            d = p["duration_ms"]
            start = _iso(p["timestamp"])
            end = start + d.get("triggerExecution", 0) / 1000
            parent = self._innermost(bench, start, end)
            t = self._add(
                "stream.trigger", "trigger", start, end, parent.id if parent else None,
                query_id=p["query_id"], batch_id=p["batch_id"], rows=p["num_input_rows"],
            )
            triggers.append(t)
            at = start
            for ph in PHASES:
                if ph in d:
                    self._add(f"stream.{ph}", "phase", at, at + d[ph] / 1000, t.id)
                    at += d[ph] / 1000
            # calls made inside the trigger (the foreachBatch body) belong to it
            for s in bench:
                if parent and s.parent == parent.id and start - 0.002 <= s.start and s.end <= end + 0.002:
                    s.parent = t.id
        return triggers

    def _add_spark(self, spark, t0: float, t1: float) -> tuple[list[dict], list[dict]]:
        jobs = sorted(spark_jobs(spark, t0, t1), key=lambda j: j["jobId"])
        stages: dict[int, list[dict]] = {}
        for st in spark_rest(spark, "stages"):
            if "completionTime" in st:  # skipped stages never ran
                stages.setdefault(st["stageId"], []).append(st)
        parents = [s for s in self.spans if s.kind in ("bench", "trigger")]
        ran: dict[tuple, dict] = {}
        for j in jobs:
            start, end = _iso(j["submissionTime"]), _iso(j["completionTime"])
            parent = self._innermost(parents, start, start)
            js = self._add(f"spark.job.{j['jobId']}", "spark.job", start, end, parent.id if parent else None)
            for st in (st for sid in j["stageIds"] for st in stages.get(sid, ())):
                key = (st["stageId"], st["attemptId"])
                if key not in ran:
                    ran[key] = st
                    self._add(
                        f"spark.stage.{key[0]}", "spark.stage",
                        _iso(st["submissionTime"]), _iso(st["completionTime"]), js.id,
                    )
        return jobs, list(ran.values())

    def _self_ms(self) -> dict[int, float]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return {
            s.id: 1000 * (s.end - s.start) - _union_ms([(k.start, k.end) for k in kids.get(s.id, [])], s.start, s.end)
            for s in self.spans
        }

    # --- per-layer metrics ---------------------------------------------------
    def per_layer(self, spark, workload: str, seed: int, rounds, log, build_ms: float) -> dict:
        wl = next(s for s in self.spans if s.name == workload)
        n_rounds = len(rounds)
        phases = [ph for r in rounds for ph in r.phases]
        # the streams behind step_p50_ms: the listing stream, or every increment
        if workload == "lakehouse_ingest":
            streams = [p for ph in phases if ph.name == "listing" for p in ph.progress]
        else:
            streams = [p for ph in phases for p in ph.progress]
        notify = [p for ph in phases if ph.name == "notification" for p in ph.progress]
        triggers = self._add_triggers(log.progress)
        jobs, stages = self._add_spark(spark, wl.start, wl.end)

        def durs(prefix):
            return [1000 * (s.end - s.start) for s in self.spans if s.kind == "bench" and s.name.startswith(prefix)]

        def phase_med(progress, key):
            return _med(p["duration_ms"].get(key, 0) for p in progress if p["num_input_rows"] > 0)

        m: dict[str, tuple[float, str]] = {"session.build_ms": (build_ms, "ms")}
        busy = [p for p in streams if p["num_input_rows"] > 0]
        m["stream.triggers"] = (len(busy) / n_rounds, "count")
        m["stream.trigger_ms"] = (phase_med(streams, "triggerExecution"), "ms")
        m["stream.latest_offset_ms"] = (phase_med(streams, "latestOffset"), "ms")
        m["stream.get_batch_ms"] = (phase_med(streams, "getBatch"), "ms")
        m["stream.planning_ms"] = (phase_med(streams, "queryPlanning"), "ms")
        m["stream.add_batch_ms"] = (phase_med(streams, "addBatch"), "ms")
        m["stream.wal_ms"] = (phase_med(streams, "walCommit"), "ms")
        m["stream.commit_ms"] = (phase_med(streams, "commitOffsets"), "ms")
        busy_ids = {p["query_id"] for p in busy}
        per_trigger_stages = []
        for t in triggers:
            if t.attrs["rows"] > 0 and t.attrs["query_id"] in busy_ids:
                per_trigger_stages.append(
                    sum(len(j["stageIds"]) for j in jobs if t.start <= _iso(j["submissionTime"]) <= t.end)
                )
        m["stream.stages_per_trigger"] = (_med(per_trigger_stages), "count")

        sink_files = sink_bytes = 0
        notify_rows = 0
        if workload == "lakehouse_ingest":
            for r in rounds:
                for d, _, fs in os.walk(r.outputs["sink"]):
                    for f in fs:
                        if f.endswith(".parquet"):
                            sink_files += 1
                            sink_bytes += os.path.getsize(os.path.join(d, f))
                notify_rows += duckdb.sql(
                    f"SELECT COUNT(*) FROM read_parquet('{r.outputs['notify_sink']}/*.parquet')"
                ).fetchone()[0]
        m["sinks.files"] = (sink_files / n_rounds, "count")
        m["sinks.mb"] = (sink_bytes / 2**20 / n_rounds, "MB")

        starts = [s for s in self.spans if s.name == "notification.start"]
        first_end = {}  # restarts keep the query id; each start is a new run id
        for p in notify:
            end = _iso(p["timestamp"]) + p["duration_ms"].get("triggerExecution", 0) / 1000
            first_end.setdefault(p["run_id"], end)
        start_lat = [1000 * (e - s.start) for s, e in zip(starts, first_end.values())]
        notify_s = sum(ph.seconds for ph in phases if ph.name == "notification")
        n_starts = sum(r.outputs.get("notify_starts", 0) for r in rounds)
        m["notification.rounds"] = (n_starts / n_rounds, "count")
        m["notification.start_ms"] = (_med(start_lat), "ms")
        m["notification.round_ms"] = (_med(durs("runner.job_notification_ingest")), "ms")
        m["notification.latest_offset_ms"] = (phase_med(notify, "latestOffset"), "ms")
        m["notification.add_batch_ms"] = (phase_med(notify, "addBatch"), "ms")
        m["notification.files_per_round"] = (
            sum(p["num_input_rows"] for p in notify) / n_starts if n_starts else 0.0,
            "count",
        )
        m["notification.rows_per_s"] = (notify_rows / notify_s if notify_s else 0.0, "rows/s")
        m["lakehouse.battery_ms"] = (_med(1000 * ph.seconds for ph in phases if ph.name == "battery"), "ms")

        by_name: dict[str, list[float]] = {}
        for ph in phases:
            by_name.setdefault(ph.name, []).append(1000 * (ph.seconds + ph.read_seconds))
        for q in STATEFUL_QUERIES:
            m[f"stateful.{q}_ms"] = (_med(by_name.get(q, [])), "ms")
        inc = durs("incremental.ingest_increment")
        folds = durs("incremental.fold_committed_incs")
        m["incremental.increments"] = (len(inc) / n_rounds, "count")
        m["incremental.ingest_increment_ms"] = (_med(inc), "ms")
        m["incremental.folds"] = (len(folds) / n_rounds, "count")
        m["incremental.fold_ms"] = (_med(folds), "ms")
        apply_, compact = durs("scd2.apply_batch"), durs("scd2.compact")
        m["scd2.apply_batch_ms"] = (_med(apply_), "ms")
        m["scd2.compactions"] = (len(compact) / n_rounds, "count")
        m["scd2.compact_ms"] = (_med(compact), "ms")
        retrain = durs("ann.retrain")
        m["ann.retrains"] = (len(retrain) / n_rounds, "count")
        m["ann.retrain_ms"] = (_med(retrain), "ms")
        state_files = state_bytes = 0
        scratch = os.path.join(os.environ["TMPDIR"], "spark_graft_stream")
        for d, _, fs in os.walk(scratch):
            for f in fs:
                state_files += 1
                state_bytes += os.path.getsize(os.path.join(d, f))
        m["state.files"] = (state_files / n_rounds, "count")
        m["state.mb"] = (state_bytes / 2**20 / n_rounds, "MB")
        for q in CURATION_QUERIES:
            m[f"curation.{q}_ms"] = (_med(by_name.get(q, [])), "ms")
        m["curation.corpus_build_ms"] = (_med(by_name.get("corpus_build", [])), "ms")

        mb = 2**20
        m["spark.jobs"] = (len(jobs) / n_rounds, "count")
        m["spark.stages"] = (len(stages) / n_rounds, "count")
        m["spark.tasks"] = (sum(s["numTasks"] for s in stages) / n_rounds, "count")
        m["spark.executor_run_ms"] = (sum(s["executorRunTime"] for s in stages) / n_rounds, "ms")
        m["spark.executor_cpu_ms"] = (sum(s["executorCpuTime"] for s in stages) / 1e6 / n_rounds, "ms")
        m["spark.gc_ms"] = (sum(s["jvmGcTime"] for s in stages) / n_rounds, "ms")
        m["spark.shuffle_read_mb"] = (sum(s["shuffleReadBytes"] for s in stages) / mb / n_rounds, "MB")
        m["spark.shuffle_write_mb"] = (sum(s["shuffleWriteBytes"] for s in stages) / mb / n_rounds, "MB")
        m["spark.spill_mb"] = (sum(s["diskBytesSpilled"] for s in stages) / mb / n_rounds, "MB")
        m["spark.input_mb"] = (sum(s["inputBytes"] for s in stages) / mb / n_rounds, "MB")
        m["spark.output_mb"] = (sum(s["outputBytes"] for s in stages) / mb / n_rounds, "MB")
        job_iv = [(_iso(j["submissionTime"]), _iso(j["completionTime"])) for j in jobs]
        m["driver.idle_ms"] = (
            (1000 * (wl.end - wl.start) - _union_ms(job_iv, wl.start, wl.end)) / n_rounds,
            "ms",
        )

        self_ms = self._self_ms()
        unattributed = self._unattributed(wl)
        total = sum(1000 * (s.end - s.start) for s in self.spans if s.parent == wl.id)
        m["trace.unattributed_pct"] = (100 * sum(unattributed.values()) / total if total else 0.0, "%")
        self._write(f"{workload}-seed{seed}", self_ms, unattributed)
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def _unattributed(self, wl: Span) -> dict[str, float]:
        """Per job span (child of the workload span): milliseconds that no
        named span below it covers.  ``step`` spans only split a job into
        build and collect, so they name nothing."""
        by_id = {s.id: s for s in self.spans}
        below: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.kind == "step":
                continue
            p = s.parent
            while p is not None and by_id[p].parent != wl.id:
                p = by_id[p].parent
            if p is not None:
                below.setdefault(p, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s.parent == wl.id:
                covered = _union_ms([(c.start, c.end) for c in below.get(s.id, [])], s.start, s.end)
                out[s.name] = out.get(s.name, 0.0) + 1000 * (s.end - s.start) - covered
        return out

    def _write(self, name: str, self_ms: dict[int, float], unattributed: dict) -> None:
        out_dir = os.path.join(HERE, "traces")
        os.makedirs(out_dir, exist_ok=True)
        doc = {
            "unattributed_ms": unattributed,
            "spans": [dict(asdict(s), self_ms=self_ms[s.id]) for s in sorted(self.spans, key=lambda s: s.start)],
        }
        with open(os.path.join(out_dir, f"{name}.json"), "w") as f:
            json.dump(doc, f)
