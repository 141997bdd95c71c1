"""Shadow FIDELITY gate (VERDICT r9 #5) — convert the shadow convention
into a verified property.

The four global plan audits (cartesian/BNLJ, partitionless window,
broadcast certificate, row-at-a-time Python) inspect streaming queries
through their batch SHADOWS (streaming/shadows.py).  That is sound only
while the shadow actually contains the operator nodes the live query
plans per trigger — a bespoke interior edited in jobs.py without
touching its shadow would pass every gate silently.

This gate closes that hole: it RUNS each live streaming query at
sf0.001, captures every SQL execution the run produced from the
SQLAppStatusStore (micro-batch sink plans AND foreachBatch interior
batch actions both land there), classifies the audited node kinds, and
asserts the shadow's class set COVERS the live set:

- equi-join        (SortMergeJoin / BroadcastHashJoin / ShuffledHashJoin
                    / StreamingSymmetricHashJoin)
- nested-loop-join (BroadcastNestedLoopJoin / CartesianProduct)
- grouped-python   (FlatMapGroupsInPandas[WithState] /
                    TransformWithStateInPandas)
- arrow-python     (ArrowEvalPython / MapInPandas)
- row-python       (BatchEvalPython)
- window-analytic  (Window / WindowGroupLimit)

Granularity is the CLASS SET per live execution (not node multisets):
micro-batches re-execute the same plan per trigger and AQE rewrites
join strategies at runtime, so exact node counts are not stable — but a
live interior gaining a join / Python stage / window its shadow lacks
flips a class bit, which is exactly the drift the audits care about.
"""

from __future__ import annotations

import re

import pytest

from spark_ss_hudi_delta_poc_spark.plans import all_queries
from spark_ss_hudi_delta_poc_spark.streaming.shadows import STREAM_SHADOWS

SF = "/root/testdata/sf0.001"

_NODE_CLASSES = (
    (
        "equi-join",
        r"\b(?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin"
        r"|StreamingSymmetricHashJoin)\b",
    ),
    ("nested-loop-join", r"\b(?:BroadcastNestedLoopJoin|CartesianProduct)\b"),
    (
        "grouped-python",
        r"\b(?:FlatMapGroupsInPandasWithState|FlatMapGroupsInPandas"
        r"|TransformWithStateInPandasExec|TransformWithStateInPandas)\b",
    ),
    ("arrow-python", r"\b(?:ArrowEvalPython|MapInPandas)\b"),
    ("row-python", r"\bBatchEvalPython\b"),
    ("window-analytic", r"\b(?:Window|WindowGroupLimit)\b"),
)


def node_classes(plan_text: str) -> set[str]:
    return {name for name, pat in _NODE_CLASSES if re.search(pat, plan_text)}


def _store(spark):
    """The live UI status store — the one place where BOTH streaming
    micro-batch plans and foreachBatch interior batch actions are
    recorded as executed."""
    return spark._jsparkSession.sharedState().statusStore()


def _execution_ids(spark) -> set[int]:
    lst = _store(spark).executionsList()
    return {lst.apply(i).executionId() for i in range(lst.size())}


def live_execution_classes(spark, run) -> list[tuple[int, set[str]]]:
    """Run ``run()`` and return (executionId, class set) for every SQL
    execution it produced, empty-class executions dropped.

    Only the new executions' plan descriptions are fetched: the store
    keeps up to ``spark.sql.ui.retainedExecutions`` (1000) of them, and
    copying every description into Python before and after each run
    cost ~3 s per copy once a session had run a few hundred queries."""
    before = _execution_ids(spark)
    run()
    store = _store(spark)
    out = []
    for eid in sorted(_execution_ids(spark) - before):
        data = store.execution(eid)
        if data.isDefined() and (cls := node_classes(data.get().physicalPlanDescription())):
            out.append((eid, cls))
    return out


def shadow_classes(spark, name: str) -> set[str]:
    import contextlib
    import io

    out: set[str] = set()
    for df in STREAM_SHADOWS[name](spark, SF).values():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out |= node_classes(buf.getvalue())
    return out


STREAMING = sorted(n for n, q in all_queries().items() if "streaming" in q.tags)


@pytest.mark.parametrize("name", STREAMING)
def test_live_microbatch_classes_covered_by_shadow(spark, name):
    """Every audited node class a live run executes must appear in the
    query's shadow — otherwise the plan audits are inspecting a graph
    the production query no longer runs."""
    q = all_queries()[name]
    live = live_execution_classes(spark, lambda: q.fn(spark, SF))
    covered = shadow_classes(spark, name)
    violations = [
        (eid, sorted(cls - covered)) for eid, cls in live if not cls <= covered
    ]
    assert violations == [], (
        f"{name}: live executions plan node classes the shadow lacks "
        f"(shadow has {sorted(covered)}): {violations}"
    )


def test_fidelity_gate_flags_live_join_the_shadow_lacks(spark, tmp_path):
    """Negative pin: a doctored q19-like interior that joins a dim the
    shadow doesn't know about must be caught by the same capture +
    compare machinery (the 'edited jobs.py, forgot shadows.py' drift)."""
    import os

    from pyspark.sql import functions as F

    from spark_ss_hudi_delta_poc_spark.schemas import EVENTS_SCHEMA
    from spark_ss_hudi_delta_poc_spark.sources.sinks import write_stream
    from spark_ss_hudi_delta_poc_spark.sources.stream import read_file_stream
    from spark_ss_hudi_delta_poc_spark.streaming.jobs import segment_dim, stage_table

    staged = stage_table(spark, SF, "events", n_files=1)

    def doctored_run():
        stream = read_file_stream(spark, staged, "parquet", EVENTS_SCHEMA)
        enriched = stream.withColumn(
            "seg_idx", (F.col("user_id") % 3).cast("int")
        ).join(F.broadcast(segment_dim(spark)), "seg_idx")
        agg = (
            enriched.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "segment")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("w.start").alias("window_start"), "segment", "cnt")
        )
        q = write_stream(
            agg, "parquet", str(tmp_path / "sink"),
            str(tmp_path / "ckpt"), trigger_available_now=True,
        )
        q.awaitTermination()

    live = live_execution_classes(spark, doctored_run)
    joined = {cls for _, c in live for cls in c}
    assert "equi-join" in joined  # the capture saw the smuggled join
    covered = shadow_classes(spark, "q19_stream_windowed_agg")
    assert any(not cls <= covered for _, cls in live), (
        "gate failed to flag a live join the q19 shadow lacks"
    )
