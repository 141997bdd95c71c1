"""Each intermediate of the near-dup path is evaluated once per call, and
nothing it persists outlives the call.

Evaluation counts come from the live UI status store: every SQL
execution a call triggers is recorded there with its final plan graph
and the SQL metrics its tasks reported.  A plan node inside a cached
relation that a later execution only reads appears in that execution's
graph too, but reports no rows there — so rows, not node occurrences,
say how often an operator really ran.
"""

from __future__ import annotations

from conftest import SF_SMOKE as SF

from spark_ss_hudi_delta_poc_spark.operators.dedup import (
    dedup_clusters,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
)
from spark_ss_hudi_delta_poc_spark.tables import load

_JOINS = {"SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"}


def _store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def _execution_ids(spark) -> set[int]:
    lst = _store(spark).executionsList()
    return {lst.apply(i).executionId() for i in range(lst.size())}


def _new_executions(spark, run) -> list[int]:
    """Run ``run()`` and return the ids of the SQL executions it made,
    once the listener has recorded all of their metrics."""
    before = _execution_ids(spark)
    run()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(_execution_ids(spark) - before)


def _nodes(spark, eid: int) -> list:
    nodes = _store(spark).planGraph(eid).allNodes()
    return [nodes.apply(i) for i in range(nodes.size())]


def _output_rows(spark, eid: int, node_name: str) -> int:
    """Rows the ``node_name`` nodes of one execution produced, each node
    counted once (a cached subtree is shown under every scan of it)."""
    values = _store(spark).executionMetrics(eid)
    rows = {}
    for node in _nodes(spark, eid):
        if node.name() != node_name:
            continue
        ms = node.metrics()
        for j in range(ms.size()):
            m = ms.apply(j)
            if m.name() == "number of output rows" and values.contains(m.accumulatorId()):
                rows[m.accumulatorId()] = int(values.apply(m.accumulatorId()).replace(",", ""))
    return sum(rows.values())


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _owned(df) -> set[int]:
    """Ids of the checkpointed RDDs the frame reads."""
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    return {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
    }


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _shingle_udf_rows(spark, call) -> int:
    eids = _new_executions(spark, call)
    return sum(_output_rows(spark, e, "ArrowEvalPython") for e in eids)


def test_ngram_pairs_run_the_shingle_udf_once(spark):
    """One ngram_jaccard_pairs / ngram_containment_pairs call feeds every
    document through the Python shingle UDF exactly once, over all the
    executions it triggers (the lazy plan ran it once per consumer of
    the shingle table)."""
    docs = load(spark, SF, "documents")
    n_docs = docs.count()
    assert _shingle_udf_rows(spark, lambda: ngram_jaccard_pairs(docs).count()) == n_docs
    assert _shingle_udf_rows(spark, lambda: ngram_containment_pairs(docs).count()) == n_docs


def test_dedup_clusters_one_label_join_per_round(spark):
    """A 6-node chain needs 5 propagation rounds plus one that finds the
    fixpoint, as before.  Each round is ONE execution holding the round's
    two joins (edges to labels, labels to neighbor minima); the
    convergence test reads the round's checkpoint and joins nothing."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, 6)], "doc_id_a long, doc_id_b long")
    out = {}
    eids = _new_executions(
        spark, lambda: out.update((r.doc_id, r.cluster_id) for r in dedup_clusters(pairs).collect())
    )
    assert out == {i: 1 for i in range(1, 7)}
    joins = [sum(n.name() in _JOINS for n in _nodes(spark, e)) for e in eids]
    assert [j for j in joins if j] == [2] * 6


def test_ngram_pairs_leave_no_cache_entry(spark):
    """The shingle table is released before the call returns; the only
    persisted RDD left is the checkpoint the returned frame reads."""
    docs = load(spark, SF, "documents")
    before = _persisted(spark)
    pairs = ngram_jaccard_pairs(docs)
    assert _cache_is_empty(spark)
    assert _persisted(spark) - before == _owned(pairs)


def test_dedup_clusters_leaves_only_its_result(spark):
    """The edges cache is released and every superseded round's
    checkpoint dropped: only the last round's, which the result reads,
    stays persisted."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, 6)], "doc_id_a long, doc_id_b long")
    before = _persisted(spark)
    clusters = dedup_clusters(pairs)
    assert _cache_is_empty(spark)
    assert _persisted(spark) - before == _owned(clusters)


def test_corpus_build_leaves_nothing_persisted(spark, tmp_path, capsys):
    """job_corpus_build returns only counts, so no cache entry and no
    persisted RDD of its own may outlive it."""
    from spark_ss_hudi_delta_poc_spark.runner import job_corpus_build

    before = _persisted(spark)
    job_corpus_build(spark, {"sf_dir": SF, "sink": str(tmp_path / "corpus")})
    assert _cache_is_empty(spark)
    assert _persisted(spark) - before == set()
