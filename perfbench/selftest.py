"""Self-test of the output checks: run the lakehouse ingest and the corpus
build once, show that their checks pass, then doctor each output (one
duplicated sink row, one dropped document) and show that the checks fail.

    python3 perfbench/run.py --self-test

Exits 0 when the clean outputs pass and both doctored outputs fail.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq

import checks
import measure
import workloads
from spark_ss_hudi_delta_poc_spark import runner
from spark_ss_hudi_delta_poc_spark.plans.llm_queries import _oracle_of


def _duplicate_one_row(sink: str) -> None:
    part = sorted(glob.glob(os.path.join(sink, "*", "*", "*.parquet")))[0]
    pq.write_table(pq.read_table(part).slice(0, 1), os.path.join(os.path.dirname(part), "part-doctored.parquet"))


def _drop_one_document(sf_dir: str, sink: str) -> int:
    """Remove every chunk of one output document that has no near-duplicate."""
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    doc = con.sql(
        f"""WITH pairs AS ({_oracle_of("dedup_ngram_jaccard")})
            SELECT MIN(doc_id) FROM read_parquet('{sink}/**/*.parquet', hive_partitioning = 1)
            WHERE doc_id NOT IN (SELECT doc_id_a FROM pairs UNION SELECT doc_id_b FROM pairs)"""
    ).fetchone()[0]
    for part in glob.glob(os.path.join(sink, "**", "*.parquet"), recursive=True):
        t = pq.read_table(part)
        keep = pc.not_equal(t["doc_id"], doc)
        if not pc.all(keep).as_py():
            pq.write_table(t.filter(keep), part)
    return doc


def _report(label: str, problems: list[str], want_fail: bool) -> bool:
    ok = bool(problems) == want_fail
    print(f"{'ok  ' if ok else 'FAIL'} {label}: {len(problems)} problem(s)")
    for p in problems:
        print(f"       {p}")
    return ok


def main(work: str) -> int:
    spark = workloads.start_session(work, traced=False)
    ok = True
    try:
        log = measure.ProgressLog()
        spark.streams.addListener(log)
        ctx = workloads.Ctx(spark, log, seed=7)
        rnd = workloads.lakehouse_ingest(ctx, os.path.join(work, "lakehouse"))
        sink, battery = rnd.outputs["sink"], rnd.outputs["battery"]
        rows_in = sum(p["num_input_rows"] for p in rnd.phases[0].progress)
        ok &= _report("lakehouse, clean sink", checks.lakehouse_sink(sink, rnd.expected, rows_in, battery), False)
        _duplicate_one_row(sink)
        ok &= _report("lakehouse, one duplicated row", checks.lakehouse_sink(sink, rnd.expected, rows_in, battery), True)

        sf, _ = workloads.write_tables(ctx, os.path.join(work, "corpus"))
        corpus = os.path.join(work, "corpus", "out")
        out = runner.job_corpus_build(spark, {"sf_dir": sf, "sink": corpus})
        ok &= _report("corpus build, clean output", checks.corpus_build(sf, corpus, out), False)
        doc = _drop_one_document(sf, corpus)
        ok &= _report(f"corpus build, document {doc} dropped", checks.corpus_build(sf, corpus, out), True)
    finally:
        workloads.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("self-test " + ("passed" if ok else "FAILED"), file=sys.stderr)
    return 0 if ok else 1
