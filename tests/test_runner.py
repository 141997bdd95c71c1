"""Config resolution + end-to-end job-runner tests (the reference's
spark-submit --class workflow, README.md:54-84, as one CLI)."""

from __future__ import annotations

import json
import os

from spark_ss_hudi_delta_poc_spark.config import resolve
from spark_ss_hudi_delta_poc_spark.runner import JOBS, job_batch_reader, job_stream_retail

from test_sources import RETAIL_HEADER, RETAIL_ROWS


def test_config_layering(monkeypatch):
    cfg = resolve("local")
    assert cfg["profile"] == "local" and cfg["source_format"] == "csv"
    monkeypatch.setenv("NORMV2_MAX_FILES_PER_TRIGGER", "7")
    monkeypatch.setenv("NORMV2_PARTITION_BY", "a,b")
    cfg = resolve("local", sink_format="delta")
    assert cfg["max_files_per_trigger"] == 7  # env var layer
    assert cfg["partition_by"] == ["a", "b"]
    assert cfg["sink_format"] == "delta"  # explicit override wins
    cfg2 = resolve("cloud")
    assert cfg2["profile"] == "cluster"


def test_runner_stream_retail_then_batch_reader(spark, tmp_path, capsys):
    """EP1 end-to-end through the runner: CSV stream → enrich → partitioned
    sink, then the EP3 validation battery over the written table."""
    src = os.path.join(tmp_path, "in")
    os.makedirs(src)
    for i, row in enumerate(RETAIL_ROWS):
        with open(os.path.join(src, f"f{i}.csv"), "w") as f:
            f.write(RETAIL_HEADER + "\n" + row + "\n")
    cfg = resolve(
        "local",
        source=src,
        sink=os.path.join(tmp_path, "out"),
        checkpoint=os.path.join(tmp_path, "ck"),
    )
    job_stream_retail(spark, cfg)
    back = spark.read.parquet(cfg["sink"])
    assert back.count() == 3
    assert "Date=2010-12-01" in "".join(d for d, _, _ in os.walk(cfg["sink"]))
    reader_cfg = dict(cfg, source=cfg["sink"], group_key="StockCode", dup_key="srno")
    out = job_batch_reader(spark, reader_cfg)
    assert out["count"] == 3 and out["duplicates"] == 0
    assert out["group_count"] == out["distinct_count"] == 3
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["count"] == 3


def test_all_jobs_registered():
    assert set(JOBS) == {
        "stream_retail",
        "stream_cloudtrail",
        "notification_ingest",
        "batch_reader",
        "query",
        "corpus_build",
    }


def test_spark_sql_entry_point(spark):
    """spark.sql over registered views must agree with the DataFrame API —
    the SQL surface of the engine (tables.register_temp_views)."""
    from pyspark.sql import functions as F

    from spark_ss_hudi_delta_poc_spark.tables import load, register_temp_views

    register_temp_views(spark, "/root/testdata/sf0.001")
    sql_out = spark.sql(
        """
        SELECT o_orderpriority,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS revenue_e4
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
        """
    ).collect()
    li = load(spark, "/root/testdata/sf0.001", "lineitem")
    orders = load(spark, "/root/testdata/sf0.001", "orders")
    df_out = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.sum(F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("long")).alias("revenue_e4"))
        .collect()
    )
    assert sorted(map(tuple, sql_out)) == sorted(map(tuple, df_out))


def test_runner_query_job(spark, capsys):
    from spark_ss_hudi_delta_poc_spark.runner import job_query

    job_query(spark, {"query_name": "q01_count", "sf_dir": "/root/testdata/sf0.001"})
    out = capsys.readouterr().out.strip()
    assert '"cnt"' in out


def test_reference_class_aliases():
    from spark_ss_hudi_delta_poc_spark.runner import REFERENCE_CLASS_ALIASES, resolve_job

    job, over = resolve_job("S3ToParquetStreamJob")
    assert job == "stream_retail" and over["sink_format"] == "parquet"
    job, over = resolve_job("S3CloudTrailDeltaWriterWithNonExplodeCT")
    assert job == "stream_cloudtrail" and over["variant"] == "raw_string"
    job, over = resolve_job("S3ToHudiOptStreamJob")
    assert over["hudi_mode"] == "bulk_insert"
    assert resolve_job("batch_reader") == ("batch_reader", {})
    assert len(REFERENCE_CLASS_ALIASES) == 16


def test_corpus_build_job(spark, tmp_path, capsys):
    """End-to-end corpus build over sf0.001: every pipeline stage reduces
    or preserves doc count; chunk output is partitioned by language."""
    import os as _os

    from spark_ss_hudi_delta_poc_spark.runner import job_corpus_build

    sink = _os.path.join(tmp_path, "corpus")
    out = job_corpus_build(spark, {"sf_dir": "/root/testdata/sf0.001", "sink": sink})
    assert out["input_docs"] == 500
    assert 0 < out["after_near_dedup"] <= out["after_exact_dedup"] <= out["after_quality"] <= 500
    assert out["chunks"] > out["after_near_dedup"]  # multiple chunks per doc
    assert any(d.startswith("lang=") for d in _os.listdir(sink) if not d.startswith("_"))
    back = spark.read.parquet(sink)
    assert {"doc_id", "chunk_idx", "chunk_text", "n_tokens", "lang"} <= set(back.columns)


def test_notification_ingest_job_lands_typed_csv_rows(spark, tmp_path):
    """A 2-file retail CSV queue: the content reader gets the header
    option and the retail schema, so every data line lands as one typed
    row and no header line lands at all."""
    from spark_ss_hudi_delta_poc_spark.runner import job_notification_ingest
    from spark_ss_hudi_delta_poc_spark.schemas import RETAIL_SCHEMA

    data, queue, sink = (os.path.join(tmp_path, d) for d in ("data", "queue", "sink"))
    os.makedirs(data)
    os.makedirs(queue)
    for i, rows in enumerate((RETAIL_ROWS[:2], RETAIL_ROWS[2:])):
        path = os.path.join(data, f"day{i}.csv")
        with open(path, "w") as f:
            f.write(RETAIL_HEADER + "\n" + "\n".join(rows) + "\n")
        with open(os.path.join(queue, f"m{i}.json"), "w") as f:
            json.dump({"path": path, "eventTime": 1000 + i}, f)
    cfg = resolve(
        "local",
        source=queue,
        sink=sink,
        checkpoint=os.path.join(tmp_path, "ckpt"),
        max_files_per_trigger=2,
    )
    job_notification_ingest(spark, cfg)
    back = spark.read.parquet(sink)
    assert back.schema == RETAIL_SCHEMA
    got = {r.srno: r for r in back.collect()}
    assert sorted(got) == [1, 2, 3]  # no header row (its srno would be NULL)
    assert got[1].StockCode == "85123A" and got[1].UnitPrice == 2.55
    assert got[3].Country == "France" and got[3].CustomerID is None


def test_session_env_fails_loudly(monkeypatch):
    """A malformed SPARK_GRAFT_AQE_PARALLELISM_FIRST or SPARK_GRAFT_CPUS
    raises before get_spark touches any session; unset, the core count
    is the process's CPU affinity."""
    import pytest

    from spark_ss_hudi_delta_poc_spark import session

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session._env_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session._env_cores() == 3
    for bad in ("0", "-2", "four", "2.5", ""):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            session.get_spark()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    for ok in ("true", "false"):
        monkeypatch.setenv("SPARK_GRAFT_AQE_PARALLELISM_FIRST", ok)
        assert session._env_parallelism_first() == ok
    for bad in ("TRUE", "1", "yes", ""):
        monkeypatch.setenv("SPARK_GRAFT_AQE_PARALLELISM_FIRST", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_AQE_PARALLELISM_FIRST"):
            session.get_spark()
