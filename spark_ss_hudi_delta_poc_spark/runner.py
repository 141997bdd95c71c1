"""Job runner — one config-driven entry point replacing the reference's
per-class mains selected via spark-submit --class (README.md:54,61-84).

    python -m spark_ss_hudi_delta_poc_spark.runner <job> [--env local|cloud]
        [--source PATH] [--sink PATH] [--checkpoint PATH]
        [--variant flatten|raw_string|raw_struct] [--format parquet|delta|...]

Jobs mirror the reference job classes:
  stream_retail        S3To{Parquet,Delta,...}StreamJob: CSV stream → enrich
                       → partitioned sink
  stream_cloudtrail    S3CloudTrail*Writer: nested JSON stream → variant →
                       4-col partitioned sink
  notification_ingest  S3SQSTo*StreamJob: queue-driven ingest
  batch_reader         S3*BatchReader: the timed 4-query validation battery
"""

from __future__ import annotations

import argparse
import json
import os
import time

from .config import resolve
from .operators.enrich import enrich
from .schemas import RETAIL_SCHEMA
from .session import get_spark
from .sources.sinks import write_stream
from .sources.stream import read_file_stream


def job_stream_retail(spark, cfg) -> None:
    stream = read_file_stream(
        spark,
        cfg["source"],
        cfg["source_format"],
        RETAIL_SCHEMA,
        max_files_per_trigger=cfg["max_files_per_trigger"],
        header=cfg["header"],
    )
    enriched = enrich(stream)
    q = write_stream(
        enriched,
        cfg["sink_format"],
        path=cfg["sink"],
        checkpoint=cfg["checkpoint"],
        partition_by=cfg["partition_by"],
        trigger_available_now=cfg["trigger"] == "available_now",
        processing_time=cfg["trigger"].split(":", 1)[1] if cfg["trigger"].startswith("processing_time") else None,
    )
    q.awaitTermination()


def job_stream_cloudtrail(spark, cfg) -> None:
    from .streaming.cloudtrail import stream_cloudtrail

    q = stream_cloudtrail(
        spark,
        cfg["source"],
        cfg["sink"],
        checkpoint=cfg["checkpoint"],
        variant=cfg.get("variant", "flatten"),
        max_files_per_trigger=cfg["max_files_per_trigger"],
    )
    q.awaitTermination()


def job_notification_ingest(spark, cfg) -> None:
    from .sources.notification import notification_ingest

    q = notification_ingest(
        spark,
        queue_dir=cfg["source"],
        sink_path=cfg["sink"],
        checkpoint=cfg["checkpoint"],
        file_format=cfg["source_format"],
        schema=RETAIL_SCHEMA,
        max_files_per_trigger=cfg["max_files_per_trigger"],
    )
    q.awaitTermination()


def job_batch_reader(spark, cfg) -> dict:
    """EP3 — the timed validation battery (S3ParquetBatchReader.scala:38-67),
    emitted as JSON instead of stdout prints."""
    from pyspark.sql import functions as F

    df = spark.read.format(cfg["sink_format"]).load(cfg["source"])
    out: dict[str, float | int] = {}
    t0 = time.time()
    out["count"] = df.count()
    key = cfg.get("group_key") or df.columns[1]
    out["group_count"] = df.groupBy(key).count().count()
    out["distinct_count"] = df.select(key).distinct().count()
    dup_key = cfg.get("dup_key") or df.columns[0]
    out["duplicates"] = (
        df.groupBy(dup_key).count().where(F.col("count") > 1).count()
    )
    out["elapsed_sec"] = round(time.time() - t0, 3)
    print(json.dumps(out))
    return out


def job_corpus_build(spark, cfg) -> dict:
    """End-to-end training-corpus build: documents → quality filter →
    exact dedup → near-dup cluster removal → PII scrub → context-window
    chunks, written partitioned by language, with a stats JSON line.

    The full LLM-data pipeline as one job — every stage is the
    oracle-checked operator, composed.  The exact-dedup survivors feed
    the near-dup pair join, the output write and the stage counts, so
    they are persisted once (forced by their own count).  The near-dup
    pairs and clusters come back from their operators as materialized
    checkpoints.  All three are released before the job returns, so no
    cache entry or persisted RDD outlives it."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from .operators import dedup, text_analysis
    from .tables import load

    sf_dir = cfg.get("sf_dir") or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    docs = load(spark, sf_dir, "documents")
    n_input = docs.count()

    keep_quality = text_analysis.quality_score(docs).where(F.col("keep")).select("doc_id")
    docs_q = docs.join(keep_quality, "doc_id", "left_semi")

    reps = dedup.exact_dedup(docs_q).select(F.col("keep_doc_id").alias("doc_id"))
    docs_e = docs_q.join(reps, "doc_id", "left_semi").persist(StorageLevel.MEMORY_AND_DISK)
    pairs = clusters = None
    try:
        n_exact = docs_e.count()

        pairs = dedup.ngram_jaccard_pairs(docs_e, threshold=0.5)
        clusters = dedup.dedup_clusters(pairs)
        drop_near = clusters.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
        docs_n = docs_e.join(drop_near, "doc_id", "left_anti")

        scrubbed = docs_n.join(text_analysis.scrub_pii(docs_n), "doc_id").select(
            "doc_id", F.col("clean_text").alias("text"), "lang", "source"
        )
        chunks = text_analysis.chunk_documents(scrubbed).join(
            scrubbed.select("doc_id", "lang"), "doc_id"
        )
        chunks.write.mode("overwrite").partitionBy("lang").parquet(cfg["sink"])

        out = {
            "input_docs": n_input,
            "after_quality": docs_q.count(),
            "after_exact_dedup": n_exact,
            "after_near_dedup": docs_n.count(),
            "chunks": spark.read.parquet(cfg["sink"]).count(),
        }
    finally:
        for done in (pairs, clusters):
            if done is not None:
                dedup.release_checkpoints(done)
        docs_e.unpersist()
    print(json.dumps(out))
    return out


def job_query(spark, cfg) -> None:
    """Run any registry query by name against a testdata scale-factor dir
    and print the result as JSON lines — the ad-hoc query surface."""
    from .plans import all_queries

    name = cfg["query_name"]
    sf_dir = cfg.get("sf_dir") or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    qs = all_queries()
    if name not in qs:
        raise SystemExit(f"unknown query {name!r}; known: {', '.join(sorted(qs))}")
    df = qs[name].fn(spark, sf_dir)
    for row in df.toJSON().collect():
        print(row)


JOBS = {
    "stream_retail": job_stream_retail,
    "stream_cloudtrail": job_stream_cloudtrail,
    "notification_ingest": job_notification_ingest,
    "batch_reader": job_batch_reader,
    "query": job_query,
    "corpus_build": job_corpus_build,
}

# Drop-in aliases: every `spark-submit --class` name from the reference
# (README.md:61-84) maps to (job, config overrides), so a reference user
# can keep their launch scripts verbatim.  Lakehouse sink formats require
# the matching runtime jars (sources/batch.py:format_available).
REFERENCE_CLASS_ALIASES: dict[str, tuple[str, dict]] = {
    "S3ToParquetStreamJob": ("stream_retail", {"sink_format": "parquet"}),
    "S3ToDeltaStreamJob": ("stream_retail", {"sink_format": "delta"}),
    "S3ToHudiStreamJob": ("stream_retail", {"sink_format": "hudi", "hudi_mode": "upsert"}),
    "S3ToHudiOptStreamJob": ("stream_retail", {"sink_format": "hudi", "hudi_mode": "bulk_insert"}),
    "S3ToIcebergStreamJob": ("stream_retail", {"sink_format": "iceberg"}),
    "S3SQSToParquetStreamJob": ("notification_ingest", {"sink_format": "parquet"}),
    "S3SQSToHudiStreamJob": ("notification_ingest", {"sink_format": "hudi", "hudi_mode": "upsert"}),
    "S3CloudTrailDeltaWriterWithExplodeCT": ("stream_cloudtrail", {"variant": "flatten"}),
    "S3CloudTrailDeltaWriterWithNonExplodeCT": ("stream_cloudtrail", {"variant": "raw_string"}),
    "S3CloudTrailDeltaWriterWithExplodeInRawCT": ("stream_cloudtrail", {"variant": "raw_struct"}),
    "S3CloudTrailIcebergWriter": ("stream_cloudtrail", {"variant": "flatten", "sink_format": "iceberg"}),
    "S3ParquetBatchReader": ("batch_reader", {"sink_format": "parquet"}),
    "S3DeltaBatchReader": ("batch_reader", {"sink_format": "delta"}),
    "S3HudiBatchReader": ("batch_reader", {"sink_format": "hudi"}),
    "S3IcebergBatchReader": ("batch_reader", {"sink_format": "iceberg"}),
    "DiskBasedTransformJob": ("batch_reader", {"sink_format": "csv"}),
}


def resolve_job(name: str) -> tuple[str, dict]:
    """Accept either a native job name or a reference class name."""
    if name in JOBS:
        return name, {}
    if name in REFERENCE_CLASS_ALIASES:
        return REFERENCE_CLASS_ALIASES[name]
    raise SystemExit(
        f"unknown job {name!r}; native: {sorted(JOBS)}; "
        f"reference classes: {sorted(REFERENCE_CLASS_ALIASES)}"
    )


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("job", help="job name or reference class name")
    ap.add_argument("--env", default="local")
    ap.add_argument("--source")
    ap.add_argument("--sink")
    ap.add_argument("--checkpoint")
    ap.add_argument("--variant")
    ap.add_argument("--format", dest="sink_format")
    ap.add_argument("--name", dest="query_name", help="registry query name (job: query)")
    ap.add_argument("--sf-dir", dest="sf_dir", help="testdata dir (job: query)")
    args = ap.parse_args(argv)
    job, alias_overrides = resolve_job(args.job)
    cli = {
        "source": args.source,
        "sink": args.sink,
        "checkpoint": args.checkpoint,
        "variant": args.variant,
        "sink_format": args.sink_format,
        "query_name": args.query_name,
        "sf_dir": args.sf_dir,
    }
    merged = dict(alias_overrides)
    merged.update({k: v for k, v in cli.items() if v is not None})  # CLI wins
    cfg = resolve(args.env, **merged)
    cfg.setdefault("source", os.path.join(cfg["source_root"], job))
    cfg.setdefault("sink", os.path.join(cfg["sink_root"], job))
    cfg.setdefault("checkpoint", os.path.join(cfg["checkpoint_root"], job))
    spark = get_spark(app_name=f"normv2-{job}", profile=cfg["profile"])
    JOBS[job](spark, cfg)


if __name__ == "__main__":
    main()
