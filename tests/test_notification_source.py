"""Notification-driven file source tests (SQS-source parity — SURVEY.md
§2.9 behaviors: dedup, age purge, SNS unwrap, malformed-message deletion,
commit-time message deletion, end-to-end foreachBatch ingest)."""

from __future__ import annotations

import json
import os

from spark_ss_hudi_delta_poc_spark.sources.notification import (
    NotificationFileSource,
    _parse_message,
    notification_ingest,
)


def _msg(path: str, event_time: int = 1_700_000_000_000) -> str:
    return json.dumps({"path": path, "eventTime": event_time})


def _sns_msg(bucket: str, key: str, event: str = "ObjectCreated:Put") -> str:
    inner = {"Records": [{"eventName": event, "eventTimeMs": 1, "s3": {"bucket": {"name": bucket}, "object": {"key": key}}}]}
    return json.dumps({"Message": json.dumps(inner)})


def test_parse_plain_and_sns():
    assert _parse_message(_msg("/d/f.parquet", 42)) == ("/d/f.parquet", 42)
    assert _parse_message(_sns_msg("b", "k/f.csv")) == ("b/k/f.csv", 1)
    assert _parse_message(_sns_msg("b", "k", event="ObjectRemoved:Delete")) is None
    assert _parse_message("not json") is None
    assert _parse_message('{"no": "path"}') is None


def test_notification_stream_reads_paths(spark, tmp_path):
    queue = os.path.join(tmp_path, "q")
    os.makedirs(queue)
    for i in range(3):
        with open(os.path.join(queue, f"m{i}.json"), "w") as f:
            f.write(_msg(f"/data/f{i}.parquet", 1000 + i))
    # duplicate notification for f0 → must be deduped
    with open(os.path.join(queue, "m9.json"), "w") as f:
        f.write(_msg("/data/f0.parquet", 1000))
    spark.dataSource.register(NotificationFileSource)
    stream = spark.readStream.format("notification_files").option("queueDir", queue).load()
    table = "notif_mem"
    q = stream.writeStream.format("memory").queryName(table).trigger(availableNow=True).start()
    q.awaitTermination()
    rows = spark.table(table).collect()
    assert sorted(r.path for r in rows) == ["/data/f0.parquet", "/data/f1.parquet", "/data/f2.parquet"]
    # Row-producing messages are RETAINED until the engine commits the
    # batch (SQS visibility-timeout parity — delete happens only after
    # processing, SqsClient.scala:243-270).  Spark delivers source-commit
    # when the next batch is constructed, so after this single-batch run
    # the in-flight messages must still be on the queue; deletion-on-
    # commit is covered by the crash-recovery tests below.  The duplicate
    # notification (m9) produced no rows and is deleted eagerly.
    assert sorted(f for f in os.listdir(queue) if f.endswith(".json")) == [
        "m0.json",
        "m1.json",
        "m2.json",
    ]


def test_notification_age_purge(spark, tmp_path):
    queue = os.path.join(tmp_path, "q2")
    os.makedirs(queue)
    now_ms = 1_700_000_000_000
    with open(os.path.join(queue, "a_new.json"), "w") as f:
        f.write(_msg("/data/new.parquet", now_ms))
    with open(os.path.join(queue, "b_old.json"), "w") as f:
        f.write(_msg("/data/ancient.parquet", now_ms - 10 * 24 * 3600 * 1000))  # 10d older
    spark.dataSource.register(NotificationFileSource)
    stream = (
        spark.readStream.format("notification_files")
        .option("queueDir", queue)
        .load()
    )
    q = stream.writeStream.format("memory").queryName("notif_age").trigger(availableNow=True).start()
    q.awaitTermination()
    paths = [r.path for r in spark.table("notif_age").collect()]
    assert paths == ["/data/new.parquet"]  # default 7d maxFileAge drops the old one


def test_crash_between_wal_and_commit_replays_without_loss(tmp_path):
    """The round-2 data-loss hole: a crash after the offset WAL but before
    commit must be recoverable.  Messages stay on the queue until commit;
    a fresh reader replays the WAL'd range from its manifest
    (readBetweenOffsets), then commit deletes the messages."""
    from spark_ss_hudi_delta_poc_spark.sources.notification import NotificationStreamReader

    queue = os.path.join(tmp_path, "q")
    os.makedirs(queue)
    for i in range(2):
        with open(os.path.join(queue, f"m{i}.json"), "w") as f:
            f.write(_msg(f"/data/f{i}.parquet", 1000 + i))
    r1 = NotificationStreamReader({"queuedir": queue})
    it, end = r1.read({"emitted": 0})
    rows = list(it)
    assert len(rows) == 2 and end == {"emitted": 2}
    # messages must still be on the queue — NOT deleted at read() time
    assert sorted(f for f in os.listdir(queue) if f.endswith(".json")) == ["m0.json", "m1.json"]
    del r1  # crash: driver dies after the engine WAL'd the end offset
    r2 = NotificationStreamReader({"queuedir": queue})
    replayed = list(r2.readBetweenOffsets({"emitted": 0}, {"emitted": 2}))
    assert sorted(replayed) == sorted(rows)  # no loss
    # the restarted reader must not re-emit the in-flight messages as new
    it3, end3 = r2.read({"emitted": 2})
    assert list(it3) == [] and end3 == {"emitted": 2}
    r2.commit({"emitted": 2})
    assert [f for f in os.listdir(queue) if f.endswith(".json")] == []


def test_crash_before_wal_reuses_orphan_manifest(tmp_path):
    """Crash after read() journaled its manifest but before the engine
    WAL'd the offset: the next read() at the same start must re-emit the
    identical batch (idempotent), not lose or duplicate it."""
    from spark_ss_hudi_delta_poc_spark.sources.notification import NotificationStreamReader

    queue = os.path.join(tmp_path, "q")
    os.makedirs(queue)
    for i in range(3):
        with open(os.path.join(queue, f"m{i}.json"), "w") as f:
            f.write(_msg(f"/data/f{i}.parquet", 1000 + i))
    r1 = NotificationStreamReader({"queuedir": queue})
    it, end = r1.read({"emitted": 0})
    rows = list(it)
    del r1  # crash before the offset ever reached the WAL
    r2 = NotificationStreamReader({"queuedir": queue})
    it2, end2 = r2.read({"emitted": 0})  # engine restarts from initialOffset
    assert list(it2) == rows and end2 == end
    r2.commit(end2)
    assert [f for f in os.listdir(queue) if f.endswith(".json")] == []


def _sqs_setup():
    """Create a moto-mocked SQS queue; returns (client, queue_url)."""
    import boto3

    client = boto3.client("sqs", region_name="us-east-1")
    url = client.create_queue(QueueName="notifications")["QueueUrl"]
    return client, url


def test_sqs_client_poll_bounded_and_batch_delete():
    """_SqsQueueClient behaviors vs the reference SqsClient: bounded
    prefetch (backpressure), long-poll drain, batch delete in chunks of
    10 (SqsClient.scala:73-74, 243-270)."""
    from moto import mock_aws

    from spark_ss_hudi_delta_poc_spark.sources.notification import _SqsQueueClient

    with mock_aws():
        raw, url = _sqs_setup()
        for i in range(25):
            raw.send_message(QueueUrl=url, MessageBody=_msg(f"/d/f{i}.parquet", i))
        q = _SqsQueueClient(url, wait_time_s=0)
        got = q.poll(max_messages=7, skip=set())
        assert len(got) == 7  # bounded: never drains past the cap
        more = q.poll(max_messages=100, skip=set())
        assert len(more) == 18  # the rest (first 7 hidden by visibility)
        # batch delete >10 exercises the chunking path
        q.delete([tok for tok, _k, _b in got + more])
        attrs = raw.get_queue_attributes(
            QueueUrl=url,
            AttributeNames=["ApproximateNumberOfMessages", "ApproximateNumberOfMessagesNotVisible"],
        )["Attributes"]
        assert attrs["ApproximateNumberOfMessages"] == "0"
        assert attrs["ApproximateNumberOfMessagesNotVisible"] == "0"


def test_sqs_reader_protocol_exactly_once():
    """Full reader protocol on the SQS backend (direct calls — moto's
    in-process mock is invisible to Spark's worker, so the Spark-driven
    path is covered by the moto-server e2e test below): dedup deletes
    rowless duplicates eagerly, row messages retained until commit,
    crash replay via manifests, commit deletes by receipt handle."""
    import tempfile

    from moto import mock_aws

    from spark_ss_hudi_delta_poc_spark.sources.notification import NotificationStreamReader

    with mock_aws(), tempfile.TemporaryDirectory() as state:
        raw, url = _sqs_setup()
        for i in range(3):
            raw.send_message(QueueUrl=url, MessageBody=_msg(f"/data/f{i}.parquet", 1000 + i))
        raw.send_message(QueueUrl=url, MessageBody=_msg("/data/f0.parquet", 1000))  # dup
        raw.send_message(QueueUrl=url, MessageBody="not json")  # malformed
        opts = {"queueurl": url, "statedir": state, "waittimeseconds": "0"}
        r1 = NotificationStreamReader(opts)
        it, end = r1.read({"emitted": 0})
        rows = sorted(it)
        assert [p for p, _t in rows] == [f"/data/f{i}.parquet" for i in range(3)]
        assert end == {"emitted": 3}
        # dup + malformed deleted eagerly; 3 row messages retained in-flight
        attrs = raw.get_queue_attributes(
            QueueUrl=url,
            AttributeNames=["ApproximateNumberOfMessages", "ApproximateNumberOfMessagesNotVisible"],
        )["Attributes"]
        assert attrs["ApproximateNumberOfMessagesNotVisible"] == "3"
        del r1  # crash after the engine WAL'd the offset, before commit
        r2 = NotificationStreamReader(opts)
        assert sorted(r2.readBetweenOffsets({"emitted": 0}, {"emitted": 3})) == rows
        it3, end3 = r2.read({"emitted": 3})  # nothing new, nothing re-emitted
        assert list(it3) == [] and end3 == {"emitted": 3}
        r2.commit({"emitted": 3})
        attrs = raw.get_queue_attributes(
            QueueUrl=url,
            AttributeNames=["ApproximateNumberOfMessages", "ApproximateNumberOfMessagesNotVisible"],
        )["Attributes"]
        assert attrs["ApproximateNumberOfMessages"] == "0"
        assert attrs["ApproximateNumberOfMessagesNotVisible"] == "0"


def test_sqs_restart_redelivery_dedup_deleted():
    """After a crash, retained receipt handles are stale and the messages
    reappear once their visibility timeout lapses.  The restarted reader
    must treat redeliveries as rowless duplicates (seen-path dedup from
    the rebuilt manifests) and delete them — never double-emit."""
    import tempfile

    from moto import mock_aws

    from spark_ss_hudi_delta_poc_spark.sources.notification import NotificationStreamReader

    with mock_aws(), tempfile.TemporaryDirectory() as state:
        raw, url = _sqs_setup()
        for i in range(2):
            raw.send_message(QueueUrl=url, MessageBody=_msg(f"/data/f{i}.parquet", 1000 + i))
        # visibilitytimeout=0: in-flight messages become visible again
        # immediately — the worst-case redelivery schedule
        opts = {"queueurl": url, "statedir": state, "waittimeseconds": "0", "visibilitytimeout": "0"}
        r1 = NotificationStreamReader(opts)
        it, end = r1.read({"emitted": 0})
        assert len(list(it)) == 2 and end == {"emitted": 2}
        del r1  # crash; receipt handles in the manifest are now stale
        r2 = NotificationStreamReader(opts)
        # the WAL'd range replays from its manifest, not the queue
        assert len(list(r2.readBetweenOffsets({"emitted": 0}, {"emitted": 2}))) == 2
        # next read() re-receives the redelivered messages, recognizes
        # both paths as seen, deletes them as rowless duplicates
        it2, end2 = r2.read({"emitted": 2})
        assert list(it2) == [] and end2 == {"emitted": 2}
        attrs = raw.get_queue_attributes(
            QueueUrl=url,
            AttributeNames=["ApproximateNumberOfMessages", "ApproximateNumberOfMessagesNotVisible"],
        )["Attributes"]
        assert attrs["ApproximateNumberOfMessages"] == "0"
        assert attrs["ApproximateNumberOfMessagesNotVisible"] == "0"
        r2.commit({"emitted": 2})  # stale-handle deletes tolerated


def test_sqs_end_to_end_spark_stream(spark, tmp_path):
    """Spark streaming query against a REAL (mock-server) SQS endpoint:
    the reader and its boto3 client are constructed inside Spark's Python
    worker process, reaching moto over HTTP — the full cloud topology of
    the reference's s3-sqs source, minus AWS."""
    import boto3
    from moto.server import ThreadedMotoServer

    server = ThreadedMotoServer(port=0, verbose=False)
    server.start()
    try:
        host, port = server.get_host_and_port()
        endpoint = f"http://{host}:{port}"
        raw = boto3.client(
            "sqs",
            region_name="us-east-1",
            endpoint_url=endpoint,
            aws_access_key_id="testing",
            aws_secret_access_key="testing",
        )
        url = raw.create_queue(QueueName="e2e-notifications")["QueueUrl"]
        for i in range(3):
            raw.send_message(QueueUrl=url, MessageBody=_msg(f"/data/f{i}.parquet", 1000 + i))
        raw.send_message(QueueUrl=url, MessageBody=_msg("/data/f0.parquet", 1000))  # dup
        spark.dataSource.register(NotificationFileSource)
        stream = (
            spark.readStream.format("notification_files")
            .option("queueUrl", url)
            .option("endpointUrl", endpoint)
            .option("stateDir", os.path.join(tmp_path, "state"))
            .option("waitTimeSeconds", "0")
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("notif_sqs_mem")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.table("notif_sqs_mem").collect()
        assert sorted(r.path for r in rows) == [
            "/data/f0.parquet",
            "/data/f1.parquet",
            "/data/f2.parquet",
        ]
    finally:
        server.stop()


def test_notification_ingest_end_to_end(spark, tmp_path):
    """EP2: notifications → foreachBatch JVM read → parquet sink."""
    data_dir = os.path.join(tmp_path, "data")
    queue = os.path.join(tmp_path, "q3")
    sink = os.path.join(tmp_path, "sink")
    os.makedirs(queue)
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    df.coalesce(2).write.parquet(data_dir)
    parts = [f for f in os.listdir(data_dir) if f.endswith(".parquet")]
    assert len(parts) == 2
    for i, p in enumerate(parts):
        with open(os.path.join(queue, f"m{i}.json"), "w") as f:
            f.write(_msg(os.path.join(data_dir, p), 1000 + i))
    # availableNow drains the currently-prefetched batch; with
    # maxFilesPerTrigger=1 each drain round ingests one file — run rounds
    # until the queue is empty (cron-style queue draining), sharing the
    # checkpoint so progress is exactly-once across restarts.
    for _ in range(2):
        q = notification_ingest(
            spark, queue, sink, checkpoint=os.path.join(tmp_path, "ckpt"), max_files_per_trigger=1
        )
        q.awaitTermination()
    back = spark.read.parquet(sink)
    assert back.count() == 100
    assert back.agg({"v": "sum"}).collect()[0][0] == sum(2 * i for i in range(100))
    # round 2's batch construction committed round 1's batch → round 1's
    # message was deleted; round 2's own message is still in-flight
    assert len([f for f in os.listdir(queue) if f.endswith(".json")]) == 1


def test_orphan_manifest_replay_runs_under_spark(spark, tmp_path):
    """The orphan-manifest replay path must hand Spark something it can
    pickle.  Drain a 4-file queue at cap 4 with two starts: the last
    batch's manifest stays journaled (its commit never comes).  A start
    on the same queue dir with a fresh checkpoint begins at offset 0,
    finds that manifest and re-emits it verbatim."""
    data_dir = os.path.join(tmp_path, "data")
    queue = os.path.join(tmp_path, "q")
    os.makedirs(queue)
    spark.range(100).selectExpr("id", "id * 2 AS v").repartition(4).write.parquet(data_dir)
    parts = sorted(f for f in os.listdir(data_dir) if f.endswith(".parquet"))
    assert len(parts) == 4
    for i, p in enumerate(parts):
        with open(os.path.join(queue, f"m{i}.json"), "w") as f:
            f.write(_msg(os.path.join(data_dir, p), 1000 + i))
    first = os.path.join(tmp_path, "sink1")
    for _ in range(2):
        notification_ingest(
            spark, queue, first, checkpoint=os.path.join(tmp_path, "ckpt1"), max_files_per_trigger=4
        ).awaitTermination()
    assert spark.read.parquet(first).count() == 100
    assert any(f.startswith("range-") for f in os.listdir(os.path.join(queue, ".state")))

    replay = os.path.join(tmp_path, "sink2")
    notification_ingest(
        spark, queue, replay, checkpoint=os.path.join(tmp_path, "ckpt2"), max_files_per_trigger=4
    ).awaitTermination()
    back = spark.read.parquet(replay)
    assert back.count() == 100
    assert back.agg({"v": "sum"}).collect()[0][0] == sum(2 * i for i in range(100))
