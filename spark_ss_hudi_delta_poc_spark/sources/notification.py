"""Notification-driven streaming file source — parity with the reference's
custom `s3-sqs` source (SURVEY.md §2.9: SqsSource/SqsClient/SqsFileCache,
~660 LoC), rebuilt on Spark 4's Python DataSource API.

The reference long-polls an SQS queue for SNS-wrapped S3 ObjectCreated
events, dedups seen files, age-purges stale ones, forms rate-limited
micro-batches with exactly-once offsets, and deletes consumed messages.
Two interchangeable queue backends (option-selected):

- ``queueDir``: a directory of notification messages, one JSON file per
  message — the jar-free local stand-in (message token = file path);
- ``queueUrl``: a REAL SQS queue via boto3 (message token = receipt
  handle) with the reference client's behaviors — long poll
  (WaitTimeSeconds, SqsClient.scala:100-104), visibility timeout hiding
  in-flight messages (:104), bounded prefetch backpressure (3× the
  trigger cap, :73-74), and batch delete with per-entry retry
  (:243-270).  Tested against moto's SQS mock.

Message bodies, either backend:

    {"path": "/data/f1.parquet", "eventTime": 1700000000000}

or SNS-wrapped like the reference parses (SqsClient.scala:146-183):

    {"Message": "{\"Records\": [{\"eventName\": \"ObjectCreated:Put\",
                 \"s3\": {...\"key\": ...}}]}"}

Behaviors ported (file:line cites into /root/reference):
- dedup of already-seen paths            (SqsFileCache.isNewFile :42-44)
- age purge vs LATEST seen event time,
  not wall clock                         (SqsSourceOptions :33-44, cache :78-91)
- per-batch cap maxFilesPerTrigger       (SqsSourceOptions :25-30)
- delete consumed messages ONLY on commit (SqsClient.deleteMessageBatch
  :243-270 — the reference deletes after processing, never at receive)
- malformed messages deleted, not fatal  (SqsClient errorMessages :179-181)
- exactly-once replay: row-producing messages are retained on the queue
  (the SQS visibility-timeout role) and each emitted offset range is
  journaled to a disk manifest BEFORE read() returns, so
  ``readBetweenOffsets`` can replay any WAL'd-but-uncommitted range after
  a crash, and a crash before the offset WAL reuses the orphan manifest
  verbatim (the FileStreamSourceLog role, SqsSource.scala:22-48).

The source streams NOTIFICATION ROWS (path, event_time).  Content ingest
composes it with foreachBatch: read the listed paths with the real JVM
reader and append to the sink (see ``notification_ingest``) — same split
as the reference, where SqsSource hands file lists to a DataSource over
exactly those files (SqsSource.scala:51-59).
"""

from __future__ import annotations

import json
import os
from typing import Iterator, Tuple

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import LongType, StringType, StructField, StructType

NOTIFICATION_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("event_time_ms", LongType()),
    ]
)

DEFAULT_MAX_FILE_AGE_MS = 7 * 24 * 3600 * 1000  # SqsSourceOptions.scala:33 (7d)


def _parse_message(raw: str) -> tuple[str, int] | None:
    """Extract (path, event_time_ms) from a plain or SNS-wrapped message;
    None for malformed / non-ObjectCreated (deleted silently, like
    SqsClient.scala:179-181)."""
    try:
        msg = json.loads(raw)
        if "Message" in msg:  # SNS envelope (messageWrapper=SNS)
            body = json.loads(msg["Message"])
            rec = body["Records"][0]
            if not str(rec.get("eventName", "")).startswith("ObjectCreated"):
                return None
            bucket = rec["s3"]["bucket"]["name"]
            key = rec["s3"]["object"]["key"]
            ts = int(rec.get("eventTimeMs", 0))
            return (f"{bucket}/{key}", ts)
        return (str(msg["path"]), int(msg.get("eventTime", 0)))
    except (ValueError, KeyError, IndexError, TypeError):
        return None


class _DirQueueClient:
    """Local queue stand-in: a directory with one JSON message file each.
    Message token == identity key == the file path (stable across
    restarts, so in-flight state survives a reader rebuild)."""

    stable_tokens = True

    def __init__(self, queue_dir: str):
        self.queue_dir = queue_dir

    def poll(self, max_messages: int, skip: set) -> list[tuple[str, str, str]]:
        out: list[tuple[str, str, str]] = []
        for name in sorted(os.listdir(self.queue_dir)):
            if len(out) >= max_messages:
                break
            p = os.path.join(self.queue_dir, name)
            if not name.endswith(".json") or not os.path.isfile(p) or p in skip:
                continue
            with open(p) as f:
                out.append((p, p, f.read()))
        return out

    def delete(self, tokens) -> None:
        for t in tokens:
            try:
                os.unlink(t)
            except FileNotFoundError:
                pass


class _SqsQueueClient:
    """Real SQS via boto3 — the reference's network client
    (SqsClient.scala:64-277) reduced to the behaviors the reader needs:

    - long poll with ``WaitTimeSeconds``            (:100-104)
    - visibility timeout hides in-flight messages   (:104)
    - receive loop bounded by the caller's prefetch
      cap — backpressure, never an unbounded drain  (:73-74)
    - batch delete (chunks of 10) with per-entry
      retry on transient failures                   (:243-270)

    token = receipt handle (what delete needs, NOT stable across
    redelivery/restart — stale-handle deletes are tolerated: the message
    reappears after its visibility timeout and the seen-path dedup
    deletes it as a rowless duplicate); key = MessageId (stable identity
    for in-flight tracking within a run).  The boto3 client is built
    lazily and dropped from pickles: the reader is constructed inside
    Spark's Python worker process, and a live botocore session must
    never ride a pickle."""

    stable_tokens = False

    def __init__(
        self,
        queue_url: str,
        *,
        region: str | None = None,
        endpoint_url: str | None = None,
        wait_time_s: int = 1,
        visibility_timeout_s: int = 600,
        client=None,
    ):
        self.queue_url = queue_url
        self.region = region
        self.endpoint_url = endpoint_url
        self.wait_time_s = wait_time_s
        self.visibility_timeout_s = visibility_timeout_s
        self._client = client

    def __getstate__(self):
        state = dict(self.__dict__)
        state["_client"] = None
        return state

    @property
    def client(self):
        if self._client is None:
            import boto3

            kwargs: dict = {"region_name": self.region or "us-east-1"}
            if self.endpoint_url:
                # test/localstack mode — endpoint overrides the AWS chain,
                # and mock servers accept any static credential
                kwargs.update(
                    endpoint_url=self.endpoint_url,
                    aws_access_key_id="testing",
                    aws_secret_access_key="testing",
                )
            self._client = boto3.client("sqs", **kwargs)
        return self._client

    def poll(self, max_messages: int, skip: set) -> list[tuple[str, str, str]]:
        out: list[tuple[str, str, str]] = []
        while len(out) < max_messages:
            resp = self.client.receive_message(
                QueueUrl=self.queue_url,
                MaxNumberOfMessages=min(10, max_messages - len(out)),
                WaitTimeSeconds=self.wait_time_s,
                VisibilityTimeout=self.visibility_timeout_s,
            )
            msgs = resp.get("Messages", [])
            if not msgs:
                break  # long poll timed out — queue drained for now
            for m in msgs:
                if m["MessageId"] in skip:
                    continue  # in-flight redelivery (visibility expired)
                out.append((m["ReceiptHandle"], m["MessageId"], m["Body"]))
        return out

    def delete(self, tokens) -> None:
        pending = list(tokens)
        for i in range(0, len(pending), 10):  # SQS batch-delete cap is 10
            entries = [
                {"Id": str(j), "ReceiptHandle": rh}
                for j, rh in enumerate(pending[i : i + 10])
            ]
            try:
                resp = self.client.delete_message_batch(
                    QueueUrl=self.queue_url, Entries=entries
                )
            except Exception:
                continue  # transient — redelivery is dedup-deleted later
            for failed in resp.get("Failed", []):
                if failed.get("SenderFault"):
                    continue  # stale handle — nothing to retry
                rh = pending[i + int(failed["Id"])]
                try:  # per-entry retry, SqsClient.scala:243-270
                    self.client.delete_message(QueueUrl=self.queue_url, ReceiptHandle=rh)
                except Exception:
                    pass


class NotificationStreamReader(SimpleDataSourceStreamReader):
    """Exactly-once protocol (round-3 fix — the previous version deleted
    queue messages at read() time on the false premise that the simple-
    reader wrapper checkpoints prefetched rows; it only caches them in
    driver memory, so a crash between the offset WAL and commit lost
    data):

    - read(start) journals each non-empty batch to an atomic manifest
      (state dir) BEFORE returning, and RETAINS the row-producing
      messages — the SQS visibility-timeout analogue.
    - commit(end) deletes messages + manifests for every range whose
      end <= committed end — SqsClient.deleteMessageBatch semantics
      (delete after processing, SqsClient.scala:243-270).
    - readBetweenOffsets(start, end) replays WAL'd-but-uncommitted ranges
      from their manifests after a restart.
    - a crash AFTER the manifest write but BEFORE the offset WAL leaves
      an orphan manifest whose start equals the next read()'s start —
      read() reuses it verbatim, so the same rows are emitted either way.
    - __init__ rebuilds the in-flight set / seen-path cache from retained
      manifests, so a restarted reader neither re-polls in-flight
      messages nor double-emits their rows (in-flight keys are reusable
      only for the stable-token dir backend; for SQS the visibility
      timeout plays that role and stale tokens are tolerated).
    """

    def __init__(self, options: dict):
        if options.get("queueurl"):
            self.queue = _SqsQueueClient(
                options["queueurl"],
                region=options.get("region"),
                endpoint_url=options.get("endpointurl"),
                wait_time_s=int(options.get("waittimeseconds", 1)),
                visibility_timeout_s=int(options.get("visibilitytimeout", 600)),
            )
            if not options.get("statedir"):
                raise ValueError("queueUrl mode requires a stateDir option")
            self.state_dir = options["statedir"]
        else:
            self.queue = _DirQueueClient(options["queuedir"])
            self.state_dir = options.get("statedir") or os.path.join(
                options["queuedir"], ".state"
            )
        self.max_files_per_trigger = int(options.get("maxfilespertrigger", 100))
        self.max_file_age_ms = int(options.get("maxfileagems", DEFAULT_MAX_FILE_AGE_MS))
        self.delete_consumed = options.get("deleteconsumed", "true") == "true"
        os.makedirs(self.state_dir, exist_ok=True)
        # SqsFileCache equivalent: path -> event_time_ms of everything seen
        self._seen: dict[str, int] = {}
        self._latest_ms = 0
        # message keys emitted in an uncommitted range — invisible to
        # poll, their tokens deleted at commit (SQS in-flight state)
        self._inflight: set[str] = set()
        for m in self._manifests():
            for path, ts_ms in m["rows"]:
                self._seen[path] = ts_ms
                self._latest_ms = max(self._latest_ms, ts_ms)
            if self.queue.stable_tokens:
                self._inflight.update(key for _tok, key in m["messages"])

    def initialOffset(self) -> dict:
        return {"emitted": 0}

    # --- manifest journal ----------------------------------------------------
    def _manifest_file(self, start: int, end: int) -> str:
        return os.path.join(self.state_dir, f"range-{start:012d}-{end:012d}.json")

    def _manifests(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.state_dir)):
            if name.startswith("range-") and name.endswith(".json"):
                with open(os.path.join(self.state_dir, name)) as f:
                    m = json.load(f)
                m["_file"] = os.path.join(self.state_dir, name)
                out.append(m)
        return out

    def _write_manifest(self, start: int, end: int, rows, messages) -> None:
        tmp = self._manifest_file(start, end) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"start": start, "end": end, "rows": rows, "messages": messages}, f)
        os.replace(tmp, self._manifest_file(start, end))  # atomic publish

    def read(self, start: dict) -> Tuple[Iterator[Tuple], dict]:
        emitted = start["emitted"]
        # crash recovery: a manifest whose start == this offset means a
        # previous read() journaled a batch but died before the engine
        # WAL'd the end offset — re-emit it verbatim (idempotent restart)
        for m in self._manifests():
            if m["start"] == emitted:
                # a list iterator, not a generator: Spark pickles it
                return iter([tuple(r) for r in m["rows"]]), {"emitted": m["end"]}
        batch: list[tuple[str, int]] = []
        row_msgs: list[tuple[str, str]] = []  # (token, key)
        dead_tokens: list[str] = []
        # bounded prefetch: never pull more than 3× the trigger cap off the
        # queue in one poll — the reference's backpressure bound
        # (SqsClient.scala:73-74)
        polled = self.queue.poll(3 * self.max_files_per_trigger, self._inflight)
        for token, key, raw in polled:
            parsed = _parse_message(raw)
            if parsed is None:  # malformed → delete, never retry (no data lost)
                dead_tokens.append(token)
                continue
            path, ts_ms = parsed
            if len(batch) >= self.max_files_per_trigger:  # rate limit
                break
            self._latest_ms = max(self._latest_ms, ts_ms)
            if path in self._seen:  # dedup (isNewFile)
                dead_tokens.append(token)  # duplicate notification → no data
                continue
            if ts_ms < self._latest_ms - self.max_file_age_ms:  # age purge
                self._seen[path] = ts_ms
                dead_tokens.append(token)
                continue
            self._seen[path] = ts_ms
            batch.append((path, ts_ms))
            row_msgs.append((token, key))
        # rowless messages (malformed / duplicates / age-purged) carry no
        # data — delete immediately, like the reference's error-message
        # path (SqsClient.scala:179-181); messages that PRODUCED rows are
        # retained until commit(end)
        if self.delete_consumed and dead_tokens:
            self.queue.delete(dead_tokens)
        if not batch:
            return iter([]), {"emitted": emitted}
        end = emitted + len(batch)
        self._write_manifest(emitted, end, batch, row_msgs)  # journal BEFORE returning
        self._inflight.update(key for _tok, key in row_msgs)
        return iter(batch), {"emitted": end}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[Tuple]:
        """Replay a WAL'd-but-uncommitted range from its manifest after a
        restart (the wrapper's failure-recovery path)."""
        s, e = start["emitted"], end["emitted"]
        rows: list[tuple] = []
        for m in self._manifests():
            if m["start"] >= s and m["end"] <= e:
                rows.extend(tuple(r) for r in m["rows"])
        return iter(rows)

    def commit(self, end: dict) -> None:
        """Delete consumed messages for every fully-committed range — the
        reference's post-processing deleteMessageBatch (SqsClient.scala:
        243-270)."""
        e = end["emitted"]
        for m in self._manifests():
            if m["end"] > e:
                continue
            tokens = [tok for tok, _key in m["messages"]]
            keys = [key for _tok, key in m["messages"]]
            if self.delete_consumed:
                self.queue.delete(tokens)
            self._inflight.difference_update(keys)
            os.unlink(m["_file"])


class NotificationFileSource(DataSource):
    """register with spark.dataSource.register(NotificationFileSource);
    then spark.readStream.format("notification_files")
             .option("queueDir", dir).load()"""

    @classmethod
    def name(cls) -> str:
        return "notification_files"

    def schema(self):
        return NOTIFICATION_SCHEMA

    def simpleStreamReader(self, schema) -> NotificationStreamReader:
        return NotificationStreamReader(self.options)


def notification_ingest(
    spark,
    queue_dir: str,
    sink_path: str,
    checkpoint: str,
    file_format: str = "parquet",
    schema=None,
    max_files_per_trigger: int = 100,
    **source_options: str,
):
    """EP2 rebuilt: notification stream → foreachBatch reads the listed
    files with the JVM reader → append to the sink.  The notification
    offsets are exactly-once (checkpointed); the content write is
    idempotent per batch for transactional sinks (Delta) and append-only
    for plain parquet — the same guarantee split the reference documents
    (README.md:115-122).

    ``queue_dir=None`` with ``queueUrl=...``/``stateDir=...`` in
    ``source_options`` runs against a real SQS queue instead of the
    local directory stand-in.  CSV files are read with their header
    line (the reference's retail files carry one); pass ``schema`` for
    typed columns."""
    spark.dataSource.register(NotificationFileSource)
    reader = spark.readStream.format("notification_files").option(
        "maxFilesPerTrigger", str(max_files_per_trigger)
    )
    if queue_dir is not None:
        reader = reader.option("queueDir", queue_dir)
    for k, v in source_options.items():
        reader = reader.option(k, str(v))
    notif = reader.load()

    def _ingest(batch_df, batch_id: int) -> None:
        paths = [r.path for r in batch_df.select("path").collect()]
        if not paths:
            return
        reader = batch_df.sparkSession.read.format(file_format)
        if file_format == "csv":
            reader = reader.option("header", "true")
        if schema is not None:
            reader = reader.schema(schema)
        reader.load(paths).write.mode("append").format("parquet").save(sink_path)

    return (
        notif.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
