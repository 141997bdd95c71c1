"""Seeded input generator for the benchmark workloads.

Runs in the benchmark's own process without Spark: plain Python, NumPy
and PyArrow.  Every input is a function of the seed alone, and the
generator records the expected values it knows independently of the
program (row counts, planted duplicates, partition counts).

Inputs:

- retail CSV day-files in the F1 shape (FIXTURES.md): one file per day,
  header line, quoted commas in ``Description``, empty ``CustomerID`` on
  some rows, and a known number of ``srno`` values planted twice;
- one queue-dir message per notification file;
- ``documents``, ``events`` and ``embeddings`` parquet tables in the
  testdata schema (TESTDATA.md), with planted exact and near
  duplicate documents.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RETAIL_HEADER = [
    "srno",
    "InvoiceNo",
    "StockCode",
    "Description",
    "Quantity",
    "InvoiceDate",
    "UnitPrice",
    "CustomerID",
    "Country",
    "InvoiceTimestamp",
]
COUNTRIES = [
    "United Kingdom",
    "France",
    "Germany",
    "EIRE",
    "Spain",
    "Netherlands",
    "Belgium",
    "Norway",
]
DESC_WORDS = [
    "WHITE", "HANGING", "HEART", "METAL", "LANTERN", "CREAM", "CUPID",
    "KNITTED", "UNION", "FLAG", "HOT", "WATER", "BOTTLE", "RED", "WOOLLY",
    "GLASS", "STAR", "FROSTED", "CANDLE", "HOLDER", "SET", "BOX", "VINTAGE",
]
FIRST_DAY = dt.date(2010, 12, 1)

# Documents use the testdata's vocabulary and mix (TESTDATA.md),
# so the registry operators see the text shape their parameters target.
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
EMB_DIM = 64


def write_retail_days(
    rng: np.random.Generator,
    out_dir: str,
    n_files: int,
    rows_per_file: int,
    n_dup_srno: int,
    first_srno: int = 1,
) -> dict:
    """Write ``n_files`` day-files and return what a correct ingest of them
    must produce.  Each file holds one day's invoices, so a file's rows
    are exactly the rows whose InvoiceTimestamp falls on that day."""
    os.makedirs(out_dir, exist_ok=True)
    n_rows = n_files * rows_per_file
    srno = np.arange(first_srno, first_srno + n_rows)
    # plant duplicates: rows in the second half of the backlog reuse srno
    # values of distinct rows from the first half
    half = n_rows // 2
    src = rng.choice(half, size=n_dup_srno, replace=False)
    dst = half + rng.choice(n_rows - half, size=n_dup_srno, replace=False)
    srno[dst] = srno[src]
    codes = [f"{c}{s}" for c, s in zip(rng.integers(10000, 99999, 700), rng.choice(["", "A", "B", "C"], 700))]
    codes = list(dict.fromkeys(codes))
    stock = rng.choice(len(codes), size=n_rows)
    country = rng.choice(len(COUNTRIES), size=n_rows, p=[0.44, 0.1, 0.1, 0.08, 0.08, 0.08, 0.06, 0.06])
    null_cust = rng.random(n_rows) < 0.2
    cust = rng.integers(12000, 18300, n_rows)
    qty = rng.integers(1, 48, n_rows)
    price = rng.integers(10, 2000, n_rows)
    secs = np.sort(rng.integers(7 * 3600, 20 * 3600, size=(n_files, rows_per_file)), axis=1)
    comma_desc = rng.random(n_rows) < 0.15
    desc_w = rng.choice(len(DESC_WORDS), size=(n_rows, 3))

    partition_counts: dict[str, int] = {}
    files: list[dict] = []
    invoice = 536365
    for f in range(n_files):
        day = FIRST_DAY + dt.timedelta(days=f)
        path = os.path.join(out_dir, f"{day.isoformat()}.csv")
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(RETAIL_HEADER)
            for j in range(rows_per_file):
                i = f * rows_per_file + j
                if j % 4 == 0:
                    invoice += 1
                words = [DESC_WORDS[k] for k in desc_w[i]]
                desc = f"{words[0]} {words[1]}, {words[2]}" if comma_desc[i] else " ".join(words)
                ts = dt.datetime.combine(day, dt.time()) + dt.timedelta(seconds=int(secs[f, j]))
                w.writerow(
                    [
                        int(srno[i]),
                        invoice,
                        codes[stock[i]],
                        desc,
                        int(qty[i]),
                        day.isoformat(),
                        f"{price[i] / 100:.2f}",
                        "" if null_cust[i] else f"{float(cust[i]):.1f}",
                        COUNTRIES[country[i]],
                        ts.strftime("%Y-%m-%d %H:%M:%S"),
                    ]
                )
                key = f"{day.isoformat()}|{COUNTRIES[country[i]]}"
                partition_counts[key] = partition_counts.get(key, 0) + 1
        files.append({"path": path, "date": day.isoformat(), "rows": rows_per_file})
    return {
        "rows": n_rows,
        "files": files,
        "distinct_stock_codes": len({codes[k] for k in stock}),
        "dup_srno": n_dup_srno,
        "null_customer_ids": int(null_cust.sum()),
        "quoted_descriptions": int(comma_desc.sum()),
        "partition_counts": partition_counts,
    }


def write_queue(queue_dir: str, files: list[dict], base_ms: int = 1_700_000_000_000) -> None:
    """One plain queue-dir message per file (sources/notification.py)."""
    os.makedirs(queue_dir, exist_ok=True)
    for i, f in enumerate(files):
        with open(os.path.join(queue_dir, f"msg-{i:05d}.json"), "w") as fh:
            json.dump({"path": f["path"], "eventTime": base_ms + i * 1000}, fh)


def _doc_text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), n_words))


def write_tables(rng: np.random.Generator, sf_dir: str, n_docs: int, n_events: int, n_vecs: int) -> dict:
    """documents / events / embeddings parquet files in the testdata schema."""
    os.makedirs(sf_dir, exist_ok=True)
    texts: list[str] = []
    exact_copies = near_copies = short_docs = pii_docs = 0
    for i in range(n_docs):
        r = rng.random()
        if i >= 20 and r < 0.03:
            # exact copy of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
            exact_copies += 1
        elif i >= 20 and r < 0.08:
            # near copy: an earlier document with a few words replaced
            w = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                w[int(rng.integers(0, len(w)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(w))
            near_copies += 1
        elif r < 0.12:
            texts.append(_doc_text(rng, int(rng.integers(3, 10))))
            short_docs += 1
        else:
            t = _doc_text(rng, int(rng.integers(10, 101)))
            if r > 0.97:
                # a whole-word PII token for the corpus build's scrub stage
                t = f"{t} user{i}@example.com"
                pii_docs += 1
            texts.append(t)
    lang = rng.choice(LANGS, size=n_docs, p=LANG_P)
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang.tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))

    start_us = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
    # increasing timestamps spread over ~30 days, as in the testdata
    gaps = rng.integers(1, 2 * 30 * 86400 * 10**6 // max(n_events, 1), n_events)
    ts = start_us + np.cumsum(gaps)
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_events).tolist(), pa.string()),
            "value": pa.array(np.round(rng.integers(1, 50000, n_events) / 100.0, 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], pa.string()),
        }
    )
    pq.write_table(events, os.path.join(sf_dir, "events.parquet"))

    vec = rng.standard_normal((n_vecs, EMB_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(sf_dir, "embeddings.parquet"))
    return {
        "documents": n_docs,
        "events": n_events,
        "embeddings": n_vecs,
        "exact_copies": exact_copies,
        "near_copies": near_copies,
        "short_docs": short_docs,
        "pii_docs": pii_docs,
    }
