"""Output checks, computed apart from the program.

Every check reads what the program wrote with DuckDB, or compares a
registry result with its DuckDB oracle through the canonical pandas hash
of ``tools/verify_local.py``.  A check returns a list of problems; an
empty list means the output is correct.
"""

from __future__ import annotations

import glob
import os

import duckdb

import verify_local  # tools/verify_local.py

from spark_ss_hudi_delta_poc_spark.plans import all_queries
from spark_ss_hudi_delta_poc_spark.plans.llm_queries import _oracle_of

RETAIL_COLUMNS = {
    "srno": "INTEGER",
    "InvoiceNo": "INTEGER",
    "StockCode": "VARCHAR",
    "Quantity": "INTEGER",
    "UnitPrice": "DOUBLE",
    "CustomerID": "DOUBLE",
    "Country": "VARCHAR",
}


def _con(sf_dir: str | None = None) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    if sf_dir:
        for t in ("documents", "events", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _scan(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = 1)"


def lakehouse_sink(sink: str, expected: dict, input_rows: int, battery: dict) -> list[str]:
    """The listing stream's table and the battery read back over it."""
    problems = []
    con = _con()
    t = _scan(sink)
    rows, uuids, bad_dates, null_cust = con.sql(
        f"""SELECT COUNT(*), COUNT(DISTINCT UUID),
                   COUNT(*) FILTER (WHERE CAST("Date" AS VARCHAR)
                                    <> CAST(CAST(InvoiceTimestamp AS DATE) AS VARCHAR)),
                   COUNT(*) FILTER (WHERE CustomerID IS NULL)
            FROM {t}"""
    ).fetchone()
    if rows != expected["rows"]:
        problems.append(f"sink rows {rows} != generated {expected['rows']}")
    if input_rows != expected["rows"]:
        problems.append(f"progress numInputRows sum {input_rows} != generated {expected['rows']}")
    if uuids != rows:
        problems.append(f"distinct UUIDs {uuids} != sink rows {rows}")
    if bad_dates:
        problems.append(f"{bad_dates} rows whose Date is not the date of InvoiceTimestamp")
    if null_cust != expected["null_customer_ids"]:
        problems.append(f"null CustomerID rows {null_cust} != generated {expected['null_customer_ids']}")
    parts = {
        f"{d}|{c}": n
        for d, c, n in con.sql(f'SELECT CAST("Date" AS VARCHAR), Country, COUNT(*) FROM {t} GROUP BY ALL').fetchall()
    }
    if parts != expected["partition_counts"]:
        diff = sorted(set(parts.items()) ^ set(expected["partition_counts"].items()))[:4]
        problems.append(f"(Date, Country) partition counts differ from generated: {diff}")
    want = {
        "count": expected["rows"],
        "group_count": expected["distinct_stock_codes"],
        "distinct_count": expected["distinct_stock_codes"],
        "duplicates": expected["dup_srno"],
    }
    for k, v in want.items():
        if battery.get(k) != v:
            problems.append(f"battery {k} {battery.get(k)} != generated {v}")
    return problems


def notification_failed_files(notify_sink: str, notify: dict) -> int:
    """Files whose rows did not land as retail rows in the notification
    sink: the retail columns with their types, and per day-file exactly
    the file's rows."""
    con = _con()
    files = glob.glob(os.path.join(notify_sink, "**", "*.parquet"), recursive=True)
    if not files:
        return len(notify["files"])
    t = _scan(notify_sink)
    types = {name: typ for name, typ, *_ in con.sql(f"DESCRIBE SELECT * FROM {t}").fetchall()}
    if any(types.get(c) != typ for c, typ in RETAIL_COLUMNS.items()) or "InvoiceTimestamp" not in types:
        return len(notify["files"])
    per_day = dict(
        con.sql(
            f"SELECT CAST(CAST(InvoiceTimestamp AS DATE) AS VARCHAR), COUNT(*) FROM {t} "
            "WHERE srno IS NOT NULL GROUP BY ALL"
        ).fetchall()
    )
    return sum(1 for f in notify["files"] if per_day.get(f["date"]) != f["rows"])


def registry_results(sf_dir: str, results: dict) -> list[str]:
    """Each registry result against its DuckDB oracle over the same inputs."""
    problems = []
    con = _con(sf_dir)
    qs = all_queries()
    for name, pdf in results.items():
        opdf = con.sql(qs[name].oracle).df()
        if sorted(pdf.columns) != sorted(opdf.columns):
            problems.append(f"{name}: columns {sorted(pdf.columns)} != oracle {sorted(opdf.columns)}")
        elif len(pdf) != len(opdf) or verify_local.canon_lines(pdf) != verify_local.canon_lines(opdf):
            problems.append(f"{name}: {len(pdf)} rows differ from the oracle's {len(opdf)}")
    return problems


def corpus_build(sf_dir: str, sink: str, out: dict) -> list[str]:
    """The corpus build's stage counts wherever a stage is SQL-expressible:
    input count, quality and exact-dedup survivors, chunk windows per
    document from word counts, and that every exact-dedup survivor with
    no n-gram near-duplicate reaches the output."""
    problems = []
    con = _con(sf_dir)
    con.sql(
        """CREATE TEMP TABLE q AS
           SELECT doc_id, text, len(string_split(text, ' ')) AS nw FROM documents
           WHERE len(string_split(text, ' ')) BETWEEN 10 AND 1000"""
    )
    con.sql("CREATE TEMP TABLE reps AS SELECT MIN(doc_id) AS doc_id FROM q GROUP BY text")
    n_in = con.sql("SELECT COUNT(*) FROM documents").fetchone()[0]
    n_q = con.sql("SELECT COUNT(*) FROM q").fetchone()[0]
    n_e = con.sql("SELECT COUNT(*) FROM reps").fetchone()[0]
    for k, v in (("input_docs", n_in), ("after_quality", n_q), ("after_exact_dedup", n_e)):
        if out.get(k) != v:
            problems.append(f"corpus_build {k} {out.get(k)} != DuckDB {v}")
    con.sql(f"CREATE TEMP TABLE chunks AS SELECT doc_id, COUNT(*) AS n FROM {_scan(sink)} GROUP BY doc_id")
    wrong = con.sql(
        """SELECT COUNT(*) FROM chunks c JOIN q USING (doc_id)
           WHERE c.n <> (greatest(q.nw - 1, 1) - 1) // 24 + 1"""
    ).fetchone()[0]
    if wrong:
        problems.append(f"{wrong} documents with a chunk count other than their word-count windows")
    stray = con.sql("SELECT COUNT(*) FROM chunks WHERE doc_id NOT IN (SELECT doc_id FROM reps)").fetchone()[0]
    if stray:
        problems.append(f"{stray} output documents that are not exact-dedup survivors")
    missing = con.sql(
        f"""WITH pairs AS ({_oracle_of("dedup_ngram_jaccard")})
            SELECT COUNT(*) FROM reps
            WHERE doc_id NOT IN (SELECT doc_id_a FROM pairs UNION SELECT doc_id_b FROM pairs)
              AND doc_id NOT IN (SELECT doc_id FROM chunks)"""
    ).fetchone()[0]
    if missing:
        problems.append(f"{missing} survivors with no near-duplicate missing from the output")
    n_docs, n_chunks = con.sql("SELECT COUNT(*), COALESCE(SUM(n), 0) FROM chunks").fetchone()
    if n_docs != out.get("after_near_dedup") or n_chunks != out.get("chunks"):
        problems.append(
            f"output holds {n_docs} documents / {n_chunks} chunks, the job reported "
            f"{out.get('after_near_dedup')} / {out.get('chunks')}"
        )
    return problems
