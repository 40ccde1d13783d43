"""Output checks, run with DuckDB over the files a pipeline run wrote.

Each check raises ``CheckFailed`` naming what differs.  The checks read
the outputs with DuckDB, not Spark, so they add no Spark job to the counts
the benchmark reports, and the gold totals are computed independently of
the engine from the generated input.
"""

from __future__ import annotations

import json
import os
from decimal import Decimal

import duckdb


class CheckFailed(AssertionError):
    pass


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, expected {want!r}")


def _pq(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def _sql_list(values) -> str:
    return ", ".join("'" + str(v).replace("'", "''") + "'" for v in values)


def _schema_filter(schema_file: str) -> str:
    """The good-row predicate the schema's field metadata implies: not-null
    for required fields, min/max ranges and allowed values."""
    preds = []
    with open(schema_file) as fh:
        fields = json.load(fh)["fields"]
    for f in fields:
        meta = f.get("metadata", {})
        if meta.get("system_column"):
            continue
        c = f["name"]
        if not f["nullable"]:
            preds.append(f"{c} IS NOT NULL")
        if "min_value" in meta:
            preds.append(f"({c} IS NULL OR {c} >= {meta['min_value']})")
        if "max_value" in meta:
            preds.append(f"({c} IS NULL OR {c} <= {meta['max_value']})")
        if "allowed_values" in meta:
            preds.append(f"({c} IS NULL OR {c} IN ({_sql_list(meta['allowed_values'])}))")
    return " AND ".join(preds)


def medallion(iter_dir: str, expected: dict, registry: str) -> None:
    con = _con()
    count = lambda p: con.execute(f"SELECT count(*) FROM {_pq(os.path.join(iter_dir, p))}").fetchone()[0]
    expect("bronze rows", count("bronze"), expected["bronze_rows"])
    expect("quarantine rows", count("quarantine"), expected["quarantine_rows"])
    silver = os.path.join(iter_dir, "silver")
    n, ids, named = con.execute(
        f"SELECT count(*), count(DISTINCT transaction_id), count(merchant_name) FROM {_pq(silver)}"
    ).fetchone()
    expect("silver rows", n, expected["silver_rows"])
    expect("silver distinct ids", ids, expected["silver_rows"])
    expect("silver rows with a merchant", named, expected["silver_rows"])
    good = _schema_filter(os.path.join(registry, "payments", "transactions", "v1.json"))
    oracle = con.execute(f"""
        WITH src AS (
            SELECT * FROM read_json('{expected["input_glob"]}', format = 'newline_delimited',
                columns = {{transaction_id: 'VARCHAR', customer_id: 'VARCHAR',
                            amount: 'DECIMAL(10,2)', currency: 'VARCHAR',
                            transaction_status: 'VARCHAR', transaction_time: 'TIMESTAMP',
                            merchant_id: 'VARCHAR', payment_method: 'VARCHAR'}})),
        good AS (SELECT * FROM src WHERE {good} AND transaction_time <= now()::TIMESTAMP),
        latest AS (SELECT * FROM good QUALIFY row_number() OVER (
            PARTITION BY transaction_id ORDER BY transaction_time DESC) = 1)
        SELECT CAST(transaction_time AS DATE), currency, sum(amount), count(*)
        FROM latest GROUP BY ALL ORDER BY ALL""").fetchall()
    gold = con.execute(f"""
        SELECT transaction_date, currency, total_amount, n
        FROM {_pq(os.path.join(iter_dir, "gold"))} ORDER BY ALL""").fetchall()
    if not oracle:
        raise CheckFailed("gold oracle is empty")
    expect("gold groups", len(gold), len(oracle))
    for g, o in zip(gold, oracle):
        expect("gold row", (g[0], g[1], Decimal(g[2]), int(g[3])), (o[0], o[1], Decimal(o[2]), int(o[3])))


def curation(iter_dir: str, expected: dict) -> None:
    con = _con()
    rows = con.execute(
        f"SELECT DISTINCT doc_id, split FROM {_pq(os.path.join(iter_dir, 'chunks'))}"
    ).fetchall()
    split_of: dict[int, str] = {}
    for doc, split in rows:
        if split_of.setdefault(doc, split) != split:
            raise CheckFailed(f"doc {doc} has chunks in splits {split_of[doc]} and {split}")
    survivors = sorted(split_of)
    if survivors != expected["survivors"]:
        extra = sorted(set(survivors) - set(expected["survivors"]))[:5]
        missing = sorted(set(expected["survivors"]) - set(survivors))[:5]
        raise CheckFailed(
            f"survivors: got {len(survivors)}, expected {len(expected['survivors'])} "
            f"(unexpected {extra}, missing {missing})")
    for members in expected["clusters"]:
        splits = {split_of[d] for d in members}
        if len(splits) != 1:
            raise CheckFailed(f"cluster {members} straddles splits {sorted(splits)}")


def stream(iter_dir: str, expected: dict, batches: int) -> None:
    expect("micro-batches", batches, expected["batches"])
    con = _con()
    ledger = os.path.join(iter_dir, "ledger")
    entries, distinct = con.execute(
        f"SELECT count(*), count(DISTINCT (epoch, sink)) FROM {_pq(ledger)}").fetchone()
    expect("ledger rows without redelivery", entries, distinct)
    for sink in ("bronze", "silver"):
        ledgered = con.execute(
            f"SELECT sum(rows) FROM {_pq(ledger)} WHERE sink = '{sink}'").fetchone()[0]
        expect(f"{sink} ledgered rows", ledgered, expected[f"{sink}_rows"])
        n, ids = con.execute(f"""
            SELECT count(*), count(DISTINCT event_id) FROM {_pq(os.path.join(iter_dir, sink))}
            WHERE _epoch IN (SELECT epoch FROM {_pq(ledger)} WHERE sink = '{sink}')""").fetchone()
        expect(f"{sink} committed rows", n, expected[f"{sink}_rows"])
        expect(f"{sink} distinct event_id", ids, n)
    q = con.execute(f"SELECT count(*) FROM {_pq(os.path.join(iter_dir, 'quarantine'))}").fetchone()[0]
    expect("quarantine rows", q, expected["quarantine_rows"])
