"""Seeded input generators for the pipeline benchmark.

Each generator writes its workload's input files under ``<work>/input`` and
returns a ``Workload``: the input files, the facts the output checks need
(exact counts known by construction), the input properties recorded with
the metrics, and a function that writes the pipeline config for one
iteration into that iteration's own directory.  The pipelines see only
these files and the generated config.  The same seed gives byte-identical
inputs.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import yaml

# Input sizes.  Each is fixed here so that every seed gives the same amount
# of work; only the values change with the seed.
PAYMENT_ROWS = 30_000
PAYMENT_FILES = 8
PAYMENT_DAYS = 28
MERCHANTS = 500
BAD_SHARE = 0.05  # rows violating exactly one DQ rule each
REPEAT_SHARE = 0.20  # good transaction ids that also carry a later status

CURATION_DOCS = 200
CURATION_FILES = 1
NEAR_DUP_SHARE = 0.20  # docs that are planted variants of another doc
REJECT_SHARE = 0.10  # docs the quality / compressibility filters drop

EVENTS = 30_000
EVENT_FILES = 5
EVENT_BAD_SHARE = 0.05
MAX_FILES_PER_TRIGGER = 1

CURRENCIES = ["USD", "EUR", "GBP", "JPY"]
STATUSES_LATER = ["completed", "failed", "cancelled"]
METHODS = ["credit_card", "debit_card", "bank_transfer", "wallet"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]


@dataclass
class Workload:
    name: str
    why: str
    input_rows: int
    input_files: list[str]
    expected: dict
    props: dict
    write_config: Callable[[str], str]
    # layer -> the end-to-end metrics its per-layer numbers should move here
    predictions: dict = field(default_factory=dict)

    @property
    def input_bytes(self) -> int:
        return sum(os.path.getsize(p) for p in self.input_files)


def _write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")


def _split_files(lines: list[str], d: str, stem: str, n: int) -> list[str]:
    os.makedirs(d, exist_ok=True)
    paths = []
    for i, chunk in enumerate(np.array_split(np.arange(len(lines)), n)):
        p = os.path.join(d, f"{stem}-{i:03d}.json")
        _write_lines(p, [lines[j] for j in chunk])
        paths.append(p)
    return paths


def _dump_config(raw: dict, iter_dir: str) -> str:
    os.makedirs(iter_dir, exist_ok=True)
    path = os.path.join(iter_dir, "pipeline.yaml")
    with open(path, "w") as fh:
        yaml.safe_dump(raw, fh, sort_keys=False)
    return path


# --------------------------------------------------------------------------
# medallion_batch: payments bronze -> silver -> gold
# --------------------------------------------------------------------------
def payments(seed: int, work: str, registry: str) -> Workload:
    rng = np.random.default_rng(seed)
    n_bad = int(PAYMENT_ROWS * BAD_SHARE)
    n_good = PAYMENT_ROWS - n_bad
    n_ids = int(round(n_good / (1 + REPEAT_SHARE)))
    n_repeat = n_good - n_ids
    base = datetime(2024, 1, 1)
    secs = rng.integers(0, PAYMENT_DAYS * 86400 - 7200, n_ids)
    later = rng.integers(1, 7200, n_repeat)  # strictly later: no dedup ties
    cents = rng.integers(100, 500_000, n_good)
    cur = rng.integers(0, len(CURRENCIES), n_good)
    meth = rng.integers(0, len(METHODS) + 1, n_good)  # last index -> null
    merch = rng.integers(0, MERCHANTS, n_good)
    cust = rng.integers(0, 50_000, n_good)
    later_status = rng.integers(0, len(STATUSES_LATER), n_repeat)
    repeated = rng.choice(n_ids, n_repeat, replace=False)

    def row(tid, ts, k, status, **bad):
        r = {
            "transaction_id": tid,
            "customer_id": f"C{cust[k]:06d}",
            "amount": f"{cents[k] // 100}.{cents[k] % 100:02d}",
            "currency": CURRENCIES[cur[k]],
            "transaction_status": status,
            "transaction_time": ts.strftime("%Y-%m-%dT%H:%M:%S"),
            "merchant_id": f"M{merch[k]:04d}",
            "payment_method": METHODS[meth[k]] if meth[k] < len(METHODS) else None,
        }
        r.update(bad)
        # amounts are JSON numbers with exactly two decimals; every other
        # value is a plain string or null
        return "{" + ", ".join(
            f'"{c}": {v}' if c == "amount" else f'"{c}": "{v}"' if v is not None else f'"{c}": null'
            for c, v in r.items()
        ) + "}"

    lines = []
    for i in range(n_ids):
        lines.append(row(f"T{i:08d}", base + timedelta(seconds=int(secs[i])), i, "pending"))
    for j, i in enumerate(repeated):
        ts = base + timedelta(seconds=int(secs[i] + later[j]))
        lines.append(row(f"T{i:08d}", ts, n_ids + j, STATUSES_LATER[later_status[j]]))
    # each bad row breaks exactly one rule, so the quarantine count is exact
    bad_kinds = [
        {"amount": "-5.00"},
        {"currency": "XXX"},
        {"transaction_status": "unknown"},
        {"payment_method": "cash"},
        {"transaction_time": "2099-01-01T00:00:00"},
        {"transaction_id": None},
    ]
    for b in range(n_bad):
        k = int(rng.integers(0, n_good))
        ts = base + timedelta(seconds=int(secs[k % n_ids]))
        lines.append(row(f"B{b:08d}", ts, k, "completed", **bad_kinds[b % len(bad_kinds)]))
    order = rng.permutation(len(lines))
    lines = [lines[i] for i in order]
    inp = os.path.join(work, "input")
    files = _split_files(lines, os.path.join(inp, "payments"), "payments", PAYMENT_FILES)

    dim_path = os.path.join(inp, "merchants")
    os.makedirs(dim_path, exist_ok=True)
    cats = ["grocery", "travel", "fuel", "online", "dining"]
    pq.write_table(
        pa.table({
            "merchant_id": [f"M{i:04d}" for i in range(MERCHANTS)],
            "merchant_name": [f"merchant-{i}" for i in range(MERCHANTS)],
            "merchant_category": [cats[int(c)] for c in rng.integers(0, len(cats), MERCHANTS)],
        }),
        os.path.join(dim_path, "part-0.parquet"),
    )

    def write_config(iter_dir: str) -> str:
        out = {k: os.path.join(iter_dir, k) for k in ("bronze", "quarantine", "silver", "gold")}
        return _dump_config({
            "env": "bench",
            "schema_registry_path": registry,
            "jobs": [
                {
                    "name": "payments-bronze",
                    "layer": "bronze",
                    "source_system": "payments-files",
                    "source": {"type": "json", "options": {
                        "path": os.path.join(inp, "payments"), "format": "json"}},
                    "schema": {"domain": "payments", "dataset": "transactions", "version": "v1"},
                    "data_quality": {
                        "on_fail": "QUARANTINE",
                        "derive_from_schema": True,
                        "checks": [{"type": "freshness", "column": "transaction_time"}],
                        "quarantine_path": out["quarantine"],
                    },
                    "transforms": [{"op": "derive_column", "name": "transaction_date",
                                    "expr": "to_date(transaction_time)"}],
                    "target": {"format": "parquet", "options": {
                        "path": out["bronze"], "mode": "append",
                        "partition_by": ["transaction_date"]}},
                },
                {
                    "name": "payments-silver",
                    "layer": "silver",
                    "source_system": "payments-bronze",
                    "source": {"type": "parquet", "options": {"path": out["bronze"]}},
                    "transforms": [
                        {"op": "dedup", "keys": ["transaction_id"],
                         "order_by": ["transaction_time"]},
                        {"op": "enrich", "dim_path": dim_path, "on": ["merchant_id"],
                         "select": ["merchant_name", "merchant_category"]},
                    ],
                    "target": {"format": "parquet", "options": {
                        "path": out["silver"], "mode": "overwrite"}},
                },
                {
                    "name": "payments-gold",
                    "layer": "gold",
                    "source_system": "payments-silver",
                    "source": {"type": "parquet", "options": {"path": out["silver"]}},
                    "transforms": [{"op": "aggregate",
                                    "group_by": ["transaction_date", "currency"],
                                    "aggs": [{"func": "sum", "column": "amount", "alias": "total_amount"},
                                             {"func": "count", "column": "transaction_id", "alias": "n"}]}],
                    "target": {"format": "parquet", "options": {
                        "path": out["gold"], "mode": "overwrite"}},
                },
            ],
        }, iter_dir)

    return Workload(
        name="medallion_batch",
        why=("the reference's own surface: JSON scan, schema-derived DQ with quarantine and "
             "date-partitioned writes do most of the work; operators do little"),
        input_rows=len(lines),
        input_files=files,
        expected={
            "bronze_rows": n_good,
            "quarantine_rows": n_bad,
            "silver_rows": n_ids,
            "input_glob": os.path.join(inp, "payments", "*.json"),
        },
        props={
            "bad_row_share": n_bad / len(lines),
            "repeated_id_share": n_repeat / n_ids,
            "days": PAYMENT_DAYS,
            "merchants": MERCHANTS,
        },
        write_config=write_config,
        predictions={
            "sources": ["job_s", "executor_cpu_s"],
            "schema_validator": ["job_s"],
            "dq": ["job_s", "rows_per_s"],
            "sinks": ["files_written", "write_amplification", "job_s"],
            "schema_registry": ["cold_job_s"],
            "operators": ["job_s (little)"],
        },
    )


# --------------------------------------------------------------------------
# curation: quality -> compress -> line dedup -> near-dup drop -> split -> chunk
# --------------------------------------------------------------------------
# Near-dup design on word 3-shingles (Jaccard):
#   base doc of BASE_WORDS words, replaced words >= 3 positions apart, so
#   k replacements change exactly 3k of the BASE_WORDS-2 shingles.
#   tight variant (k=2): J = 112/124 = 0.90 vs base  -> dropped at 0.8
#   loose variant (k=8): J =  94/142 = 0.66 vs base  -> kept, but clusters
#   with its base at 0.5, so the split must keep them together.
BASE_WORDS = 120
LINE_WORDS = 12
TIGHT_EDITS = 2
LOOSE_EDITS = 8
DROP_THRESHOLD = 0.8
SPLIT_THRESHOLD = 0.5
BOILERPLATE = [
    "accept all cookies to continue browsing this site",
    "subscribe to our newsletter for weekly updates",
    "all rights reserved terms of use privacy policy",
]


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        ln = int(rng.integers(4, 9))
        words.add("".join(rng.choice(letters, ln)))
    return sorted(words)


def corpus(seed: int, work: str) -> Workload:
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 20_000)
    n_docs = CURATION_DOCS
    n_reject = int(n_docs * REJECT_SHARE)
    n_variant = int(n_docs * NEAR_DUP_SHARE)
    # every planted cluster is base + one tight + one loose variant
    n_clusters = n_variant // 2
    n_variant = 2 * n_clusters
    n_single = n_docs - n_reject - n_variant - n_clusters

    def words(k: int) -> list[str]:
        return [vocab[i] for i in rng.integers(0, len(vocab), k)]

    def to_text(ws: list[str], boiler: bool) -> str:
        lines = [
            "the " + " ".join(ws[i:i + LINE_WORDS])
            for i in range(0, len(ws), LINE_WORDS)
        ]
        if boiler:
            lines.insert(int(rng.integers(0, len(lines) + 1)),
                         BOILERPLATE[int(rng.integers(0, len(BOILERPLATE)))])
        return "\n".join(lines)

    def edit(ws: list[str], k: int) -> list[str]:
        out = list(ws)
        slots = rng.choice(np.arange(1, len(ws) // 3 - 1), k, replace=False) * 3
        for p in slots:
            out[int(p)] = vocab[int(rng.integers(0, len(vocab)))] + "x"
        return out

    units = []  # each unit keeps its docs' relative id order
    for c in range(n_clusters):
        ws = words(BASE_WORDS)
        units.append([("base", c, ws), ("tight", c, edit(ws, TIGHT_EDITS)),
                      ("loose", c, edit(ws, LOOSE_EDITS))])
    for _ in range(n_single):
        units.append([("single", -1, words(int(rng.integers(80, 200))))])
    for r in range(n_reject):
        if r % 2 == 0:  # too short for quality_filter's min_tokens
            units.append([("short", -1, words(int(rng.integers(5, 20))))])
        else:  # a short phrase looped: zlib compresses it far below min_ratio
            units.append([("looped", -1, words(30) * 8)])
    # base < tight < loose inside a cluster, so near_dup_drop's min-id
    # representative is always the base doc
    docs = [d for i in rng.permutation(len(units)) for d in units[i]]
    rows = []
    survivors = []
    clusters: dict[int, list[int]] = {}
    for doc_id, (kind, c, ws) in enumerate(docs, start=1):
        boiler = kind in ("single", "base") and rng.random() < 0.3
        rows.append((doc_id, to_text(ws, boiler), f"site{int(rng.integers(0, 8))}"))
        if kind in ("single", "base", "loose"):
            survivors.append(doc_id)
        if c >= 0 and kind != "tight":
            clusters.setdefault(c, []).append(doc_id)
    lines = [json.dumps({"doc_id": d, "text": t, "source": s}) for d, t, s in rows]
    inp = os.path.join(work, "input")
    files = _split_files(lines, os.path.join(inp, "docs"), "docs", CURATION_FILES)

    def write_config(iter_dir: str) -> str:
        nd = {"text_col": "text", "n": 3, "mode": "word"}
        return _dump_config({
            "env": "bench",
            "jobs": [{
                "name": "curate-documents",
                "layer": "silver",
                "source_system": "web-crawl",
                "source": {"type": "json", "options": {
                    "path": os.path.join(inp, "docs"), "format": "json",
                    "infer": "true"}},
                "transforms": [
                    {"op": "quality_filter", "min_tokens": 30, "min_distinct_ratio": 0.05,
                     "keep_only": True},
                    {"op": "compress_filter", "min_ratio": 0.2, "keep_only": True},
                    {"op": "line_dedup", "max_occurrences": 4},
                    {"op": "near_dup_drop", "id_col": "doc_id",
                     "near_dup": dict(nd, threshold=DROP_THRESHOLD)},
                    {"op": "leakage_safe_split", "id_col": "doc_id",
                     "near_dup": dict(nd, threshold=SPLIT_THRESHOLD),
                     "fractions": {"train": 0.8, "val": 0.1, "test": 0.1},
                     "assignments_path": os.path.join(iter_dir, "assignments")},
                    {"op": "chunk", "chunk_size": 64, "stride": 48,
                     "keep": ["split", "source"]},
                ],
                "target": {"format": "parquet", "options": {
                    "path": os.path.join(iter_dir, "chunks"), "mode": "overwrite"}},
            }],
        }, iter_dir)

    return Workload(
        name="curation",
        why=("operators dominate: Jaccard join, connected components, sticky split and the "
             "Python/Arrow crossing in compress_filter; sources, DQ and sinks are small"),
        input_rows=len(lines),
        input_files=files,
        expected={"survivors": sorted(survivors), "clusters": list(clusters.values())},
        props={
            "near_dup_share": n_variant / n_docs,  # planted variants of another doc
            "dropped_dup_share": n_clusters / n_docs,  # the tight ones near_dup_drop drops
            "quality_reject_share": n_reject / n_docs,
            "boilerplate_lines": len(BOILERPLATE),
        },
        write_config=write_config,
        predictions={
            "operators": ["job_s", "shuffle_bytes", "executor_cpu_s"],
            "pipeline": ["job_s", "peak_rss_mb"],
            "sources": ["job_s (little)"],
            "sinks": ["files_written (little)"],
        },
    )


# --------------------------------------------------------------------------
# stream_fanout: clickstream file stream -> DQ -> ledgered bronze/silver
# --------------------------------------------------------------------------
def events(seed: int, work: str, registry: str) -> Workload:
    rng = np.random.default_rng(seed)
    n_bad = int(EVENTS * EVENT_BAD_SHARE)
    n = EVENTS
    types = rng.integers(0, len(EVENT_TYPES), n)
    users = rng.integers(1, 20_000, n)
    vals = rng.integers(0, 100_000, n)
    base = datetime(2024, 3, 1)
    secs = np.sort(rng.integers(0, 7 * 86400, n))
    bad_at = set(int(i) for i in rng.choice(n, n_bad, replace=False))
    bad_kinds = [
        {"value": -1.0},
        {"event_type": "bogus"},
        {"user_id": None},
    ]
    lines = []
    silver = 0
    b = 0
    for i in range(n):
        r = {
            "event_id": i + 1,
            "user_id": int(users[i]),
            "event_type": EVENT_TYPES[types[i]],
            "ts": (base + timedelta(seconds=int(secs[i]))).strftime("%Y-%m-%dT%H:%M:%S"),
            "value": vals[i] / 100.0,
        }
        if i in bad_at:
            r.update(bad_kinds[b % len(bad_kinds)])
            b += 1
        elif r["event_type"] != "view":
            silver += 1
        lines.append(json.dumps(r))
    inp = os.path.join(work, "input")
    files = _split_files(lines, os.path.join(inp, "events"), "events", EVENT_FILES)

    def write_config(iter_dir: str) -> str:
        return _dump_config({
            "env": "bench",
            "schema_registry_path": registry,
            "jobs": [{
                "name": "clickstream-fanout",
                "layer": "bronze",
                "source_system": "web",
                "source": {"type": "json", "options": {
                    "path": os.path.join(inp, "events"), "format": "json",
                    "streaming": "true",
                    "maxFilesPerTrigger": str(MAX_FILES_PER_TRIGGER)}},
                "schema": {"domain": "clickstream", "dataset": "user_events", "version": "v1"},
                "data_quality": {
                    "on_fail": "QUARANTINE",
                    "derive_from_schema": True,
                    "quarantine_path": os.path.join(iter_dir, "quarantine"),
                },
                "target": {"format": "fanout", "options": {
                    "ledger_path": os.path.join(iter_dir, "ledger"),
                    "checkpoint_location": os.path.join(iter_dir, "checkpoint"),
                    "trigger_interval": "availableNow",
                    "sinks": {
                        "bronze": {"path": os.path.join(iter_dir, "bronze")},
                        "silver": {"path": os.path.join(iter_dir, "silver"),
                                   "select": ["event_id", "user_id", "event_type", "ts"],
                                   "where": "event_type <> 'view'"},
                    },
                }},
            }],
        }, iter_dir)

    return Workload(
        name="stream_fanout",
        why=("same sources/DQ/sinks code as bronze but as many small micro-batches: "
             "per-action fixed cost and the epoch ledger dominate"),
        input_rows=n,
        input_files=files,
        expected={
            "bronze_rows": n - n_bad,
            "silver_rows": silver,
            "quarantine_rows": n_bad,
            "batches": -(-EVENT_FILES // MAX_FILES_PER_TRIGGER),
        },
        props={
            "bad_row_share": n_bad / n,
            "rows_per_batch": n / EVENT_FILES * MAX_FILES_PER_TRIGGER,
            "max_files_per_trigger": MAX_FILES_PER_TRIGGER,
        },
        write_config=write_config,
        predictions={
            "streaming": ["batch_ms_p50", "rows_per_s"],
            "dq": ["batch_ms_p50", "rows_per_s"],
            "sinks": ["files_written", "write_amplification", "batch_ms_p50"],
            "pipeline": ["job_s", "peak_rss_mb"],
            "schema_registry": ["cold_job_s"],
        },
    )


def generate(workload: str, seed: int, work: str, registry: str) -> Workload:
    if workload == "medallion_batch":
        return payments(seed, work, registry)
    if workload == "curation":
        return corpus(seed, work)
    if workload == "stream_fanout":
        return events(seed, work, registry)
    raise ValueError(f"unknown workload {workload!r}")
