"""Config-driven streaming sticky-split sink.

Declarative face of ``streaming/curation.sticky_split_foreach_batch``:
a streaming (or batch) job whose TARGET is the curation split — each
micro-batch gets near-dup-cluster-safe, sticky train/val/test labels
against the persisted index/label/assignment state, and the labeled
rows land at ``path``:

```yaml
target:
  format: sticky_split
  options:
    path: /data/splits/docs
    state_dir: /data/splits/state
    threshold: 0.3
    fractions: {train: 0.8, val: 0.1, test: 0.1}
    audit_path: /data/splits/audit        # optional
    ledger_path: /data/splits/ledger      # optional: exactly-once output
    conflict_action: quarantine_eval      # optional: report (default) /
                                          # quarantine_eval / drop_cluster
    compact_every: 100                    # optional: fold the state delta
                                          # logs every N epochs
```

``conflict_action`` decides what happens to clusters whose merge
joined already-differently-split docs (pre-existing leakage —
``operators/split_guard.apply_conflict_policy``): report them in the
audit only, force them into the first (train) split, or withhold them
from the output entirely.

With ``ledger_path`` the labeled output routes through
``streaming/multi_sink.write_epoch`` — epoch-partitioned idempotent
writes plus the commit ledger — so a redelivered micro-batch REPLACES
its own output instead of appending a duplicate copy (the curation
states are already replay-idempotent on their own; the ledger extends
that to the output table). Without it, output is a plain parquet
append (fine under availableNow/run-once).

The state layout is shared with the batch pipeline's
``leakage_safe_split`` stage (``labels_path``/``assignments_path``):
stream and backfill maintain ONE split state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.sinks.base import (
    BaseWriter,
    WriteOptions,
    register_writer,
)


def _fractions(opts: WriteOptions) -> dict[str, float]:
    from lakehouse_ingestion_spark.hocon import unflatten_keys

    # dotted-key flattening (HOCON convention): fractions.train: 0.8
    raw = unflatten_keys(opts.options, ("fractions",)).get("fractions")
    if not isinstance(raw, dict) or not raw:
        raise ConfigError(
            "sticky_split target needs options.fractions (name -> share)"
        )
    return {str(k): float(v) for k, v in raw.items()}


def _build_fn(opts: WriteOptions):
    from lakehouse_ingestion_spark.streaming.curation import (
        sticky_split_foreach_batch,
    )

    o = opts.options
    state_dir = o.get("state_dir")
    if not state_dir:
        raise ConfigError("sticky_split target needs options.state_dir")
    if "threshold" not in o:
        raise ConfigError("sticky_split target needs options.threshold")
    out_path = opts.target
    ledger = o.get("ledger_path")
    if ledger is None:
        def sink(df: DataFrame, _e: int) -> None:
            df.write.mode("append").parquet(out_path)
    else:
        def sink(df: DataFrame, e: int) -> None:
            from lakehouse_ingestion_spark.streaming.multi_sink import (
                SinkSpec,
                write_epoch,
            )

            write_epoch(df, {"split": SinkSpec(out_path)}, ledger, e)

    audit_path = o.get("audit_path")
    audit_sink = None
    if audit_path is not None:
        def audit_sink(df: DataFrame, _e: int) -> None:
            df.write.mode("append").parquet(audit_path)

    return sticky_split_foreach_batch(
        state_dir,
        _fractions(opts),
        float(o["threshold"]),
        sink=sink,
        id_col=o.get("id_col", "doc_id"),
        text_col=o.get("text_col", "text"),
        seed=o.get("seed", "split"),
        split_col=o.get("split_col", "split"),
        rep_col=o.get("rep_col", "rep"),
        audit_sink=audit_sink,
        shingle_n=int(o.get("shingle_n", 3)),
        num_hashes=int(o.get("num_hashes", 64)),
        num_bands=int(o.get("num_bands", 8)),
        lsh_seed=int(o.get("lsh_seed", 42)),
        posting_cap=(
            int(o["posting_cap"]) if "posting_cap" in o else None
        ),
        conflict_action=o.get("conflict_action", "report"),
        compact_every=(
            int(o["compact_every"]) if "compact_every" in o else None
        ),
    )


@register_writer("sticky_split")
class StickySplitWriter(BaseWriter):
    aliases = ["curation_split"]
    option_keys = frozenset(
        {
            "fractions", "state_dir", "threshold", "ledger_path",
            "audit_path", "id_col", "text_col", "seed", "split_col",
            "rep_col", "shingle_n", "num_hashes", "num_bands", "lsh_seed",
            "posting_cap", "conflict_action", "compact_every", "run_epoch",
        }
    )
    option_key_prefixes = ("fractions",)

    def write_batch(self, df: DataFrame, opts: WriteOptions) -> None:
        _build_fn(opts)(df, int(opts.options.get("run_epoch", 0)))

    def write_epoch_batch(
        self, df: DataFrame, opts: WriteOptions, epoch_id: int
    ) -> None:
        """Per-micro-batch entry used by the streaming pipeline."""
        _build_fn(opts)(df, epoch_id)

    def write_streaming(self, df: DataFrame, opts: WriteOptions):
        raise ConfigError(
            "sticky_split is driven per micro-batch via foreachBatch; use"
            " a streaming job (source streaming), not writeStream"
        )
