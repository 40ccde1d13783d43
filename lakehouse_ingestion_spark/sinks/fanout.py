"""Config-driven exactly-once fan-out sink (multiple targets, one job).

Declarative face of ``streaming/multi_sink.py`` — the reference NAMES
exactly-once-across-sinks as an open difficulty
(`docs/01-problem-statement.md:27`); this writer makes the solution a
pipeline-spec primitive:

```yaml
target:
  format: fanout
  options:
    ledger_path: /data/ledger/events
    sinks:
      bronze: {path: /data/bronze/events}
      silver: {path: /data/silver/events,
               select: [event_id, user_id, ts],
               where: "event_type IS NOT NULL"}
```

Per-sink shaping is declarative on purpose (``select`` columns +
``where`` predicate): a config file cannot carry a lambda, and the
transforms must be deterministic for epoch redelivery to converge.

Streaming jobs route here through the pipeline's per-epoch hook
(``write_epoch_batch``), so every micro-batch is idempotent under
redelivery and ledgered. Batch jobs write as epoch
``options.run_epoch`` (default 0) with ``force=True`` — the ledger's
already-written skip is for streaming crash redelivery, not deliberate
re-runs, so a batch re-run always rewrites its epoch partition and
REPLACES previous output (even with changed input) instead of
double-appending or silently no-opping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.sinks.base import (
    BaseWriter,
    WriteOptions,
    register_writer,
)


def _specs(opts: WriteOptions):
    from lakehouse_ingestion_spark.hocon import unflatten_keys
    from lakehouse_ingestion_spark.streaming.multi_sink import SinkSpec

    ledger = opts.options.get("ledger_path")
    # config normalization flattens nested option maps to dotted keys
    # (the HOCON convention): rebuild sinks.<name>.<field>
    raw = unflatten_keys(opts.options, ("sinks",), depth=2).get("sinks")
    if not ledger or not isinstance(raw, dict) or not raw:
        raise ConfigError(
            "fanout target needs options.ledger_path and a non-empty"
            " options.sinks mapping"
        )
    specs: dict[str, SinkSpec] = {}
    for name, s in raw.items():
        if not isinstance(s, dict) or "path" not in s:
            raise ConfigError(f"fanout sink {name!r} needs a 'path'")
        select = s.get("select")
        where = s.get("where")

        def _tf(df: DataFrame, _sel=select, _whr=where) -> DataFrame:
            out = df
            if _whr:
                out = out.where(_whr)
            if _sel:
                out = out.select(*_sel)
            return out

        specs[name] = SinkSpec(
            path=s["path"],
            transform=_tf if (select or where) else None,
        )
    return specs, ledger


@register_writer("fanout")
class FanoutWriter(BaseWriter):
    aliases = ["multi", "multi_sink"]
    option_keys = frozenset({"ledger_path", "sinks", "run_epoch"})
    option_key_prefixes = ("sinks",)

    def write_batch(self, df: DataFrame, opts: WriteOptions) -> None:
        from lakehouse_ingestion_spark.streaming.multi_sink import write_epoch

        specs, ledger = _specs(opts)
        # force: a batch RE-run is a deliberate replay, not a crash
        # redelivery — rewrite the epoch partition even if ledgered
        write_epoch(
            df,
            specs,
            ledger,
            int(opts.options.get("run_epoch", 0)),
            force=True,
        )

    def write_epoch_batch(
        self, df: DataFrame, opts: WriteOptions, epoch_id: int
    ) -> None:
        """Per-micro-batch entry used by the streaming pipeline: the
        stream's epoch id keys the idempotence partitions."""
        from lakehouse_ingestion_spark.streaming.multi_sink import write_epoch

        specs, ledger = _specs(opts)
        write_epoch(df, specs, ledger, epoch_id)

    def write_streaming(self, df: DataFrame, opts: WriteOptions):
        # direct writeStream is not the fan-out path — the pipeline's
        # foreachBatch loop calls write_epoch_batch per micro-batch
        # (schema validation + DQ run inside the same batch closure)
        raise ConfigError(
            "fanout is driven per micro-batch via foreachBatch; use a"
            " streaming job (source.streaming=true), not writeStream"
        )
