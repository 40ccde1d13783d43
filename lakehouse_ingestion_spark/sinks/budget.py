"""Config-driven budget-admission sink: ``target: format: budget_admit``.

```yaml
target:
  format: budget_admit
  options:
    path: /data/budget/admitted        # epoch-partitioned output
    ledger_path: /data/budget/ledger   # (epoch, rows, batch_cost, spent_after)
    score_col: quality
    cost_col: n_tokens
    budget: 1000000000
    key_col: doc_id
```

Streaming: each micro-batch admits its best rows into whatever budget
remains (``streaming/budget.admit_epoch`` — ledger-replay-safe).
Batch: the whole frame is one epoch (``run_epoch`` option, default 0),
so backfills and streams share the same ledger and the budget holds
across both.

Per-stratum quotas: add ``strata_col`` plus either a ``budgets``
mapping (stratum -> budget; ``default_budget`` for missing strata,
0 = drop) or a uniform ``budget`` int — each stratum then fills its
OWN quota across batches via a (epoch, stratum) ledger
(``streaming/budget.admit_epoch_stratified``):

```yaml
target:
  format: budget_admit
  options:
    path: /data/budget/admitted
    ledger_path: /data/budget/ledger
    strata_col: domain
    budgets: {wiki: 500000000, web: 300000000}
    default_budget: 0
    score_col: quality
    cost_col: n_tokens
    key_col: doc_id
```

Mass-share (top-p) mode: give ``p`` instead of a budget — each epoch
admits its best rows until the admitted mass covers fraction ``p`` of
ALL score mass seen so far (``streaming/budget.admit_epoch_share``, the
streaming sibling of ``operators/selection.top_p_select``):

```yaml
target:
  format: budget_admit
  options:
    path: /data/share/admitted
    ledger_path: /data/share/ledger
    score_col: quality
    p: 0.9
    key_col: doc_id
```

Per-stratum shares: add ``strata_col``; ``p`` may then be a mapping
(missing strata get ``default_p``, 0.0 = drop) —
``streaming/budget.admit_epoch_share_stratified``:

```yaml
target:
  format: budget_admit
  options:
    path: /data/share/admitted
    ledger_path: /data/share/ledger
    strata_col: lang
    score_col: quality
    p: {en: 0.9, de: 0.5}
    default_p: 0.0
    key_col: doc_id
```
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.sinks.base import (
    BaseWriter,
    WriteOptions,
    register_writer,
)


def _params(opts: WriteOptions):
    from lakehouse_ingestion_spark.hocon import unflatten_keys

    # config loading flattens target options to dotted keys (Kafka-style
    # dotted scalars stay flat), so a `budgets: {wiki: 5}` mapping
    # arrives as `budgets.wiki: 5` and must be nested again
    o = unflatten_keys(opts.options, ("p", "budgets"))
    if "p" in o:
        # mass-share admission ("keep the docs carrying p of the quality
        # mass seen so far") — no cost column, the score IS the mass;
        # add strata_col for per-stratum shares (p may then be a mapping)
        for req in ("ledger_path", "score_col"):
            if req not in o:
                raise ConfigError(f"budget_admit target needs options.{req}")
        for clash in ("budget", "budgets", "cost_col"):
            if clash in o:
                raise ConfigError(
                    f"budget_admit options.p (mass-share mode) conflicts "
                    f"with options.{clash} — share admission has no quota "
                    "surface"
                )
        raw_p = o["p"]
        common = dict(
            out_path=opts.target,
            ledger_path=o["ledger_path"],
            score_col=o["score_col"],
            key_col=o.get("key_col", "doc_id"),
            cum_col=o.get("cum_col", "cum_score"),
        )
        if "strata_col" in o:
            return dict(
                common,
                strata_col=o["strata_col"],
                p={k: float(v) for k, v in raw_p.items()}
                if isinstance(raw_p, dict)
                else float(raw_p),
                default_p=float(o.get("default_p", 0.0)),
            )
        if isinstance(raw_p, dict):
            raise ConfigError(
                "budget_admit options.p as a per-stratum mapping requires "
                "options.strata_col"
            )
        return dict(common, p=float(raw_p))
    budget_key = "budgets" if "budgets" in o else "budget"
    for req in ("ledger_path", "score_col", "cost_col", budget_key):
        if req not in o:
            raise ConfigError(f"budget_admit target needs options.{req}")
    common = dict(
        out_path=opts.target,
        ledger_path=o["ledger_path"],
        score_col=o["score_col"],
        cost_col=o["cost_col"],
        key_col=o.get("key_col", "doc_id"),
        cum_col=o.get("cum_col", "cum_cost"),
    )
    if "strata_col" in o:
        # per-stratum quotas: options.budgets mapping (or a uniform
        # options.budget int) routed through admit_epoch_stratified
        raw = o.get("budgets", o.get("budget"))
        budgets = (
            {k: int(v) for k, v in raw.items()}
            if isinstance(raw, dict)
            else int(raw)
        )
        return dict(
            common,
            strata_col=o["strata_col"],
            budgets=budgets,
            default_budget=int(o.get("default_budget", 0)),
        )
    if "budgets" in o:
        raise ConfigError(
            "budget_admit options.budgets (per-stratum mapping) requires "
            "options.strata_col"
        )
    return dict(common, budget=int(o["budget"]))


def _admit(df: DataFrame, epoch_id: int, opts: WriteOptions) -> None:
    from lakehouse_ingestion_spark.streaming.budget import (
        admit_epoch,
        admit_epoch_share,
        admit_epoch_share_stratified,
        admit_epoch_stratified,
    )

    params = _params(opts)
    if "p" in params:
        fn = (
            admit_epoch_share_stratified
            if "strata_col" in params
            else admit_epoch_share
        )
    elif "strata_col" in params:
        fn = admit_epoch_stratified
    else:
        fn = admit_epoch
    fn(df, epoch_id, **params)


@register_writer("budget_admit")
class BudgetAdmitWriter(BaseWriter):
    aliases = ["token_budget"]
    option_keys = frozenset(
        {
            "ledger_path", "score_col", "cost_col", "key_col", "cum_col",
            "budget", "budgets", "p", "strata_col", "default_p",
            "default_budget", "run_epoch",
        }
    )
    option_key_prefixes = ("budgets", "p")

    def write_batch(self, df: DataFrame, opts: WriteOptions) -> None:
        _admit(df, int(opts.options.get("run_epoch", 0)), opts)

    def write_epoch_batch(
        self, df: DataFrame, opts: WriteOptions, epoch_id: int
    ) -> None:
        """Per-micro-batch entry used by the streaming pipeline."""
        _admit(df, epoch_id, opts)
