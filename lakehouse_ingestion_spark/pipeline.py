"""Pipeline runner: compile a JobConfig into a DataFrame program and run it.

Parity with reference ``core/IngestionJob.scala:31-163`` (resolve schema ->
read -> validate -> DQ -> write) and ``core/IngestionRunner.scala`` (factory
dispatch + sequential jobs), with the SURVEY-mandated fixes:

- streaming jobs run schema validation + DQ per micro-batch via
  foreachBatch instead of skipping them (reference skips: ``IngestionJob
  .scala:73,87,123-125``);
- streaming queries are returned/managed, not awaited inside the writer;
- QUARANTINE policy actually routes rows (reference stub logs only).

Transform ops and DQ check types are handler tables (``TRANSFORMS``,
``_CHECK_TYPES``).  A handler's keyword-only parameters ARE the option
schema: load-time validation, required keys, defaults, dotted-mapping
rebuild and scalar coercion are all read from its signature
(``_bind``), so adding an op is one handler plus one table entry.
"""

from __future__ import annotations

import functools
import inspect
import logging
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.config import JobConfig, PipelineConfig
from lakehouse_ingestion_spark.dq import checks_from_schema
from lakehouse_ingestion_spark.dq.checks import (
    DriftCheck,
    FreshnessCheck,
    NotNullCheck,
    RangeCheck,
    RegexCheck,
    RowCountCheck,
    SetMembershipCheck,
    UniqueKeyCheck,
)
from lakehouse_ingestion_spark.dq.ruleset import DQRuleSet, OnFailPolicy
from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.operators import (
    add_audit_columns,
    aggregate,
    cdc_apply,
    dedup_exact,
    dedup_latest_by_key,
)
from lakehouse_ingestion_spark.operators.gold import AggSpec
from lakehouse_ingestion_spark.operators.scd import scd2_from_history
from lakehouse_ingestion_spark.schema_registry import SchemaRegistry
from lakehouse_ingestion_spark.schema_validator import conform, validate_or_throw
from lakehouse_ingestion_spark.sinks.base import WriteOptions, get_writer
from lakehouse_ingestion_spark.sources.base import get_reader
from lakehouse_ingestion_spark.streaming.foreach_batch import dq_foreach_batch
from lakehouse_ingestion_spark.streaming.manager import StreamManager

log = logging.getLogger(__name__)

# -- option schemas read from handler signatures ------------------------------
#
# A silently ignored option once selected the wrong sink behavior, so every
# spec is checked at config load, before any Spark work.
# The schema is the handler's keyword-only parameters; parameters with no
# default are required.  A parameter annotated ``dict`` is mapping-valued
# and may arrive dotted-flattened from HOCON/YAML (``winnow.k: 5``).  One
# coercion rule converts YAML scalars: int/float/bool, read from the
# annotation (string-valued under ``from __future__ import annotations``)
# or else from the type of the default; None passes through.

_COERCE = {"int": int, "float": float, "bool": bool}


@functools.cache
def _signature(fn) -> tuple[dict[str, inspect.Parameter], tuple[str, ...]]:
    """(option parameters, mapping-valued option names) of a handler."""
    params = {
        n: p
        for n, p in inspect.signature(fn).parameters.items()
        if p.kind is p.KEYWORD_ONLY
    }
    mappings = tuple(
        n for n, p in params.items() if "dict" in str(p.annotation).split(" | ")
    )
    return params, mappings


def _coerce(what: str, p: inspect.Parameter, v):
    kind = p.annotation if p.annotation is not p.empty else type(p.default).__name__
    conv = _COERCE.get(str(kind).removesuffix(" | None"))
    if conv is None or v is None:
        return v
    try:
        return conv(v)
    except (TypeError, ValueError) as e:
        raise ConfigError(f"option {p.name!r} for {what}: {e}") from None


def _bind(what: str, table: dict, name, options: dict, extra=frozenset()):
    """Look ``name`` up in a handler ``table`` and check ``options``
    against the handler's schema; return the handler and the keyword
    arguments to call it with.  An unknown name, unknown keys (other
    than ``extra``, keys the caller consumes itself) and missing
    required keys raise ConfigError naming the valid set."""
    from lakehouse_ingestion_spark.hocon import unflatten_keys

    fn = table.get(name)
    if fn is None:
        raise ConfigError(f"unknown {what}: {name!r}; known: {sorted(table)}")
    what = f"{what} '{name}'"
    params, mappings = _signature(fn)
    o = unflatten_keys(options, mappings)
    unknown = sorted(k for k in o if k not in params and k not in extra)
    if unknown:
        raise ConfigError(
            f"unknown option(s) {unknown} for {what}; valid keys: "
            f"{sorted(params.keys() | extra)}"
        )
    missing = [n for n, p in params.items() if p.default is p.empty and n not in o]
    if missing:
        raise ConfigError(f"missing required option(s) {missing} for {what}")
    return fn, {k: _coerce(what, params[k], v) for k, v in o.items() if k in params}


# -- DQ checks ------------------------------------------------------------------


def _drift(*, column, ref_mean: float | None = None, ref_std: float | None = None,
           max_sigmas=3.0, ref_null_fraction=None, max_null_fraction_delta=None,
           profile_path=None, profile_column=None):
    # profile_path/profile_column are read by _resolve_drift_spec, which
    # fills ref_mean/ref_std from the stored profile before this runs
    if ref_mean is None or ref_std is None:
        raise ConfigError("drift check needs ref_mean and ref_std, or profile_path")
    return DriftCheck(
        column=column, ref_mean=ref_mean, ref_std=ref_std, max_sigmas=max_sigmas,
        ref_null_fraction=ref_null_fraction,
        max_null_fraction_delta=max_null_fraction_delta,
    )


# spec keys per DQ check type = the factory's keyword-only parameters (plus
# "type"): a misspelled "colunm" or "mins" must fail at load naming the
# valid set, not silently no-op the check
_CHECK_TYPES = {
    "not_null": lambda *, column, failure_threshold=0.0: NotNullCheck(
        column=column, failure_threshold=failure_threshold),
    "range": lambda *, column, min=None, max=None, failure_threshold=0.0: RangeCheck(
        column=column, min_value=min, max_value=max,
        failure_threshold=failure_threshold),
    "regex": lambda *, column, pattern, failure_threshold=0.0: RegexCheck(
        column=column, pattern=pattern, failure_threshold=failure_threshold),
    "unique_key": lambda *, columns, failure_threshold=0.0: UniqueKeyCheck(
        key_columns=list(columns), failure_threshold=failure_threshold),
    "row_count": lambda *, min_rows=None, max_rows=None: RowCountCheck(
        min_rows=min_rows, max_rows=max_rows),
    "in_set": lambda *, column, values, failure_threshold=0.0: SetMembershipCheck(
        column=column, allowed_values=list(values),
        failure_threshold=failure_threshold),
    "freshness": lambda *, column, max_age_hours=None, failure_threshold=0.0: FreshnessCheck(
        column=column, max_age_hours=max_age_hours,
        failure_threshold=failure_threshold),
    "drift": _drift,
}


def validate_check_spec(spec: dict):
    """Load-time schema check for one DQ check spec dict; returns the
    check's factory and keyword arguments."""
    return _bind("DQ check type", _CHECK_TYPES, spec.get("type"), spec, {"type"})


def _resolve_drift_spec(spec: dict, spark) -> dict:
    """Fill a drift check's reference moments from a STORED profile
    (the ``operators/profile.numeric_profile`` output at
    ``profile_path``) so the gate deploys without hand-carried
    constants. Explicit ref_mean/ref_std in the spec win; the stored
    null_fraction is used unless overridden."""
    path = spec.get("profile_path")
    if path is None:
        return spec
    if "ref_mean" in spec or "ref_std" in spec:
        raise ConfigError(
            "drift check: give profile_path OR explicit ref_mean/ref_std,"
            " not both"
        )
    if spark is None:
        raise ConfigError(
            "drift check with profile_path needs a SparkSession "
            "(build_ruleset(..., spark=...))"
        )
    col = spec.get("profile_column", spec["column"])
    rows = {
        r["col_name"]: r for r in spark.read.parquet(path).collect()
    }
    if col not in rows:
        raise ConfigError(
            f"profile at {path!r} has no row for column {col!r} "
            f"(profiled: {sorted(rows)})"
        )
    r = rows[col]
    if r["mean"] is None or r["std"] is None:
        raise ConfigError(
            f"profile row for {col!r} has no mean/std (empty or all-null"
            " reference slice) — cannot gate drift against it"
        )
    out = dict(spec, ref_mean=float(r["mean"]), ref_std=float(r["std"]))
    if "ref_null_fraction" not in out and r["null_fraction"] is not None:
        out["ref_null_fraction"] = float(r["null_fraction"])
    return out


def build_ruleset(job: JobConfig, schema, spark=None) -> DQRuleSet:
    checks = []
    dq = job.data_quality
    if dq is None:
        return DQRuleSet([])
    if dq.derive_from_schema and schema is not None:
        checks.extend(checks_from_schema(schema, failure_threshold=dq.failure_threshold))
    for spec in dq.checks:
        if spec.get("type") == "drift":
            spec = _resolve_drift_spec(spec, spark)
        fn, kwargs = validate_check_spec(spec)
        checks.append(fn(**kwargs))
    return DQRuleSet(checks)


def _read_parquet_if_exists(spark, path: str) -> DataFrame | None:
    """Parquet frame, or None when the path does not exist yet (the
    bootstrap run of a stateful stage)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if (e.getErrorClass() or "") != "PATH_NOT_FOUND":
            raise
        return None


def _maintained_reps(df: DataFrame, pairs: DataFrame, labels_path, a_col, b_col):
    """When the stage declares ``labels_path``, fold this run's pairs
    into the persisted connected-components label table
    (``operators/graph.incremental_components`` — batch-sized CC, no
    history rescan), write the state back, and return the (node, rep)
    frame. None when the stage is not label-maintaining (each run pays
    a full CC over its pair set)."""
    if labels_path is None:
        return None
    from lakehouse_ingestion_spark.operators.graph import (
        incremental_components,
    )
    from lakehouse_ingestion_spark.streaming.curation import current_labels

    prev = _read_parquet_if_exists(df.sparkSession, labels_path)
    if prev is not None:
        # a streaming curation sink maintains the same state as an
        # epoch-partitioned delta log — resolve to current rows first
        # (the flat overwrite below converts the layout back; the
        # stream re-adopts it via its one-time migration)
        prev = current_labels(prev)
    labels = incremental_components(prev, pairs, a_col, b_col)
    # pin before the state overwrite: the updated-label plan READS
    # labels_path when prev is set
    labels = labels.localCheckpoint(eager=True)
    labels.write.mode("overwrite").parquet(labels_path)
    return labels.select("node", F.col("cluster_id").alias("rep"))


def _pairs_frame(df, id_col, a_col, b_col, pairs_path, near_dup, winnow) -> DataFrame:
    """Resolve a near-dup pair frame (doc_a, doc_b) for cluster-aware
    stages: a precomputed table at ``pairs_path`` (columns
    ``a_col``/``b_col``, default doc_a/doc_b — the output of any dedup
    query), computed in-line from ``near_dup: {text_col, threshold,
    n, mode}`` via the exact prefix-filter Jaccard join, or from
    ``winnow: {text_col, k, w, min_shared, max_postings}`` via MOSS
    winnowing fingerprints (operators/winnow.py) — the shared-SPAN
    pair source (copied passages, boilerplate) where Jaccard is the
    bag-of-shingles one."""
    if pairs_path is not None:
        pairs = df.sparkSession.read.parquet(pairs_path)
        for c in (a_col, b_col):
            if c not in pairs.columns:
                raise ConfigError(f"pairs frame lacks column {c!r}")
        return pairs.select(a_col, b_col)
    if near_dup is not None:
        from lakehouse_ingestion_spark.operators.jaccard import jaccard_join

        return jaccard_join(
            df,
            id_col,
            near_dup.get("text_col", "text"),
            n=int(near_dup.get("n", 3)),
            mode=near_dup.get("mode", "word"),
            threshold=float(near_dup["threshold"]),
        ).select(F.col("id_a").alias(a_col), F.col("id_b").alias(b_col))
    if winnow is not None:
        from lakehouse_ingestion_spark.operators.winnow import (
            winnow_fingerprints,
            winnow_overlap,
        )

        fps = winnow_fingerprints(
            df.select(id_col, winnow.get("text_col", "text")),
            text_col=winnow.get("text_col", "text"),
            id_col=id_col,
            k=int(winnow.get("k", 8)),
            w=int(winnow.get("w", 16)),
        )
        return winnow_overlap(
            fps,
            id_col=id_col,
            min_shared=int(winnow.get("min_shared", 2)),
            max_postings=int(winnow.get("max_postings", 50)),
        ).select(F.col("a").alias(a_col), F.col("b").alias(b_col))
    raise ConfigError(
        "cluster-aware stage requires 'pairs_path', 'near_dup' or 'winnow'"
    )


# -- transform handlers: one per op, keyword-only parameters = option schema ---


def _conform(df, schema, *, drop_extra=False):
    # type normalization (SURVEY D13) against the job's registry schema
    if schema is None:
        raise ConfigError("conform transform requires the job to declare a schema")
    return conform(df, schema, drop_extra=drop_extra)


def _dedup(df, *, keys=None, order_by=None, priorities: dict | None = None,
           source_col="source", text_col="text", id_col="doc_id",
           hash_fn="xxhash64", default_priority=0, provenance=True):
    if priorities is not None:
        # cross-source canonicalization: highest-priority source
        # wins per content fingerprint, provenance attached
        from lakehouse_ingestion_spark.operators.dedup import dedup_by_priority

        return dedup_by_priority(
            df, {str(k): int(v) for k, v in dict(priorities).items()},
            source_col=source_col, text_col=text_col, id_col=id_col,
            hash_fn=hash_fn, default_priority=default_priority,
            provenance=provenance,
        )
    if order_by is not None:
        return dedup_latest_by_key(df, list(keys), [F.col(c).desc() for c in order_by])
    return dedup_exact(df, keys)


def _aggregate(df, *, aggs, group_by):
    specs = [AggSpec(a["func"], a["column"], a.get("alias")) for a in aggs]
    return aggregate(df, list(group_by), specs)


def _enrich(df, *, on, dim_path=None, dim_table=None, how="left", select=None,
            broadcast=True, prefix=""):
    from lakehouse_ingestion_spark.operators.enrich import Enrichment, enrich

    spark = df.sparkSession
    if dim_path is not None:
        dim = spark.read.parquet(dim_path)
    elif dim_table is not None:
        dim = spark.table(dim_table)
    else:
        raise ConfigError("enrich transform requires 'dim_path' or 'dim_table'")
    on = [tuple(p) if isinstance(p, (list, tuple)) else p for p in on]
    return enrich(df, Enrichment(dim, on=on, how=how, select=select,
                                 broadcast=broadcast, prefix=prefix))


def _quality_filter(df, *, text_col="text", keep_only=False, min_tokens=None,
                    max_tokens=None, min_mean_token_len=None,
                    max_mean_token_len=None, min_distinct_ratio=None,
                    min_alpha_ratio=None, stopwords=None):
    # C4/Gopher curation chain (operators/quality.py); keep_only=True
    # drops failing docs, else rows carry failed_rules/keep columns.
    # Thresholds left unset keep default_quality_rules' own defaults.
    from lakehouse_ingestion_spark.operators.quality import (
        apply_quality_rules,
        default_quality_rules,
    )

    given = dict(
        min_tokens=min_tokens, max_tokens=max_tokens,
        min_mean_token_len=min_mean_token_len,
        max_mean_token_len=max_mean_token_len,
        min_distinct_ratio=min_distinct_ratio, min_alpha_ratio=min_alpha_ratio,
        stopwords=stopwords,
    )
    rules = default_quality_rules(**{k: v for k, v in given.items() if v is not None})
    out = apply_quality_rules(df, rules, text_col=text_col)
    if keep_only:
        return out.filter(F.col("keep")).drop("failed_rules", "keep")
    return out


def _repetition_signals(df, *, text_col="text"):
    from lakehouse_ingestion_spark.operators.repetition import repetition_signals

    return repetition_signals(df, text_col)


def _hash_sample(df, *, key, fraction: float, seed="sample"):
    from lakehouse_ingestion_spark.operators.sampling import hash_sample

    return hash_sample(df, key, fraction, seed=seed)


def _hash_split(df, *, key, fractions: dict, seed="split", split_col="split"):
    from lakehouse_ingestion_spark.operators.sampling import hash_split

    return hash_split(df, key, dict(fractions), seed=seed, split_col=split_col)


def _numeric_profile(df, *, columns=None):
    # replace the frame with its reference drift profile — write it
    # through the job's target, then point later jobs' drift checks
    # at it via profile_path (operators/profile.numeric_profile)
    from lakehouse_ingestion_spark.operators.profile import numeric_profile

    return numeric_profile(df, columns)


def _cluster_reps(df, *, id_col="doc_id", rep_col="rep", a_col="doc_a", b_col="doc_b",
                  pairs_path=None, near_dup: dict | None = None,
                  winnow: dict | None = None, labels_path=None):
    # attach each row's near-dup cluster representative (own id for
    # singletons) — the curation building block under
    # leakage_safe_split, exposed on its own for rep-keyed ops.
    # With `labels_path`, the label table is MAINTAINED
    # incrementally (operators/graph.incremental_components): this
    # run's pairs fold into the persisted state by rep contraction,
    # so the iterative CC never re-scans history.
    from lakehouse_ingestion_spark.operators.split_guard import cluster_reps

    pairs = _pairs_frame(df, id_col, a_col, b_col, pairs_path, near_dup, winnow)
    reps = _maintained_reps(df, pairs, labels_path, a_col, b_col)
    if reps is None:
        reps = cluster_reps(pairs, a_col, b_col)
    reps = reps.withColumnRenamed("rep", "__rep")
    return (
        df.join(reps, df[id_col] == reps["node"], "left")
        .drop("node")
        .withColumn(rep_col, F.coalesce(F.col("__rep"), F.col(id_col)))
        .drop("__rep")
    )


def _near_dup_drop(df, *, id_col="doc_id", rep_col="rep", a_col="doc_a",
                   b_col="doc_b", pairs_path=None, near_dup: dict | None = None,
                   winnow: dict | None = None, labels_path=None):
    # fuzzy dedup from config: keep exactly ONE document per
    # near-dup cluster (the representative = min id; singletons
    # keep themselves). Pairs via pairs_path or inline exact
    # Jaccard; with labels_path the cluster state is maintained
    # incrementally like the other cluster-aware stages — note the
    # rep can MOVE to a later-arriving smaller id across epochs,
    # so multi-epoch keep-FIRST semantics belong to
    # streaming/near_dup (index-maintaining), not this stage.
    # rep_col is accepted (and unused) like on the other cluster stages.
    from lakehouse_ingestion_spark.operators.split_guard import cluster_reps

    pairs = _pairs_frame(df, id_col, a_col, b_col, pairs_path, near_dup, winnow)
    reps = _maintained_reps(df, pairs, labels_path, a_col, b_col)
    if reps is None:
        reps = cluster_reps(pairs, a_col, b_col)
    dropped = reps.filter(F.col("node") != F.col("rep")).select("node")
    return df.join(dropped, df[id_col] == dropped["node"], "left_anti")


def _leakage_safe_split(df, *, fractions: dict, id_col="doc_id", rep_col="rep",
                        a_col="doc_a", b_col="doc_b", pairs_path=None,
                        near_dup: dict | None = None, winnow: dict | None = None,
                        labels_path=None, split_col="split", seed="split",
                        assignments_path=None, audit_path=None,
                        conflict_action="report"):
    # near-dup clusters never straddle splits; with
    # `assignments_path` the assignment is STICKY across runs
    # (first assignment wins, merges audited — split_guard module
    # docstring) and the state/audit tables are maintained here
    from lakehouse_ingestion_spark.operators.split_guard import (
        leakage_safe_split,
        sticky_split,
    )

    kwargs = dict(id_col=id_col, seed=seed, split_col=split_col, rep_col=rep_col)
    pairs = _pairs_frame(df, id_col, a_col, b_col, pairs_path, near_dup, winnow)
    fractions = dict(fractions)
    # optional incremental label maintenance (labels_path): reps
    # come from the persisted CC state folded with this run's
    # pairs, so the per-epoch cost is batch-sized
    reps = _maintained_reps(df, pairs, labels_path, a_col, b_col)
    if assignments_path is None:
        if audit_path is not None:
            raise ConfigError(
                "audit_path requires assignments_path (sticky mode)"
            )
        return leakage_safe_split(df, pairs, fractions, reps=reps, **kwargs)
    from lakehouse_ingestion_spark.operators.split_guard import (
        apply_conflict_policy,
    )
    from lakehouse_ingestion_spark.streaming.curation import (
        current_assignments,
    )

    prev = _read_parquet_if_exists(df.sparkSession, assignments_path)
    if prev is not None:
        # streaming-maintained state is an epoch delta log with
        # re-keyed rows — resolve to one current row per doc
        prev = current_assignments(prev, id_col, split_col)
    out, audit = sticky_split(
        df, pairs, fractions, assignments=prev, reps=reps, **kwargs
    )
    if conflict_action != "report":
        # quarantine_eval persists its forced splits (below), so
        # conflicted clusters converge out of eval; drop_cluster
        # withholds members from the OUTPUT but the pre-drop frame
        # still drives the state write, keeping them deterministic
        audit = audit.localCheckpoint(eager=True)
    if conflict_action == "quarantine_eval":
        out = apply_conflict_policy(
            out, audit, conflict_action, fractions, split_col=split_col, rep_col=rep_col,
        )
    # pin before the state overwrite below: `out`'s plan READS
    # assignments_path when prev is set — overwriting what a lazy plan
    # still reads would corrupt the result (see PLANS.md lazy
    # read-after-write note)
    out = out.localCheckpoint(eager=True)
    if audit_path is not None:
        # the audit is a LOG of leakage events — append, never
        # clobber prior runs' rows (r8 ADVICE)
        audit.write.mode("append").parquet(audit_path)
    # stickiness must survive partial-corpus runs: assigned docs
    # absent from df keep their rows (r8 ADVICE — the plain
    # overwrite silently discarded them, so reappearing docs were
    # re-split by majority/hash with no audit)
    new_state = out.select(id_col, split_col)
    if prev is not None:
        kept = prev.select(id_col, split_col).join(
            out.select(id_col), id_col, "left_anti"
        ).localCheckpoint(eager=True)  # reads assignments_path: pin pre-overwrite
        new_state = new_state.unionByName(kept)
    new_state.write.mode("overwrite").parquet(assignments_path)
    if conflict_action == "drop_cluster":
        out = apply_conflict_policy(
            out, audit, conflict_action, fractions, split_col=split_col, rep_col=rep_col,
        )
    return out


def _stratified_sample(df, *, strata, fractions: dict, key, seed="sample",
                       default_fraction=0.0):
    from lakehouse_ingestion_spark.operators.sampling import stratified_sample

    return stratified_sample(df, strata, dict(fractions), key, seed=seed,
                             default_fraction=default_fraction)


def _group_cap(df, *, group, key, cap: int, order_by=None):
    from lakehouse_ingestion_spark.operators.sampling import group_cap

    return group_cap(df, group, key, cap, order_by=order_by)


def _chunk(df, *, chunk_size=512, stride: int | None = None, id_col="doc_id",
           text_col="text", keep=None):
    from lakehouse_ingestion_spark.operators.chunking import chunk_documents

    return chunk_documents(
        df, chunk_size=chunk_size,
        stride=chunk_size if stride is None else stride,
        id_col=id_col, text_col=text_col, keep_cols=keep,
    )


def _redact_pii(df, *, text_col="text", rules=None):
    from lakehouse_ingestion_spark.functions.text import redact_pii

    return df.withColumn(text_col, redact_pii(F.col(text_col), rules=rules))


def _zscore_outliers(df, *, group_by, value, z=3.0, min_group_count=2):
    from lakehouse_ingestion_spark.operators.anomaly import zscore_outliers

    return zscore_outliers(df, list(group_by), value, z=z,
                           min_group_count=min_group_count)


def _funnel(df, *, user, ts, step, steps):
    from lakehouse_ingestion_spark.operators.funnel import funnel_counts

    return funnel_counts(df, user, ts, step, list(steps))


def _retention(df, *, user, ts, period_days=7):
    from lakehouse_ingestion_spark.operators.funnel import retention

    return retention(df, user, ts, period_days=period_days)


def _weighted_sample(df, *, key, weight, expected_n: float, seed="wsample"):
    from lakehouse_ingestion_spark.operators.sampling import weighted_sample

    return weighted_sample(df, key, weight, expected_n, seed=seed)


def _frequent_items(df, *, item, min_share=0.001):
    from lakehouse_ingestion_spark.operators.frequent import frequent_items

    return frequent_items(df, item, min_share=min_share)


def _quantile_sketch(df, *, group_by, value, compression=400, quantiles=(0.5, 0.95)):
    from lakehouse_ingestion_spark.operators.sketches import (
        digest_quantile,
        quantile_sketches,
    )

    dig = quantile_sketches(df, list(group_by), value, compression=compression)
    cols = [
        digest_quantile(q).alias(f"p{str(q).replace('0.', '')}")
        for q in map(float, quantiles)
    ]
    return dig.select(*group_by, F.col("td_n").alias("n"), *cols)


def _scrub_text(df, *, text_col="text", out_col=None, count_cols=True):
    # richer typed PII scrub (email/card/ssn/phone/ip) with optional
    # per-pattern audit counts; `redact_pii` above is the light form
    from lakehouse_ingestion_spark.operators.pii import scrub_text

    return scrub_text(df, text_col=text_col, out_col=out_col, count_cols=count_cols)


def _line_dedup(df, *, text_col="text", id_col="doc_id", max_occurrences=1,
                drop_blank=True):
    from lakehouse_ingestion_spark.operators.linededup import dedup_lines

    return dedup_lines(df, text_col=text_col, id_col=id_col,
                       max_occurrences=max_occurrences, drop_blank=drop_blank)


def _lm_perplexity(df, *, text_col="text", id_col="doc_id", k=1.0):
    # self-scoring: train the bigram LM on this frame and attach
    # bits_per_token (CCNet-style LM filtering signal)
    from lakehouse_ingestion_spark.operators.lm_score import self_score_perplexity

    return self_score_perplexity(df, text_col=text_col, id_col=id_col, k=k)


def _semantic_dedup(df, *, id_col="doc_id", vec_col="embedding", threshold=0.95,
                    n_bits=8, keep_only=False):
    from lakehouse_ingestion_spark.operators.semdedup import semantic_dedup

    out = semantic_dedup(df, id_col=id_col, vec_col=vec_col, threshold=threshold,
                         n_bits=n_bits)
    if keep_only:
        return out.filter(F.col("keep")).drop("keep")
    return out


def _dup_stats(df, *, text_col="text", id_col="doc_id", k=8, min_occurrences=2):
    from lakehouse_ingestion_spark.operators.substr_dedup import dup_stats

    return dup_stats(df, text_col=text_col, id_col=id_col, k=k,
                     min_occurrences=min_occurrences)


def _compress_filter(df, *, min_ratio=0.15, text_col="text", min_chars=64,
                     keep_only=False):
    from lakehouse_ingestion_spark.operators.compressibility import (
        compressibility_filter,
    )

    out = compressibility_filter(df, min_ratio=min_ratio, text_col=text_col,
                                 min_chars=min_chars)
    if keep_only:
        return out.filter(F.col("keep_compress")).drop("keep_compress")
    return out


def _ngram_novelty(df, *, text_col="text", id_col="doc_id", k=8):
    from lakehouse_ingestion_spark.operators.substr_dedup import ngram_novelty

    return ngram_novelty(df, text_col=text_col, id_col=id_col, k=k)


def _html_extract(df, *, output_col="text", html_col="html", line_filter=False,
                  min_line_chars=30, require_punct=True):
    # raw-crawl markup -> text, pure codegen (functions/extraction.py);
    # the optional C4-style line filter drops nav/footer boilerplate
    from lakehouse_ingestion_spark.functions.extraction import (
        boilerplate_line_filter,
        html_to_text,
    )

    extracted = html_to_text(html_col)
    if line_filter:
        tmp = "__extracted"
        df = df.withColumn(tmp, extracted)
        return df.withColumn(
            output_col,
            boilerplate_line_filter(tmp, min_chars=min_line_chars,
                                    require_punct=require_punct),
        ).drop(tmp)
    return df.withColumn(output_col, extracted)


def _token_budget_select(df, *, score_col, cost_col, budget: int, key_col="doc_id",
                         cum_col="cum_cost"):
    # budget-bounded corpus selection (operators/selection.py) — the
    # distributed prefix sum; keeps the prefix of (score DESC, key)
    # whose running cost stays within `budget`
    from lakehouse_ingestion_spark.operators.selection import token_budget_select

    return token_budget_select(df, score_col=score_col, cost_col=cost_col,
                               budget=budget, key_col=key_col, cum_col=cum_col)


def _semantic_decontaminate(df, *, eval_path, id_col="vec_id", vec_col="embedding",
                            threshold=0.9, max_eval=200_000,
                            drop_contaminated=False):
    # embedding-side train/eval screen: eval set read from parquet
    # (small by contract — the operator gates with max_eval)
    from lakehouse_ingestion_spark.operators.semantic_decon import (
        semantic_decontaminate,
    )

    ev = df.sparkSession.read.parquet(eval_path)
    out = semantic_decontaminate(df, ev, id_col=id_col, vec_col=vec_col,
                                 threshold=threshold, max_eval=max_eval)
    if drop_contaminated:
        return out.filter(~F.col("contaminated"))
    return out


def _bm25_search(df, *, queries: dict, k=10, id_col="doc_id", text_col="text",
                 k1=1.2, b=0.75, max_query_terms=100_000):
    # multi-query BM25 top-k retrieval; `queries` is a config-sized
    # mapping query_id -> query text (one corpus pass for the set)
    from lakehouse_ingestion_spark.operators.retrieval import bm25_search

    q_df = df.sparkSession.createDataFrame(
        [(int(qid), str(q)) for qid, q in dict(queries).items()],
        "query_id long, query string",
    )
    return bm25_search(df, q_df, k=k, id_col=id_col, text_col=text_col, k1=k1,
                       b=b, max_query_terms=max_query_terms)


def _contamination_report(df, *, eval_path, text_col="text", id_col="doc_id",
                          eval_id_col="eval_id", n=3, threshold=2):
    # per-eval-example contamination audit; eval set read from
    # parquet (small by contract — the n-gram frame broadcasts)
    from lakehouse_ingestion_spark.operators.decontaminate import (
        contamination_report,
    )

    ev = df.sparkSession.read.parquet(eval_path)
    return contamination_report(df, ev, text_col=text_col, id_col=id_col,
                                eval_id_col=eval_id_col, n=n, threshold=threshold)


def _event_window_dedup(df, *, keys, min_gap_seconds: int, ts_col="ts", tiebreak=()):
    # time-window event dedup: drop same-key repeats within the gap
    from lakehouse_ingestion_spark.operators.dedup import event_window_dedup

    return event_window_dedup(df, list(keys), ts_col, min_gap_seconds,
                              tiebreak=list(tiebreak or []) or None)


def _bpe_tokenize(df, *, num_merges: int, text_col="text", lowercase=True,
                  min_freq=1, max_words=1_000_000, id_col="doc_id"):
    # train-then-encode in one declarative stage: merges come from
    # the corpus word histogram (one agg), encoding is map-only
    from lakehouse_ingestion_spark.operators.bpe import bpe_encode, bpe_train

    merges = bpe_train(df, num_merges=num_merges, text_col=text_col,
                       lowercase=lowercase, min_freq=min_freq, max_words=max_words)
    return bpe_encode(df, merges, text_col=text_col, id_col=id_col,
                      lowercase=lowercase)


def _top_p_select(df, *, strata_col, score_col, p: float, key_col="doc_id",
                  cum_col="cum_score"):
    # nucleus selection: keep each stratum's best rows covering
    # fraction p of its score mass (share-based budget sibling)
    from lakehouse_ingestion_spark.operators.selection import top_p_select

    return top_p_select(df, strata_col=strata_col, score_col=score_col, p=p,
                        key_col=key_col, cum_col=cum_col)


def _stratified_budget_select(df, *, strata_col, score_col, cost_col,
                              budgets: dict | int, key_col="doc_id",
                              default_budget=0, cum_col="cum_cost"):
    # per-stratum budgets ("fill each domain's token quota") —
    # `budgets` is a config mapping stratum -> budget, or one int
    from lakehouse_ingestion_spark.operators.selection import (
        stratified_budget_select,
    )

    return stratified_budget_select(
        df, strata_col=strata_col, score_col=score_col, cost_col=cost_col,
        budgets=dict(budgets) if isinstance(budgets, dict) else int(budgets),
        key_col=key_col, default_budget=default_budget, cum_col=cum_col,
    )


def _robust_scale(df, *, value, group_by=(), p_lo=0.05, p_hi=0.95,
                  scaled_col="scaled", ndigits=6):
    # winsorized min-max feature normalization (operators/stats.py)
    from lakehouse_ingestion_spark.operators.stats import robust_scale

    return robust_scale(df, value, list(group_by) or None, p_lo=p_lo, p_hi=p_hi,
                        scaled_col=scaled_col, ndigits=ndigits)


def _cms_build(df, *, item, group_by=(), depth=4, width=4096, weight=None):
    # replace the frame with its count-min counter state table —
    # the numeric_profile pattern: write it through the job's
    # target, merge later deltas with cms_merge (groupBy-sum)
    from lakehouse_ingestion_spark.operators.cms import cms_build

    return cms_build(df, item, group_cols=list(group_by), depth=depth, width=width,
                     weight_col=weight)


def _entity_resolve(df, *, id_col, name_col, max_edit_distance=1, max_block=100,
                    cluster_col="cluster"):
    # attach the ER cluster id (operators/er.py) to every row
    from lakehouse_ingestion_spark.operators.er import resolve_entities

    clusters = resolve_entities(
        df.select(id_col, name_col), id_col, name_col,
        max_edit_distance=max_edit_distance, max_block=max_block,
    ).select(id_col, F.col("cluster").alias("__cluster"))
    return (
        df.join(clusters, id_col, "left")
        .withColumn(cluster_col, F.coalesce(F.col("__cluster"), F.col(id_col)))
        .drop("__cluster")
    )


def _sql(df, *, query, view="src"):
    df.createOrReplaceTempView(view)
    return df.sparkSession.sql(query)


# Every transform op -> its handler; adding an op is one handler plus one
# entry here.  Handlers import their operator modules lazily: importing
# them all eagerly costs ~0.5 s and ~65 MB at `import pipeline`.
TRANSFORMS = {
    "conform": _conform,
    "dedup": _dedup,
    "cdc_apply": lambda df, *, keys, order_by, op_column="op": cdc_apply(
        df, list(keys), [F.col(c).desc() for c in order_by], op_column=op_column),
    "scd2": lambda df, *, keys, ts_column, attr_columns=None, tiebreakers=None: (
        scd2_from_history(df, list(keys), ts_column, attr_columns,
                          tiebreakers=tiebreakers)),
    "aggregate": _aggregate,
    "enrich": _enrich,
    "quality_filter": _quality_filter,
    "repetition_signals": _repetition_signals,
    "hash_sample": _hash_sample,
    "hash_split": _hash_split,
    "numeric_profile": _numeric_profile,
    "cluster_reps": _cluster_reps,
    "near_dup_drop": _near_dup_drop,
    "leakage_safe_split": _leakage_safe_split,
    "stratified_sample": _stratified_sample,
    "group_cap": _group_cap,
    "chunk": _chunk,
    "redact_pii": _redact_pii,
    "zscore_outliers": _zscore_outliers,
    "funnel": _funnel,
    "retention": _retention,
    "weighted_sample": _weighted_sample,
    "frequent_items": _frequent_items,
    "quantile_sketch": _quantile_sketch,
    "scrub_text": _scrub_text,
    "line_dedup": _line_dedup,
    "lm_perplexity": _lm_perplexity,
    "semantic_dedup": _semantic_dedup,
    "dup_stats": _dup_stats,
    "compress_filter": _compress_filter,
    "ngram_novelty": _ngram_novelty,
    "html_extract": _html_extract,
    "token_budget_select": _token_budget_select,
    "semantic_decontaminate": _semantic_decontaminate,
    "bm25_search": _bm25_search,
    "contamination_report": _contamination_report,
    "event_window_dedup": _event_window_dedup,
    "bpe_tokenize": _bpe_tokenize,
    "top_p_select": _top_p_select,
    "stratified_budget_select": _stratified_budget_select,
    "robust_scale": _robust_scale,
    "cms_build": _cms_build,
    "entity_resolve": _entity_resolve,
    "derive_column": lambda df, *, name, expr: df.withColumn(name, F.expr(expr)),
    "filter": lambda df, *, predicate: df.filter(predicate),
    "select": lambda df, *, exprs: df.selectExpr(*exprs),
    "sql": _sql,
}


def validate_transform_options(op: str, options: dict):
    """Load-time option-schema check for transform stages, BEFORE any
    Spark work; returns the op's handler and keyword arguments."""
    return _bind("transform op", TRANSFORMS, op, options)


def apply_transform(df: DataFrame, op: str, o: dict, schema=None) -> DataFrame:
    """Config-driven transform dispatch (the reference's declared-only
    ``TransformFn`` hook, ``docs/00-architecture-overview.md:344-355``,
    made real).  Handlers take the frame, plus the job's registry schema
    when they declare a ``schema`` parameter, then their options."""
    fn, kwargs = validate_transform_options(op, o)
    if "schema" in inspect.signature(fn).parameters:
        return fn(df, schema, **kwargs)
    return fn(df, **kwargs)


@dataclass
class JobResult:
    name: str
    streaming: bool
    rows_written: int | None = None
    dq_summary: object | None = None
    query: object | None = None  # StreamingQuery when streaming


@dataclass
class Pipeline:
    spark: SparkSession
    config: PipelineConfig
    registry: SchemaRegistry | None = None
    stream_manager: StreamManager | None = None
    results: list[JobResult] = dc_field(default_factory=list)

    def __post_init__(self):
        if self.registry is None and self.config.schema_registry_path:
            self.registry = SchemaRegistry(self.config.schema_registry_path)
        if self.stream_manager is None:
            self.stream_manager = StreamManager(self.spark)

    def run(self) -> list[JobResult]:
        for job in self.config.jobs:
            self.results.append(self.run_job(job))
        return self.results

    def run_job(self, job: JobConfig) -> JobResult:
        schema = None
        if job.schema is not None:
            if self.registry is None:
                raise ConfigError("job references a schema but no registry configured")
            schema = self.registry.get_schema(
                job.schema.domain, job.schema.dataset, job.schema.version
            )

        reader = get_reader(job.source.type)
        df = reader.read(self.spark, job.source.options, schema)
        df = add_audit_columns(
            df, job.source_system, kafka_metadata=(job.source.type.lower() == "kafka")
        )
        for t in job.transforms:
            df = apply_transform(df, t.op, t.options, schema=schema)

        writer = get_writer(job.target.format)
        opts = self._write_options(job)
        ruleset = build_ruleset(job, schema, spark=self.spark)
        policy = job.data_quality.on_fail if job.data_quality else OnFailPolicy.LOG_ONLY

        if df.isStreaming:
            return self._run_streaming(job, df, schema, ruleset, policy, writer, opts)

        if schema is not None:
            # audit columns stay in: schemas that declare the system
            # columns validate them; schemas that don't see extra-column
            # warnings only (SchemaValidator treats extras as warnings)
            validate_or_throw(df, schema, context=f"job={job.name}")
        summary = None
        persisted = None
        if ruleset.checks:
            if policy is OnFailPolicy.QUARANTINE:
                # QUARANTINE runs three actions over df (metrics agg, bad
                # write, good write); pin the input so a non-deterministic
                # source (JDBC, changing files) can't route a row into
                # both outputs or neither
                persisted = df = df.persist()
            df, summary = ruleset.enforce(df, policy, quarantine_writer=self._quarantine_writer(job))
        # row count rides the write action via observe() — no extra scan
        from lakehouse_ingestion_spark.metrics import ObservedMetrics

        obs = ObservedMetrics.attach(
            df, f"write:{job.name}", {"rows": F.count(F.lit(1))}
        )
        try:
            writer.write_batch(obs.df, opts)
        finally:
            if persisted is not None:
                persisted.unpersist()
        rows = int(obs.get().get("rows", 0))
        return JobResult(job.name, streaming=False, rows_written=rows, dq_summary=summary)

    # -- helpers ------------------------------------------------------------
    def _write_options(self, job: JobConfig) -> WriteOptions:
        o = dict(job.target.options)
        return WriteOptions(
            path=o.pop("path", None),
            table=o.pop("table", None),
            mode=o.pop("mode", "append"),
            partition_by=list(o.pop("partition_by", []) or []),
            checkpoint_location=o.pop(
                "checkpoint_location",
                f"/tmp/checkpoints/{job.layer}/{job.name}",  # reference default shape
            ),
            trigger_interval=o.pop("trigger_interval", "30 seconds"),
            output_mode=o.pop("output_mode", "append"),
            options=o,
        )

    def _quarantine_writer(self, job: JobConfig):
        dq = job.data_quality
        if dq is None or not dq.quarantine_path:
            return None

        def _write(bad: DataFrame) -> None:
            bad.write.mode("append").parquet(dq.quarantine_path)

        return _write

    def _run_streaming(self, job, df, schema, ruleset, policy, writer, opts) -> JobResult:
        def sink(batch: DataFrame, epoch: int) -> None:
            if schema is not None:
                validate_or_throw(
                    batch, schema, context=f"job={job.name} epoch={epoch}"
                )
            if hasattr(writer, "write_epoch_batch"):
                # epoch-aware writers (sinks/fanout.py) key idempotent
                # per-epoch writes off the stream's batch id
                writer.write_epoch_batch(batch, opts, epoch)
            else:
                writer.write_batch(batch, opts)

        if ruleset.checks:
            q_writer = self._quarantine_writer(job)
            # the DQ path must still go through `sink` (schema validation
            # per micro-batch), not straight to the writer
            fn = dq_foreach_batch(
                ruleset,
                policy,
                sink=sink,
                quarantine_sink=(lambda b, e: q_writer(b)) if q_writer else None,
            )
        else:
            fn = sink
        stream = (
            df.writeStream.foreachBatch(fn)
            .option("checkpointLocation", opts.checkpoint_location)
        )
        if opts.trigger_interval == "availableNow":
            stream = stream.trigger(availableNow=True)
        else:
            stream = stream.trigger(processingTime=opts.trigger_interval)
        query = stream.start()
        self.stream_manager.register(query)
        return JobResult(job.name, streaming=True, query=query)
