"""Incremental schema-inference maintenance: the mergeable-summary monoid
as persistent state.

The per-partition summary (functions/summary.py) is associative and
count-insensitive for schema purposes, so inference over a growing
dataset never needs to rescan old files: fold ONLY the new files, merge
with the stored per-file summaries, re-derive the schema. State is a
JSON sidecar of {file → summary} — KB-sized per file, independent of row
count — so a 100 TB corpus that grows by one partition per hour pays one
partition of work per hour, not a full rescan.

This is the engine-native generalisation of the reference's incremental
builder (genson-rs folds docs into one SchemaBuilder in memory;
schema.rs:240-280): here the fold state is durable and distributed-
mergeable across job runs.

Per-group inference (``infer_json_schema_by_group``) runs the same fold
keyed by a group column via ``applyInPandas`` — one schema per group in
a single shuffle, the groupwise face of the monoid.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import InferenceConfig
from ..functions import summary as S
from ..functions.rewrite import postprocess_schema
from .infer import (
    CellCache,
    SchemaInferenceError,
    _apply_schema_uri,
    _observe_cell,
)

STATE_NAME = "_schema_state.json"


@dataclass
class IncrementalResult:
    schema: dict[str, Any]
    processed_count: int
    new_files: list[str] = field(default_factory=list)
    reused_files: list[str] = field(default_factory=list)


def _state_path(state_dir: str) -> str:
    return os.path.join(state_dir, STATE_NAME)


def load_state(state_dir: str) -> dict[str, Any]:
    p = _state_path(state_dir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"files": {}}


def save_state(state_dir: str, state: dict[str, Any]) -> str:
    os.makedirs(state_dir, exist_ok=True)
    p = _state_path(state_dir)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, p)  # atomic: readers never see a torn state file
    return p


def _canon_file(uri: str) -> str:
    """Canonical form of a file URI for state keys. ``inputFiles()`` and
    ``input_file_name()`` can disagree on URL-encoding (a path with a
    space is ``%20`` in one and literal in the other); without a shared
    canonicalisation every new file would silently key-miss and take the
    empty-summary fallback — an empty schema with no error."""
    from urllib.parse import unquote

    return unquote(uri)


def _list_parquet_files(spark: SparkSession, path: str) -> list[str]:
    """Distinct file names backing ``path``, from the file index
    (``DataFrame.inputFiles``) — NO Spark job. The previous
    implementation ran input_file_name() + distinct + collect, a full
    corpus scan whose cost grew with TOTAL data size on every
    incremental run — the exact rescan the module contract forbids."""
    return sorted(
        _canon_file(f) for f in spark.read.parquet(path).inputFiles()
    )


def infer_incremental(
    spark: SparkSession,
    input_path: str,
    state_dir: str,
    column: str,
    config: InferenceConfig | None = None,
) -> IncrementalResult:
    """Infer the merged schema of ``column`` over ``input_path``,
    folding ONLY files not present in the state (monoid property: the
    global schema is the merge of per-file summaries in file order).

    Files that disappeared from the input since the last run are dropped
    from the state — the schema always reflects exactly the current file
    set without any rescan of surviving files."""
    config = config or InferenceConfig()
    state = load_state(state_dir)
    # stored per-file summaries depend on the InferenceConfig
    # (e.g. ignore_outer_array changes what _observe_cell folds),
    # so state written under different rules — or under no recorded rules
    # at all — must be discarded and every file re-folded, exactly like
    # checkpoint.plan_resume invalidates skips on a config_fp change
    from ..checkpoint import config_fingerprint

    cfg_fp = config_fingerprint(config)
    if state.get("config_fp") != cfg_fp:
        state = {"files": {}, "config_fp": cfg_fp}
    current = _list_parquet_files(spark, input_path)
    known = state["files"]

    new_files = [f for f in current if f not in known]
    reused = [f for f in current if f in known]

    if new_files:
        # ONE batched job for ALL new files (per-file attribution via
        # input_file_name, which matches inputFiles() byte-for-byte):
        # the previous per-file loop launched 2+ serial Spark jobs per
        # file — a config change over 10k files meant 10k sequential
        # jobs instead of one. The collected per-file summaries are the
        # same KB-sized objects the state file stores anyway.
        df = (
            spark.read.parquet(*new_files)
            .withColumn("_file", F.input_file_name())
            .select("_file", column)
        )
        partials = _grouped_partials(df, column, "_file", config)
        new_set = set(new_files)
        for r in _merge_summaries(partials).collect():
            if r["error"]:
                raise SchemaInferenceError(r["error"])
            key = _canon_file(r["group"])
            if key not in new_set:
                # a key outside the listed file set means the two
                # attribution paths disagree in a way canonicalisation
                # did not cover — failing loudly beats silently dropping
                # the real summary and folding an empty one
                raise SchemaInferenceError(
                    f"per-file attribution key {r['group']!r} not in the "
                    f"listed input files; encoding mismatch between "
                    f"input_file_name() and inputFiles()"
                )
            known[key] = {
                "summary": json.loads(r["summary"]),
                "processed": int(r["processed"]),
            }
        # a new file with zero rows emits no partial row at all — it
        # still needs (empty) state or the merge loop below KeyErrors
        for f in new_files:
            if f not in known:
                known[f] = {"summary": S.new_summary(), "processed": 0}

    # drop state for files no longer present
    for f in list(known):
        if f not in set(current):
            del known[f]

    merged = S.new_summary()
    processed = 0
    seen: set[str] = set()  # A6 dedup applies across files too
    for f in current:  # stable file order ⇒ deterministic merge
        entry = known[f]
        processed += int(entry["processed"])
        key = S.summary_key(entry["summary"])
        if key in seen:
            continue
        seen.add(key)
        S.merge(merged, json.loads(json.dumps(entry["summary"])))

    if processed == 0:
        raise SchemaInferenceError("No JSON documents found to process")

    schema = S.to_schema(merged)
    postprocess_schema(schema, config)
    schema = _apply_schema_uri(schema, config)
    save_state(state_dir, state)
    return IncrementalResult(
        schema=schema,
        processed_count=processed,
        new_files=new_files,
        reused_files=reused,
    )


def _grouped_partials(
    df: DataFrame, column: str, group_col: str, cfg: InferenceConfig
) -> DataFrame:
    """Partition-local summary fold keyed by ``group_col``: one
    (group, summary, processed, error) row per group per partition.
    The group field keeps the input column's dtype — hard-coding
    ``group string`` (the old shape) crashed Arrow conversion for any
    non-string group column (long shard ids, dates)."""
    grp_t = df.schema[group_col].dataType.simpleString()
    # (group, cell) keys, same contract as the ungrouped fold's cache in
    # infer.partition_summaries
    cell_cache = CellCache()

    def partial_fold(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        nodes: dict[Any, dict] = {}
        counts: dict[Any, int] = {}
        errors: dict[Any, str | None] = {}
        for pdf in batches:
            for grp, cell in zip(pdf[group_col], pdf[column]):
                if errors.get(grp) is not None:
                    continue
                key = (grp, cell)
                hit = cell_cache.get(key)
                if hit is not None:
                    counts[grp] = counts.get(grp, 0) + hit
                    continue
                node = nodes.setdefault(grp, S.new_summary())
                try:
                    ok = _observe_cell(node, cell, cfg, counts.get(grp, 0))
                except SchemaInferenceError as e:
                    errors[grp] = str(e)
                    continue
                counts[grp] = counts.get(grp, 0) + ok
                cell_cache.put(key, ok)
        if nodes:
            yield pd.DataFrame(
                {
                    "group": list(nodes),
                    "summary": [json.dumps(nodes[g]) for g in nodes],
                    "processed": [counts.get(g, 0) for g in nodes],
                    "error": [errors.get(g) for g in nodes],
                }
            )

    return df.select(F.col(group_col), F.col(column)).mapInPandas(
        partial_fold,
        schema=f"group {grp_t}, summary string, processed long, "
        "error string",
    )


def _merge_summaries(partials: DataFrame) -> DataFrame:
    """Per-group merge of the KB-sized partial summaries — output stays
    at the SUMMARY level (the monoid state), for callers that persist it
    (incremental state) rather than finalising a schema."""
    grp_t = partials.schema["group"].dataType.simpleString()

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        node = S.new_summary()
        processed = 0
        error = None
        seen: set[str] = set()  # A6 dedup across partitions
        for _, row in pdf.sort_values("summary").iterrows():
            if error is None and row["error"]:
                error = row["error"]
            processed += int(row["processed"])
            parsed = json.loads(row["summary"])
            key = S.summary_key(parsed)
            if key not in seen:
                seen.add(key)
                S.merge(node, parsed)
        return pd.DataFrame(
            {
                "group": [pdf["group"].iloc[0]],
                "summary": [json.dumps(node)],
                "processed": [processed],
                "error": [error],
            }
        )

    return partials.groupBy("group").applyInPandas(
        merge_group,
        schema=f"group {grp_t}, summary string, processed long, "
        "error string",
    )


def infer_json_schema_by_group(
    df: DataFrame,
    column: str,
    group_col: str,
    config: InferenceConfig | None = None,
) -> DataFrame:
    """One merged JSON Schema per group: (group, schema_json, processed).

    Two-level fold, NOT a whole-group ``applyInPandas`` (which would
    materialise each group's rows in one pandas frame — unbounded at
    scale): a partition-local fold emits one (group, summary) row per
    group per partition, then the per-group merge runs over those
    KB-sized summaries only. The shuffle carries summaries, never
    documents — the groupwise face of ``infer_json_schema``. The group
    column keeps its dtype (string, long, date, ...)."""
    cfg = config or InferenceConfig()
    partials = _grouped_partials(df, column, group_col, cfg)
    merged = _merge_summaries(partials)
    grp_t = merged.schema["group"].dataType.simpleString()

    def finalise(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for _, row in pdf.iterrows():
            if row["error"]:
                out.append(None)
                continue
            schema = S.to_schema(json.loads(row["summary"]))
            postprocess_schema(schema, cfg)
            schema = _apply_schema_uri(schema, cfg)
            out.append(json.dumps(schema, sort_keys=True))
        return pd.DataFrame(
            {
                "group": pdf["group"],
                "schema_json": out,
                "processed": pdf["processed"],
                "error": pdf["error"],
            }
        )

    final = merged.mapInPandas(
        lambda batches: (finalise(p) for p in batches),
        schema=f"group {grp_t}, schema_json string, processed long, "
        "error string",
    )
    return final.withColumnRenamed("group", group_col)


def schema_drift(
    df: DataFrame,
    column: str,
    window_col: str,
    config: InferenceConfig | None = None,
) -> DataFrame:
    """Field-level schema drift between consecutive windows: one merged
    schema per window (the two-level summary fold — the shuffle carries
    KB summaries, never documents), then adjacent windows' property maps
    diff driver-side (schemas are KB rollups; |windows| rows total).

    Returns one row per window AFTER the first:
    (window, added, removed, changed) — field names that appeared,
    vanished, or changed their inferred type vs the previous window.
    The monitoring face of schema inference: a producer silently adding
    a field or widening int→string shows up as a named diff, not a
    downstream parse failure.
    """
    per = infer_json_schema_by_group(df, column, window_col, config)

    # windows must diff in their NATURAL order: lexicographic string sort
    # put '10' before '9', so the 9→10 transition was reported backwards.
    # Digit-only labels (hour/batch numbers) sort numerically; everything
    # else (dates, names) keeps the string order; native numerics pass
    # through the dtype-preserving by_group fold and sort numerically.
    def _window_key(w):
        if isinstance(w, (int, float)):
            return (0, float(w), "")
        s = str(w)
        return (0, float(s), "") if s.isdigit() else (1, 0.0, s)

    rows = sorted(
        ((r[window_col], r["schema_json"]) for r in per.collect()),
        key=lambda t: _window_key(t[0]),
    )
    out = []
    prev_props: dict | None = None
    for w, sj in rows:
        if sj is None:
            # this window's inference errored (by_group isolates per-group
            # failures as schema_json=None) — surface it as an all-null
            # diff row rather than crashing, and keep the last GOOD
            # window as the baseline for the next good one
            out.append((str(w), None, None, None))
            continue
        props = json.loads(sj).get("properties", {}) or {}
        if prev_props is not None:
            added = sorted(set(props) - set(prev_props))
            removed = sorted(set(prev_props) - set(props))
            changed = sorted(
                k
                for k in set(props) & set(prev_props)
                if props[k] != prev_props[k]
            )
            out.append((str(w), added, removed, changed))
        prev_props = props
    schema = (
        "window string, added array<string>, removed array<string>, "
        "changed array<string>"
    )
    return df.sparkSession.createDataFrame(out, schema)
