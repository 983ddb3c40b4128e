"""Distributed JSON-schema inference: the Spark re-expression of the
reference pipeline ``collect strings → rayon fold → merge → finalise``
(/root/reference/genson-core/src/schema.rs:332-448, 551-628).

Plan shape (scale-first):

1. single-column scan — only the JSON column is read (Catalyst prunes; the
   parquet scan's ReadSchema carries exactly one field);
2. ``mapInPandas`` folds every Arrow batch of a partition into ONE
   per-partition summary dict (the monoid partial) — no per-row Python at
   the Spark level, one Python call per batch, per-doc ``json.loads`` inside
   the batch exactly like the reference parses per-doc inside a rayon chunk;
3. the KB-sized summaries (one per partition) are collected and merged on
   the driver **in partition-id order**, which makes property insertion
   order deterministic — the Spark answer to the reference's OrderMap
   order-sensitivity (/root/reference/genson-core/src/genson_rs/strategy/
   object.rs:295-317);
4. driver-side finalise: force-types → map inference → union reorder →
   optional Avro (same sequencing as schema.rs:585-613).

At 100 TB this never shuffles: the only data movement is one summary row
per partition. With ~10^5 partitions the driver merge is still tiny; if it
ever isn't, fold summaries pairwise with a treeAggregate-style reduction —
the merge is associative by construction.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import InferenceConfig
from ..functions import summary as S
from ..functions.avro import json_schema_to_avro
from ..functions.rewrite import postprocess_schema
from ..functions.bridge import json_schema_to_spark_schema

try:  # pragma: no cover - orjson is optional
    import orjson as _fastjson

    def _loads(s: str) -> Any:
        return _fastjson.loads(s)

except ImportError:  # pragma: no cover
    def _loads(s: str) -> Any:
        return json.loads(s)


MAX_JSON_ERROR_LENGTH = 100

# Reference URI semantics (genson_rs/builder.rs:5-6, 18-41, 85-95):
# schema_uri="AUTO" → emit the default URI; None → emit no $schema;
# any other string → emit that string.
DEFAULT_SCHEMA_URI = "http://json-schema.org/schema#"


def _apply_schema_uri(schema: dict, config: InferenceConfig) -> dict:
    if config.schema_uri == "AUTO":
        return {"$schema": DEFAULT_SCHEMA_URI, **schema}
    if config.schema_uri is not None:
        return {"$schema": config.schema_uri, **schema}
    return schema


class SchemaInferenceError(ValueError):
    """Raised on invalid JSON in strict mode (reference schema.rs:187-204)."""


@dataclass
class InferenceResult:
    schema: dict[str, Any]
    processed_count: int


def _truncate(s: str) -> str:
    if len(s) > MAX_JSON_ERROR_LENGTH:
        return (
            f"{s[:MAX_JSON_ERROR_LENGTH]}... "
            f"[truncated {len(s) - MAX_JSON_ERROR_LENGTH} chars]"
        )
    return s


def _observe_cell(
    node: dict, cell: str, config: InferenceConfig, index: int
) -> bool:
    """Fold one cell (one or many docs) into ``node``.

    Returns True if the cell was non-empty (counted as processed).
    Raises SchemaInferenceError on invalid JSON, mirroring
    prepare_json_bytes (/root/reference/genson-core/src/schema.rs:160-238).
    """
    if cell is None:
        return False
    text = cell.strip()
    if not text:
        return False

    docs: list[Any] = []
    if config.ndjson:
        for line in text.splitlines():
            line = line.strip()
            if not line:
                continue
            try:
                docs.append(_loads(line))
            except ValueError as e:
                raise SchemaInferenceError(
                    f"Invalid JSON input at index {index + 1}: {e} "
                    f"- JSON: {_truncate(line)}"
                ) from None
    else:
        try:
            docs.append(_loads(text))
        except ValueError as e:
            raise SchemaInferenceError(
                f"Invalid JSON input at index {index + 1}: {e} "
                f"- JSON: {_truncate(text)}"
            ) from None

    for doc in docs:
        if config.wrap_root is not None:
            doc = {config.wrap_root: doc}
        if (
            config.ignore_outer_array
            and isinstance(doc, list)
        ):
            # top-level array = stream of objects
            # (/root/reference/genson-core/src/genson_rs/mod.rs:44-72);
            # each element is byte-trimmed to the outermost {...}/[...]
            # before parsing (trim_to_object, mod.rs:129-144), so scalar
            # elements trim to empty and are skipped
            for element in doc:
                if isinstance(element, (dict, list)):
                    S.observe(node, element)
        elif isinstance(doc, list):
            # non-ignored top-level array: the reference still builds the
            # items schema from the trim-to-object element stream, so
            # scalar elements are dropped before observation
            S.observe(node, [e for e in doc if isinstance(e, (dict, list))])
        elif isinstance(doc, dict):
            S.observe(node, doc)
        # else: top-level scalar — genson's trim_to_object finds no '{' or
        # '[' , yields an empty slice, and the builder skips the doc
        # (mod.rs:110-115,129-144). The cell still counts as processed,
        # exactly like the reference's processed_count (schema.rs:258-275).
    return True


# Approximate bytes of keys and values one task's cell cache may hold;
# past it, cells are still computed but no longer cached, so a corpus of
# unique documents cannot exhaust Python worker memory.
CELL_CACHE_BYTES = 48 * 1024 * 1024


def _chars(x: Any) -> int:
    if isinstance(x, tuple):
        return sum(map(_chars, x))
    return len(x) if isinstance(x, str) else 0


class CellCache(dict):
    """Byte-budgeted first-occurrence cache of per-cell results inside
    one Python task: the inference folds map a cell to its processed
    flag, the normaliser maps it to its output text.

    Create it where the plan is built and let the task function close
    over it: every task unpickles its own empty copy, carrying the
    ``CELL_CACHE_BYTES`` budget read at plan-build time. Each entry costs
    the characters of its string key parts and string value plus 64
    bytes of overhead; once the budget is spent, :meth:`put` stores
    nothing more and lookups simply miss.
    """

    def __init__(self) -> None:
        super().__init__()
        self.budget = CELL_CACHE_BYTES

    def put(self, key: Any, value: Any) -> None:
        if self.budget > 0:
            self.budget -= _chars(key) + _chars(value) + 64
            self[key] = value


def partition_summaries(
    df: DataFrame,
    column: str,
    config: InferenceConfig,
    tree_merge_threshold: int = 256,
    tree_group_size: int = 64,
) -> list[dict]:
    """Run the distributed partial-fold; return per-partition summary dicts
    sorted by partition id (the deterministic merge order).

    With more than ``tree_merge_threshold`` partitions an intermediate
    distributed merge level runs first (the treeAggregate depth-2 shape,
    SURVEY §3.1): summaries are grouped by contiguous pid range
    (``pid // tree_group_size``) and merged IN PID ORDER inside each group
    via ``applyInPandas``, so the driver sees at most
    ``n_partitions / tree_group_size`` summaries and determinism is
    preserved (group key is monotonic in pid; within-group merge is
    pid-sorted)."""
    cfg = config

    projected = (
        df.select(F.col(column).alias("doc"))
        .where(F.col("doc").isNotNull() & (F.trim(F.col("doc")) != F.lit("")))
        .withColumn("pid", F.spark_partition_id())
    )
    # Observing the SAME cell twice cannot change the summary beyond
    # ``object.count``, which to_schema never reads and summary_key
    # strips, so repeats skip the parse+observe and only bump
    # ``processed`` via the cached flag. Row order, processed_count and
    # strict-mode error indexes are preserved: a failing cell raises at
    # its first occurrence and is never cached.
    cell_cache = CellCache()

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        node = S.new_summary()
        processed = 0
        pid = -1
        error: str | None = None
        for pdf in batches:
            if len(pdf) and pid < 0:
                pid = int(pdf["pid"].iloc[0])
            if error is not None:
                continue
            for cell in pdf["doc"]:
                hit = cell_cache.get(cell)
                if hit is not None:
                    processed += hit
                    continue
                try:
                    ok = _observe_cell(node, cell, cfg, processed)
                except SchemaInferenceError as e:
                    error = str(e)
                    break
                processed += ok
                cell_cache.put(cell, ok)
        if pid >= 0 or processed:
            yield pd.DataFrame(
                {
                    "pid": [pid],
                    "summary": [json.dumps(node)],
                    "processed": [processed],
                    "error": [error],
                }
            )

    summaries = projected.mapInPandas(
        fold, schema="pid int, summary string, processed long, error string"
    )

    if projected.rdd.getNumPartitions() > tree_merge_threshold:

        def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("pid")  # deterministic within-group order
            node = S.new_summary()
            processed = 0
            error: str | None = None
            seen: set[str] = set()  # A6: merge each distinct summary once
            for _, row in pdf.iterrows():
                if error is None and row["error"]:
                    error = row["error"]
                parsed = json.loads(row["summary"])
                key = S.summary_key(parsed)
                if key not in seen:
                    seen.add(key)
                    S.merge(node, parsed)
                processed += int(row["processed"])
            return pd.DataFrame(
                {
                    "pid": [int(pdf["pid"].iloc[0])],
                    "summary": [json.dumps(node)],
                    "processed": [processed],
                    "error": [error],
                }
            )

        summaries = (
            summaries.withColumn(
                "grp", (F.col("pid") / tree_group_size).cast("int")
            )
            .groupBy("grp")
            .applyInPandas(
                merge_group,
                schema="pid int, summary string, processed long, error string",
            )
        )

    rows = summaries.collect()

    out = sorted(
        (r.asDict() for r in rows), key=lambda r: r["pid"]
    )
    for r in out:
        r["summary"] = json.loads(r["summary"])
    return out


def infer_json_schema(
    df: DataFrame, column: str, config: InferenceConfig | None = None
) -> InferenceResult:
    """Infer the merged JSON schema of a string column of JSON documents.

    Reference entry point parity:
    ``df.genson.infer_json_schema(col)``
    (/root/reference/polars-genson-py/python/polars_genson/__init__.py:918-1045).
    """
    config = config or InferenceConfig()
    parts = partition_summaries(df, column, config)

    first_error = next((p["error"] for p in parts if p["error"]), None)
    if first_error:
        raise SchemaInferenceError(first_error)

    processed = sum(p["processed"] for p in parts)
    if processed == 0:
        raise SchemaInferenceError("No JSON documents found to process")

    node = S.new_summary()
    # A6 duplicate-summary dedup (reference schema.rs:429-432 hashes each
    # schema with xxh64 and adds it once): on a homogeneous corpus most
    # per-partition summaries are structurally identical, and S.merge is
    # idempotent on identical structures, so each distinct summary merges
    # exactly once — in first-seen pid order, preserving determinism. We
    # key on the canonical count-stripped JSON string instead of a 64-bit
    # hash: same dedup, zero collision risk, KB-sized strings driver-side.
    seen: set[str] = set()
    for p in parts:  # partition-id order ⇒ deterministic insertion order
        key = S.summary_key(p["summary"])
        if key in seen:
            continue
        seen.add(key)
        S.merge(node, p["summary"])

    schema = S.to_schema(node)
    if not isinstance(schema, dict):  # defensive; to_schema returns dict
        schema = {}
    postprocess_schema(schema, config)
    schema = _apply_schema_uri(schema, config)

    if config.avro:
        schema = json_schema_to_avro(schema)

    return InferenceResult(schema=schema, processed_count=processed)


def infer_json_schema_per_row(
    df: DataFrame,
    column: str,
    config: InferenceConfig | None = None,
    output_col: str = "schema",
) -> DataFrame:
    """Per-row schema inference — the reference's ``merge_schemas=False``
    mode (/root/reference/polars-genson-py/src/expressions.rs:247-310):
    each row gets its own finalised schema JSON (no cross-row merge), so
    this is a row-wise map (vectorized pandas UDF), not an aggregation.
    Null/blank cells yield null.

    Serialisation note: output text is ``sort_keys=True`` — a DELIBERATE
    representation choice so per-row schema text is hash/compare-stable
    (the driver's value oracle pins it). This differs from merged-mode
    text, which preserves first-seen property order for reference
    OrderMap parity; the parsed schemas are identical either way, so
    compare parsed JSON (not text) across the two modes."""
    config = config or InferenceConfig()
    cfg = config

    @F.pandas_udf("string")
    def _one(col: pd.Series) -> pd.Series:
        def one(cell: str | None) -> str | None:
            node = S.new_summary()
            if cell is None or not _observe_cell(node, cell, cfg, 0):
                return None
            schema = S.to_schema(node)
            if not isinstance(schema, dict):
                schema = {}
            postprocess_schema(schema, cfg)
            schema = _apply_schema_uri(schema, cfg)
            if cfg.avro:
                schema = json_schema_to_avro(schema)
            return json.dumps(schema, separators=(",", ":"), sort_keys=True)

        return col.map(one)

    return df.withColumn(output_col, _one(F.col(column)))


def infer_spark_schema(
    df: DataFrame, column: str, config: InferenceConfig | None = None
):
    """Infer a pyspark ``StructType`` for the JSON column (the analogue of
    ``infer_polars_schema``, reference __init__.py:781-916)."""
    config = config or InferenceConfig()
    result = infer_json_schema(df, column, config)
    schema = result.schema
    if config.avro:
        from ..functions.bridge import avro_to_spark_schema

        return avro_to_spark_schema(schema)
    return json_schema_to_spark_schema(schema)
