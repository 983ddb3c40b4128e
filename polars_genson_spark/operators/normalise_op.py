"""Distributed row normalisation: infer once (Avro), broadcast the schema,
then enforce it on every row with a vectorized pandas UDF.

Reference pipeline parity
(/root/reference/polars-genson-py/src/expressions.rs:466-541): inference is
forced to Avro, then each row is re-parsed and coerced by
``normalise_value``. Unlike the reference's decode path (which re-infers —
the 2× slowdown measured in bench/README.md:135-139), decode here reuses
the SAME Avro schema to build the Spark ``StructType`` — single pass.

One plan shape, whatever the input: an iterator-form pandas UDF runs the
compiled normaliser over every row, then ``from_json`` decodes it when
asked. Replicated documents are absorbed by the per-task first-occurrence
cell cache (``infer.CellCache``), so the call adds no distinct pass, join
or checkpoint, and building the plan launches no Spark job once the
schema is known.

Scale: the schema is a broadcast of a KB-sized dict; normalisation is
embarrassingly parallel (no shuffle); `from_json` decode is JVM-side.
"""

from __future__ import annotations

import dataclasses
import json
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import InferenceConfig, NormaliseConfig
from ..functions.bridge import avro_to_spark_schema
from ..functions.normalise import compile_document_normaliser
from .infer import CellCache, InferenceResult, infer_json_schema, _loads


def normalise_json(
    df: DataFrame,
    column: str,
    config: InferenceConfig | None = None,
    norm: NormaliseConfig | None = None,
    output_col: str | None = None,
    decode: bool = False,
    unnest: bool = True,
    avro_schema: dict[str, Any] | None = None,
) -> DataFrame:
    """Return ``df`` with ``column`` replaced (or ``output_col`` added) by
    schema-normalised JSON text; with ``decode=True`` the normalised JSON is
    decoded to native nested columns via ``from_json``.
    """
    config = config or InferenceConfig()
    norm = norm or NormaliseConfig(wrap_root=config.wrap_root)
    out_name = output_col or column

    if avro_schema is None:
        # single inference pass, Avro forced (expressions.rs:489-511)
        avro_cfg = dataclasses.replace(config, avro=True)
        avro_schema = infer_json_schema(df, column, avro_cfg).schema

    schema_bc = df.sparkSession.sparkContext.broadcast(json.dumps(avro_schema))

    # normalisation is a pure function of the cell under a fixed schema
    # and config, so a repeated document string reuses its first output
    cell_cache = CellCache()
    _MISS = object()

    @F.pandas_udf("string")
    def _normalise(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # Iterator form: the compiled kernel is built once per task and
        # amortised over every Arrow batch (pinned bit-identical to
        # normalise_document by tests/test_normalise_compiled.py).
        kernel = compile_document_normaliser(
            json.loads(schema_bc.value), norm
        )
        dumps = json.dumps

        def one(cell: str | None) -> str | None:
            # blank/unparseable cells normalise to null rather than
            # aborting the task — violations surface as rows (SURVEY §3.2)
            if cell is None or not cell.strip():
                return None
            hit = cell_cache.get(cell, _MISS)
            if hit is not _MISS:
                return hit
            try:
                doc = _loads(cell)
            except ValueError:
                out = None
            else:
                out = dumps(kernel(doc), separators=(",", ":"))
            cell_cache.put(cell, out)
            return out

        for col in batches:
            yield col.map(one)

    dtype = None
    if decode:
        from ..config import MAP_ENCODING_ENTRIES, MAP_ENCODING_KV

        if norm.map_encoding == MAP_ENCODING_ENTRIES:
            # [{k: v}] has variable key names — no static Spark type can
            # hold it; from_json would silently null every map field
            raise ValueError(
                "decode=True does not support map_encoding='entries' "
                "(variable-key objects have no static Spark type); "
                "use 'kv' or 'mapping'"
            )
        # type map fields to MATCH the encoding the normalised text uses:
        # hardcoding kv (the old behavior) made decode of 'mapping'
        # output null for every map field — silent data loss
        dtype = avro_to_spark_schema(
            avro_schema, kv_encoding=norm.map_encoding == MAP_ENCODING_KV
        )

    result = df.withColumn(out_name, _normalise(F.col(column)))
    if dtype is not None:
        result = result.withColumn(
            out_name, F.from_json(F.col(out_name), dtype)
        )

    if decode and unnest:
        other = [c for c in result.columns if c != out_name]
        result = result.select(*other, f"{out_name}.*")
    return result


def normalise_json_with_result(
    df: DataFrame,
    column: str,
    config: InferenceConfig | None = None,
    norm: NormaliseConfig | None = None,
) -> tuple[DataFrame, InferenceResult]:
    """Like :func:`normalise_json` but also returns the inference result."""
    config = config or InferenceConfig()
    avro_cfg = dataclasses.replace(config, avro=True)
    res = infer_json_schema(df, column, avro_cfg)
    out = normalise_json(
        df, column, config=config, norm=norm, avro_schema=res.schema
    )
    return out, res
