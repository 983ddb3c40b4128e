"""The benchmark's workloads: seeded inputs, the timed operation, and an
oracle for its output that does not share code with the library.

Each workload is a class with the same shape:

- ``setup()``      generate and write the inputs (counted in ``setup_s``);
- ``build_oracle()`` expected outputs, computed once (excluded from
                   ``setup_s``);
- ``prepare()``    untimed per-op reset (empty or restore the run dir);
- ``op()``         the timed call into the library's public entry points;
- ``check(out)``   the list of ways ``out`` differs from the oracle;
- ``counts(out)``  per-op layer counts for the traced run.

The library sees only the generated inputs, never the seed.
"""

from __future__ import annotations

import functools
import json
import math
import os
import random
import shutil
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_genson_spark import jobs
from polars_genson_spark.operators import infer as infer_mod
from polars_genson_spark.operators import normalise_op
from polars_genson_spark.sources.corpus import (
    ALLOWED_SOURCES,
    DRIFTED_SOURCE,
    allowed_sources_df,
    write_corpus,
)

# Rows per op. A run is mostly fixed cost (JVM start, cold codegen,
# warm-up), so these stay small to keep the whole benchmark short; see
# README.md.
SIZES = {
    "validate_fresh": 50_000,
    "validate_resume": 50_000,
    "json_unique": 50_000,
    "json_replicated": 50_000,
}
REPLICATED_DISTINCT = 1_000
RESUMED_SOURCE = "books"
VOCAB_SIZE = 50_257  # ValidationConfig's default vocabulary


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# --------------------------------------------------------------------------
# corpus validation
# --------------------------------------------------------------------------

# manifest fields the DuckDB oracle recomputes independently
_ORACLE_FIELDS = (
    "n_rows",
    "null_n_tok",
    "min_n_tok",
    "max_n_tok",
    "n_tok_mismatch",
    "consistency_violations",
    "referential_violations",
    "duplicate_rows",
)


def duckdb_corpus_stats(corpus_path: str) -> dict[str, dict[str, int]]:
    """Per-source expected verdict counts, computed by DuckDB straight from
    the parquet files (no Spark, no library code)."""
    import duckdb

    allowed = ", ".join(f"'{s}'" for s in ALLOWED_SOURCES)
    glob = os.path.join(corpus_path, "*", "*.parquet")
    sql = f"""
    WITH c AS (
        SELECT * FROM read_parquet('{glob}', hive_partitioning = true)
    ),
    dup AS (SELECT doc_id FROM c GROUP BY doc_id HAVING count(*) > 1)
    SELECT
        source,
        count(*) AS n_rows,
        count(*) - count(n_tok) AS null_n_tok,
        min(n_tok) AS min_n_tok,
        max(n_tok) AS max_n_tok,
        count_if(n_tok <> len(tokens)) AS n_tok_mismatch,
        count_if(
            doc_id IS NULL OR tokens IS NULL OR n_tok IS NULL
            OR n_tok <> len(tokens)
            OR len(list_filter(tokens, t -> t < 0 OR t >= {VOCAB_SIZE})) > 0
        ) AS consistency_violations,
        count_if(source NOT IN ({allowed})) AS referential_violations,
        count_if(doc_id IN (SELECT doc_id FROM dup)) AS duplicate_rows
    FROM c
    GROUP BY source
    """
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
    finally:
        con.close()
    out = {}
    for row in rows:
        rec = dict(zip(cols, row))
        source = str(rec.pop("source"))
        out[source] = {k: int(v) for k, v in rec.items()}
    return out


def read_verdicts(run_dir: str) -> list[dict[str, Any]]:
    """``verdicts.parquet`` rows, read with DuckDB."""
    import duckdb

    glob = os.path.join(run_dir, "verdicts.parquet", "*", "*.parquet")
    con = duckdb.connect()
    try:
        cur = con.execute(
            f"SELECT * FROM read_parquet('{glob}', hive_partitioning = true)"
        )
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]
    finally:
        con.close()


def _same(a: Any, b: Any) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return (
            a is not None
            and b is not None
            and math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-12)
        )
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def _diff(label: str, got: Any, want: Any) -> list[str]:
    """Differences between ``got`` and ``want``, one per differing leaf."""
    if isinstance(got, dict) and isinstance(want, dict):
        out = []
        for k in sorted(set(got) | set(want), key=str):
            out += _diff(f"{label}.{k}", got.get(k), want.get(k))
        return out
    return [] if _same(got, want) else [f"{label}: got {got!r}, want {want!r}"]


class _ValidateBase:
    """Shared inputs of the two validation workloads: the generated
    corpus, written once as source-partitioned parquet."""

    def __init__(self, spark: SparkSession, work: str, seed: int, rows: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.rows = rows
        self.corpus_path = os.path.join(work, "corpus")
        self.run_dir = os.path.join(work, "run")

    def setup(self) -> None:
        write_corpus(self.spark, self.corpus_path, self.rows, self.seed)
        self.allowed = allowed_sources_df(self.spark)
        self.corpus = self._read_corpus()

    def _read_corpus(self) -> DataFrame:
        return self.spark.read.parquet(self.corpus_path)

    def _manifest(self, run_dir: str) -> dict[str, Any]:
        with open(os.path.join(run_dir, "manifest.json")) as f:
            return json.load(f)

    def op(self) -> dict[str, Any]:
        return jobs.run_validation(
            self.spark, self.corpus, self.allowed, self.run_dir
        )

    def counts(self, out: dict[str, Any]) -> dict[str, float]:
        """Per-op layer counts the op's output and run dir show."""
        files = size = 0
        for base, _, names in os.walk(self.run_dir):
            for n in names:
                if n.startswith("part-") or n == "manifest.json":
                    files += 1
                    size += os.path.getsize(os.path.join(base, n))
        n_parts = len(out["skipped"]) + len(out["validated"])
        return {
            "skipped_share": len(out["skipped"]) / n_parts if n_parts else 0.0,
            "output_files": files,
            "output_bytes": size,
        }


class ValidateFresh(_ValidateBase):
    """``run_validation`` over the whole corpus into an emptied run dir."""

    name = "validate_fresh"

    def build_oracle(self) -> None:
        self.expected = duckdb_corpus_stats(self.corpus_path)

    def prepare(self) -> None:
        _rmtree(self.run_dir)

    def check(self, out: dict[str, Any]) -> list[str]:
        problems = []
        parts = self._manifest(self.run_dir)["partitions"]
        problems += _diff("returned partitions", out["partitions"], parts)
        problems += _diff("partition set", sorted(parts), sorted(self.expected))
        for src, want in self.expected.items():
            got = parts.get(src, {})
            for k in _ORACLE_FIELDS:
                problems += _diff(f"{src}.{k}", got.get(k), want[k])
        drifted = {s for s, p in parts.items() if p.get("drifted")}
        problems += _diff("drifted sources", drifted, {DRIFTED_SOURCE})
        problems += _diff("validated", out["validated"], sorted(self.expected))
        return problems


class ValidateResume(_ValidateBase):
    """Resumed ``run_validation`` after one source partition changed.

    The change reverses every token array of ``books``: the partition's
    fingerprint changes, while doc ids, lengths and the token histogram do
    not, so the carried-forward metrics of the other sources (duplicates
    and drift are corpus-wide) stay those of a from-scratch run."""

    name = "validate_resume"

    def setup(self) -> None:
        super().setup()
        # the run every resume starts from: a fresh validation of the
        # original corpus; its manifest is restored before each op
        self.op()
        with open(os.path.join(self.run_dir, "manifest.json")) as f:
            self.base_manifest = f.read()
        self._rewrite_resumed_source()
        self.corpus = self._read_corpus()

    def _rewrite_resumed_source(self) -> None:
        part = os.path.join(self.corpus_path, f"source={RESUMED_SOURCE}")
        staged = os.path.join(self.work, "resumed_source")
        (
            self.spark.read.parquet(part)
            .withColumn("tokens", F.reverse("tokens"))
            .write.mode("overwrite")
            .parquet(staged)
        )
        _rmtree(part)
        os.rename(staged, part)

    def build_oracle(self) -> None:
        oracle_dir = os.path.join(self.work, "oracle_run")
        _rmtree(oracle_dir)
        jobs.run_validation(
            self.spark, self._read_corpus(), self.allowed, oracle_dir
        )
        manifest = self._manifest(oracle_dir)
        self.expected_parts = manifest["partitions"]
        self.expected_fps = manifest["fingerprints"]
        self.expected_verdicts = read_verdicts(oracle_dir)
        _rmtree(oracle_dir)

    def prepare(self) -> None:
        with open(os.path.join(self.run_dir, "manifest.json"), "w") as f:
            f.write(self.base_manifest)

    def check(self, out: dict[str, Any]) -> list[str]:
        problems = _diff("validated", out["validated"], [RESUMED_SOURCE])
        manifest = self._manifest(self.run_dir)
        problems += _diff("partitions", manifest["partitions"], self.expected_parts)
        problems += _diff("fingerprints", manifest["fingerprints"], self.expected_fps)
        problems += _diff(
            "verdicts.parquet",
            {r["source"]: r for r in read_verdicts(self.run_dir)},
            {r["source"]: r for r in self.expected_verdicts},
        )
        return problems


# --------------------------------------------------------------------------
# JSON infer + normalise
# --------------------------------------------------------------------------

# The generator's declared schema: what infer_json_schema must return.
# Every document has these keys except ``note`` (optional, so it is not
# in ``required``); ``score`` mixes ints and floats (widened to number);
# ``tags`` is a string or an array of strings (a union); ``labels`` uses
# data as keys, 50 distinct keys > map_threshold (20), so it is a map.
DECLARED_SCHEMA = {
    "$schema": "http://json-schema.org/schema#",
    "type": "object",
    "properties": {
        "id": {"type": "integer"},
        "name": {"type": "string"},
        "score": {"type": "number"},
        "note": {"type": "string"},
        "tags": {
            "anyOf": [
                {"type": "array", "items": {"type": "string"}},
                {"type": "string"},
            ]
        },
        "user": {
            "type": "object",
            "properties": {
                "name": {"type": "string"},
                "age": {"type": "integer"},
                "active": {"type": "boolean"},
            },
            "required": ["active", "age", "name"],
        },
        "vals": {"type": "array", "items": {"type": "integer"}},
        "labels": {"type": "object", "additionalProperties": {"type": "string"}},
    },
    "required": ["id", "labels", "name", "score", "tags", "user", "vals"],
}
# The normalised, decoded row type: optional keys become null, the tags
# union takes its array branch (a lone string is wrapped) and the map is
# decoded as key/value entries. ``score`` is inferred as number (Avro
# float); normalising keeps its float values and turns its integer values
# into null, as the reference's normaliser does (a float field accepts
# only numbers that are floats in the JSON text).
DECLARED_ROW_DDL = (
    "id BIGINT, name STRING, score DOUBLE, note STRING, tags ARRAY<STRING>,"
    " user STRUCT<name: STRING, age: BIGINT, active: BOOLEAN>,"
    " vals ARRAY<BIGINT>, labels ARRAY<STRUCT<key: STRING, value: STRING>>"
)
DECODED_COLUMNS = ("id", "name", "score", "note", "tags", "user", "vals", "labels")
N_LABEL_KEYS = 50


def _document(k: int, rng: random.Random) -> tuple[dict, dict]:
    """Document ``k`` and the form normalisation must give it."""
    score = rng.randrange(1000)
    score_is_int = rng.random() < 0.5
    note = f"t{rng.randrange(1000)}" if rng.random() < 0.7 else None
    if rng.random() < 1 / 3:
        tags: str | list[str] = f"x{rng.randrange(100)}"
    else:
        tags = [f"x{rng.randrange(100)}" for _ in range(rng.randint(1, 3))]
    user = {
        "name": f"u{rng.randrange(1000)}",
        "age": rng.randrange(90),
        "active": rng.random() < 0.5,
    }
    vals = [rng.randrange(1000) for _ in range(rng.randint(1, 5))]
    first = rng.randrange(N_LABEL_KEYS)
    labels = {
        f"k{(first + j) % N_LABEL_KEYS:03d}": f"l{rng.randrange(10)}"
        for j in range(rng.randint(1, 3))
    }
    doc = {"id": k, "name": f"n{rng.randrange(100_000)}"}
    expect = dict(doc)
    doc["score"] = score if score_is_int else score + 0.5
    expect["score"] = None if score_is_int else score + 0.5
    if note is not None:
        doc["note"] = note
    expect["note"] = note
    doc["tags"] = tags
    expect["tags"] = tags if isinstance(tags, list) else [tags]
    doc["user"] = expect["user"] = user
    doc["vals"] = expect["vals"] = vals
    doc["labels"] = labels
    expect["labels"] = [{"key": key, "value": v} for key, v in labels.items()]
    return doc, expect


def json_documents(
    n: int, seed: int, distinct: int | None = None
) -> tuple[list[str], list[str]]:
    """``n`` JSON documents (the input text) and, row for row, the same
    document as normalisation must render it. With ``distinct`` set, row
    ``i`` holds document ``i % distinct``."""
    rng = random.Random(seed)
    m = n if distinct is None else min(distinct, n)
    dumps = functools.partial(json.dumps, separators=(",", ":"))
    pairs = [tuple(map(dumps, _document(k, rng))) for k in range(m)]
    rows = pairs if distinct is None else [pairs[i % m] for i in range(n)]
    return [d for d, _ in rows], [e for _, e in rows]


def write_strings(path: str, column: str, values: list[str], files: int) -> None:
    """One string column as ``files`` parquet files of contiguous rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = -(-len(values) // files)
    for i in range(files):
        chunk = values[i * step:(i + 1) * step]
        pq.write_table(
            pa.table({column: pa.array(chunk, pa.string())}),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


def rows_checksum(df: DataFrame) -> tuple[int, int]:
    """(row count, order-independent sum of per-row xxhash64) over the
    decoded columns; computing it materialises every decoded cell."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*DECODED_COLUMNS).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


class _JsonBase:
    """``infer_json_schema`` then a fully materialised
    ``normalise_json(decode=True)`` over one JSON string column."""

    distinct: int | None = None

    def __init__(self, spark: SparkSession, work: str, seed: int, rows: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.rows = rows
        self.path = os.path.join(work, "docs")

    def setup(self) -> None:
        docs, self.expected_docs = json_documents(self.rows, self.seed, self.distinct)
        files = self.spark.sparkContext.defaultParallelism
        write_strings(self.path, "doc", docs, files)
        self.docs = self.spark.read.parquet(self.path)

    def build_oracle(self) -> None:
        path = os.path.join(self.work, "expected")
        write_strings(path, "expect", self.expected_docs, 1)
        self.expected_checksum = rows_checksum(
            self.spark.read.parquet(path)
            .select(F.from_json("expect", DECLARED_ROW_DDL).alias("r"))
            .select("r.*")
        )

    def prepare(self) -> None:
        pass

    def counts(self, out: dict[str, Any]) -> dict[str, float]:
        return {}

    def op(self) -> dict[str, Any]:
        # called through the modules, so the traced run's wrappers apply
        t0 = time.perf_counter()
        inferred = infer_mod.infer_json_schema(self.docs, "doc")
        t1 = time.perf_counter()
        normalised = normalise_op.normalise_json(self.docs, "doc", decode=True)
        checksum = materialise(normalised)
        t2 = time.perf_counter()
        return {
            "schema": inferred.schema,
            "processed": inferred.processed_count,
            "checksum": checksum,
            "call_s": {"infer": t1 - t0, "normalise": t2 - t1},
        }

    def check(self, out: dict[str, Any]) -> list[str]:
        return (
            _diff("schema", out["schema"], DECLARED_SCHEMA)
            + _diff("processed_count", out["processed"], self.rows)
            + _diff("decoded rows (count, checksum)", out["checksum"],
                    self.expected_checksum)
        )


def materialise(normalised: DataFrame) -> tuple[int, int]:
    """The action that runs the normalisation: every decoded cell is
    computed and folded into :func:`rows_checksum`."""
    return rows_checksum(normalised)


class JsonUnique(_JsonBase):
    """Every document distinct (a unique id each): the per-task cell
    caches miss and the Python kernels do all the work."""

    name = "json_unique"


class JsonReplicated(_JsonBase):
    """~1,000 distinct documents repeated to the full row count: the cell
    caches and, where its gate allows, the distinct route do the work."""

    name = "json_replicated"
    distinct = REPLICATED_DISTINCT


WORKLOADS = {
    w.name: w for w in (ValidateFresh, ValidateResume, JsonUnique, JsonReplicated)
}
