"""Per-column / per-partition statistics — pure DataFrame aggregations.

Everything here is expressible as Catalyst aggregates (whole-stage codegen,
map-side partial aggregation), so the only shuffle is the tiny
per-(source, bucket) rollup. SURVEY.md §7.1 step 3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import ValidationConfig


def column_stats(df: DataFrame, cfg: ValidationConfig | None = None) -> DataFrame:
    """Per-source column stats: counts, null rates, n_tok min/max/mean,
    token totals. One row per source."""
    cfg = cfg or ValidationConfig()
    c = F.col
    return (
        df.groupBy(cfg.source_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(c(cfg.doc_id_col).isNull().cast("long")).alias("null_doc_id"),
            F.sum(c(cfg.tokens_col).isNull().cast("long")).alias("null_tokens"),
            F.sum(c(cfg.n_tok_col).isNull().cast("long")).alias("null_n_tok"),
            F.min(cfg.n_tok_col).alias("min_n_tok"),
            F.max(cfg.n_tok_col).alias("max_n_tok"),
            F.round(F.avg(cfg.n_tok_col), 4).alias("avg_n_tok"),
            # size() behind a not-null guard: ANSI-off size(null) = -1
            # would silently subtract one per null-tokens row
            F.sum(
                F.when(
                    c(cfg.tokens_col).isNotNull(), F.size(c(cfg.tokens_col))
                ).cast("long")
            ).alias("total_tokens"),
        )
    )


def token_length_histogram(
    df: DataFrame, cfg: ValidationConfig | None = None
) -> DataFrame:
    """Histogram of sequence lengths per source: (source, bucket, cnt).

    bucket = floor(n_tok / bucket_width). Map-side combine keeps the
    shuffle at |sources| × |buckets| rows regardless of input size.
    """
    cfg = cfg or ValidationConfig()
    # floor, not cast-truncation — matches the streaming PSI's pandas //
    # on the same lengths (they diverge for negative corrupt values)
    bucket = F.floor(F.col(cfg.n_tok_col) / cfg.token_hist_bucket)
    return (
        df.where(F.col(cfg.n_tok_col).isNotNull())
        .groupBy(F.col(cfg.source_col), bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def token_id_histogram(
    df: DataFrame, cfg: ValidationConfig | None = None
) -> DataFrame:
    """Histogram of token *values* per source for drift tests:
    (source, bucket, cnt) with bucket = floor(token_id / (vocab/buckets)).

    Catalyst explode + two-phase hash aggregate: the partial aggregate
    runs before the exchange and the whole pipeline stays in whole-stage
    codegen, so the shuffle carries at most |sources| × buckets ×
    partitions rows, independent of corpus size, and no token crosses
    into a Python worker.
    """
    cfg = cfg or ValidationConfig()
    width = max(1, cfg.vocab_size // cfg.token_id_buckets)
    tok = F.explode(F.col(cfg.tokens_col)).alias("tok")
    return (
        df.select(F.col(cfg.source_col), tok)
        .groupBy(
            cfg.source_col,
            # floor division, NOT cast-truncation: cast truncates toward
            # zero, silently merging negative (out-of-range) ids in
            # (-width, 0) into valid bucket 0
            F.floor(F.col("tok") / width).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def skew_report(
    df: DataFrame,
    key_col: str,
    top_k: int = 10,
) -> DataFrame:
    """Skew diagnosis for a prospective shuffle key: the top-k heaviest
    key values with their share of all rows and the ratio to a perfectly
    uniform key (share × distinct-keys). A ratio ≫ 1 on a planned
    groupBy/join key says "salt this" BEFORE the job stalls on one
    straggler task — the measurement half of the salting story.

    One count shuffle on the key; the distinct-key total is an exact
    count over the rollup. Top-k selection is orderBy+limit — Spark's
    TakeOrderedAndProject (per-partition top-k, k-row merge), NOT a
    global row_number window, which would funnel the whole |distinct
    keys| rollup through one task; the rank window then runs on the k
    surviving rows only.
    """
    from pyspark.sql import Window

    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    totals = counts.agg(
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    top = (
        counts.orderBy(F.col("cnt").desc(), F.col("key")).limit(top_k)
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("key"))
    return (
        top.crossJoin(F.broadcast(totals))
        .withColumn("rank", F.row_number().over(w))
        .select(
            "rank",
            F.col("key").cast("string").alias("key"),
            "cnt",
            F.round(F.col("cnt") / F.col("total"), 6).alias("share"),
            F.round(
                F.col("cnt") * F.col("n_keys") / F.col("total"), 4
            ).alias("skew_ratio"),
        )
    )
