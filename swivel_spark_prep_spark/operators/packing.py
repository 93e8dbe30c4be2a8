"""Sequence packing: concat-and-chunk document → training-sequence layout.

The standard LLM pretraining packing: lay every document's tokens end to
end in a deterministic document order, then cut the stream every
`chunk_tokens` tokens. Each document therefore occupies the half-open
token span [cum_before, cum_before + n_tok), which maps to the chunk range
[cum_before // chunk, (cum_before + n_tok - 1) // chunk] — documents may
straddle a boundary (that is the point: zero padding waste).

Scale design: the only non-trivial step is the exclusive prefix sum of
token counts in document order. A naive `SUM() OVER (ORDER BY ...)` is a
single-task global window; instead this uses ranks.partitioned_prefix_sum
(as swivel.assign_ids does) — range-partition by the order column,
partition-local prefix sums in parallel, then add per-partition offsets
computed from the partition TOTALS (a window over #partitions rows, never
data). Identical results, no single-task stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _exclusive_prefix_sum(
    df: DataFrame, value_col: str, order_cols: list, out_col: str
) -> DataFrame:
    """cum_before = sum of value_col over all rows strictly before this one
    in the total order — two-pass, no global window. Thin long-typed
    wrapper over the public primitive this pattern was promoted into
    (operators/ranks.partitioned_prefix_sum, round-10 extraction)."""
    from swivel_spark_prep_spark.operators.ranks import partitioned_prefix_sum

    out = partitioned_prefix_sum(
        df, order_cols, [value_col], [out_col], inclusive=False
    )
    return out.withColumn(out_col, F.col(out_col).cast("long"))


def pack_sequences(
    docs: DataFrame,
    chunk_tokens: int,
    text_col: str = "text",
    order_col: str = "doc_id",
    token_count_col: str | None = None,
) -> DataFrame:
    """Concat-and-chunk layout: (doc, n_tok, first_chunk, last_chunk) for
    every document, tokens counted by whitespace split. Deterministic in
    `order_col`; downstream writers group by chunk id to materialize the
    packed sequences."""
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    # token_count_col: pack by a precomputed token count (e.g. BPE n_tok
    # from operators/bpe.bpe_encode) instead of the whitespace default —
    # token-accurate packing for real tokenizers, same layout math.
    if token_count_col is not None:
        with_tok = docs.select(
            order_col, F.col(token_count_col).cast("long").alias("n_tok")
        )
    else:
        with_tok = docs.select(
            order_col,
            F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tok"),
        )
    cum = _exclusive_prefix_sum(with_tok, "n_tok", [order_col], "cum_before")
    return cum.select(
        order_col,
        "n_tok",
        F.floor(F.col("cum_before") / chunk_tokens).cast("long").alias("first_chunk"),
        F.floor((F.col("cum_before") + F.col("n_tok") - 1) / chunk_tokens)
        .cast("long")
        .alias("last_chunk"),
    )


def length_bucketed_batches(
    docs: DataFrame,
    token_budget: int,
    text_col: str = "text",
    order_col: str = "doc_id",
    token_count_col: str | None = None,
) -> DataFrame:
    """Length-bucketed inference batching: walk documents in descending
    token-count order (ties by `order_col`) and cut a new batch every
    `token_budget` cumulative tokens. Because neighbours in the walk
    have similar lengths, per-batch padding-to-max waste is small — the
    standard serving-side batching prep.

    Returns one row per document: (order_col, n_tok, batch_id). Reuses
    the same two-pass range-partitioned prefix sum as pack_sequences —
    no global window, no single-task stage at any corpus size.
    """
    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    if token_count_col is not None:
        with_tok = docs.select(
            order_col, F.col(token_count_col).cast("long").alias("n_tok")
        )
    else:
        with_tok = docs.select(
            order_col,
            F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tok"),
        )
    cum = _exclusive_prefix_sum(
        with_tok, "n_tok", [F.desc("n_tok"), F.asc(order_col)], "cum_before"
    )
    return cum.select(
        order_col,
        "n_tok",
        F.floor(F.col("cum_before") / token_budget).cast("long").alias("batch_id"),
    )
