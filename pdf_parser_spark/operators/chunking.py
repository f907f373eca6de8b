"""Training-data shaping: chunking, sequence packing, deterministic sampling.

The last mile of an LLM data pipeline: split documents into model-sized
chunks, pack them into fixed token budgets, and draw reproducible samples.
All three are pure JVM expressions (split/sequence/slice, window prefix
sums, portable hashes) with exact DuckDB oracles — no Python in the hot
path, no RNG (sampling is hash-threshold based, so membership is a pure
function of the key and survives retries/re-runs at any cluster size).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import md5_hash60

__all__ = ["chunk_documents", "pack_documents", "deterministic_sample"]


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 8,
    min_tokens: int = 0,
) -> DataFrame:
    """Split each document into overlapping whitespace-token chunks.

    Chunk k starts at token offset k*(chunk_tokens-overlap) and takes
    chunk_tokens tokens; the tail chunk is shorter. A document with fewer
    than `min_tokens` tokens yields no chunks. split -> sequence -> slice ->
    posexplode, all codegen'd; the fan-out is bounded by n_tokens/stride
    per row, so skew follows document length, which the F1 size cap
    already bounds. Returns (id, chunk_idx, chunk_text, n_tokens).

    The tokens are projected once and both the gate and the chunker read
    that column: a split inside the transform lambda is re-evaluated for
    every chunk (quadratic in document length), and a separate
    `where(size(split(..)))` gate gets the split inlined by Catalyst's
    predicate pushdown, tokenizing the text twice.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap
    tokens = F.col("_tokens")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(tokens) - overlap, F.lit(1)), F.lit(step)
    )
    if min_tokens:
        starts = F.when(F.size(tokens) >= min_tokens, starts)
    chunks = F.transform(starts, lambda s: F.slice(tokens, s, chunk_tokens))
    return (
        df.select(
            F.col(id_col),
            F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
            .alias("_tokens"),
        )
        .select(id_col, F.posexplode(chunks).alias("chunk_idx", "_chunk"))
        .select(
            id_col,
            "chunk_idx",
            F.array_join("_chunk", " ").alias("chunk_text"),
            F.size("_chunk").alias("n_tokens"),
        )
    )


def pack_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_budget: int = 2048,
    shard_col: Optional[str] = None,
    num_shards: int = 64,
    tokens_col: Optional[str] = None,
) -> DataFrame:
    """Stream-order sequence packing: concatenate documents in key order and
    cut fixed token windows — each document is tagged with the pack window
    its first token lands in and its offset in the stream (pretraining-style
    packing, where documents may straddle a boundary).

    One prefix-sum window, always partitioned. Pass shard_col to control the
    sharding; when None a deterministic default shard is derived as
    pmod(xxhash64(id), num_shards) — packing happens independently per shard,
    which is both the scalable plan (no global single-partition sort is
    reachable through this API) and the semantics training actually wants
    (any consistent order works; only determinism matters).
    Returns (id, shard, n_tokens, stream_offset, pack_id).
    """
    if tokens_col is not None:
        # caller supplies the budget unit (e.g. real BPE token counts) —
        # whitespace counting is only the default proxy
        toks = F.col(tokens_col).cast("long")
    else:
        toks = F.size(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
        ).cast("long")
    if shard_col is None:
        # safe default: a Window.partitionBy() (empty) here would serialize
        # the whole corpus through one task — derive a hash shard instead
        shard_col = "shard"
        df = df.withColumn(
            shard_col,
            F.pmod(F.xxhash64(F.col(id_col).cast("string")),
                   F.lit(num_shards)).cast("int"),
        )
    base = df.select(
        F.col(shard_col),
        F.col(id_col),
        toks.alias("n_tokens"),
    )
    w = (
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return base.select(
        shard_col,
        id_col,
        "n_tokens",
        (cum - F.col("n_tokens")).alias("stream_offset"),
        F.floor((cum - F.col("n_tokens")) / token_budget).alias("pack_id"),
    )


def deterministic_sample(
    df: DataFrame,
    key_col: str = "doc_id",
    rate: float = 0.1,
    salt: str = "",
    denom: int = 10_000,
) -> DataFrame:
    """Hash-threshold sampling: keep rows whose md5-derived bucket falls
    under rate. Membership is a pure function of (key, salt) — identical on
    every engine, cluster size, and retry, unlike rand()-based sampling —
    and different salts give independent samples for held-out splits.
    """
    bucket = md5_hash60(
        F.concat(F.col(key_col).cast("string"), F.lit(salt))
    ) % denom
    return df.where(bucket < int(rate * denom))
