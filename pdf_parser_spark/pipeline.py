"""The Spark extraction pipeline: one declarative plan, one Python kernel pass.

Spark re-expression of the reference's per-file loop (SURVEY.md §3.1):

    scan(pages) -> size-aware repartition (url-hash + mega-doc spreading)
                -> mapInPandas(extract_kernel)   # validate/route/parse/fields
                -> withColumn(extracted_at)      # S4: server-side timestamp
                -> sink (parquet append) + observe() counters

Design notes for 100 TB scale:
  * ZERO shuffles by default. The kernel is a pure per-row map, so the
    payload never needs an exchange; load balance comes from scan-split
    sizing (spark.sql.files.maxPartitionBytes) instead. Measured on this
    box at sf1 (1.25 GB): shuffling the payload first costs 9-18 s and is
    erratic (disk/memory-bandwidth-bound, does NOT scale 8->32 cores);
    the shuffle-free plan runs 4.7 s at local[32] and scales at ~0.83
    efficiency from local[8]. At 100 TB the difference is shuffling
    100 TB vs shuffling nothing.
  * Skew: per-task work is bounded by maxPartitionBytes; a single document
    is bounded by the 50 MB F1 cap, so the worst straggler is one 50 MB doc
    (~5-10 s), amortized across thousands of tasks. The optional
    `repartition_partitions` arg restores an explicit url-hash exchange
    with mega-doc spreading for UNSPLITTABLE sources (gzip WARC dumps,
    few huge files) where scan splits can't balance.
  * The kernel short-circuits invalid rows before any expensive parsing
    (reference fail-fast order: size -> magic -> extension ->
    parse -> fields; validators.py:37-39, pdf_processor.py:63-67). That
    order lives in `route_document` alone; the SQL surface calls it too.
  * Per-row error isolation: a bad document yields a status='error' row,
    never a task failure (batch_processor.py:84-88 semantics).
  * The kernel is a pure function of (url, html, text) bytes, so task retries
    and speculative execution are safe (deterministic output).
"""

from __future__ import annotations

import hashlib
import os
from typing import Callable, Dict, Iterator, List, Optional, Tuple

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, StringType, StructField, StructType, TimestampType,
)

from .kernels import validate as V
from .kernels.ai_stub import ai_extract, stub_model
from .kernels.fields import (
    DataExtractionError, canonical_json, extract_fields_with_spans,
)
from .kernels.htmlmain import extract_main_content
from .kernels.pdftext import PDFProcessingError, extract_text

__all__ = [
    "OUTPUT_SCHEMA", "load_pages", "extract_pipeline", "extract_kernel",
    "write_output", "resume_against", "resume_from", "with_metrics",
    "route_document", "run_job",
]

MEGA_THRESHOLD = 1 * 1024 * 1024  # docs above 1 MB get spread round-robin

SPAN_TYPE = ArrayType(
    StructType([
        StructField("field", StringType()),
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
    ])
)

OUTPUT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("file_hash", StringType()),
    StructField("method", StringType()),
    StructField("text", StringType()),
    StructField("spans", SPAN_TYPE),
    StructField("fields_json", StringType()),
    StructField("lang", StringType()),
    StructField("status", StringType()),
    StructField("error", StringType()),
])


def load_pages(spark: SparkSession, corpus_dir: str) -> DataFrame:
    """Scan the page table. With Iceberg this is spark.read.format('iceberg');
    the small-scale stand-in is the sharded parquet written by corpus.py."""
    return spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))


# --------------------------------------------------------------------------
# The kernel: Arrow-batched, pure, error-isolated
# --------------------------------------------------------------------------

def route_document(
    url: Optional[str], html: Optional[bytes], text_in: Optional[str]
) -> Tuple[Optional[str], List[Tuple[str, int, int]], Optional[str]]:
    """The one document-routing function: validate, then extract text.

    Returns (text, spans, error); error is None on success. Routing:
    pre-extracted text -> text branch; %PDF magic or .pdf url -> PDF branch
    (full reference chain size -> magic -> extension -> parse); anything
    else with bytes -> HTML branch (size band + boilerplate strip). Never
    raises: a bad document becomes an error string.
    """
    if url is None:
        return None, [], "missing url"
    if text_in:
        return text_in, [], None
    if not html:
        return None, [], "empty document"
    name = url.rsplit("/", 1)[-1] or url
    try:
        if V.is_pdf_bytes(html) or V.is_pdf_url(url):
            err = V.validate_pdf_document(html, name)
            return (None, [], err) if err else (extract_text(html), [], None)
        err = V.validate_size(html, name)
        if err:
            return None, [], err
        text, block_spans = extract_main_content(html)
        return text, [(f"block:{tag}", s, e) for tag, s, e in block_spans], None
    except PDFProcessingError as e:
        return None, [], str(e)
    except Exception as e:  # never let one document kill the task
        return None, [], f"extraction error: {e}"


def _extract_one(
    url: Optional[str],
    html: Optional[bytes],
    text_in: Optional[str],
    method: str,
    model: Callable[[str], str],
) -> Tuple[Optional[str], Optional[str], List[Tuple[str, int, int]],
           Optional[str], str, Optional[str]]:
    """`route_document` plus the content hash and field extraction.

    Returns (file_hash, text, spans, fields_json, status, error).
    """
    payload = html or (text_in or "").encode("utf-8")
    file_hash = hashlib.sha256(payload).hexdigest()[:6] if payload else None
    text, spans, err = route_document(url, html, text_in)
    if err is not None:
        return file_hash, None, [], None, "error", err

    try:
        if method == "ai":
            fields = ai_extract(text, ["customer_name", "policy_number", "claim_amount"], model)
            field_spans: List[Tuple[str, int, int]] = []
        else:
            fields, field_spans = extract_fields_with_spans(text)
        spans.extend(field_spans)
        return file_hash, text, spans, canonical_json(fields), "ok", None
    except DataExtractionError as e:
        return file_hash, text, spans, None, "error", str(e)
    except Exception as e:
        return file_hash, text, spans, None, "error", f"field extraction error: {e}"


def extract_kernel(
    method: str = "classic",
    model: Callable[[str], str] = stub_model,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Build the mapInPandas kernel (closure carries precompiled config)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: Dict[str, list] = {
                "url": [], "warc_ts": [], "file_hash": [], "method": [],
                "text": [], "spans": [], "fields_json": [], "lang": [],
                "status": [], "error": [],
            }
            for url, ts, html, text_in, lang in zip(
                pdf["url"], pdf["warc_ts"], pdf["html"], pdf["text"], pdf["lang"]
            ):
                fh, text, spans, fj, status, err = _extract_one(
                    url, html, text_in, method, model
                )
                out["url"].append(url)
                out["warc_ts"].append(ts)
                out["file_hash"].append(fh)
                out["method"].append(method)
                out["text"].append(text)
                out["spans"].append([
                    {"field": f, "start": s, "end": e} for f, s, e in spans
                ])
                out["fields_json"].append(fj)
                out["lang"].append(lang)
                out["status"].append(status)
                out["error"].append(err)
            yield pd.DataFrame(out)

    return kernel


# --------------------------------------------------------------------------
# Plan assembly
# --------------------------------------------------------------------------

def _size_aware_repartition(pages: DataFrame, num_partitions: int) -> DataFrame:
    """One explicit shuffle with skew handling.

    Small docs hash-partition by url (deterministic co-location); docs over
    MEGA_THRESHOLD are spread round-robin so no partition owns two 50 MB
    rows. Disjoint row sets, so the union stays a single logical shuffle
    stage.
    """
    # coalesce: length(NULL) is NULL, which would drop NULL-html rows from
    # BOTH filter branches — they must surface as error rows, never vanish
    is_mega = F.coalesce(F.length(F.col("html")), F.lit(0)) > F.lit(MEGA_THRESHOLD)
    small = pages.where(~is_mega).repartition(num_partitions, F.xxhash64("url"))
    big = pages.where(is_mega).repartition(max(4, num_partitions // 2))
    return small.unionByName(big)


def extract_pipeline(
    pages: DataFrame,
    method: str = "classic",
    model: Callable[[str], str] = stub_model,
    repartition_partitions: Optional[int] = None,
) -> DataFrame:
    """The full lazy plan: [optional repartition ->] kernel -> timestamp.

    Default is shuffle-free: the scan's splits (maxPartitionBytes) balance
    the work and the kernel maps over them directly. Pass
    `repartition_partitions` to force the explicit url-hash + mega-doc-spread
    exchange for unsplittable sources. Works on batch and streaming pages.
    """
    src = pages.select("url", "warc_ts", "html", "text", "lang")
    if repartition_partitions:
        src = _size_aware_repartition(src, repartition_partitions)
    extracted = src.mapInPandas(extract_kernel(method, model), OUTPUT_SCHEMA)
    return extracted.withColumn("extracted_at", F.current_timestamp())


def with_metrics(df: DataFrame) -> Tuple[DataFrame, Observation]:
    """Attach the north rule's (docs, bytes, parse-failures) counters."""
    obs = Observation("extract_metrics")
    df = df.observe(
        obs,
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.length("text")).alias("text_chars"),
        F.count(F.when(F.col("status") == "error", 1)).alias("parse_failures"),
    )
    return df, obs


def lineage_rows(df: DataFrame) -> DataFrame:
    """Per-partition lineage: (partition, docs, ok, errors) for audit."""
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.count(F.when(F.col("status") == "ok", 1)).alias("ok"),
            F.count(F.when(F.col("status") == "error", 1)).alias("errors"),
        )
    )


def resume_against(pages: DataFrame, committed_urls: DataFrame) -> DataFrame:
    """Idempotent resume: drop pages whose url is already committed.

    With an Iceberg sink this anti-joins against the last committed snapshot;
    AQE picks broadcast vs shuffle join by the committed side's actual size.
    """
    return pages.join(committed_urls.select("url"), on="url", how="left_anti")


# how Spark reports "nothing committed yet": a missing path, or a directory
# with no data files to infer a schema from
_NOTHING_COMMITTED = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def resume_from(pages: DataFrame, out_path: str) -> DataFrame:
    """The one resume path: anti-join `pages` against the output committed
    at `out_path`, or return them unchanged when nothing is committed yet.

    Any other failure to read the committed output (a corrupt part file,
    a permission error) raises: reprocessing everything would append a
    duplicate of every committed url.
    """
    try:
        committed = pages.sparkSession.read.parquet(out_path)
    except AnalysisException as e:
        if e.getCondition() in _NOTHING_COMMITTED:
            return pages
        raise
    return resume_against(pages, committed)


def write_output(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: Optional[List[str]] = None,
) -> None:
    """Parquet stand-in for the Iceberg sink (writeTo(...).append() in prod)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def run_job(
    pages: DataFrame,
    out_path: Optional[str] = None,
    method: str = "classic",
    resume: bool = True,
    repartition_partitions: Optional[int] = None,
) -> Tuple[DataFrame, Observation]:
    """End-to-end job with idempotent resume. Returns (result_df, observation)."""
    if resume and out_path:
        pages = resume_from(pages, out_path)
    result, obs = with_metrics(extract_pipeline(
        pages, method=method, repartition_partitions=repartition_partitions,
    ))
    if out_path:
        write_output(result, out_path)
    return result, obs
