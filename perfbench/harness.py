"""Spark passes, output checks and the traced layer plans of each workload.

Everything here calls the program through its public functions; nothing in
the program is changed or patched. A pass runs from the scan to the sink
action and ends when the action returns.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from typing import Callable, Dict, List, Optional, Tuple

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from jobs.curate_job import build_curated_chunks
from pdf_parser_spark import pipeline
from pdf_parser_spark.kernels import htmlmain, pdftext
from pdf_parser_spark.kernels import validate as V
from pdf_parser_spark.kernels.fields import DataExtractionError, extract_fields_with_spans
from pdf_parser_spark.operators import chunking
from pdf_parser_spark.session import get_spark

from . import check, procstat
from .spans import Tracer
from .workloads import Workload, load_goldens

CHUNK = {"chunk_tokens": 64, "overlap": 8, "min_tokens": 10}
PAGE_COLS = ("url", "warc_ts", "html", "text", "lang")
BATCH_ROWS = 64  # the session's spark.sql.execution.arrow.maxRecordsPerBatch
_STATS_SCHEMA = StructType([StructField(n, LongType()) for n in ("pid", "rows", "bytes")])


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(batches):
    yield from batches


def _batch_stats(batches):
    """One row per Arrow batch that reaches the Python worker."""
    for b in batches:
        size = (b["url"].str.len().sum()
                + b["html"].map(lambda v: len(v) if v is not None else 0).sum()
                + b["text"].map(lambda s: len(s.encode("utf-8")) if s else 0).sum())
        yield pd.DataFrame({"pid": [os.getpid()], "rows": [len(b)], "bytes": [int(size)]})


def _check_cols() -> tuple:
    return ("url", F.sha2("text", 256), "fields_json", "status", "error")


class WorkloadRun:
    """The passes and checks of one workload over one generated input."""

    def __init__(self, wl: Workload, input_dir: str, work_dir: str, cores: int) -> None:
        self.wl = wl
        self.input_dir = input_dir
        self.work_dir = work_dir
        self.cores = cores
        self.committed_path = os.path.join(input_dir, "committed.parquet")
        self.goldens = load_goldens(input_dir)
        self.observed_docs: List[int] = []
        self.chunks: List = []
        self.ok_share = 0.0
        self.last_out: Optional[str] = None
        self._outputs = 0

    # -- session --------------------------------------------------------
    def session(self) -> SparkSession:
        spark = get_spark(master=f"local[{self.cores}]", app_name=f"perfbench-{self.wl.name}")
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def register(self, spark: SparkSession) -> None:
        pipeline.load_pages(spark, self.input_dir).createOrReplaceTempView("pages")
        if self.wl.commit_share:
            spark.read.parquet(self.committed_path).createOrReplaceTempView("committed")

    # -- plans ----------------------------------------------------------
    def source(self, spark: SparkSession) -> DataFrame:
        """The rows the kernel sees: the page table, minus committed urls on resume."""
        pages = pipeline.load_pages(spark, self.input_dir)
        if self.wl.commit_share:
            pages = pipeline.resume_against(pages, spark.read.parquet(self.committed_path))
        return pages

    def fresh_out(self) -> str:
        """A new output path for the resume workload's sink; older ones are removed."""
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self._outputs += 1
        self.last_out = os.path.join(self.work_dir, f"out-{self._outputs:04d}")
        return self.last_out

    def run_pass(self, spark: SparkSession, out: Optional[str] = None) -> None:
        """One pass of the workload, from the scan to the sink action."""
        if self.wl.commit_share:
            result, obs = pipeline.with_metrics(pipeline.extract_pipeline(self.source(spark)))
            pipeline.write_output(result, out)
            self.observed_docs.append(int(obs.get["docs"]))
        else:
            _noop(build_curated_chunks(spark, self.input_dir, **CHUNK))

    def timed_pass(self, spark: SparkSession, root: int) -> Tuple[float, float]:
        """(wall seconds, process-tree CPU seconds) of one pass."""
        out = self.fresh_out() if self.wl.commit_share else None
        c0, t0 = procstat.cpu_seconds(root), time.perf_counter()
        self.run_pass(spark, out)
        t1, c1 = time.perf_counter(), procstat.cpu_seconds(root)
        return t1 - t0, c1 - c0

    # -- checks ---------------------------------------------------------
    def checked_pass(self, spark: SparkSession) -> None:
        """The first pass of a session. Its sink hands the checkable
        projection of the output to the driver (text as SHA-256), or, on
        resume, writes the output that `verify` reads back."""
        if self.wl.commit_share:
            self.run_pass(spark, self.fresh_out())
        else:
            self.chunks = (build_curated_chunks(spark, self.input_dir, **CHUNK)
                           .select("url", "chunk_idx", F.sha2("chunk_text", 256), "n_tokens").collect())

    def verify(self, spark: SparkSession) -> Tuple[int, int, List[str]]:
        """(attempted, failed, up to 5 failing urls) of the checked pass's
        output. Resume also checks that committed plus new rows hold each
        url once and that every pass observed exactly the uncommitted rows."""
        g = self.goldens
        if self.wl.commit_share:
            rows = spark.read.parquet(self.last_out).select(*_check_cols()).collect()
            expected = {u for u, r in g.items() if not r["committed"]}
            attempted, failed, bad = check.check_extracted(rows, g, expected)
            committed = pq.read_table(self.committed_path, columns=["url"]).column("url").to_pylist()
            urls = committed + [r[0] for r in rows]
            if len(urls) != len(set(urls)) or set(urls) != set(g):
                failed = max(failed, 1)
            failed += sum(abs(d - len(expected)) for d in self.observed_docs)
            self.ok_share = sum(r[3] == "ok" for r in rows) / max(1, len(rows))
            return attempted, failed, bad
        return check.check_chunks(self.chunks, g, check.expected_chunks(g, **CHUNK))

    # -- traced layers --------------------------------------------------
    def hop_stats(self, spark: SparkSession, root: int) -> Dict[str, float]:
        """Batch counts and sizes seen by the benchmark's own identity
        function, and each Python worker's peak RSS after that hop alone."""
        stats = (self.source(spark).select(*PAGE_COLS)
                 .mapInPandas(_batch_stats, _STATS_SCHEMA).collect())
        workers = procstat.python_workers(root)
        return {
            "arrow_hop.batches": float(len(stats)),
            "arrow_hop.max_batch_mb": max((r["bytes"] for r in stats), default=0) / 1e6,
            "arrow_hop.worker_peak_rss_mb": max(workers.values(), default=0.0),
            "_workers": {str(pid): mb for pid, mb in workers.items()},
        }

    def layer_plans(self, spark: SparkSession, tracer: Tracer, repeat: int) -> Dict[str, float]:
        """Cumulative Spark plans, each timed `repeat` times (median): scan,
        [+ anti-join], + identity hop, + kernel, full pass with its sink."""

        def timed(name: str, fn: Callable[[], None]) -> float:
            ts = []
            for _ in range(repeat):
                with tracer.span(f"plan.{name}") as s:
                    fn()
                ts.append(s["end"] - s["start"])
            return statistics.median(ts)

        d = self.input_dir
        # layers the workload does not run report 0
        out: Dict[str, float] = dict.fromkeys((
            "resume_against.s", "resume_against.skip_ratio", "write_output.s", "write_output.mb",
            "write_output.files", "curate_job.dedup_s", "curate_job.chunk_s",
            "curate_job.dup_share", "curate_job.chunks"), 0.0)
        scan = timed("scan", lambda: _noop(pipeline.load_pages(spark, d).select(*PAGE_COLS)))
        src = scan
        if self.wl.commit_share:
            src = timed("resume_against", lambda: _noop(self.source(spark).select(*PAGE_COLS)))
        def hop_plan() -> None:
            df = self.source(spark).select(*PAGE_COLS)
            _noop(df.mapInPandas(_identity, df.schema))

        hop = timed("arrow_hop", hop_plan)
        kern = timed("extract_kernel", lambda: _noop(
            pipeline.extract_pipeline(self.source(spark)).select("url")))
        out.update({"load_pages.s": scan, "arrow_hop.s": hop - src, "extract_kernel.s": kern - hop})
        if self.wl.commit_share:
            noop_full = timed("extract_pipeline", lambda: _noop(
                pipeline.with_metrics(pipeline.extract_pipeline(self.source(spark)))[0]))
            full = timed("write_output", lambda: self.run_pass(spark, self.fresh_out()))
            files = [f for f in os.listdir(self.last_out) if f.startswith("part-")]
            out.update({
                "write_output.s": full - noop_full,
                "write_output.mb": sum(os.path.getsize(os.path.join(self.last_out, f)) for f in files) / 1e6,
                "write_output.files": float(len(files)),
            })
            todo = self.source(spark).count()
            out["resume_against.s"] = src - scan
            out["resume_against.skip_ratio"] = 1 - todo / len(self.goldens)
        else:
            extract_ok = lambda: (pipeline.extract_pipeline(self.source(spark))  # noqa: E731
                                  .where(F.col("status") == "ok").select("url", "text"))
            a = timed("extract_ok", lambda: _noop(extract_ok()))
            b = timed("curate", lambda: _noop(build_curated_chunks(spark, d, **CHUNK)))
            kept = check.expected_chunks(self.goldens, **CHUNK)
            docs = spark.createDataFrame(
                [(u, self.goldens[u]["golden_text"]) for u in sorted(kept)], "url string, text string").cache()
            docs.count()
            c1 = timed("cached_docs", lambda: _noop(docs))
            c2 = timed("chunk_documents", lambda: _noop(
                chunking.chunk_documents(docs, text_col="text", id_col="url",
                                         chunk_tokens=CHUNK["chunk_tokens"], overlap=CHUNK["overlap"])))
            docs.unpersist()
            ok_docs = extract_ok().count()
            chunk_urls = [r[0] for r in build_curated_chunks(spark, d, **CHUNK).select("url").collect()]
            out.update({
                "curate_job.chunk_s": c2 - c1,
                "curate_job.dedup_s": b - a - (c2 - c1),
                "curate_job.dup_share": 1 - len(set(chunk_urls)) / max(1, ok_docs),
                "curate_job.chunks": float(len(chunk_urls)),
                "extract.ok_ratio": ok_docs / len(self.goldens),
            })
        parts = pipeline.lineage_rows(pipeline.extract_pipeline(self.source(spark))).collect()
        docs = [r["docs"] for r in parts]
        out["partition.docs_max_over_mean"] = max(docs) / (sum(docs) / len(docs)) if docs else 0.0
        out["load_pages.splits"] = float(pipeline.load_pages(spark, d).rdd.getNumPartitions())
        pages_dir = os.path.join(d, "pages.parquet")
        out["load_pages.mb"] = sum(os.path.getsize(os.path.join(pages_dir, f))
                                   for f in os.listdir(pages_dir)) / 1e6
        return out

    def overhead(self, spark: SparkSession, tracer: Tracer, repeat: int) -> float:
        """Median pass time with a span around each call over the median
        without, minus one, alternating the two. Spans are kept only in the
        driver and cost microseconds each, so this reads the pass-to-pass
        noise: an upper bound on what tracing costs, not a cost it has."""
        plain, traced = [], []
        for _ in range(repeat):
            out = self.fresh_out() if self.wl.commit_share else None
            t0 = time.perf_counter()
            self.run_pass(spark, out)
            plain.append(time.perf_counter() - t0)
            out = self.fresh_out() if self.wl.commit_share else None
            t0 = time.perf_counter()
            with tracer.span("pass.traced"):
                self.run_pass(spark, out)
            traced.append(time.perf_counter() - t0)
        return statistics.median(traced) / statistics.median(plain) - 1

    def kernel_rows(self) -> List[Tuple[str, bytes, str]]:
        """(url, html, text) of the rows the kernel sees, in input order."""
        t = pq.read_table(os.path.join(self.input_dir, "pages.parquet"), columns=["url", "html", "text"])
        rows = zip(*(t.column(c).to_pylist() for c in ("url", "html", "text")))
        return [r for r in rows if not self.goldens[r[0]]["committed"]]

    def serial_kernels(self, tracer: Tracer) -> Dict[str, float]:
        """Serial in-driver calls to each kernel function over the kernel's
        input rows, then the whole `extract_kernel` over the same rows."""
        rows = self.kernel_rows()
        texts, html_docs, pdf_docs = [], [], []
        rejected, validate_s = 0, 0.0
        with tracer.span("serial.validate"):
            # the routing of pipeline._extract_one, timing only the validate calls
            for url, html, text in rows:
                html = html or b""
                name = url.rsplit("/", 1)[-1] or url
                if text:
                    texts.append(text)
                    continue
                if not html:
                    continue
                t0 = time.perf_counter()
                is_pdf = V.is_pdf_bytes(html) or V.is_pdf_url(url)
                err = V.validate_pdf_document(html, name) if is_pdf else V.validate_size(html, name)
                validate_s += time.perf_counter() - t0
                if err:
                    rejected += 1
                else:
                    (pdf_docs if is_pdf else html_docs).append(html)
        validated = len(pdf_docs) + len(html_docs) + rejected
        with tracer.span("serial.htmlmain", docs=len(html_docs)) as s_html:
            texts += [htmlmain.extract_main_content(h)[0] for h in html_docs]
        with tracer.span("serial.pdftext.scan", docs=len(pdf_docs)) as s_scan:
            for p in pdf_docs:
                pdftext.PDFDocument(p)
        per_doc = []
        with tracer.span("serial.pdftext", docs=len(pdf_docs)) as s_pdf:
            for p in pdf_docs:
                t0 = time.perf_counter()
                try:
                    texts.append(pdftext.extract_text(p))
                except pdftext.PDFProcessingError:
                    pass
                per_doc.append(time.perf_counter() - t0)
        with tracer.span("serial.fields", docs=len(texts)) as s_fields:
            for t in texts:
                try:
                    extract_fields_with_spans(t)
                except DataExtractionError:
                    pass
        t = pq.read_table(os.path.join(self.input_dir, "pages.parquet"), columns=list(PAGE_COLS))
        keep = [not self.goldens[u]["committed"] for u in t.column("url").to_pylist()]
        frame = t.filter(keep).to_pandas()
        batches = [frame.iloc[i:i + BATCH_ROWS] for i in range(0, len(frame), BATCH_ROWS)]
        kernel = pipeline.extract_kernel()
        with tracer.span("serial.extract_kernel", docs=len(frame)) as s_kern:
            for out in kernel(iter(batches)):
                pass

        def dur(s: Dict) -> float:
            return s["end"] - s["start"]

        def ms_per(s: Dict, n: int) -> float:
            return 1000 * dur(s) / n if n else 0.0

        routes = validate_s + dur(s_html) + dur(s_pdf) + dur(s_fields)
        return {
            "htmlmain.ms_per_doc": ms_per(s_html, len(html_docs)),
            "htmlmain.docs": float(len(html_docs)),
            "pdftext.ms_per_doc": ms_per(s_pdf, len(pdf_docs)),
            "pdftext.scan_ms_per_doc": ms_per(s_scan, len(pdf_docs)),
            "pdftext.max_doc_s": max(per_doc, default=0.0),
            "pdftext.docs": float(len(pdf_docs)),
            "validate.ms_per_doc": 1000 * validate_s / validated if validated else 0.0,
            "validate.rejected": float(rejected),
            "fields.ms_per_doc": ms_per(s_fields, len(texts)),
            "_serial_kernel_s": dur(s_kern),
            "extract_kernel.output_build_s": dur(s_kern) - routes,
        }
