"""End-to-end Spark pipeline tests: golden identity, error isolation, resume,
NULL safety, and distributed-equals-local determinism."""

import os
import shutil
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from pdf_parser_spark import pipeline
from pdf_parser_spark.pipeline import (
    extract_pipeline, lineage_rows, load_pages, resume_against, run_job,
    with_metrics,
)

ROW_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
TS = datetime(2024, 1, 1)


@pytest.fixture(scope="module")
def extracted(spark, corpus_001):
    df, obs = run_job(load_pages(spark, corpus_001), out_path=None)
    rows = df.collect()
    return rows, obs.get


class TestEndToEnd:
    def test_row_conservation(self, extracted, spark, corpus_001):
        rows, _ = extracted
        n_in = load_pages(spark, corpus_001).count()
        assert len(rows) == n_in  # every input row surfaces exactly once

    def test_observe_counters(self, extracted):
        rows, metrics = extracted
        n_err = sum(1 for r in rows if r.status == "error")
        assert metrics["docs"] == len(rows)
        assert metrics["parse_failures"] == n_err > 0

    def test_golden_text_and_fields(self, extracted, spark, corpus_001):
        rows, _ = extracted
        goldens = {
            r.url: r
            for r in spark.read.parquet(f"{corpus_001}/goldens.parquet").collect()
        }
        checked = 0
        for r in rows:
            g = goldens.get(r.url)
            if g is None or g.golden_text is None:
                continue
            assert r.status == "ok", (r.url, r.error)
            assert r.text == g.golden_text, r.url
            if g.golden_fields_json is not None:
                assert r.fields_json == g.golden_fields_json, r.url
            checked += 1
        assert checked >= 50

    def test_error_reasons_match_reference_wording(self, extracted):
        _, _ = extracted
        rows = extracted[0]
        reasons = " | ".join(sorted({r.error for r in rows if r.error}))
        assert "is not a valid PDF file" in reasons
        assert "too small or corrupted" in reasons
        assert "Invalid file extension" in reasons
        assert "No text content to process" in reasons

    def test_hash_is_6_hex_chars(self, extracted):
        for r in extracted[0]:
            if r.file_hash is not None:
                assert len(r.file_hash) == 6
                int(r.file_hash, 16)

    def test_spans_index_into_text(self, extracted):
        seen = 0
        for r in extracted[0]:
            if r.status != "ok" or not r.spans:
                continue
            for s in r.spans:
                if s.field.startswith("block:"):
                    assert "\n" not in r.text[s.start : s.end]
                else:  # field span: slice must equal the extracted value
                    import json

                    val = json.loads(r.fields_json)[s.field]
                    assert r.text[s.start : s.end].strip() == val
                    seen += 1
        assert seen > 50

    def test_lineage_rollup(self, extracted, spark):
        rows = extracted[0]
        df = spark.createDataFrame(rows)
        lin = lineage_rows(df).collect()
        assert sum(r.docs for r in lin) == len(rows)
        assert sum(r.errors for r in lin) == sum(1 for r in rows if r.status == "error")


class TestResume:
    def test_idempotent_rerun(self, spark, corpus_001, tmp_path):
        out = str(tmp_path / "sink")
        _, obs1 = run_job(load_pages(spark, corpus_001), out_path=out)
        n1 = obs1.get["docs"]
        assert spark.read.parquet(out).count() == n1
        _, obs2 = run_job(load_pages(spark, corpus_001), out_path=out)
        assert obs2.get["docs"] == 0  # nothing reprocessed
        assert spark.read.parquet(out).count() == n1  # no duplicates
        shutil.rmtree(out, ignore_errors=True)

    def test_partial_commit_resume(self, spark, corpus_001, tmp_path):
        out = str(tmp_path / "sink2")
        pages = load_pages(spark, corpus_001)
        half = pages.limit(40)
        df, _ = with_metrics(extract_pipeline(half))
        df.write.parquet(out)
        remaining = resume_against(pages, spark.read.parquet(out))
        assert remaining.count() == pages.count() - 40
        shutil.rmtree(out, ignore_errors=True)

    @pytest.mark.parametrize("committed", ["missing", "empty"])
    def test_nothing_committed_processes_every_url(
        self, spark, corpus_001, tmp_path, committed
    ):
        # a missing path and an empty directory both mean "nothing
        # committed yet": every url is processed and written once
        out = str(tmp_path / "sink3")
        if committed == "empty":
            os.makedirs(out)
        pages = load_pages(spark, corpus_001)
        _, obs = run_job(pages, out_path=out)
        assert obs.get["docs"] == pages.count()
        written = spark.read.parquet(out)
        assert written.count() == written.select("url").distinct().count() == pages.count()

    def test_unreadable_commit_raises_and_appends_nothing(
        self, spark, corpus_001, tmp_path
    ):
        # committed output that exists but cannot be read must not be taken
        # for "nothing committed": that would re-append every url
        out = tmp_path / "sink4"
        out.mkdir()
        (out / "part-00000.parquet").write_bytes(b"not a parquet file")
        with pytest.raises(Exception):
            run_job(load_pages(spark, corpus_001), out_path=str(out))
        assert sorted(os.listdir(out)) == ["part-00000.parquet"]


class TestPagesSchema:
    """`load_pages` declares PAGES_SCHEMA instead of inferring it."""

    @staticmethod
    def _writers(corpus_dir, tmp_path):
        """A page table from each writer: corpus.py, perfbench's workloads and
        the driver fuzz."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        import test_driver_fuzz

        from perfbench.workloads import PAGES_SCHEMA as bench_schema

        bench = tmp_path / "bench"
        (bench / "pages.parquet").mkdir(parents=True)
        pq.write_table(
            pa.Table.from_pydict({"url": ["u"], "warc_ts": [TS], "html": [b"x"],
                                  "text": [""], "lang": ["en"]}, schema=bench_schema),
            str(bench / "pages.parquet" / "part-0000.parquet"))
        fuzz = tmp_path / "fuzz"
        fuzz.mkdir()
        test_driver_fuzz._make_pages(str(fuzz))
        return {"corpus": corpus_dir, "perfbench": str(bench), "driver_fuzz": str(fuzz)}

    def test_declared_schema_equals_inference(self, spark, corpus_001, tmp_path):
        for name, d in self._writers(corpus_001, tmp_path).items():
            inferred = spark.read.parquet(os.path.join(d, "pages.parquet")).schema
            assert inferred == pipeline.PAGES_SCHEMA, name
            declared = load_pages(spark, d)
            assert declared.schema == inferred, name
            assert sorted(declared.collect()) == sorted(
                spark.read.parquet(os.path.join(d, "pages.parquet")).collect()), name

    def test_load_pages_submits_no_job(self, spark, corpus_001):
        sc = spark.sparkContext
        tracker = sc.statusTracker()

        def jobs_of(fn, group):
            sc.setJobGroup(group, group)
            try:
                fn()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return tracker.getJobIdsForGroup(group)

        path = os.path.join(corpus_001, "pages.parquet")
        # the probe sees the footer-inference job of an undeclared read ...
        assert jobs_of(lambda: spark.read.parquet(path), "pages-inferred")
        # ... and none from load_pages
        assert jobs_of(lambda: load_pages(spark, corpus_001), "pages-declared") == []


class TestNullSafety:
    def test_null_rows_never_vanish(self, spark):
        rows = [
            ("u://empty", TS, b"", "", "en"),
            ("u://nullhtml", TS, None, "", "en"),
            ("u://nulltext", TS, b"", None, "en"),
            ("u://nullboth", TS, None, None, "en"),
            (None, TS, b"<html><body><p>no url</p></body></html>", "", "en"),
        ]
        df = spark.createDataFrame(rows, ROW_SCHEMA)
        out = extract_pipeline(df).collect()
        assert len(out) == 5
        assert all(r.status == "error" for r in out)
        assert [r.error for r in out if r.url is None] == ["missing url"]

    def test_adversarial_bytes_become_error_rows(self, spark):
        rows = [
            ("u://trunc.pdf", TS, b"%PDF-1.7\n" + b"\x00" * 200, "", "en"),
            ("u://nopages.pdf", TS, b"%PDF-1.7\n1 0 obj\n<< /Type /Catalog >>\nendobj\n" + b"x" * 100, "", "en"),
        ]
        df = spark.createDataFrame(rows, ROW_SCHEMA)
        out = {r.url: r for r in extract_pipeline(df).collect()}
        assert out["u://trunc.pdf"].status == "error"
        assert out["u://nopages.pdf"].error == "PDF contains no pages"


class TestDeterminism:
    def test_partitioning_invariance(self, spark, corpus_001):
        """Same corpus at different partition counts -> identical output."""
        pages = load_pages(spark, corpus_001)
        a = extract_pipeline(pages, repartition_partitions=2).drop("extracted_at")
        b = extract_pipeline(pages, repartition_partitions=16).drop("extracted_at")
        a_rows = sorted(a.collect(), key=lambda r: r.url)
        b_rows = sorted(b.collect(), key=lambda r: r.url)
        assert a_rows == b_rows

    def test_mega_threshold_invariance(self, spark, corpus_001, monkeypatch):
        """Skew routing must not change results, only placement: the
        exchange with every document routed as a mega-doc equals the
        default shuffle-free plan."""
        pages = load_pages(spark, corpus_001).limit(60)
        monkeypatch.setattr(pipeline, "MEGA_THRESHOLD", 1)
        a = extract_pipeline(pages, repartition_partitions=4)
        assert "RoundRobinPartitioning" in a._jdf.queryExecution().executedPlan().toString()
        b = extract_pipeline(pages)
        assert sorted(a.drop("extracted_at").collect(), key=lambda r: r.url) == sorted(
            b.drop("extracted_at").collect(), key=lambda r: r.url
        )


class TestAiMode:
    def test_ai_method_stub(self, spark):
        rows = [("u://t", TS, b"", "Customer Name: X\nPolicy Number: POL-1", "en")]
        df = spark.createDataFrame(rows, ROW_SCHEMA)
        out = extract_pipeline(df, method="ai").collect()[0]
        assert out.method == "ai"
        assert out.fields_json == '{"customer_name": "John Doe", "policy_number": "POL-123"}'


class TestAdversarialInputs:
    def test_hostile_rows_surface_never_vanish(self, spark):
        # the per-row error-isolation contract: every input row comes back
        # as exactly one output row (ok or error), regardless of payload
        import datetime

        from pdf_parser_spark.pipeline import extract_pipeline

        ts = datetime.datetime(2024, 1, 1)
        rows = [
            ("u/null", ts, None, "", "en"),
            ("u/trunc.pdf", ts, b"%PDF-1.4 broken" + b"x" * 200, "", "en"),
            ("u/bad-utf8.html", ts,
             b"<html><body>" + bytes(range(128, 256)) * 4 + b"</body></html>",
             "", "en"),
            ("u/deep.html", ts,
             b"<html><body>" + b"<div>" * 3000 + b"claim text"
             + b"</div>" * 3000 + b"</body></html>", "", "en"),
        ]
        df = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, text string, lang string"
        )
        out = {r.url: r for r in
               extract_pipeline(df).select("url", "status", "error").collect()}
        assert len(out) == 4
        assert out["u/null"].status == "error"
        assert out["u/trunc.pdf"].status == "error"
        assert out["u/bad-utf8.html"].status in ("ok", "error")
        assert all(r.status in ("ok", "error") for r in out.values())
