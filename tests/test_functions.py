"""SQL-callable UDF surface: pure spark.sql must produce byte-identical
results to the pipeline kernels on the same corpus rows."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module", autouse=True)
def registered(spark):
    from pdf_parser_spark.functions import register_all

    register_all(spark)


class TestSqlSurface:
    def test_sql_matches_pipeline_on_corpus(self, spark, corpus_001):
        from pdf_parser_spark.pipeline import extract_pipeline, load_pages

        pages = load_pages(spark, corpus_001)
        pages.createOrReplaceTempView("pages_sql")
        got = {
            r.url: (r.text, r.fields_json, r.file_hash)
            for r in spark.sql(
                """
                SELECT url, pp_extract_text(url, html) AS text,
                       pp_extract_fields(pp_extract_text(url, html)) AS fields_json,
                       pp_file_hash(html) AS file_hash
                FROM pages_sql WHERE length(html) > 0
                """
            ).collect()
        }
        want = {
            r.url: (r.text, r.fields_json, r.file_hash)
            for r in extract_pipeline(pages)
            # feed rows carry empty html (the SQL side filters length>0)
            .where("status = 'ok' AND url NOT LIKE '%/feed/%'")
            .select("url", "text", "fields_json", "file_hash")
            .collect()
        }
        # every pipeline-ok row must match the SQL surface byte-for-byte
        for url, (text, fj, fh) in want.items():
            assert got[url] == (text, fj, fh), url

    def test_invalid_rows_yield_null_not_error(self, spark):
        df = spark.createDataFrame(
            [("u/a.html", b"not a pdf at all"), ("u/b.html", None),
             ("u/c.html", b"x" * 10),
             # the .pdf url routes to the PDF chain (magic check fails)
             ("u/d.pdf", b"<html><body>" + b"x" * 200 + b"</body></html>"),
             (None, b"<html><body>" + b"x" * 200 + b"</body></html>")],
            "url string, html binary",
        )
        df.createOrReplaceTempView("bad_sql")
        rows = spark.sql(
            "SELECT pp_extract_text(url, html) AS t FROM bad_sql"
        ).collect()
        assert [r.t for r in rows] == [None] * 5

    def test_pretty_json_rendering(self, spark):
        rows = spark.sql(
            """SELECT pp_pretty_json('{"a": "ż"}') AS p"""
        ).collect()
        assert rows[0].p == '{\n  "a": "ż"\n}'
