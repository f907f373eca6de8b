"""Training-data shaping ops (operators/chunking.py)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from pdf_parser_spark.operators.chunking import (
    chunk_documents, deterministic_sample, pack_documents,
)


class TestChunkDocuments:
    def test_overlap_and_tail(self, spark):
        words = " ".join(f"w{i}" for i in range(10))
        df = spark.createDataFrame([(0, words)], "doc_id bigint, text string")
        rows = sorted(
            chunk_documents(df, chunk_tokens=4, overlap=1).collect(),
            key=lambda r: r.chunk_idx,
        )
        # stride 3 over 10 tokens: starts 0,3,6 — the last chunk reaches the
        # end exactly (start bound n-overlap guarantees tail coverage with
        # no degenerate all-overlap chunk)
        assert [r.chunk_text for r in rows] == [
            "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9",
        ]
        assert [r.n_tokens for r in rows] == [4, 4, 4]
        # consecutive chunks share exactly `overlap` tokens
        assert rows[0].chunk_text.split()[-1] == rows[1].chunk_text.split()[0]

    def test_empty_doc_yields_one_empty_chunk(self, spark):
        df = spark.createDataFrame([(0, "")], "doc_id bigint, text string")
        rows = chunk_documents(df).collect()
        assert len(rows) == 1 and rows[0].n_tokens == 0

    def test_coverage_no_token_lost(self, spark):
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        chunks = chunk_documents(docs, chunk_tokens=16, overlap=4)
        got = chunks.groupBy("doc_id").agg(
            F.sum("n_tokens").alias("chunked"),
            F.max("chunk_idx").alias("last"),
        )
        base = docs.select(
            "doc_id",
            F.size(F.filter(F.split("text", r"\s+"), lambda x: x != "")).alias("n"),
        )
        j = got.join(base, "doc_id").collect()
        # sum of chunk tokens = n + overlap*(n_chunks-1): every token covered
        assert all(r.chunked == r.n + 4 * r.last for r in j)

    def test_overlap_must_be_smaller(self, spark):
        df = spark.createDataFrame([(0, "a b")], "doc_id bigint, text string")
        with pytest.raises(ValueError):
            chunk_documents(df, chunk_tokens=4, overlap=4)


def _ref_chunks(text, chunk_tokens, overlap):
    """Plain-Python chunker: Java's \\s is ASCII-only, so split on exactly
    that set (Python's \\s would also split on NBSP)."""
    toks = [t for t in re.split(r"[ \t\n\x0b\f\r]+", text) if t]
    starts = range(0, max(len(toks) - overlap, 1), chunk_tokens - overlap)
    return [" ".join(toks[s:s + chunk_tokens]) for s in starts]


class TestTokenProjection:
    def test_min_tokens_gate(self, spark):
        df = spark.createDataFrame(
            [(0, "a b c"), (1, "a b c d e"), (2, "")], "doc_id bigint, text string"
        )
        ids = lambda m: sorted(  # noqa: E731
            r.doc_id for r in chunk_documents(df, min_tokens=m).collect()
        )
        assert ids(0) == [0, 1, 2]
        assert ids(4) == [1]

    def test_long_multi_chunk_document(self, spark):
        text = "\n".join(" ".join(f"t{i}x{j}" for j in range(7)) for i in range(300))
        df = spark.createDataFrame([(0, text)], "doc_id bigint, text string")
        rows = sorted(
            chunk_documents(df, chunk_tokens=64, overlap=8, min_tokens=10).collect(),
            key=lambda r: r.chunk_idx,
        )
        assert [r.chunk_text for r in rows] == _ref_chunks(text, 64, 8)
        assert len(rows) == 38

    def test_curate_plan_tokenizes_once(self, spark, corpus_001):
        from jobs.curate_job import build_curated_chunks
        from pdf_parser_spark.pipeline import extract_pipeline, load_pages

        chunks = build_curated_chunks(
            spark, corpus_001, chunk_tokens=64, overlap=8, min_tokens=10
        )
        plan = chunks._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("split(") == 1, plan
        texts = dict(
            extract_pipeline(load_pages(spark, corpus_001))
            .where("status = 'ok'").select("url", "text").collect()
        )
        got = {}
        for r in chunks.collect():
            got.setdefault(r.url, {})[r.chunk_idx] = r.chunk_text
        assert any(len(c) > 1 for c in got.values())
        for url, by_idx in got.items():
            assert [by_idx[i] for i in sorted(by_idx)] == _ref_chunks(texts[url], 64, 8)


class TestPackDocuments:
    def test_offsets_are_contiguous_per_shard(self, spark):
        rows = [(i, i % 2, "tok " * (5 + i)) for i in range(8)]
        df = spark.createDataFrame(rows, "doc_id bigint, shard int, text string")
        out = sorted(
            pack_documents(df, token_budget=10, shard_col="shard").collect(),
            key=lambda r: (r.shard, r.doc_id),
        )
        for shard in (0, 1):
            expect = 0
            for r in [x for x in out if x.shard == shard]:
                assert r.stream_offset == expect
                assert r.pack_id == expect // 10
                expect += r.n_tokens

    def test_default_mode_derives_hash_shard(self, spark):
        # shard_col=None no longer means one global stream (a single-task
        # window at scale): a deterministic pmod(xxhash64(id)) shard is
        # derived, and offsets are contiguous within each derived shard
        rows = [(i, "a b c") for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = pack_documents(df, token_budget=4, num_shards=4).collect()
        assert {r.shard for r in out} > {0}  # really spread over shards
        for shard in {r.shard for r in out}:
            expect = 0
            for r in sorted([x for x in out if x.shard == shard],
                            key=lambda x: x.doc_id):
                assert r.stream_offset == expect
                assert r.pack_id == expect // 4
                expect += r.n_tokens
        # rerun is byte-identical (hash shard, no RNG)
        again = pack_documents(df, token_budget=4, num_shards=4).collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    def test_default_mode_plan_has_partitioned_window(self, spark):
        df = spark.createDataFrame([(0, "a")], "doc_id bigint, text string")
        plan = pack_documents(df)._jdf.queryExecution().executedPlan().toString()
        # an empty partitionBy would show 'Window [...]' with no partition
        # spec and a single-partition Exchange; the derived shard must appear
        assert "pmod" in plan or "shard" in plan


class TestDeterministicSample:
    def test_stable_and_salt_independent(self, spark):
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = {r.doc_id for r in deterministic_sample(docs, rate=0.3).collect()}
        b = {r.doc_id for r in deterministic_sample(docs, rate=0.3).collect()}
        assert a == b and 0 < len(a) < docs.count()
        salted = {r.doc_id
                  for r in deterministic_sample(docs, rate=0.3, salt="v2").collect()}
        assert salted != a  # different split, same mechanism

    def test_rate_monotone_nesting(self, spark):
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        small = {r.doc_id for r in deterministic_sample(docs, rate=0.1).collect()}
        big = {r.doc_id for r in deterministic_sample(docs, rate=0.5).collect()}
        assert small <= big  # threshold sampling nests by construction


class TestPackByTokensCol:
    def test_external_token_counts_drive_packing(self, spark):
        from pdf_parser_spark.operators.chunking import pack_documents

        rows = [(i, i % 2, 100 + i) for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id bigint, shard int, n bigint")
        out = sorted(
            pack_documents(df, token_budget=150, shard_col="shard",
                           tokens_col="n").collect(),
            key=lambda r: (r.shard, r.doc_id),
        )
        for shard in (0, 1):
            expect = 0
            for r in [x for x in out if x.shard == shard]:
                assert r.n_tokens == 100 + r.doc_id  # taken from the column
                assert r.stream_offset == expect
                assert r.pack_id == expect // 150
                expect += r.n_tokens
