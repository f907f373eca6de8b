"""The spark-submit job entry (jobs/extract_job.py) driven as a subprocess —
the deployment surface users actually launch."""

from __future__ import annotations

import json
import subprocess
import sys

import duckdb
import pytest


@pytest.fixture(scope="module")
def corpus():
    from pdf_parser_spark.corpus import ensure_corpus

    return ensure_corpus(0.001)


def _run(args):
    return subprocess.run(
        [sys.executable, "jobs/extract_job.py", *args],
        capture_output=True, text=True, cwd="/root/repo", timeout=300,
    )


class TestExtractJobCli:
    def test_table_source_end_to_end(self, corpus, tmp_path):
        out = str(tmp_path / "out")
        r = _run(["--input", corpus, "--output", out, "--resume"])
        assert r.returncode == 0, r.stderr[-2000:]
        counts = dict(duckdb.sql(
            f"SELECT status, count(*) FROM read_parquet('{out}/*.parquet') GROUP BY 1"
        ).fetchall())
        assert counts == {"ok": 84, "error": 16}

    def test_resume_skips_committed(self, corpus, tmp_path):
        out = str(tmp_path / "out2")
        _run(["--input", corpus, "--output", out, "--resume"])
        r = _run(["--input", corpus, "--output", out, "--resume"])
        assert r.returncode == 0
        assert "'docs': 0" in r.stderr  # second run processes nothing
        n = duckdb.sql(
            f"SELECT count(DISTINCT url), count(*) FROM read_parquet('{out}/*.parquet')"
        ).fetchone()
        assert n[0] == n[1] == 100  # no duplicate urls after the rerun

    @pytest.mark.parametrize("committed", ["missing", "empty"])
    def test_resume_with_nothing_committed(self, corpus, tmp_path, committed):
        out = tmp_path / "out4"
        if committed == "empty":
            out.mkdir()
        r = _run(["--input", corpus, "--output", str(out), "--resume"])
        assert r.returncode == 0, r.stderr[-2000:]
        assert "'docs': 100" in r.stderr
        n = duckdb.sql(
            f"SELECT count(DISTINCT url), count(*) FROM read_parquet('{out}/*.parquet')"
        ).fetchone()
        assert n[0] == n[1] == 100

    def test_resume_unreadable_commit_fails(self, corpus, tmp_path):
        # an unreadable committed output must stop the job, not be taken
        # for "nothing committed" and re-append every url
        out = tmp_path / "out5"
        out.mkdir()
        (out / "part-00000.parquet").write_bytes(b"not a parquet file")
        r = _run(["--input", corpus, "--output", str(out), "--resume"])
        assert r.returncode != 0
        assert sorted(p.name for p in out.iterdir()) == ["part-00000.parquet"]

    def test_lineage_output(self, corpus, tmp_path):
        out, lin = str(tmp_path / "out3"), str(tmp_path / "lineage")
        r = _run(["--input", corpus, "--output", out, "--lineage-output", lin])
        assert r.returncode == 0
        rows = duckdb.sql(
            f"SELECT sum(docs), sum(ok), sum(errors) FROM read_parquet('{lin}/*.parquet')"
        ).fetchone()
        assert tuple(int(x) for x in rows) == (100, 84, 16)


class TestCurateJobCli:
    def test_end_to_end_chunks(self, corpus, tmp_path):
        out = str(tmp_path / "chunks")
        r = subprocess.run(
            [sys.executable, "jobs/curate_job.py", "--input", corpus,
             "--output", out, "--chunk-tokens", "64", "--overlap", "8"],
            capture_output=True, text=True, cwd="/root/repo", timeout=300,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        rows = duckdb.sql(
            f"SELECT count(*), count(DISTINCT url), max(n_tokens) "
            f"FROM read_parquet('{out}/*.parquet')"
        ).fetchone()
        assert rows[0] > 0 and rows[1] > 0 and rows[2] <= 64

    def test_sampling_flag_reduces_docs(self, corpus, tmp_path):
        out = str(tmp_path / "chunks_s")
        r = subprocess.run(
            [sys.executable, "jobs/curate_job.py", "--input", corpus,
             "--output", out, "--sample-rate", "0.3"],
            capture_output=True, text=True, cwd="/root/repo", timeout=300,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        n_docs = duckdb.sql(
            f"SELECT count(DISTINCT url) FROM read_parquet('{out}/*.parquet')"
        ).fetchone()[0]
        assert 0 < n_docs < 84  # strict subset of the 84 ok docs


class TestParallelismInvariance:
    def test_local1_equals_local8(self, corpus, tmp_path):
        # SURVEY §5(d): the job's output must be a pure function of the
        # input, independent of parallelism (modulo row order)
        import os

        outs = {}
        for n in (1, 8):
            out = str(tmp_path / f"out_n{n}")
            env = {**os.environ,
                   "PYSPARK_SUBMIT_ARGS": f"--master local[{n}] pyspark-shell"}
            r = subprocess.run(
                [sys.executable, "jobs/extract_job.py",
                 "--input", corpus, "--output", out],
                capture_output=True, text=True, cwd="/root/repo",
                timeout=300, env=env,
            )
            assert r.returncode == 0, r.stderr[-2000:]
            outs[n] = out
        q = ("SELECT url, file_hash, method, text, fields_json, status, error "
             "FROM read_parquet('{}/*.parquet') ORDER BY url")
        a = duckdb.sql(q.format(outs[1])).fetchall()
        b = duckdb.sql(q.format(outs[8])).fetchall()
        assert len(a) == 100 and a == b
