"""Tests of the benchmark itself, at a tiny input size.

    python3 -m pytest perfbench/tests -q

The last tests start Spark through perfbench/run.py, one process per
workload, and take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import check, spans, summarize
from perfbench import workloads as W

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
TINY = 3  # corpus blocks of 20 rows


def _tree_bytes(d: str) -> dict:
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_inputs_are_deterministic_per_seed(name, tmp_path):
    wl = W.WORKLOADS[name]
    a = _tree_bytes(W.ensure_inputs(wl, 5, str(tmp_path / "a"), TINY))
    b = _tree_bytes(W.ensure_inputs(wl, 5, str(tmp_path / "b"), TINY))
    c = _tree_bytes(W.ensure_inputs(wl, 6, str(tmp_path / "c"), TINY))
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a if k.startswith("pages.parquet/"))


@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_declared_shares_hold(name):
    wl = W.WORKLOADS[name]
    for seed in (1, 2):
        got = W.measured_shares(W.generate(wl, seed, blocks=20))
        for key, share in wl.shares:
            tol = 0.08 if key == "committed" else 0.02
            assert abs(got[key] - share) <= tol, (key, got[key], share)


def _golden(expect="ok", text="Customer Name: A", fields='{"customer_name": "A"}', error=None):
    return {"expect": expect, "golden_text": text, "golden_fields_json": fields,
            "golden_error": error, "committed": False}


def test_check_extracted_counts_missing_duplicate_wrong_and_unexpected():
    g = {"u1": _golden(), "u2": _golden(), "u3": _golden("error", None, None, "bad magic"),
         "u4": _golden(), "u5": _golden()}
    good = ("u1", check.sha256("Customer Name: A"), '{"customer_name": "A"}', "ok", None)
    rows = [
        good,
        ("u2", check.sha256("other"), '{"customer_name": "A"}', "ok", None),   # wrong text
        ("u3", None, None, "error", "bad magic"),
        ("u4", check.sha256("Customer Name: A"), '{"customer_name": "A"}', "error", "x"),  # status
        ("u9", None, None, "error", "x"),                                      # unexpected
    ]
    attempted, failed, bad = check.check_extracted(rows, g, set(g))
    assert attempted == 5
    assert bad == ["u2", "u4", "u5", "u9"] and failed == 4    # u5 is missing
    _, failed, bad = check.check_extracted(rows[:1] * 2, {"u1": g["u1"]}, {"u1"})
    assert (failed, bad) == (1, ["u1"])                       # duplicated
    _, failed, _ = check.check_extracted(
        [("u3", None, None, "error", "other text")], {"u3": g["u3"]}, {"u3"})
    assert failed == 1                                        # validation text differs


def test_expected_chunks_dedups_gates_and_windows():
    words = " ".join(f"w{i}" for i in range(10))
    g = {"b": _golden(text=words), "a": _golden(text=words.upper()),
         "c": _golden(text="too few tokens"), "d": _golden("error", None, None)}
    want = check.expected_chunks(g, chunk_tokens=4, overlap=1, min_tokens=5)
    assert list(want) == ["a"]                                # smallest url survives
    assert [n for _, _, n in want["a"]] == [4, 4, 4]          # starts 1, 4, 7
    assert want["a"][0][1] == check.sha256("W0 W1 W2 W3")
    rows = [("a", k, s, n) for k, s, n in want["a"]]
    assert check.check_chunks(rows, g, want)[1] == 0
    assert check.check_chunks(rows + [("b", 0, "x", 1)], g, want)[1] == 1


def test_self_times_add_up():
    t = spans.Tracer("r")
    with t.span("run"):
        with t.span("a"):
            with t.span("a1"):
                sum(range(10000))
            sum(range(10000))
        with t.span("b"):
            sum(range(10000))
    out = t.with_self_times()
    root = out[0]
    assert all(s["self"] >= 0 for s in out)
    assert sum(s["self"] for s in out) == pytest.approx(root["dur"], rel=1e-9, abs=1e-12)
    # overlapping children are covered once
    fake = [{"id": 0, "parent": None, "start": 0.0, "end": 10.0},
            {"id": 1, "parent": 0, "start": 1.0, "end": 5.0},
            {"id": 2, "parent": 0, "start": 3.0, "end": 6.0}]
    assert spans.self_times(fake)[0]["self"] == pytest.approx(5.0)


def test_summarize_gives_median_quartiles_and_spread(tmp_path):
    paths = []
    for seed, v in enumerate([4.0, 1.0, 3.0, 2.0]):
        rec = {"detail": {"host": {"cores": 4}, "workload": "w", "trace": 0, "seed": seed,
                          "doc_fail_share": 0.0, "jvm_start_s": 8.0 + seed, "register_s": 0.5,
                          "cold_pass_s": 10.0},
               "metrics": {"docs_per_s": {"value": v, "unit": "docs/s"}}}
        paths.append(tmp_path / f"{seed}.json")
        paths[-1].write_text(json.dumps(rec))
    (entry,) = summarize.summarize([str(p) for p in paths])
    m = entry["metrics"]["docs_per_s"]
    assert (m["n"], m["median"], m["q1"], m["q3"]) == (4, 2.5, 1.25, 3.75)
    assert m["spread"] == pytest.approx(1.0)
    assert entry["setup_split"] == {"jvm_start_s": 9.5, "register_s": 0.5, "cold_pass_s": 10.0}


def _run(args, cwd):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = _run(["--workload", "resume_append", "--seed", "1", "--seconds", "1", "--trace", "0"], tmp_path)
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_spec_names_the_workloads():
    assert [w["name"] for w in _spec()["workloads"]] == list(W.WORKLOADS)


@pytest.mark.parametrize("name,trace", [(n, 1) for n in W.WORKLOADS] + [("resume_append", 0)])
def test_printed_metric_names_match_spec(name, trace):
    r = _run(["--workload", name, "--seed", "1", "--seconds", "1", "--trace", str(trace),
              "--blocks", "2"], ROOT)
    assert r.returncode == 0, r.stderr[-3000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    spec = _spec()["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in spec]
    assert all(result["metrics"][m["name"]]["unit"] == m["unit"] for m in spec)
