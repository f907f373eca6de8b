"""Benchmark workloads: seeded inputs in the corpus layout, with goldens.

Every input row comes from `corpus.generate_rows(1.0, seed, lo, hi)`, so a
workload carries sf1's per-document padding spread and its 2 MB mega-doc
every 300 corpus rows. A workload takes whole corpus blocks (all 20 row
kinds, see corpus.py) and may add duplicates under new urls or commit half
of its urls before the passes. The result is written as
parquet shards in the corpus layout (`pages.parquet/part-*.parquet`) next to
`goldens.parquet`, and cached per (workload, seed).
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import tempfile
from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_parser_spark.corpus import generate_rows

SF = 1.0
BLOCK = 20  # corpus.py cycles through 20 row kinds
SHARDS = 8
MEGA_BYTES = 1_000_000  # corpus mega docs carry a 2 MB pad; ordinary ones at most 30 KB

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

GOLDEN_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("expect", pa.string()),          # ok | error
    ("golden_text", pa.string()),
    ("golden_fields_json", pa.string()),
    ("golden_error", pa.string()),
    ("committed", pa.bool_()),
])

COMMITTED_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("text", pa.string()),
    ("fields_json", pa.string()),
    ("status", pa.string()),
    ("error", pa.string()),
])


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    blocks: int                  # corpus blocks of 20 rows drawn per seed
    dup_share: float = 0.0       # share of rows that copy an ok row under a new url
    commit_share: float = 0.0    # share of urls committed before the passes
    # declared shares of the generated input, checked by perfbench/tests
    shares: Tuple[Tuple[str, float], ...] = ()


# Row kinds (corpus.py): 0..11 html, 12..15 pdf, 16 pdf bytes under .txt,
# 17 bad magic, 18 too small, 19 pre-extracted text (every 4th blank).
WORKLOADS: Dict[str, Workload] = {w.name: w for w in (
    Workload(
        "resume_append",
        "mixed routes with half the urls committed: scan, anti-join, kernel on half, parquet write",
        blocks=80, commit_share=0.5,
        shares=(("html", 12 / 20), ("pdf", 7 / 20), ("text", 1 / 20),
                ("hostile", 3 / 20 + 1 / 80), ("dup", 0.0), ("committed", 0.5)),
    ),
    Workload(
        "curate_chunks",
        "mixed routes plus exact duplicates under new urls: kernel on every row, dedup window, "
        "token gate, chunk explode",
        blocks=50, dup_share=0.2,
        # duplicates copy ok rows: per block 12 html, 4 pdf and 3/4 text rows
        shares=(("html", 0.8 * 12 / 20 + 0.2 * 12 / 16.75), ("pdf", 0.8 * 7 / 20 + 0.2 * 4 / 16.75),
                ("hostile", 0.8 * (3 / 20 + 1 / 80)), ("dup", 0.2)),
    ),
)}


def route_of(url: str, html: bytes, text: str) -> str:
    """The route the pipeline gives a row: text, pdf, html or empty."""
    if text:
        return "text"
    if not html:
        return "empty"
    if html.startswith(b"%PDF") or url.lower().endswith(".pdf"):
        return "pdf"
    return "html"


def _expected(i: int, row: Dict) -> Tuple[str, Optional[str]]:
    """(expect, golden_error) for corpus row i, from its kind."""
    name = row["url"].rsplit("/", 1)[-1]
    kind = i % BLOCK
    if kind == 16:
        return "error", "Invalid file extension. Expected .pdf, got: .txt"
    if kind == 17:
        return "error", f"File {name} is not a valid PDF file"
    if kind == 18:
        return "error", f"File {name} is too small or corrupted"
    if row["_golden_text"] is None:  # blank pre-extracted text
        return "error", "No text content to process"
    return "ok", None


def _by_hash(seed: int, salt: str, rows: List[Dict], share: float) -> List[Dict]:
    """The `share` of `rows` of each kind with the lowest url hashes. Mega
    docs are never chosen, so every seed has the same kind mix and the
    same mega docs on each side of the choice."""
    groups: Dict[int, List[Dict]] = {}
    for r in rows:
        if len(r["html"]) < MEGA_BYTES:
            groups.setdefault(r["kind"], []).append(r)
    chosen = []
    for group in groups.values():
        group.sort(key=lambda r: hashlib.sha1(f"{seed}:{salt}:{r['url']}".encode()).digest())
        chosen += group[:round(share * len(group))]
    return chosen


def generate(wl: Workload, seed: int, blocks: Optional[int] = None) -> List[Dict]:
    """The workload's input rows with their golden fields, in input order."""
    blocks = wl.blocks if blocks is None else blocks
    rows: List[Dict] = []
    for b in range(blocks):
        for i, row in enumerate(generate_rows(SF, seed, b * BLOCK, (b + 1) * BLOCK), start=b * BLOCK):
            row["kind"] = i % BLOCK
            row["expect"], row["golden_error"] = _expected(i, row)
            row["committed"] = False
            rows.append(row)
    for r in _by_hash(seed, "commit", rows, wl.commit_share):
        r["committed"] = True
    if wl.dup_share:
        ok = [r for r in rows if r["expect"] == "ok"]
        srcs = _by_hash(seed, "dup", ok, wl.dup_share * len(rows) / (1 - wl.dup_share) / len(ok))
        rng = random.Random(f"dup-{seed}")
        for j, src in enumerate(srcs):
            dup = dict(src, url=src["url"].replace("https://fixtures.test/", f"https://mirror.test/m{j}/"))
            rows.insert(rng.randrange(len(rows) + 1), dup)
    return rows


def measured_shares(rows: List[Dict]) -> Dict[str, float]:
    """Route, hostile, duplicate and committed shares of generated rows."""
    n = len(rows)
    routes = [route_of(r["url"], r["html"], r["text"]) for r in rows]
    return {
        "html": routes.count("html") / n,
        "pdf": routes.count("pdf") / n,
        "text": routes.count("text") / n,
        "hostile": sum(r["expect"] != "ok" for r in rows) / n,
        "dup": sum("mirror.test" in r["url"] for r in rows) / n,
        "committed": sum(r["committed"] for r in rows) / n,
    }


def _write(rows: List[Dict], out_dir: str) -> None:
    pages_dir = os.path.join(out_dir, "pages.parquet")
    os.makedirs(pages_dir)
    table = pa.Table.from_pydict({k: [r[k] for r in rows] for k in PAGES_SCHEMA.names},
                                 schema=PAGES_SCHEMA)
    per = -(-len(rows) // SHARDS)
    for s in range(SHARDS):
        if s * per < len(rows):
            pq.write_table(table.slice(s * per, per),
                           os.path.join(pages_dir, f"part-{s:04d}.parquet"),
                           row_group_size=64, compression="snappy")
    pq.write_table(pa.Table.from_pydict({
        "url": [r["url"] for r in rows],
        "expect": [r["expect"] for r in rows],
        "golden_text": [r["_golden_text"] for r in rows],
        "golden_fields_json": [r["_golden_fields_json"] for r in rows],
        "golden_error": [r["golden_error"] for r in rows],
        "committed": [r["committed"] for r in rows],
    }, schema=GOLDEN_SCHEMA), os.path.join(out_dir, "goldens.parquet"))
    committed = [r for r in rows if r["committed"]]
    if committed:
        pq.write_table(pa.Table.from_pydict({
            "url": [r["url"] for r in committed],
            "text": [r["_golden_text"] for r in committed],
            "fields_json": [r["_golden_fields_json"] for r in committed],
            "status": [r["expect"] for r in committed],
            "error": [r["golden_error"] for r in committed],
        }, schema=COMMITTED_SCHEMA), os.path.join(out_dir, "committed.parquet"))


def ensure_inputs(wl: Workload, seed: int, cache_root: str, blocks: Optional[int] = None) -> str:
    """Generate (once) and return the input directory for (workload, seed)."""
    blocks = wl.blocks if blocks is None else blocks
    out = os.path.join(cache_root, f"{wl.name}-s{seed}-b{blocks}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    os.makedirs(cache_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".gen-", dir=cache_root)
    try:
        _write(generate(wl, seed, blocks), tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def load_goldens(input_dir: str) -> Dict[str, Dict]:
    """url -> golden record."""
    t = pq.read_table(os.path.join(input_dir, "goldens.parquet")).to_pylist()
    return {r["url"]: r for r in t}


def payload_bytes(input_dir: str) -> Tuple[int, int]:
    """(rows, html bytes + UTF-8 text bytes) of the input table."""
    t = pq.read_table(os.path.join(input_dir, "pages.parquet"), columns=["html", "text"])
    html = sum(len(b) for b in t.column("html").to_pylist() if b)
    text = sum(len(s.encode("utf-8")) for s in t.column("text").to_pylist() if s)
    return t.num_rows, html + text
