"""Per-url correctness checks of the program's output against the goldens.

A row fails when its url is missing, duplicated, unexpected, or its status,
text bytes, `fields_json` or validation error text differ from the golden.
Text is compared through its SHA-256, computed by Spark on the output side,
so the full text never travels back to the driver.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from typing import Dict, Iterable, List, Optional, Set, Tuple

# Java's \s, which Spark's split and regexp_replace use
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def sha256(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def _row_ok(g: Dict, text_sha: Optional[str], fields_json: Optional[str],
            status: str, error: Optional[str]) -> bool:
    if g["expect"] == "ok":
        return (status == "ok" and error is None and text_sha == sha256(g["golden_text"])
                and fields_json == g["golden_fields_json"])
    return status == "error" and fields_json is None and error == g["golden_error"]


def check_extracted(rows: Iterable[Tuple], goldens: Dict[str, Dict],
                    expected: Set[str]) -> Tuple[int, int, List[str]]:
    """rows = (url, text_sha, fields_json, status, error) of one output.

    Returns (attempted, failed, up to 5 failing urls). `expected` is the set
    of urls the output must hold exactly once each."""
    rows = list(rows)
    seen = Counter(r[0] for r in rows)
    bad = {u for u in expected if seen[u] != 1}
    bad |= {u for u in seen if u not in expected}
    for url, text_sha, fields_json, status, error in rows:
        if url in expected and not _row_ok(goldens[url], text_sha, fields_json, status, error):
            bad.add(url)
    return len(expected), len(bad), sorted(bad)[:5]


def _tokens(text: str) -> List[str]:
    return [t for t in _JAVA_WS.split(text) if t != ""]


def expected_chunks(goldens: Dict[str, Dict], chunk_tokens: int, overlap: int,
                    min_tokens: int) -> Dict[str, List[Tuple[int, str, int]]]:
    """url -> [(chunk_idx, chunk_text sha, n_tokens)] that the curate job
    must emit: ok rows, one survivor (smallest url) per normalized text,
    token gate, then overlapping token windows."""
    survivor: Dict[str, str] = {}
    for url, g in goldens.items():
        if g["expect"] != "ok":
            continue
        key = _JAVA_WS.sub(" ", g["golden_text"]).strip(" ").lower()
        if key not in survivor or url < survivor[key]:
            survivor[key] = url
    step = chunk_tokens - overlap
    out: Dict[str, List[Tuple[int, str, int]]] = {}
    for url in survivor.values():
        toks = _tokens(goldens[url]["golden_text"])
        if len(toks) < min_tokens:
            continue
        starts = range(1, max(len(toks) - overlap, 1) + 1, step)
        out[url] = [(k, sha256(" ".join(toks[s - 1:s - 1 + chunk_tokens])),
                     len(toks[s - 1:s - 1 + chunk_tokens])) for k, s in enumerate(starts)]
    return out


def check_chunks(rows: Iterable[Tuple], goldens: Dict[str, Dict],
                 want: Dict[str, List[Tuple[int, str, int]]]) -> Tuple[int, int, List[str]]:
    """rows = (url, chunk_idx, chunk_text sha, n_tokens). Every input url
    is attempted; it fails when its chunks differ from `want` (no chunks
    for duplicates, error rows and rows under the token gate)."""
    got: Dict[str, List[Tuple[int, str, int]]] = {}
    for url, idx, text_sha, n in rows:
        got.setdefault(url, []).append((idx, text_sha, n))
    bad = {u for u in set(goldens) | set(got) if sorted(got.get(u, [])) != want.get(u, [])}
    return len(goldens), len(bad), sorted(bad)[:5]
