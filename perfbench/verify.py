"""Output checks, run outside the timed window.

- Oracled headline queries: the registry's DuckDB SQL on the same
  parquet files, compared with ``tools/check.py``'s ``compare``
  (``same_rows``).
- ``q_dedup_minhash`` (no oracle): every reported pair's Jaccard is
  recomputed exactly from the documents, and every planted duplicate
  pair (``datagen.planted_pairs``) at or above the threshold must be
  reported.
- ``stream_link``: the distinct filtered events with their customer
  columns, computed in batch by DuckDB and compared as multisets.
"""

from __future__ import annotations

import importlib.util
import os

import pyarrow.parquet as pq

import datagen

MINHASH_THRESHOLD = 0.7
SHINGLE_LEN = 3

STREAM_REFERENCE_SQL = """
SELECT e.*, c.*
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.value > 0
"""


def stream_problems(got, con) -> tuple[int, list[str]]:
    """Rows of ``got`` (a pandas frame) against the batch reference, as
    multisets, in DuckDB: ``(reference row count, problems)``."""
    want = con.execute(f"SELECT COUNT(*) FROM ({STREAM_REFERENCE_SQL})").fetchone()[0]
    cols = ", ".join(f'"{c}"' for c in sorted(got.columns))
    con.register("got", got)
    try:
        extra = con.execute(
            f"SELECT COUNT(*) FROM (SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM ({STREAM_REFERENCE_SQL}))"
        ).fetchone()[0]
        missing = con.execute(
            f"SELECT COUNT(*) FROM (SELECT {cols} FROM ({STREAM_REFERENCE_SQL}) EXCEPT ALL SELECT {cols} FROM got)"
        ).fetchone()[0]
    finally:
        con.unregister("got")
    if extra or missing or len(got) != want:
        return want, [f"{len(got)} rows vs reference {want}: {extra} unexpected, {missing} missing"]
    return want, []


def _sig12(df):
    out = df.copy()
    for col in out.columns:
        if out[col].dtype.kind == "f":
            out[col] = out[col].map(lambda v: float(f"{v:.12g}"))
    return out


def same_rows(check, name: str, got, want) -> list[str]:
    """``check.compare``, retried with doubles cut to 12 significant
    digits: ``compare`` prints doubles to 6 decimals, and a large sum
    (~5e9) then shows float summation order in its last digit."""
    problems = check.compare(name, got, want)
    if problems:
        problems = check.compare(name, _sig12(got), _sig12(want))
    return problems


def load_check(root: str):
    """The repository's oracle harness module (``tools/check.py``)."""
    spec = importlib.util.spec_from_file_location("pb_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def shingles(text: str) -> set[str]:
    """Word 3-grams as the engine's MinHash builds them: a document
    shorter than the shingle is one shingle of all its words."""
    words = text.split(" ")
    n = max(len(words) - (SHINGLE_LEN - 1), 1)
    return {" ".join(words[i : i + SHINGLE_LEN]) for i in range(n)}


def jaccard(a: set[str], b: set[str]) -> float:
    inter = len(a & b)
    return round(inter / (len(a) + len(b) - inter), 6)


def minhash_problems(pairs: list[tuple[int, int, float]], data_dir: str, seed: int) -> list[str]:
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["doc_id", "text"])
    text = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
    sh = {}

    def sh_of(i: int) -> set[str]:
        if i not in sh:
            sh[i] = shingles(text[i])
        return sh[i]

    problems = []
    seen = set()
    for a, b, j in pairs:
        if (a, b) in seen:
            problems.append(f"pair ({a},{b}) reported twice")
        seen.add((a, b))
        exact = jaccard(sh_of(a), sh_of(b))
        if a >= b or abs(exact - j) > 1e-6 or exact < MINHASH_THRESHOLD:
            problems.append(f"pair ({a},{b}) reported {j}, exact {exact}")
    for a, b in datagen.planted_pairs(seed):
        if jaccard(sh_of(a), sh_of(b)) >= MINHASH_THRESHOLD and (a, b) not in seen:
            problems.append(f"planted pair ({a},{b}) missing")
    return problems[:5]
