"""The seeded tables hold what the mix's near-duplicate queries look for.

Run with ``python3 -m pytest perfbench -q`` (no Spark needed).
"""

from __future__ import annotations

import itertools

import pyarrow.parquet as pq

import tables


def _shingles(text: str) -> set[str]:
    t = text.split(" ")
    return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}


def test_documents_hold_planted_exact_and_near_duplicates(tmp_path):
    tables.make_tables(5, 0.002, str(tmp_path))
    texts = pq.read_table(tmp_path / "documents.parquet").column("text").to_pylist()
    assert len(texts) == 100
    assert len(texts) - len(set(texts)) == 100 // 50
    sh = [_shingles(t) for t in set(texts)]
    jac = [len(a & b) / len(a | b) for a, b in itertools.combinations(sh, 2)]
    # every planted near-duplicate is far above the 0.6 threshold; nothing else reaches it
    assert sum(j >= 0.6 for j in jac) == 100 // 20
    assert all(j >= 0.9 or j < 0.3 for j in jac)


def test_same_seed_gives_identical_tables(tmp_path):
    for d in ("a", "b"):
        tables.make_tables(3, 0.0005, str(tmp_path / d))
    for name in ("documents", "lineitem", "events"):
        assert pq.read_table(tmp_path / "a" / f"{name}.parquet").equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
