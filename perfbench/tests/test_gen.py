"""Determinism and shape tests for the benchmark's input generators.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
No Spark session is needed.
"""

from __future__ import annotations

import itertools
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

N_DOCS = 50


def _same(a, b) -> bool:
    if isinstance(a, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, np.ndarray):
        return np.array_equal(a, b)
    return a == b


def test_fixture_is_deterministic_per_seed():
    a, b = gen.fixture_tables(3, N_DOCS), gen.fixture_tables(3, N_DOCS)
    assert _same(a, b)
    assert not _same(a["part"], gen.fixture_tables(4, N_DOCS)["part"])


def test_fixture_files_have_unique_keys():
    keys = gen.file_keys(gen.fixture_tables(3, N_DOCS))
    assert len(keys) == len(set(keys)) > gen.N_ORDERS


def test_search_decks_are_deterministic_and_fixed_mix():
    pool = gen.search_pool(5)
    assert pool == gen.search_pool(5)
    assert len({(r.kind, r.constrained, r.params) for r in pool}) == len(pool)
    decks = list(itertools.islice(gen.search_decks(5, pool), 20))
    assert decks == list(itertools.islice(gen.search_decks(5, pool), 20))
    assert decks != list(itertools.islice(gen.search_decks(6, pool), 20))
    for deck in decks:
        assert sorted(r.kind for r in deck) == sorted(gen.KINDS)
    # Zipf reuse: some requests repeat across decks
    rids = [r.rid for d in decks for r in d]
    assert len(set(rids)) < len(rids)


def test_change_batches_are_deterministic_and_well_formed():
    n_cols = 10  # streaming.cdc.ROUTED_CHANGE_LOG_SCHEMA has 10 columns
    files = gen.file_keys(gen.fixture_tables(7, N_DOCS))
    a = list(gen.change_batches(7, 6, files))
    assert a == list(gen.change_batches(7, 6, files))
    assert a != list(gen.change_batches(8, 6, files))
    removed: set = set()
    for rows in a:
        assert len(rows) == gen.CHANGE_BATCH
        assert all(len(r) == n_cols for r in rows)
        assets = [r for r in rows if r[2] == "assets"]
        # an asset key appears at most once per batch
        assert len({(r[3], r[4]) for r in assets}) == len(assets)
        for r in assets:
            key = (r[3], r[4])
            if r[1] == "INSERT":
                assert key in removed  # re-INSERT of an earlier REMOVE
                removed.discard(key)
            elif r[1] == "REMOVE":
                removed.add(key)
    assert any(r[1] == "INSERT" for rows in a for r in rows)


def test_doc_batches_are_deterministic_with_increasing_ids():
    base = gen.fixture_tables(9, N_DOCS)["documents"]["text"]
    a = list(gen.doc_batches(9, 2, base))
    assert a == list(gen.doc_batches(9, 2, base))
    assert a != list(gen.doc_batches(10, 2, base))
    ids = [i for batch in a for i, _ in batch]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)
    texts = {t for _, t in a[0]}
    assert any(t in base for t in texts)  # exact copies are present
