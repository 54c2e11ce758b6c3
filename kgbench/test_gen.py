"""Generator determinism and planted shares.

    python3 -m pytest kgbench/test_gen.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _table_bytes(rows, path) -> dict[str, bytes]:
    gen.write_table(rows, str(path))
    return {n: (path / n).read_bytes() for n in sorted(os.listdir(path))}


@pytest.mark.parametrize("make", [
    lambda s: gen.foxml_corpus(s, 400).rows,
    lambda s: gen.foxml_refresh_snapshot(s, gen.foxml_corpus(s, 400)).rows,
    lambda s: gen.code_corpus(s, 800).rows,
])
def test_same_seed_gives_byte_identical_tables(tmp_path, make):
    a = _table_bytes(make(7), tmp_path / "a")
    b = _table_bytes(make(7), tmp_path / "b")
    c = _table_bytes(make(8), tmp_path / "c")
    assert len(a) == gen.N_FILES
    assert a == b
    assert a != c


def test_foxml_shares():
    c = gen.foxml_corpus(3, 4000)
    p = c.planted
    assert p["rows"] == len(c.rows)
    assert 0.12 < p["duplicate_share"] < 0.18
    assert 0.005 < p["malformed_share"] < 0.015
    assert 0.26 < p["rels_int_share"] < 0.34
    assert 0.05 < p["empty_literal_share"] < 0.25
    assert p["multi_version_share"] > 0.3
    assert sum(gen._is_malformed(r[4]) for r in c.rows) == c.malformed_rows
    # duplicates are the same content at a second commit
    by_path: dict[str, set] = {}
    for repo, path, commit, lang, content in c.rows:
        by_path.setdefault(path, set()).add(content)
    assert all(len(v) == 1 for v in by_path.values())


def test_refresh_shares():
    base = gen.foxml_corpus(3, 4000)
    p = gen.foxml_refresh_snapshot(3, base).planted
    assert 0.02 < p["changed_share"] < 0.04
    assert 0.005 < p["deleted_share"] < 0.015
    assert p["new_share"] == pytest.approx(0.01, abs=1e-3)


def test_code_shares():
    c = gen.code_corpus(3, 4000)
    p = c.planted
    assert p["files"] == len(c.rows)
    assert 0.07 < p["vendored_share"] < 0.11
    assert 0.07 < p["two_commit_share"] < 0.13
    # Zipf fan-in: the top 1% of imported modules take far more than 1%
    assert p["fan_in_top1pct_share"] > 0.1
    repos_of: dict[str, set] = {}
    for repo, _path, _commit, _lang, content in c.rows:
        repos_of.setdefault(content, set()).add(repo)
    vendored = sum(1 for r in c.rows if r[1].startswith("vendor/"))
    assert vendored == round(p["vendored_share"] * p["files"])
    assert all(len(repos_of[r[4]]) > 1 for r in c.rows if r[1].startswith("vendor/"))


def test_planted_malformed_rows_match_pure_python_errors():
    expect = pytest.importorskip("expect")
    c = gen.foxml_corpus(5, 600)
    assert expect.foxml_expectation(c.rows).error_rows == c.malformed_rows
