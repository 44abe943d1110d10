"""Generator determinism and planted-count accounting, without Spark."""

import glob
import hashlib
import os

import pyarrow.parquet as pq
import pytest

import gen
from workloads import NEAR_DUP_THRESHOLD


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(root, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize(
    "make, size",
    [(gen.sheet_tables, 2_000), (gen.corpus_dirs, 600), (gen.star_tables, 0.02)],
)
def test_same_seed_gives_byte_identical_inputs(tmp_path, make, size):
    a = make(3, size, str(tmp_path / "a"))
    b = make(3, size, str(tmp_path / "b"))
    c = make(4, size, str(tmp_path / "c"))
    assert a == b
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def _rows(path: str) -> dict[str, dict]:
    return {r["slno"]: r for r in pq.read_table(path).to_pylist()}


def test_sheet_planted_counts_match_a_keyed_diff(tmp_path):
    planted = gen.sheet_tables(5, 3_000, str(tmp_path))
    base = _rows(str(tmp_path / "base.parquet"))
    for name in ("edit", "churn"):
        src = _rows(str(tmp_path / f"{name}.parquet"))
        cells = sum(
            str(base[k][c]) != str(src[k][c]) for k in base.keys() & src.keys() for c in gen.SHEET_COLS
        )
        got = {"diff": cells, "extra_row": len(src.keys() - base.keys()), "del_row": len(base.keys() - src.keys())}
        assert got == planted[name]
        assert len(src) == planted[f"{name}_rows"]
    assert planted["edit"] == {"diff": 30, "extra_row": 3, "del_row": 3}
    assert sum(planted["edit_cells_by_col"].values()) == 30
    # the churn change set is past the report cap only at bench scale;
    # here it is half the table each way
    assert planted["churn"]["del_row"] == 1_500


def _shingles(words: list[str]) -> set[tuple[str, ...]]:
    return {tuple(words[i : i + 3]) for i in range(len(words) - 2)}


def test_corpus_planted_counts(tmp_path):
    p = gen.corpus_dirs(9, 400, str(tmp_path))
    lines = []
    for f in sorted(glob.glob(str(tmp_path / "*" / "*.txt"))):
        with open(f, encoding="utf-8") as fh:
            lines.extend(fh.read().splitlines())
    assert len(lines) == p["lines"] == 400
    docs = sorted(set(lines))
    assert len(docs) == p["unique_docs"] == p["lines"] - p["exact_copies"]
    toks = [d.split() for d in docs]
    assert sum(len(t) < 10 for t in toks) == p["bad"]["short"]
    assert sum(10 <= len(t) and 100 * len(set(t)) < 30 * len(t) for t in toks) == p["bad"]["repetitive"]
    assert sum(len(d.replace(" ", "")) > 12 * len(t) for d, t in zip(docs, toks)) == p["bad"]["long_tokens"]
    # neighbours in a chain are the only pairs at or past the release's
    # word-3-shingle Jaccard threshold
    sh = [_shingles(t) for t in toks]
    close = sum(
        len(sh[i] & sh[j]) >= NEAR_DUP_THRESHOLD * len(sh[i] | sh[j])
        for i in range(len(sh))
        for j in range(i + 1, len(sh))
        if sh[i] and sh[j]
    )
    assert close == p["chain_docs"] - p["chains"] == p["near_dup_drops"]
    assert sum(int(k) * v for k, v in p["chain_lengths"].items()) == p["chain_docs"]
    assert all(0 < t <= k for t, k in zip(p["mix_targets"].values(), p["expected_kept"].values()))


def test_release_count_check_accepts_only_the_planted_counts(tmp_path):
    from run import Recorder
    from workloads import CorpusRelease

    wl = CorpusRelease()
    wl.generate(9, str(tmp_path))
    p = wl.planted
    links = p["chain_docs"] - p["chains"]
    survivors = p["unique_docs"] - p["near_dup_drops"]

    def failures(pairs, survivors):
        rec = Recorder()
        wl._check_counts(rec, {"pairs": pairs, "survivors": survivors})
        return rec.failed

    assert failures(links, survivors) == 0
    assert failures(links - 1, survivors + 1) == 0  # a missed link splits its chain
    assert failures(links, survivors + 1) == 1
    assert failures(links - 1, survivors) == 1
    assert failures(links + 1, survivors - 1) == 1
