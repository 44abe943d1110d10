"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and an output directory, writes its
inputs there with pyarrow or plain file writes (never through Spark,
so generation is not billed to any timed region), and returns a dict
describing what it planted. The same seed and size give byte-identical
files; the planted dict is what the workload's correctness gates
compare the engine's answers against.

- :func:`sheet_tables` — a sheet-shaped table plus an edited copy and
  a churned copy, for ``sheet_sync``.
- :func:`corpus_dirs` — per-language one-doc-per-line text dirs with
  planted exact copies, near-duplicate chains and quality failures,
  for ``corpus_release``.
- :func:`star_tables` — the ten registry tables (TPC-H-shaped star
  plus events, documents and embeddings), for the registry queries of
  ``corpus_release``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHEET_COLS = ("name", "amount", "qty", "due_date", "status", "active", "note")
STATUSES = ("open", "paid", "late", "void", "held")
LANGS = ("de", "en", "es", "fr", "it")
FILES_PER_LANG = 4
MAX_CHAIN = 8
EPOCH = dt.date(2020, 1, 1)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose)."""
    return np.random.default_rng([seed, *stream.encode()])


def _words(rng: np.random.Generator, n: int, lo: int = 3, hi: int = 9) -> list[str]:
    """``n`` distinct lowercase pseudo-words."""
    letters = np.array(list(string.ascii_lowercase))
    out: dict[str, None] = {}
    while len(out) < n:
        w = "".join(rng.choice(letters, size=int(rng.integers(lo, hi + 1))))
        out.setdefault(w, None)
    return list(out)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


# -- sheet_sync -------------------------------------------------------


def _sheet_columns(rng: np.random.Generator, n: int, vocab: list[str]) -> dict:
    v = np.array(vocab)
    return {
        "name": list(v[rng.integers(0, len(v), n)]),
        "amount": list(np.round(rng.uniform(1, 10_000, n), 2)),
        "qty": list(rng.integers(1, 1_000, n).astype(np.int64)),
        "due_date": [EPOCH + dt.timedelta(days=int(d)) for d in rng.integers(0, 2_000, n)],
        "status": [STATUSES[i] for i in rng.integers(0, len(STATUSES), n)],
        "active": list(rng.integers(0, 2, n).astype(bool)),
        "note": [f"{a} {b}" for a, b in zip(v[rng.integers(0, len(v), n)], v[rng.integers(0, len(v), n)])],
    }


def _sheet_table(keys: list[str], cols: dict) -> pa.Table:
    return pa.table(
        {
            "slno": pa.array(keys, pa.string()),
            "name": pa.array(cols["name"], pa.string()),
            "amount": pa.array(cols["amount"], pa.float64()),
            "qty": pa.array(cols["qty"], pa.int64()),
            "due_date": pa.array(cols["due_date"], pa.date32()),
            "status": pa.array(cols["status"], pa.string()),
            "active": pa.array(cols["active"], pa.bool_()),
            "note": pa.array(cols["note"], pa.string()),
        }
    )


def _edited(rng: np.random.Generator, col: str, old, vocab: list[str]):
    """A value of ``col``'s type whose string form differs from ``old``."""
    if col == "amount":
        return round(old + float(rng.integers(1, 500)) + 0.25, 2)
    if col == "qty":
        return old + int(rng.integers(1, 10))
    if col == "due_date":
        return old + dt.timedelta(days=int(rng.integers(1, 30)))
    if col == "active":
        return not old
    if col == "status":
        return STATUSES[(STATUSES.index(old) + int(rng.integers(1, len(STATUSES)))) % len(STATUSES)]
    new = old
    while new == old:
        new = vocab[int(rng.integers(0, len(vocab)))] + ("" if col == "name" else " x")
    return new


def sheet_tables(seed: int, n_rows: int, out_dir: str) -> dict:
    """Write ``base.parquet``, ``edit.parquet`` and ``churn.parquet``.

    - edit: 1% of rows get one edited cell, 0.1% of rows are deleted
      and 0.1% new keys are inserted (edited and deleted rows are
      disjoint, so every planted edit is visible to a keyed diff).
    - churn: half of the keys are deleted and as many new keys are
      inserted; no cell of a surviving row changes.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, "sheet")
    vocab = _words(rng, 2_000)
    keys = [str(i + 1) for i in range(n_rows)]
    cols = _sheet_columns(rng, n_rows, vocab)
    base = _sheet_table(keys, cols)

    n_edit = max(1, n_rows // 100)
    n_ins = max(1, n_rows // 1_000)
    n_del = max(1, n_rows // 1_000)
    picked = rng.permutation(n_rows)
    del_rows = set(picked[:n_del].tolist())
    edit_rows = picked[n_del : n_del + n_edit].tolist()
    ecols = {c: list(v) for c, v in cols.items()}
    edits_by_col = dict.fromkeys(SHEET_COLS, 0)
    for r in edit_rows:
        c = SHEET_COLS[int(rng.integers(0, len(SHEET_COLS)))]
        ecols[c][r] = _edited(rng, c, ecols[c][r], vocab)
        edits_by_col[c] += 1
    keep = [i for i in range(n_rows) if i not in del_rows]
    ins_keys = [str(n_rows + i + 1) for i in range(n_ins)]
    ins_cols = _sheet_columns(rng, n_ins, vocab)
    edit = _sheet_table(
        [keys[i] for i in keep] + ins_keys,
        {c: [ecols[c][i] for i in keep] + ins_cols[c] for c in SHEET_COLS},
    )

    n_churn = n_rows // 2
    churn_del = set(rng.permutation(n_rows)[:n_churn].tolist())
    survivors = [i for i in range(n_rows) if i not in churn_del]
    churn_keys = [str(2 * n_rows + i + 1) for i in range(n_churn)]
    churn_cols = _sheet_columns(rng, n_churn, vocab)
    churn = _sheet_table(
        [keys[i] for i in survivors] + churn_keys,
        {c: [cols[c][i] for i in survivors] + churn_cols[c] for c in SHEET_COLS},
    )

    for name, table in (("base", base), ("edit", edit), ("churn", churn)):
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {
        "rows": n_rows,
        "edit": {"diff": n_edit, "extra_row": n_ins, "del_row": n_del},
        "edit_cells_by_col": edits_by_col,
        "edit_rows": edit.num_rows,
        "churn": {"diff": 0, "extra_row": n_churn, "del_row": n_churn},
        "churn_rows": churn.num_rows,
    }


# -- corpus_release ---------------------------------------------------


def _doc(rng: np.random.Generator, vocab: np.ndarray, p: np.ndarray, lo: int, hi: int) -> list[str]:
    """Distinct words drawn by a Zipf-like weight, so docs pass the
    uniqueness rule that a plain Zipf stream fails."""
    n = int(rng.integers(lo, hi + 1))
    return list(vocab[rng.choice(len(vocab), size=n, replace=False, p=p)])


def corpus_dirs(seed: int, n_docs: int, out_dir: str) -> dict:
    """Write ``<out_dir>/<lang>/part-<k>.txt``, one doc per line.

    Planted structure (counts are of LINES written):

    - good docs of 40-80 distinct words;
    - near-duplicate chains of 2 to ``MAX_CHAIN`` docs of 60-80 words,
      each doc one word substitution away from the previous one, at
      positions 3+ words apart: word-3-shingle Jaccard is >= 0.90
      between neighbours and <= 0.86 two apart, so a 0.88 threshold
      links only neighbours and connected components must walk the
      chain;
    - exact copies of good docs, written to another file of the same
      language (content ids collapse them at ingestion);
    - quality failures: ``short`` (< 10 tokens: pass_length),
      ``repetitive`` (3 words cycled: pass_uniq_ratio) and
      ``long_tokens`` (> 12 chars per token: pass_chars_per_token).
    """
    rng = _rng(seed, "corpus")
    vocab = np.array(_words(rng, 6_000))
    w = 1.0 / (np.arange(len(vocab)) + 20.0) ** 0.9
    p = w / w.sum()
    n_bad = {"short": n_docs // 50, "repetitive": n_docs // 50, "long_tokens": n_docs // 50}
    n_copies = n_docs // 50
    chain_budget = n_docs // 5

    docs: list[tuple[str, list[str], str]] = []  # (lang, words, kind)
    chain_lengths: list[int] = []
    while sum(chain_lengths) < chain_budget:
        length = int(rng.integers(2, MAX_CHAIN + 1))
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        cur = _doc(rng, vocab, p, 60, 80)
        docs.append((lang, cur, "chain"))
        edited: list[int] = []
        for _ in range(length - 1):
            cur = list(cur)
            # an interior position 3+ words from every earlier edit of
            # the chain: each edit replaces exactly 3 shingles of its own
            pos = int(rng.integers(3, len(cur) - 3))
            while any(abs(pos - e) < 3 for e in edited):
                pos = int(rng.integers(3, len(cur) - 3))
            edited.append(pos)
            new = cur[pos]
            while new in cur:
                new = vocab[int(rng.integers(0, len(vocab)))]
            cur[pos] = new
            docs.append((lang, cur, "chain"))
        chain_lengths.append(length)
    n_good = n_docs - len(docs) - sum(n_bad.values()) - n_copies
    for _ in range(n_good):
        docs.append((LANGS[int(rng.integers(0, len(LANGS)))], _doc(rng, vocab, p, 40, 80), "good"))
    for _ in range(n_bad["short"]):
        docs.append((LANGS[int(rng.integers(0, len(LANGS)))], _doc(rng, vocab, p, 4, 8), "short"))
    for _ in range(n_bad["repetitive"]):
        three = _doc(rng, vocab, p, 3, 3)
        docs.append((LANGS[int(rng.integers(0, len(LANGS)))], three * 15, "repetitive"))
    for _ in range(n_bad["long_tokens"]):
        toks = ["".join(vocab[rng.choice(len(vocab), size=3, replace=False)]) + "q" * 6 for _ in range(20)]
        docs.append((LANGS[int(rng.integers(0, len(LANGS)))], toks, "long_tokens"))

    good_idx = [i for i, d in enumerate(docs) if d[2] == "good"]
    copies = [docs[i] for i in rng.choice(good_idx, size=n_copies, replace=False)]
    drops = {lang: 0 for lang in LANGS}
    kept_good = {lang: 0 for lang in LANGS}
    start = 0
    for length in chain_lengths:
        drops[docs[start][0]] += length - 1
        start += length
    for lang, _, kind in docs:
        if kind in ("good", "chain"):
            kept_good[lang] += 1

    lines: dict[str, list[str]] = {lang: [] for lang in LANGS}
    copy_lines: dict[str, list[str]] = {lang: [] for lang in LANGS}
    for lang, words, _ in docs:
        lines[lang].append(" ".join(words))
    for lang, words, _ in copies:
        copy_lines[lang].append(" ".join(words))
    for lang in LANGS:
        order = rng.permutation(len(lines[lang]))
        body = [lines[lang][i] for i in order]
        d = os.path.join(out_dir, lang)
        os.makedirs(d, exist_ok=True)
        shards = [body[k::FILES_PER_LANG] for k in range(FILES_PER_LANG)]
        # an exact copy lands in the file after its original's, so the
        # duplicate is always cross-file
        for text in copy_lines[lang]:
            k = body.index(text) % FILES_PER_LANG
            shards[(k + 1) % FILES_PER_LANG].append(text)
        for k, shard in enumerate(shards):
            with open(os.path.join(d, f"part-{k}.txt"), "w", encoding="utf-8") as fh:
                fh.write("\n".join(shard) + "\n")
    expected_kept = {lang: kept_good[lang] - drops[lang] for lang in LANGS}
    return {
        "lines": len(docs) + n_copies,
        "unique_docs": len(docs),
        "exact_copies": n_copies,
        "chains": len(chain_lengths),
        "chain_docs": sum(chain_lengths),
        "chain_lengths": {str(k): chain_lengths.count(k) for k in range(2, MAX_CHAIN + 1)},
        "near_dup_drops": sum(drops.values()),
        "bad": n_bad,
        "expected_kept": expected_kept,
        # 80% of the expected survivors per language: slack for an LSH
        # link the banding misses, while still exercising an exact mix
        "mix_targets": {lang: (expected_kept[lang] * 4) // 5 for lang in LANGS},
    }


# -- registry tables --------------------------------------------------


def star_tables(seed: int, scale: float, out_dir: str) -> dict:
    """Write the ten registry tables with the schemas and value domains
    of the fixtures in ``FIXTURES.md`` at ``scale`` (1.0 = 1,500 customers, 15,000
    orders, 60,000 line items, 10,000 events)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, "star")
    n_cust, n_supp, n_part = int(1_500 * scale), max(10, int(100 * scale)), int(2_000 * scale)
    n_ord, n_line, n_ev = int(15_000 * scale), int(60_000 * scale), int(10_000 * scale)
    n_docs, n_emb = 500, 500
    day0 = dt.datetime(1995, 1, 1)
    rows: dict[str, pa.Table] = {}
    rows["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    rows["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    rows["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n_cust)],
    })
    rows["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = ["blue", "cold", "dark", "fast", "green", "hot", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    rows["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [types[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    odays = rng.integers(0, 2_404, n_ord)
    rows["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, n_ord), 2),
        "o_orderdate": pa.array([day0 + dt.timedelta(days=int(d)) for d in odays], pa.timestamp("us")),
        "o_orderpriority": [prio[i] for i in rng.integers(0, 5, n_ord)],
    })
    lok = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    rows["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2_100, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(
            [day0 + dt.timedelta(days=int(odays[o] + d)) for o, d in zip(lok, rng.integers(1, 122, n_line))],
            pa.timestamp("us"),
        ),
    })
    ev_t0 = dt.datetime(2024, 1, 1)
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    etypes = ["click", "error", "purchase", "signup", "view"]
    rows["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array([ev_t0 + dt.timedelta(microseconds=int(u)) for u in ev_us], pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": [etypes[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    words = ("join hash row batch scan column customer filter small slow merge order vector "
             "line table data agg value key stream window a spark part group big sort query fast the").split()
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and i % 20 == 0:  # near-duplicate of an earlier doc
            texts.append(texts[i - 17] + " dup")
        else:
            texts.append(" ".join(words[j] for j in rng.integers(0, len(words), int(rng.integers(8, 96)))))
    langs = ["de", "en", "en", "en", "es", "fr", "zh"]
    rows["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [langs[i] for i in rng.integers(0, len(langs), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    emb = centers[labels] + rng.normal(0, 0.8, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True) * 0.6).astype(np.float32)
    rows["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, table in rows.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in rows.items()}
