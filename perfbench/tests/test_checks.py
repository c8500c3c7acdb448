"""Each correctness check accepts a right result and rejects a corrupted
one. No Spark: the checks run on plain Python values.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402


def _events(n=400, users=6, seed=3):
    r = np.random.default_rng(seed)
    return pd.DataFrame({
        "event_id": np.arange(n),
        "ts": np.cumsum(r.integers(1, 100, n)),
        "user_id": r.integers(0, users, n),
        "event_type": r.choice(["view", "purchase", "click", "error"], n),
        "value": np.round(r.uniform(0, 150, n), 2),
    })


def test_compare_rows():
    want = [(1, "a", 2.5), (2, "b", None)]
    assert checks.compare_rows("t", [(2, "b", None), (1, "a", 2.5000000001)], want) == []
    assert checks.compare_rows("t", [("1", "a", "2.5"), ("2", "b", None)], want) == []
    assert checks.compare_rows("t", [(1, "a", 2.6), (2, "b", None)], want)
    assert checks.compare_rows("t", [(1, "a", 2.5)], want)


def test_match_reference_rejects_a_wrong_count():
    ev = _events()
    want = checks.match_expected(ev)
    assert want and all(n == v + 1 for _, v, _, n in want)
    bad = list(want)
    u, v, pv, n = bad[0]
    bad[0] = (u, v + 1, pv, n + 1)
    assert checks.compare_rows("match", bad, want)


def test_split_check():
    iv = pd.DataFrame({"user_id": [1, 1, 2], "event_id": [10, 11, 12],
                       "lo": [0.0, 5.0, 1.0], "hi": [10.0, 20.0, 2.0]})
    good = pd.DataFrame({"user_id": [1, 1, 1, 1, 2], "event_id": [10, 10, 11, 11, 12],
                         "s": [0.0, 5.0, 5.0, 10.0, 1.0], "e": [5.0, 10.0, 10.0, 20.0, 2.0]})
    assert checks.split_check(iv, good) == []
    assert checks.split_check(iv, good.iloc[1:])  # a piece is missing
    shifted = good.copy()
    shifted.loc[3, "e"] = 19.0  # lengths no longer sum to hi - lo
    assert checks.split_check(iv, shifted)


def _dtw_path(a, b, m):
    """Brute-force optimal banded path, to build a correct ALIGN result."""
    n = len(a)
    D = np.full((n, n), np.inf)
    for i in range(n):
        for j in range(max(0, i - m), min(n, i + m + 1)):
            c = abs(a[i] - b[j])
            prev = 0.0 if i == j == 0 else min(
                D[i - 1, j - 1] if i and j else np.inf,
                D[i - 1, j] if i else np.inf,
                D[i, j - 1] if j else np.inf)
            D[i, j] = c + prev
    path, i, j = [(n - 1, n - 1)], n - 1, n - 1
    while (i, j) != (0, 0):
        cands = [(D[x, y], x, y) for x, y in ((i - 1, j - 1), (i - 1, j), (i, j - 1))
                 if x >= 0 and y >= 0]
        _, i, j = min(cands)
        path.append((i, j))
    return path[::-1], D[n - 1, n - 1]


def test_align_check():
    r = np.random.default_rng(5)
    a_v, b_v = np.round(r.uniform(0, 50, 8), 2), np.round(r.uniform(0, 50, 10), 2)
    a = pd.DataFrame({"user_id": 0, "a_id": np.arange(8), "a_ts": np.arange(8), "a_value": a_v})
    b = pd.DataFrame({"user_id": 0, "b_id": 100 + np.arange(10), "b_ts": np.arange(10),
                      "b_value": b_v})
    path, cost = _dtw_path(a_v, b_v[2:], 3)
    assert np.isclose(cost, checks.dtw_cost(a_v, b_v[2:], 3))
    good = pd.DataFrame({"user_id": 0, "a_id": [i for i, _ in path],
                         "b_id": [102 + j for _, j in path]})
    assert checks.align_check(a, b, good, 3) == []
    # a pair left out: the path either jumps or undercuts the optimum
    assert checks.align_check(a, b, good.drop(index=len(good) // 2), 3)
    # the diagonal is a valid banded path, but not an optimal one here
    diag = pd.DataFrame({"user_id": 0, "a_id": np.arange(8), "b_id": 102 + np.arange(8)})
    assert sum(abs(a_v - b_v[2:])) > cost + 1e-9
    assert checks.align_check(a, b, diag, 3)


def test_ema_reference_rejects_a_wrong_value():
    ev = _events()
    want = checks.ema_expected(ev, 0.3)
    g = ev.sort_values(["ts", "event_id"])
    first = g.groupby("user_id").head(2)
    u = first["user_id"].iloc[0]
    x0, x1 = first[first["user_id"] == u]["value"].to_numpy()[:2]
    assert any(r[0] == u and np.isclose(r[2], 0.3 * x1 + 0.7 * x0) for r in want)
    bad = [(u_, e, s + 0.01 if i == 0 else s) for i, (u_, e, s) in enumerate(want)]
    assert checks.compare_rows("ema", bad, want)


def test_arg_check():
    ev = _events()
    top = ev.loc[ev.groupby("user_id")["value"].idxmax(), ["user_id", "event_id", "value"]]
    assert checks.arg_check(ev, top) == []
    bad = top.copy()
    bad.iloc[0, 2] = bad.iloc[0, 2] - 1
    assert checks.arg_check(ev, bad)
    assert checks.arg_check(ev, top.iloc[1:])


def _corpus():
    vocab = gen._vocab(1)
    r = np.random.default_rng(2)
    docs = gen._fresh_docs(r, vocab, 6)
    texts = {i: " ".join(d) for i, d in enumerate(docs)}
    texts[6] = texts[0]  # exact clone
    texts[7] = " ".join(gen._near_dup(r, vocab, docs[1]))
    return texts, vocab, docs


def test_pairs_check():
    texts, _, _ = _corpus()
    assert checks.jaccard(checks.shingles(texts[1]), checks.shingles(texts[7])) >= 0.8
    good = [(0, 6), (1, 7)]
    assert checks.pairs_check(texts, good, 0.8) == []
    assert checks.pairs_check(texts, [(1, 7)], 0.8)  # identical pair missing
    assert checks.pairs_check(texts, good + [(2, 3)], 0.8)  # dissimilar pair


def test_gate_check():
    texts, vocab, docs = _corpus()
    corpus = {i: texts[i] for i in range(6)}
    incoming = {100: texts[0], 101: texts[7], 102: " ".join(gen._fresh_docs(
        np.random.default_rng(9), vocab, 1)[0])}
    assert checks.gate_check(incoming, corpus, [102], 0.8, "g") == []
    assert checks.gate_check(incoming, corpus, [100, 102], 0.8, "g")  # copy kept
    assert checks.gate_check(incoming, corpus, [], 0.8, "g")  # fresh doc dropped


def test_spans_check():
    texts = {1: "a b c d e f g h i j", 2: "x y c d e f g h i z", 3: "p q r"}
    planted = [{"len": 6, "at": [[1, 3], [2, 3]]}]
    good = [(1, 2, 3, 3, 7)]
    assert checks.spans_check(texts, good, planted, 6) == []
    assert checks.spans_check(texts, [(1, 2, 2, 3, 7)], planted, 6)  # not verbatim
    assert checks.spans_check(texts, [], planted, 6)  # planted span missed


def test_quality_check():
    texts = {1: "a b a c", 2: "d e"}
    assert checks.quality_check(texts, [(1, 4, 0.25), (2, 2, 0.0)]) == []
    assert checks.quality_check(texts, [(1, 4, 0.5), (2, 2, 0.0)])
    assert checks.quality_check(texts, [(1, 3, 0.25), (2, 2, 0.0)])


def test_generator_is_seeded():
    a, _ = gen.corpus_tables(4)
    b, _ = gen.corpus_tables(4)
    c, _ = gen.corpus_tables(5)
    assert a["docs_clones"].equals(b["docs_clones"])
    assert not a["docs_clones"].equals(c["docs_clones"])
    assert gen.events_table(4).equals(gen.events_table(4))


def test_planted_spans_are_where_the_truth_says():
    tables, plants = gen.corpus_tables(4)
    t = tables["docs_clones"]
    toks = dict(zip(t.column("doc_id").to_pylist(),
                    [s.split() for s in t.column("text").to_pylist()]))
    for p in plants["spans"]:
        seqs = {tuple(toks[d][at - 1:at - 1 + p["len"]]) for d, at in p["at"]}
        assert len(seqs) == 1 and len(next(iter(seqs))) == p["len"]
    assert isinstance(t, pa.Table)
