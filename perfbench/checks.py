"""Correctness checks computed apart from the program.

Every check takes plain Python/pandas values and returns a list of error
strings; an empty list means the result passed. None of them imports
Spark or the program, so the tests can feed them corrupted results.
"""

from __future__ import annotations

import functools
import math
import re
from collections import defaultdict
from itertools import combinations

import numpy as np
import pandas as pd

REL_TOL = 1e-6
ABS_TOL = 1e-6


# ---------------------------------------------------------------- rows


def _num(v):
    if isinstance(v, (bool, np.bool_)):
        return None
    if isinstance(v, (int, float, np.integer, np.floating)):
        return float(v)
    if isinstance(v, str):
        try:
            return float(v)
        except ValueError:
            return None
    return None


def _key(row):
    out = []
    for v in row:
        if v is None or (isinstance(v, float) and math.isnan(v)):
            out.append((0, ""))
        elif _num(v) is not None:
            x = _num(v)
            out.append((1, float(f"{x:.6g}")))
        else:
            out.append((2, str(v)))
    return tuple(out)


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    x, y = _num(a), _num(b)
    if x is not None and y is not None:
        return math.isclose(x, y, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return str(a) == str(b)


def compare_rows(label: str, got, want) -> list[str]:
    """Order-insensitive row comparison; numbers (or numeric text, as the
    pg-wire text format sends them) match within a relative tolerance."""
    got, want = [tuple(r) for r in got], [tuple(r) for r in want]
    if len(got) > 1000 and len(got) == len(want) and _same_frames(got, want):
        return []
    got = sorted(got, key=_key)
    want = sorted(want, key=_key)
    if len(got) != len(want):
        return [f"{label}: {len(got)} rows, expected {len(want)}"]
    for g, w in zip(got, want):
        if len(g) != len(w) or not all(_same(a, b) for a, b in zip(g, w)):
            return [f"{label}: row {g!r} differs from expected {w!r}"]
    return []


def _same_frames(got, want) -> bool:
    """Vectorized fast path for big results: both sides sorted by every
    column, then compared column by column. A False here only sends the
    rows on to the exact row-by-row comparison."""
    a, b = pd.DataFrame(got), pd.DataFrame(want)
    if a.shape != b.shape:
        return False
    try:
        a = a.sort_values(list(a.columns), kind="stable").reset_index(drop=True)
        b = b.sort_values(list(b.columns), kind="stable").reset_index(drop=True)
        for c in a.columns:
            x, y = a[c].to_numpy(), b[c].to_numpy()
            if x.dtype.kind == "f" or y.dtype.kind == "f":
                if not np.allclose(x.astype(float), y.astype(float), rtol=REL_TOL,
                                   atol=ABS_TOL, equal_nan=True):
                    return False
            elif not (x == y).all():
                return False
    except (TypeError, ValueError):
        return False
    return True


# ---------------------------------------------------------------- seq_ops


def match_expected(events: pd.DataFrame) -> list[tuple]:
    """MATCH 'VIEW+ PURCHASE' ON event_type, aggregated per match, by a
    Python ``re`` scan of each user's label string (one letter per event,
    greedy leftmost non-overlapping matches)."""
    code = {"view": "V", "purchase": "P"}
    ev = events.sort_values(["user_id", "ts", "event_id"], kind="stable")
    out = []
    for uid, g in ev.groupby("user_id", sort=False):
        labels = "".join(code.get(t, "x") for t in g["event_type"])
        vals = g["value"].to_numpy()
        for m in re.finditer(r"V+P", labels):
            s, e = m.span()
            out.append((int(uid), e - s - 1, float(vals[e - 1]), e - s))
    return out


def split_check(intervals: pd.DataFrame, result: pd.DataFrame) -> list[str]:
    """SPLIT (lo, hi) INTO (s, e) PARTITION BY user_id, checked by a sweep
    line: each interval's pieces are exactly the consecutive breakpoints of
    its partition that fall inside it, and their lengths sum to hi - lo."""
    errs = []
    want = []
    for uid, g in intervals.groupby("user_id", sort=False):
        bps = np.unique(np.concatenate([g["lo"].to_numpy(), g["hi"].to_numpy()]))
        for eid, lo, hi in zip(g["event_id"], g["lo"], g["hi"]):
            inner = bps[(bps >= lo) & (bps <= hi)]
            want.extend((int(uid), int(eid), a, b) for a, b in zip(inner[:-1], inner[1:]))
    got = result[["user_id", "event_id", "s", "e"]].itertuples(index=False)
    errs += compare_rows("split pieces", got, want)
    sums = (result["e"] - result["s"]).groupby(result["event_id"]).sum()
    span = intervals.set_index("event_id")
    span = (span["hi"] - span["lo"])[span["hi"] > span["lo"]]
    diff = (sums.reindex(span.index).fillna(0.0) - span).abs()
    if (diff > 1e-6).any():
        errs.append(f"split: piece lengths of {int((diff > 1e-6).sum())} intervals "
                    "do not sum to hi - lo")
    return errs


def dtw_cost(a: np.ndarray, b: np.ndarray, margin: int) -> float:
    """Banded DTW (|i - j| <= margin) between equal-length sequences, cost
    |a_i - b_j|, in numpy one row at a time."""
    n = len(a)
    inf = np.inf
    prev = np.full(n + 1, inf)
    prev[0] = 0.0
    for i in range(1, n + 1):
        cur = np.full(n + 1, inf)
        lo, hi = max(1, i - margin), min(n, i + margin)
        c = np.abs(a[i - 1] - b[lo - 1:hi])
        for j in range(lo, hi + 1):
            cur[j] = c[j - lo] + min(prev[j - 1], prev[j], cur[j - 1])
        prev = cur
        prev[0] = inf
    return float(prev[n])


def align_check(a: pd.DataFrame, b: pd.DataFrame, result: pd.DataFrame, margin: int) -> list[str]:
    """ALIGN ... ON abs(a_value - b_value) MARGIN m PARTITION BY user_id: per
    user, the returned pairs form a monotone path over the length-n suffixes
    (n = min of the two lengths), inside the band, whose cost equals the
    banded-DTW optimum."""
    errs = []
    res = result.groupby("user_id")
    for uid, ga in a.groupby("user_id"):
        gb = b[b["user_id"] == uid]
        if len(gb) == 0:
            continue
        ga = ga.sort_values(["a_ts", "a_id"], kind="stable")
        gb = gb.sort_values(["b_ts", "b_id"], kind="stable")
        n = min(len(ga), len(gb))
        m = max(1, min(margin, n - 1))
        av = ga["a_value"].to_numpy()[len(ga) - n:]
        bv = gb["b_value"].to_numpy()[len(gb) - n:]
        apos = {v: i for i, v in enumerate(ga["a_id"].to_numpy()[len(ga) - n:])}
        bpos = {v: i for i, v in enumerate(gb["b_id"].to_numpy()[len(gb) - n:])}
        if uid not in res.groups:
            errs.append(f"align: user {uid} has no aligned pairs")
            continue
        pairs = res.get_group(uid)
        try:
            path = sorted((apos[x], bpos[y]) for x, y in zip(pairs["a_id"], pairs["b_id"]))
        except KeyError as e:
            errs.append(f"align: user {uid} pairs a row outside the suffix: {e}")
            continue
        if path[0] != (0, 0) or path[-1] != (n - 1, n - 1):
            errs.append(f"align: user {uid} path does not span the suffixes")
            continue
        steps_ok = all(
            (i2 - i1, j2 - j1) in ((1, 0), (0, 1), (1, 1))
            for (i1, j1), (i2, j2) in zip(path, path[1:])
        )
        if not steps_ok or any(abs(i - j) > m for i, j in path):
            errs.append(f"align: user {uid} path is not a banded warping path")
            continue
        cost = sum(abs(av[i] - bv[j]) for i, j in path)
        best = dtw_cost(av, bv, m)
        if not math.isclose(cost, best, rel_tol=1e-9, abs_tol=1e-9):
            errs.append(f"align: user {uid} path cost {cost} != DTW optimum {best}")
        if len(errs) > 5:
            break
    return errs


def ema_expected(events: pd.DataFrame, decay: float) -> list[tuple]:
    """EXPMOVAVG by its recurrence s_0 = x_0, s_i = d*x_i + (1-d)*s_{i-1}."""
    ev = events.sort_values(["user_id", "ts", "event_id"], kind="stable")
    out = []
    for uid, g in ev.groupby("user_id", sort=False):
        s = None
        for eid, x in zip(g["event_id"].to_numpy(), g["value"].to_numpy()):
            s = x if s is None else decay * x + (1 - decay) * s
            out.append((int(uid), int(eid), float(s)))
    return out


def arg_check(events: pd.DataFrame, result: pd.DataFrame) -> list[str]:
    """ARG (MAX(value)) PARTITION BY user_id: one row per user, holding a
    maximal value of that user."""
    top = events.groupby("user_id")["value"].max()
    errs = []
    if len(result) != len(top) or result["user_id"].duplicated().any():
        errs.append(f"arg: {len(result)} rows for {len(top)} users")
    known = events.set_index("event_id")
    for uid, eid, v in result[["user_id", "event_id", "value"]].itertuples(index=False):
        if eid not in known.index or known.at[eid, "user_id"] != uid or v != top.get(uid):
            errs.append(f"arg: row (user {uid}, event {eid}, {v}) is not a maximum")
            break
    return errs


# ---------------------------------------------------------------- corpus


@functools.lru_cache(maxsize=None)
def shingles(text: str, k: int = 5) -> frozenset:
    """The character k-grams the MinHash sketch hashes: lowercased text
    with whitespace runs collapsed to one space."""
    norm = re.sub(r"\s+", " ", text.lower())
    if len(norm) < k:
        norm = norm.ljust(k)
    return frozenset(norm[i:i + k] for i in range(len(norm) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


def pairs_check(texts: dict[int, str], pairs, threshold: float) -> list[str]:
    """Every reported pair is at or above the threshold by exact shingle
    Jaccard; every pair with identical shingle sets is reported."""
    sh = {i: shingles(t) for i, t in texts.items()}
    got = {(min(a, b), max(a, b)) for a, b in pairs}
    errs = []
    for a, b in sorted(got):
        j = jaccard(sh[a], sh[b])
        if j < threshold:
            errs.append(f"pairs: ({a}, {b}) has Jaccard {j:.4f} < {threshold}")
            break
    same = defaultdict(list)
    for i, s in sh.items():
        same[s].append(i)
    for ids in same.values():
        for a, b in combinations(sorted(ids), 2):
            if (a, b) not in got:
                errs.append(f"pairs: identical shingle sets ({a}, {b}) not reported")
                return errs
    return errs


def gate_check(incoming: dict[int, str], corpus: dict[int, str], kept, threshold: float,
               label: str) -> list[str]:
    """Every dropped incoming document has a partner at or above the
    threshold, in the corpus or among the other incoming documents; every
    incoming copy of a corpus document is dropped."""
    kept = set(kept)
    errs = [f"{label}: kept id {i} was never offered" for i in kept - set(incoming)][:1]
    csh = {i: shingles(t) for i, t in corpus.items()}
    ish = {i: shingles(t) for i, t in incoming.items()}
    corpus_sets = set(csh.values())
    for i, s in ish.items():
        if i in kept:
            if s in corpus_sets:
                errs.append(f"{label}: copy {i} of a corpus document was kept")
                break
            continue
        others = [v for j, v in ish.items() if j != i]
        # Jaccard >= t needs set sizes within a factor t of each other
        if not any(threshold * len(t) <= len(s) <= len(t) / threshold
                   and jaccard(s, t) >= threshold for t in [*csh.values(), *others]):
            errs.append(f"{label}: dropped {i} has no partner at Jaccard >= {threshold}")
            break
    return errs


def spans_check(texts: dict[int, str], spans, planted, k: int) -> list[str]:
    """Every reported span occurs verbatim in both documents; every
    planted passage is covered by a reported span of each pair of
    documents it was planted into."""
    toks = {i: t.split() for i, t in texts.items()}
    errs = []
    by_pair = defaultdict(list)
    for a, b, sa, sb, n in spans:
        if n < k or toks[a][sa - 1:sa - 1 + n] != toks[b][sb - 1:sb - 1 + n] \
                or len(toks[a][sa - 1:sa - 1 + n]) != n:
            errs.append(f"spans: ({a}, {b}, {sa}, {sb}, {n}) is not a shared span")
            break
        by_pair[(a, b)].append((sa, sb, n))
    for p in planted:
        for (da, pa), (db, pb) in combinations(sorted(map(tuple, p["at"])), 2):
            covered = any(
                sa <= pa and sa + n >= pa + p["len"] and sb <= pb and sb + n >= pb + p["len"]
                for sa, sb, n in by_pair.get((da, db), ())
            )
            if not covered:
                errs.append(f"spans: planted passage in ({da}, {db}) not covered")
                return errs
    return errs


def quality_check(texts: dict[int, str], rows) -> list[str]:
    """Token count and repetition ratio of each scored document."""
    errs = []
    if len(rows) != len(texts):
        return [f"quality: {len(rows)} rows for {len(texts)} documents"]
    for doc_id, n_tok, rep in rows:
        t = texts[doc_id].split()
        want = (len(t) - len(set(t))) / max(len(t), 1)
        if n_tok != len(t) or not math.isclose(rep, want, rel_tol=1e-9, abs_tol=1e-12):
            errs.append(f"quality: doc {doc_id} scored ({n_tok}, {rep}), expected "
                        f"({len(t)}, {want})")
            break
    return errs
