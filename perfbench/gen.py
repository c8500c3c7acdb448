"""Seeded input generator for the benchmark (numpy + pyarrow, no Spark).

Every table follows the FIXTURES.md schemas. The same ``(seed, size)``
always gives byte-identical parquet files, so runs with one seed see one
input. Outputs are cached under ``<cache>/s<seed>/<group>-<size>/`` and
written atomically (temp dir, then rename), so a run that dies mid-write
leaves no half set behind.

Groups (one directory each, registered with ``ScleraEngine.add_location``):

- ``star`` (sf0.02: a fifth of the sf0.1 row counts, so that a run of
  ``olap_seq`` fits two measured passes): region, nation, customer,
  supplier, part, orders, lineitem.
- ``events`` (40,000 rows, 1,500 users): the event stream.
- ``orders`` (sf0.1): orders alone (the ``table_rw`` source).
- ``docs``: two corpora — ``docs_clean`` (clone-free) and
  ``docs_clones`` (planted exact clones, near-duplicates and shared
  spans) — plus ``plants.json``, the ground truth of what was planted.

Incoming crawl batches for ``corpus_dedup`` are made per pass by
:func:`incoming_batch`, from ``(seed, pass index)``.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts at sf0.1 (lineitem is ~4 lines per order); the star group
# divides them by STAR_DIV
STAR_DIV = 5
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_EVENTS = 40_000
N_USERS = 1_500

# corpus make-up (per variant)
N_DOCS = 800
N_VOCAB = 3_000
DOC_WORDS = (60, 160)
CLONE_SOURCES = 40  # exact-clone clusters ...
CLONE_COPIES = 3  # ... each with this many extra copies
NEAR_SOURCES = 40  # docs that get one near-duplicate each
SPAN_PASSAGES = 30  # planted shared passages ...
SPAN_WORDS = (12, 20)  # ... of this many words ...
SPAN_DOCS = (2, 3)  # ... each planted into this many documents
INCOMING = 60  # docs per incoming crawl batch
INCOMING_BASE = 1_000_000  # incoming doc ids: BASE + pass * 1000 + i

EVENT_TYPES = np.array(["signup", "view", "click", "purchase", "error"])
_T0_NS = 1_704_067_200 * 10**9  # 2024-01-01T00:00:00Z


def _write_group(root: str, group: str, tables: dict[str, pa.Table], extra=None) -> str:
    final = os.path.join(root, group)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
    for name, obj in (extra or {}).items():
        with open(os.path.join(tmp, name), "w") as f:
            json.dump(obj, f)
    try:
        os.rename(tmp, final)
    except OSError:  # another process won the race: keep its copy
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, table): adding a table never
    changes another table's rows."""
    return np.random.default_rng([seed, *stream.encode()])


def _ts_ms(rng, n, lo="1995-01-01", hi="2001-08-01") -> pa.Array:
    lo_ms = np.datetime64(lo, "ms").astype(np.int64)
    hi_ms = np.datetime64(hi, "ms").astype(np.int64)
    days = rng.integers(0, (hi_ms - lo_ms) // 86_400_000, n)
    return pa.array(lo_ms + days * 86_400_000, pa.timestamp("ms"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part, n_ord = (
        n // STAR_DIV for n in (N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS))
    r = _rng(seed, "region")
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(r.integers(0, 5, 25), pa.int32()),
    })
    r = _rng(seed, "customer")
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": r.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    r = _rng(seed, "supplier")
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99),
    })
    r = _rng(seed, "part")
    adj = np.array(["large", "small", "hot", "blue", "red", "green", "shiny"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve"])
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(r.choice(adj, n_part), " "), r.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": r.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 2000) * 0.1, 2),
    })
    orders = orders_table(seed, n_ord, n_cust)
    r = _rng(seed, "lineitem")
    per = r.integers(1, 8, n_ord)
    n = int(per.sum())
    okey = np.repeat(np.arange(n_ord), per)
    starts = np.repeat(np.cumsum(per) - per, per)
    odate = orders.column("o_orderdate").to_numpy().astype("datetime64[ms]").astype(np.int64)
    qty = r.integers(1, 51, n).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(np.arange(n) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, n), 2),
        "l_discount": np.round(r.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(r.integers(0, 9, n) / 100, 2),
        "l_returnflag": r.choice(["A", "N", "R"], n),
        "l_linestatus": r.choice(["F", "O"], n),
        "l_shipdate": pa.array(
            odate[okey] + r.integers(1, 122, n) * 86_400_000, pa.timestamp("ms")
        ),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders, "lineitem": lineitem,
    }


def orders_table(seed: int, n: int = N_ORDERS, n_cust: int = N_CUSTOMER) -> pa.Table:
    r = _rng(seed, "orders")
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": r.choice(["F", "O", "P"], n),
        "o_totalprice": _money(r, n, 800, 500_000),
        "o_orderdate": _ts_ms(r, n),
        "o_orderpriority": r.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
        ),
    })


def events_table(seed: int) -> pa.Table:
    r = _rng(seed, "events")
    # whole microseconds (the engine reads ns timestamps at us precision),
    # up to 10 min apart
    gaps = r.integers(1, 600 * 10**6, N_EVENTS) * 1000
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(_T0_NS + np.cumsum(gaps), pa.timestamp("ns")),
        "user_id": pa.array(r.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": r.choice(EVENT_TYPES, N_EVENTS),
        "value": np.round(r.uniform(0, 150, N_EVENTS), 2),
        "props": np.char.add(np.char.add('{"k": ', r.integers(0, 100, N_EVENTS).astype(str)), "}"),
    })


# ---------------------------------------------------------------- corpus


def _vocab(seed: int) -> np.ndarray:
    r = _rng(seed, "vocab")
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < N_VOCAB:
        words.add("".join(r.choice(letters, r.integers(3, 10))))
    return np.array(sorted(words))


def _fresh_docs(r, vocab, n) -> list[list[str]]:
    lens = r.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n)
    return [list(vocab[r.integers(0, len(vocab), k)]) for k in lens]


def _near_dup(r, vocab, words: list[str]) -> list[str]:
    """One word replaced: the character-5-gram Jaccard to the source stays
    near 0.95, far above the 0.8 threshold."""
    out = list(words)
    out[int(r.integers(0, len(out)))] = str(vocab[r.integers(0, len(vocab))])
    return out


def _docs_table(ids, word_lists, r) -> pa.Table:
    texts = [" ".join(w) for w in word_lists]
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": r.choice(["en", "de", "fr", "es", "zh"], n),
        "source": np.char.add("src", (np.asarray(ids) % 20).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def corpus_tables(seed: int) -> tuple[dict[str, pa.Table], dict]:
    vocab = _vocab(seed)
    r = _rng(seed, "docs_clean")
    clean = _docs_table(np.arange(N_DOCS), _fresh_docs(r, vocab, N_DOCS), r)

    r = _rng(seed, "docs_clones")
    n_clone_rows = CLONE_SOURCES * CLONE_COPIES
    n_base = N_DOCS - n_clone_rows - NEAR_SOURCES
    docs = _fresh_docs(r, vocab, n_base)
    perm = r.permutation(n_base)
    clone_src = perm[:CLONE_SOURCES]
    near_src = perm[CLONE_SOURCES : CLONE_SOURCES + NEAR_SOURCES]
    span_pool = perm[CLONE_SOURCES + NEAR_SOURCES :]
    # shared passages go into untouched docs, at a random word offset
    planted = []
    used = 0
    for p in range(SPAN_PASSAGES):
        k = int(r.integers(SPAN_WORDS[0], SPAN_WORDS[1] + 1))
        passage = list(vocab[r.integers(0, len(vocab), k)])
        m = int(r.integers(SPAN_DOCS[0], SPAN_DOCS[1] + 1))
        where = []
        for d in span_pool[used : used + m]:
            at = int(r.integers(0, len(docs[d]) + 1))
            docs[d] = docs[d][:at] + passage + docs[d][at:]
            where.append([int(d), at + 1])  # 1-based token offset
        used += m
        planted.append({"len": k, "at": where})
    rows = list(docs)
    for s in clone_src:
        rows.extend([docs[s]] * CLONE_COPIES)
    for s in near_src:
        rows.append(_near_dup(r, vocab, docs[s]))
    # shuffle row order but keep planted offsets addressable by doc_id
    order = r.permutation(len(rows))
    new_id = np.empty(len(rows), dtype=np.int64)
    new_id[order] = np.arange(len(rows))
    for p in planted:
        p["at"] = [[int(new_id[d]), at] for d, at in p["at"]]
    ids = new_id
    clones = _docs_table(ids, rows, r).take(pa.array(np.argsort(ids)))
    plants = {
        "spans": planted,
        "clone_share": (n_clone_rows + NEAR_SOURCES) / N_DOCS,
    }
    return {"docs_clean": clean, "docs_clones": clones}, plants


def incoming_batch(seed: int, idx: int, corpus: pa.Table) -> pa.Table:
    """Crawl batch ``idx`` against ``corpus``: near-duplicates and exact
    copies of corpus documents, pairs of copies inside the batch, and
    fresh text."""
    vocab = _vocab(seed)
    r = _rng(seed, f"incoming-{idx}")
    ids = INCOMING_BASE + idx * 1000 + np.arange(INCOMING)
    texts = corpus.column("text").to_pylist()
    src = r.choice(len(texts), 30, replace=False)
    rows = [_near_dup(r, vocab, texts[i].split()) for i in src[:20]]
    rows += [texts[i].split() for i in src[20:]]
    inner = _fresh_docs(r, vocab, 5)
    rows += inner + inner
    rows += _fresh_docs(r, vocab, INCOMING - len(rows))
    return _docs_table(ids, rows, r)


# ---------------------------------------------------------------- entry


SIZES = {"star": "sf0.02", "events": f"n{N_EVENTS}", "orders": "sf0.1", "docs": f"n{N_DOCS}"}


def ensure(cache: str, seed: int, group: str) -> str:
    """Directory of ``group``'s parquet files for ``seed``, made on first use."""
    root = os.path.join(cache, f"s{seed}")
    name = f"{group}-{SIZES[group]}"
    final = os.path.join(root, name)
    if os.path.isdir(final):
        return final
    os.makedirs(root, exist_ok=True)
    if group == "star":
        return _write_group(root, name, star_tables(seed))
    if group == "events":
        return _write_group(root, name, {"events": events_table(seed)})
    if group == "orders":
        return _write_group(root, name, {"orders": orders_table(seed)})
    tables, plants = corpus_tables(seed)
    return _write_group(root, name, tables, {"plants.json": plants})
