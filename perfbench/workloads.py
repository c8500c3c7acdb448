"""The three workloads. Each is a closed loop with one client: a statement
is issued only after the previous one returns.

A workload builds its state in ``setup`` and yields, per pass, a list of
``Op(kind, fn, after)``: the runner times ``fn()`` alone and then hands
its result to ``after`` (untimed bookkeeping and mirror upkeep). The
final ``verify`` compares every recorded result with an independent
computation (``checks``).
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen


@dataclass
class Op:
    kind: str  # "read" or "write"
    fn: Callable
    after: Callable | None = None
    before: Callable | None = None
    label: str = ""  # names the statement in the trace file


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _rows(table: pa.Table) -> list[tuple]:
    return [tuple(r.values()) for r in table.to_pylist()]


class Workload:
    groups: tuple[str, ...] = ()
    min_passes = 1  # measured passes every run makes, whatever --seconds says

    def __init__(self, ctx):
        self.ctx = ctx
        self.errors: list[str] = []
        self.stored_ratio: float | None = None

    def expect(self, errs) -> None:
        self.errors.extend(errs)

    def after_pass(self, p: int) -> None:
        """Untimed work after pass ``p`` (0 is the warm-up pass)."""

    def verify(self) -> None:
        """Checks that need the whole run, after the last pass."""

    def per_layer_extra(self) -> dict:
        return {}

    def teardown(self) -> None:
        pass


# ---------------------------------------------------------------- olap_sql

OLAP = {
    "scan_group": """
        SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
               sum(l_extendedprice) AS sum_base,
               sum(l_extendedprice * (1 - l_discount)) AS sum_disc,
               avg(l_discount) AS avg_disc, count(*) AS n
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus""",
    "join3": """
        SELECT o_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue
        FROM customer JOIN orders ON c_custkey = o_custkey
             JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 20""",
    "join5": """
        SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
        FROM customer JOIN orders ON c_custkey = o_custkey
             JOIN lineitem ON l_orderkey = o_orderkey
             JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             JOIN nation ON s_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name""",
    "in_subquery": """
        SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS total
        FROM orders WHERE o_custkey IN (
            SELECT c_custkey FROM customer
            WHERE c_mktsegment = 'MACHINERY' AND c_acctbal > 5000)
        GROUP BY o_orderpriority""",
    "exists": """
        SELECT o_orderpriority, count(*) AS order_count FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        GROUP BY o_orderpriority""",
    "grouping_sets": """
        SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""",
    "window": """
        SELECT c_nationkey, c_custkey, spend, rk, nation_spend FROM (
            SELECT c_nationkey, c_custkey, spend,
                   rank() OVER (PARTITION BY c_nationkey
                                ORDER BY spend DESC, c_custkey) AS rk,
                   sum(spend) OVER (PARTITION BY c_nationkey) AS nation_spend
            FROM (SELECT c_nationkey, c_custkey, sum(o_totalprice) AS spend
                  FROM customer JOIN orders ON c_custkey = o_custkey
                  GROUP BY c_nationkey, c_custkey) x) y
        WHERE rk <= 3""",
    "distinct_on": """
        SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
        FROM orders ORDER BY o_custkey, o_totalprice DESC, o_orderkey""",
}
# DuckDB runs the same text: every statement above is also valid DuckDB SQL


# ---------------------------------------------------------------- seq_ops

SEQ = {
    "match": """
        SELECT user_id, match_id, VIEW.count(*) AS n_views,
               PURCHASE.sum(value) AS pv, count(*) AS n
        FROM events ORDERED BY (ts, event_id) PARTITION BY user_id
             MATCH 'VIEW+ PURCHASE' ON event_type
        GROUP BY user_id, match_id""",
    "split": """
        SELECT user_id, event_id, s, e
        FROM (SELECT user_id, event_id, value AS lo, value + 20 AS hi
              FROM events WHERE event_type = 'view')
             PARTITION BY user_id SPLIT (lo, hi) INTO (s, e)""",
    "align": """
        SELECT user_id, a_id, b_id
        FROM (SELECT user_id, event_id AS a_id, ts AS a_ts, value AS a_value
              FROM events WHERE event_type = 'view' AND user_id % 8 = 0)
             ORDERED BY (a_ts, a_id) PARTITION BY user_id
             ALIGN (SELECT user_id, event_id AS b_id, ts AS b_ts, value AS b_value
                    FROM events WHERE event_type = 'click' AND user_id % 8 = 0)
             ORDERED BY (b_ts, b_id) ON abs(a_value - b_value) MARGIN 4""",
    "expmovavg": """
        SELECT user_id, event_id,
               EXPMOVAVG(value, 0.3) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ema
        FROM events""",
    "pivot": """
        SELECT * FROM (SELECT user_id, event_type, value FROM events)
        PARTITION BY user_id
        PIVOT sum(value) FOR event_type IN ('view' AS v, 'click' AS c, 'purchase' AS p)""",
    "unpivot": """
        SELECT event_id, k, v
        FROM (SELECT event_id, value, CAST(user_id AS double) AS uid
              FROM events WHERE event_type = 'error')
             UNPIVOT v FOR k IN (value AS 'value', uid AS 'user')""",
    "arg": """
        SELECT user_id, event_id, value FROM events
        PARTITION BY user_id ARG (MAX(value))""",
}
ALIGN_MARGIN = 4
# results written back through the PARQUET sink, one write each per pass
EXPORTS = ("match", "distinct_on", "window")


class OlapSeq(Workload):
    """TPC-H-style statements and Sclera's sequence operators, all through
    ``ScleraEngine.sql``, plus three exports through the PARQUET sink (the
    writes of this workload). OLAP results are compared with DuckDB running
    the same text; operator results with numpy/pandas references."""

    groups = ("star", "events")
    min_passes = 3

    def setup(self):
        import duckdb

        c = self.ctx
        self.engine = c.engine
        self.engine.add_location(c.inputs["star"])
        self.engine.add_location(c.inputs["events"])
        self.duck = duckdb.connect()
        for f in sorted(glob.glob(os.path.join(c.inputs["star"], "*.parquet"))):
            name = os.path.basename(f)[: -len(".parquet")]
            self.duck.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
        ev = pq.read_table(os.path.join(c.inputs["events"], "events.parquet")).to_pandas()
        self.events = ev
        self.exports = {n: os.path.join(c.run_dir, f"export_{n}") for n in EXPORTS}
        self.want = {k: self.duck.execute(q).fetchall() for k, q in OLAP.items()}
        self.want.update({
            "match": checks.match_expected(ev),
            "expmovavg": checks.ema_expected(ev, 0.3),
        })
        piv = ev[ev["event_type"].isin(["view", "click", "purchase"])].pivot_table(
            index="user_id", columns="event_type", values="value", aggfunc="sum")
        piv = piv.reindex(sorted(ev["user_id"].unique()))
        self.want["pivot"] = [
            (int(u), *(None if np.isnan(x) else float(x) for x in row))
            for u, row in zip(piv.index, piv[["view", "click", "purchase"]].to_numpy())
        ]
        err = ev[ev["event_type"] == "error"]
        self.want["unpivot"] = (
            [(int(e), "value", float(v)) for e, v in zip(err["event_id"], err["value"])]
            + [(int(e), "user", float(u)) for e, u in zip(err["event_id"], err["user_id"])]
        )
        views = ev[ev["event_type"] == "view"]
        self.split_in = views.assign(lo=views["value"], hi=views["value"] + 20)[
            ["user_id", "event_id", "lo", "hi"]]
        sub = ev[ev["user_id"] % 8 == 0]
        self.align_a = sub[sub["event_type"] == "view"].rename(
            columns={"event_id": "a_id", "ts": "a_ts", "value": "a_value"})
        self.align_b = sub[sub["event_type"] == "click"].rename(
            columns={"event_id": "b_id", "ts": "b_ts", "value": "b_value"})

    def _check(self, name, t: pa.Table):
        rows = t.to_pylist()
        if name == "match":
            got = [(r["user_id"], r["n_views"], r["pv"], r["n"]) for r in rows]
            self.expect(checks.compare_rows("seq match", got, self.want["match"]))
        elif name == "split":
            self.expect(checks.split_check(self.split_in, t.to_pandas()))
        elif name == "align":
            self.expect(checks.align_check(self.align_a, self.align_b,
                                           t.to_pandas(), ALIGN_MARGIN))
        elif name == "arg":
            self.expect(checks.arg_check(self.events, t.to_pandas()))
        elif name == "pivot":
            got = [(r["user_id"], r["v"], r["c"], r["p"]) for r in rows]
            self.expect(checks.compare_rows("seq pivot", got, self.want["pivot"]))
        else:
            self.expect(checks.compare_rows(name, _rows(t), self.want[name]))

    def ops(self, p):
        eng = self.engine
        check = p > 0  # the warm-up pass is timed and checked by nobody
        out = [Op("read", lambda q=q: eng.sql(q).toArrow(),
                  (lambda t, name=name: self._check(name, t)) if check else None,
                  label=name)
               for name, q in [*OLAP.items(), *SEQ.items()]]
        queries = {**OLAP, **SEQ}
        out += [Op("write", lambda n=n: eng.external_sink(
                    "PARQUET", eng.sql(queries[n]), self.exports[n]),
                   (lambda _, n=n: self._check(n, pq.read_table(self.exports[n])))
                   if check else None, label=f"export {n}")
                for n in EXPORTS]
        return out

    def after_pass(self, p):
        if self.stored_ratio is None and p >= 1:
            stored = sum(dir_bytes(d) for d in self.exports.values())
            live = sum(pq.read_table(d).nbytes for d in self.exports.values())
            self.stored_ratio = stored / live


# ---------------------------------------------------------------- table_rw

COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority"


class TableRw(Workload):
    """One pg-wire client on one manifest table: per round four writes
    (INSERT ... SELECT, UPDATE, DELETE, MERGE) among fourteen reads. Every
    statement is mirrored in DuckDB and every read compared with it."""

    groups = ("orders",)
    min_passes = 3

    def setup(self):
        import duckdb
        from sclera_spark.interfaces.server import ScleraServer, WireClient

        c = self.ctx
        self.engine = c.engine
        self.engine.add_location(c.inputs["orders"])
        self.server = ScleraServer(self.engine).start()
        self.client = WireClient("127.0.0.1", self.server.port)
        src = os.path.join(c.inputs["orders"], "orders.parquet")
        self.client.execute(f"CREATE TABLE rw AS SELECT {COLS} FROM orders WHERE o_orderkey % 4 = 0")
        self.client.execute("ALTER TABLE rw SET FORMAT MANIFEST")
        self.duck = duckdb.connect()
        self.duck.execute(f"CREATE TABLE orders AS SELECT {COLS} FROM read_parquet('{src}')")
        self.duck.execute(f"CREATE TABLE rw AS SELECT {COLS} FROM orders WHERE o_orderkey % 4 = 0")
        rng = np.random.default_rng([c.seed, 7])
        self.hot = rng.choice(np.arange(0, gen.N_ORDERS, 4), 4, replace=False)
        self.residues = [r for r in rng.permutation(400) if r % 4]
        self.table_dir = None
        self.layer_extra: dict = {}  # traced runs: files, bytes, rows per write

    # -- helpers

    def _version(self) -> int:
        return int(self.client.execute("SHOW VERSIONS rw")[1][-1][0])

    def _q(self, sql):
        return self.duck.execute(sql).fetchall()

    def _read(self, sql, duck_sql=None):
        def after(res):
            self.expect(checks.compare_rows(f"table_rw `{sql[:60]}`", res[1],
                                            self._q(duck_sql or sql)))
        return Op("read", lambda: self.client.execute(sql), after, label=sql)

    def _write(self, sql, mirror: list[str], changed: str):
        state = {}

        def fn():
            return self.client.execute(sql)

        def before():
            state["rows"] = self._q(changed)[0][0]
            if self.ctx.tracer is not None:
                state["files"] = self._files()

        def after(_):
            for m in mirror:
                self.duck.execute(m)
            if "files" in state:
                new = self._files() - state["files"]
                ex = self.layer_extra
                ex.setdefault("writes", 0)
                ex["writes"] += 1
                ex["files"] = ex.get("files", 0) + len(new)
                ex["bytes"] = ex.get("bytes", 0) + sum(os.path.getsize(f) for f in new)
                ex["rows"] = ex.get("rows", 0) + state["rows"]

        return Op("write", fn, after, before, label=sql)

    def _files(self) -> set[str]:
        if self.table_dir is None:
            hits = glob.glob(os.path.join(self.ctx.tmp_dir, "sclera_warehouse_*", "rw"))
            self.table_dir = hits[0]
        return set(glob.glob(os.path.join(self.table_dir, "**", "*.parquet"), recursive=True))

    # -- one round

    def ops(self, p):
        rng = np.random.default_rng([self.ctx.seed, 11, p])

        def point(k=None):
            if k is None:
                k = int(rng.choice(self.hot)) if rng.random() < 0.7 else int(rng.integers(0, gen.N_ORDERS))
            return self._read(
                f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM rw WHERE o_orderkey = {k}")

        def rng_probe():
            a = int(rng.integers(0, gen.N_ORDERS - 2000))
            return self._read(
                f"SELECT count(*) AS n, sum(o_totalprice) AS s FROM rw "
                f"WHERE o_orderkey BETWEEN {a} AND {a + 2000}")

        def cmm():
            return self._read("SELECT count(*) AS n, min(o_orderkey) AS lo, max(o_orderkey) AS hi FROM rw")

        def grouped():
            return self._read("SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS s "
                              "FROM rw GROUP BY o_orderstatus")

        res = self.residues[p % len(self.residues)]
        b = int(rng.integers(0, gen.N_ORDERS - 3000))
        d = int(rng.integers(0, gen.N_ORDERS - 300))
        m = int(rng.integers(0, gen.N_ORDERS - 400))
        v0 = self._version()
        self.duck.execute(f"CREATE OR REPLACE TABLE snap AS SELECT * FROM rw")
        insert = self._write(
            f"INSERT INTO rw SELECT {COLS} FROM orders WHERE o_orderkey % 400 = {res}",
            [f"INSERT INTO rw SELECT {COLS} FROM orders WHERE o_orderkey % 400 = {res}"],
            f"SELECT count(*) FROM orders WHERE o_orderkey % 400 = {res}")
        rng_u = f"o_orderkey BETWEEN {b} AND {b + 3000}"
        update = self._write(
            f"UPDATE rw SET o_totalprice = o_totalprice + 1.5 WHERE {rng_u}",
            [f"UPDATE rw SET o_totalprice = o_totalprice + 1.5 WHERE {rng_u}"],
            f"SELECT count(*) FROM rw WHERE {rng_u}")
        rng_d = f"o_orderkey BETWEEN {d} AND {d + 300}"
        delete = self._write(f"DELETE FROM rw WHERE {rng_d}", [f"DELETE FROM rw WHERE {rng_d}"],
                             f"SELECT count(*) FROM rw WHERE {rng_d}")
        rng_m = f"o_orderkey BETWEEN {m} AND {m + 400}"
        src = f"SELECT {COLS} FROM orders WHERE {rng_m}"
        merge = self._write(
            f"MERGE INTO rw AS t USING ({src}) s ON t.o_orderkey = s.o_orderkey "
            "WHEN MATCHED THEN UPDATE SET o_orderstatus = 'M' "
            f"WHEN NOT MATCHED THEN INSERT ({COLS}) VALUES "
            "(s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice, s.o_orderpriority)",
            [f"CREATE OR REPLACE TEMP TABLE msrc AS {src}",
             "CREATE OR REPLACE TEMP TABLE mnew AS SELECT * FROM msrc "
             "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM rw)",
             "UPDATE rw SET o_orderstatus = 'M' WHERE o_orderkey IN (SELECT o_orderkey FROM msrc)",
             "INSERT INTO rw SELECT * FROM mnew"],
            f"SELECT (SELECT count(*) FROM rw WHERE {rng_m}) + (SELECT count(*) FROM orders "
            f"WHERE {rng_m} AND o_orderkey NOT IN (SELECT o_orderkey FROM rw))")
        version_read = self._read(
            f"SELECT count(*) AS n, sum(o_totalprice) AS s FROM rw VERSION AS OF {v0}",
            "SELECT count(*) AS n, sum(o_totalprice) AS s FROM snap")
        # the client reads one key twice after the insert and after the
        # update, so two probe texts per round repeat within a table
        # version (the plan cache's case)
        a, c = (int(rng.choice(self.hot)) for _ in range(2))
        return [insert, point(a), rng_probe(), point(a), cmm(),
                update, point(c), point(c), grouped(), rng_probe(),
                delete, point(), version_read, cmm(),
                merge, point(), rng_probe(), grouped()]

    def after_pass(self, p):
        if self.stored_ratio is None and p >= 1:
            self._files()
            live = self.duck.execute("SELECT * FROM rw").arrow().nbytes
            self.stored_ratio = dir_bytes(self.table_dir) / live

    def per_layer_extra(self):
        ex = self.layer_extra
        if not ex.get("writes"):
            return {}
        return {"files_written_per_write": ex["files"] / ex["writes"],
                "bytes_written_per_row_changed": ex["bytes"] / max(ex["rows"], 1)}

    def teardown(self):
        try:
            self.client.close()
        finally:
            self.server.stop()


# ---------------------------------------------------------------- corpus_dedup

THRESHOLD = 0.8
SPAN_K = 8
VARIANTS = ("clean", "clones")
GATED = "clones"  # the variant whose crawl batches pass both gates
COLLAPSE = {"clean": None, "clones": True}  # minhash_dup_pairs(collapse=...)


class CorpusDedup(Workload):
    """The LLM-corpus tier. MinHash pairs run over a clone-free and a
    clone-heavy corpus (the two sides of the exact-duplicate collapse
    gate); duplicated spans, quality scores and the incremental crawl gate
    (a streaming committer that dedups one incoming batch per pass, gates
    it against the corpus sketch with the cross-corpus anti-join, and
    appends the survivors to a manifest table) run against the clone-heavy
    one."""

    groups = ("docs",)
    min_passes = 2

    def setup(self):
        c = self.ctx
        self.engine = c.engine
        d = c.inputs["docs"]
        self.engine.add_location(d)
        with open(os.path.join(d, "plants.json")) as f:
            self.plants = json.load(f)
        self.corpus = pq.read_table(os.path.join(d, f"docs_{GATED}.parquet"))
        self.texts = {}
        for v in VARIANTS:
            t = pq.read_table(os.path.join(d, f"docs_{v}.parquet"))
            self.texts[v] = dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
        self.batches: dict[int, dict[int, str]] = {}
        self.paths = (os.path.join(c.run_dir, "crawl", "sketch"),
                      os.path.join(c.run_dir, "crawl", "kept"))

    def _incoming(self, p):
        path = os.path.join(self.ctx.run_dir, "incoming", f"b{p}.parquet")
        t = gen.incoming_batch(self.ctx.seed, p, self.corpus)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(t, path)
        self.batches[p] = dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
        return self.engine.add_table(f"incoming_{p}", path)

    def ops(self, p):
        import sclera_spark.llm.dedup as dedup
        import sclera_spark.llm.spandedup as spandedup
        import sclera_spark.llm.text as text
        import sclera_spark.streaming.ops as sops

        def check(fn):  # the warm-up pass is timed and checked by nobody
            return (lambda rows: self.expect(fn([tuple(r) for r in rows]))) if p else None

        # an 800-document corpus is under the collapse probe's 4 MB input
        # floor, so the default gate keeps the plain pipeline; the
        # clone-heavy corpus asks for the collapsed one, so both shapes
        # of the exact-duplicate collapse gate are timed
        out = [
            Op("read", lambda docs=self.engine.table(f"docs_{v}"), c=COLLAPSE[v]:
               dedup.minhash_dup_pairs(docs, threshold=THRESHOLD, collapse=c)
               .select("a_id", "b_id").collect(),
               check(lambda rows, texts=self.texts[v]: checks.pairs_check(
                   texts, rows, THRESHOLD)), label=f"minhash_dup_pairs {v}")
            for v in VARIANTS
        ]
        docs = self.engine.table(f"docs_{GATED}")
        texts = self.texts[GATED]
        out += [
            Op("read", lambda: spandedup.duplicated_spans(docs, k=SPAN_K).collect(),
               check(lambda rows: checks.spans_check(texts, rows, self.plants["spans"], SPAN_K)),
               label="duplicated_spans"),
            Op("read", lambda: text.quality_scores(docs)
               .select("doc_id", "n_tokens_q", "repetition_ratio").collect(),
               check(lambda rows: checks.quality_check(texts, rows)), label="quality_scores"),
        ]
        # the warm-up pass commits the corpus itself as batch 0 (the
        # committer's first-batch path), so every timed commit is
        # incremental: its cross-corpus anti-join gate runs against the
        # persisted corpus sketch; the factory is looked up per pass, so a
        # traced run times the committer call it returns
        crawl_in = self._incoming(p) if p else docs
        out.append(Op("write", lambda: sops.crawl_gate_committer(
            *self.paths, stream_id="bench")(crawl_in, p), label="crawl gate commit"))
        return out

    def _kept(self):
        from sclera_spark.sources.manifest import ManifestTable

        return ManifestTable(self.paths[1]).read(self.ctx.spark).toArrow()

    def after_pass(self, p):
        if self.stored_ratio is None and p >= 1:
            self.stored_ratio = dir_bytes(self.paths[1]) / self._kept().nbytes

    def verify(self):
        kept = set(self._kept().column("doc_id").to_pylist())
        prior = {i: t for i, t in self.texts[GATED].items() if i in kept}
        for p, batch in sorted(self.batches.items()):
            if p == 0:  # the warm-up crawl commit was the corpus itself
                continue
            self.expect(checks.gate_check(batch, prior, kept & set(batch), THRESHOLD,
                                          f"crawl gate batch {p}"))
            prior.update({i: t for i, t in batch.items() if i in kept})


WORKLOADS = {
    "olap_seq": OlapSeq,
    "table_rw": TableRw,
    "corpus_dedup": CorpusDedup,
}
