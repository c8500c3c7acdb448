"""Deduplication operators for large-scale text pipelines.

Everything here is designed for the 100 TB case first:

- Exact dedup: hash-groupBy on a fingerprint — one shuffle, map-side
  partial aggregation, no driver state.
- MinHash+LSH near-dup: one vectorized Arrow sketch pass (numpy rolling
  k-gram hashes + all permutation minima as a matrix op), band self-join
  on (band, band_hash) carrying only ids, signature-estimate pre-filter,
  exact-Jaccard verification via JVM array intersection on the survivors.
- SimHash: token hashes JVM-side; 64-bit signature folded with a
  vectorized Arrow pandas_udf (numpy bit math); near-dup = hamming
  distance on banded prefixes.

No reference parity here — the reference has no dedup operators; these are
the extension tier (BASELINE.json north star).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ------------------------------------------------------------------ exact


def dedup_exact(df: DataFrame, on: list[str] | None = None, id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct value of ``on`` (default: all columns
    except the id): the one with the smallest id — deterministic, single
    shuffle (min_by aggregate, no window)."""
    on = on or [c for c in df.columns if c != id_col]
    row = F.struct(*[F.col(c) for c in df.columns])
    keep = df.groupBy(*[F.col(c) for c in on]).agg(
        F.min_by(row, F.col(id_col)).alias("__row")
    )
    return keep.select(*[F.col(f"__row.{c}").alias(c) for c in df.columns])


# ---------------------------------------------------------------- minhash


_MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def _rolling_kgram_hashes(text: str, k: int) -> np.ndarray:
    """Distinct polynomial hashes of all byte k-grams — fully vectorized
    (k vector ops, no per-shingle Python)."""
    s = np.frombuffer(text.encode("utf-8", "ignore"), dtype=np.uint8).astype(np.int64)
    n = len(s)
    if n < k:
        s = np.pad(s, (0, k - n), constant_values=32)
        n = k
    m = n - k + 1
    h = np.zeros(m, dtype=np.int64)
    for j in range(k):
        h = h * np.int64(257) + s[j : j + m]  # wrapping int64 is fine for hashing
    return np.unique(h & np.int64(0x7FFFFFFF))


def _size_conf_bytes(spark, key: str, default: int) -> int:
    """Parse a Spark size conf ('128m', '134217728b', plain bytes)."""
    try:
        v = str(spark.conf.get(key)).strip().lower()
    except Exception:
        return default
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                   ("b", 1)):
        if v.endswith(suf):
            v, mult = v[: -len(suf)], m
            break
    try:
        return int(float(v)) * mult
    except ValueError:
        return default


def _estimated_scan_partitions(df: DataFrame) -> int:
    """Estimate how many partitions the scan under ``df`` will get, by
    replaying Spark's file-split packing over file-index metadata
    (local files only — sizes via os.stat, zero Spark jobs):
    maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    (totalBytes + nFiles*openCost) / defaultParallelism)), partitions
    ~ ceil(totalCost / maxSplitBytes). Returns 0 (=> the caller
    repartitions, the conservative choice) for non-file, remote or
    unsized inputs."""
    import os

    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return 0
    if not files:
        return 0
    total = 0
    for f in files[:8192]:
        p = f
        if p.startswith("file:"):
            p = p[len("file:") :]
            while p.startswith("//"):
                p = p[1:]
        elif "://" in p:
            return 0  # remote: can't size cheaply, keep the shuffle
        try:
            total += os.path.getsize(p)
        except OSError:
            return 0
    if len(files) > 8192:
        return len(files)  # plenty of files; certainly parallel enough
    open_cost = _size_conf_bytes(
        spark, "spark.sql.files.openCostInBytes", 4 << 20
    )
    mpb = _size_conf_bytes(
        spark, "spark.sql.files.maxPartitionBytes", 128 << 20
    )
    total_cost = total + len(files) * open_cost
    bytes_per_core = total_cost // max(par, 1)
    max_split = max(1, min(mpb, max(open_cost, bytes_per_core)))
    return max(1, -(-total_cost // max_split))


def minhash_sketch(
    df: DataFrame,
    text_col: str = "text",
    num_perm: int = 64,
    shingle_k: int = 5,
    with_fp: bool = False,
) -> DataFrame:
    """Add ``minhash`` (array<long> signature) and ``hset`` (sorted distinct
    k-gram hashes, for exact-Jaccard verification) columns.

    Everything text-heavy runs in one vectorized Arrow pandas UDF:
    normalization, byte-k-gram rolling hashes, and the num_perm
    permutation minima ((a_i*h + b_i) mod p) as a single numpy matrix op.
    Earlier JVM-expression formulations (per-shingle substring + per-perm
    transform) measured 80-100s at sf0.1; this runs the same sketch in
    ~2s. Without the mod-p the affine map is monotone and every
    permutation picks the same global-min shingle (degenerate buckets).

    ``with_fp`` additionally emits ``hset_fp``, the md5 hex digest of
    the hset's little-endian int64 bytes — a 128-bit content identity
    for the shingle set. Rows with equal ``hset_fp`` have (md5
    collisions aside) equal hsets, hence equal signatures, band
    hashes, Jaccard estimates and exact Jaccards against ANY third
    row; the LSH candidate paths use it to collapse exact-duplicate
    clusters to one representative (guide §2.5 skew handling) without
    changing any result.
    """
    import re as _re

    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    rnd = __import__("random").Random(42)
    a = np.array([rnd.randrange(1, 2**29) * 2 + 1 for _ in range(num_perm)], dtype=np.int64)
    b = np.array([rnd.randrange(2**30) for _ in range(num_perm)], dtype=np.int64)
    P = np.int64(_MINHASH_P)
    ws = _re.compile(r"\s+")

    fields = [
        StructField("minhash", ArrayType(LongType())),
        StructField("hset", ArrayType(LongType())),
    ]
    if with_fp:
        fields.append(StructField("fp", StringType()))
    sketch_type = StructType(fields)

    @F.pandas_udf(sketch_type)
    def _sketch(tcol: pd.Series) -> pd.DataFrame:
        import hashlib

        sigs, hsets, fps = [], [], []
        for t in tcol:
            if t is None:
                sigs.append([int(P)] * len(a))
                h = np.empty(0, dtype=np.int64)
            else:
                norm = ws.sub(" ", t.lower())
                h = _rolling_kgram_hashes(norm, shingle_k)
                sigs.append(((a[:, None] * h[None, :] + b[:, None]) % P).min(axis=1).tolist())
            hsets.append(h.tolist())
            if with_fp:
                fps.append(hashlib.md5(h.astype("<i8").tobytes()).hexdigest())
        cols = {"minhash": sigs, "hset": hsets}
        if with_fp:
            cols["fp"] = fps
        return pd.DataFrame(cols)

    # spread the CPU-heavy sketch across all cores when the input scan
    # would have too few partitions (e.g. a single parquet file) — the
    # shuffle of raw text is far cheaper than serializing the sketch
    # work. SKIP the shuffle when the scan is already at least as
    # parallel as the cluster: at corpus scale it has thousands of
    # splits and an unconditional repartition is a full extra shuffle
    # of the heaviest column. The estimate replays Spark's split
    # packing (maxSplitBytes = min(maxPartitionBytes, max(openCost,
    # bytesPerCore))) over file-index metadata — zero jobs, no
    # plan-to-RDD conversion (df.rdd costs ~0.5 s of planning per
    # call). r15 gated on the RAW file count, which under-parallelizes
    # when Spark packs many small files into few FilePartitions
    # (ADVICE r15); unknown sizes (non-file / remote sources) keep the
    # repartition, the conservative pre-r15 behavior.
    par = df.sparkSession.sparkContext.defaultParallelism
    if _estimated_scan_partitions(df) < par:
        df = df.repartition(par)
    out = (
        df.withColumn("__sk", _sketch(F.col(text_col)))
        .withColumn("minhash", F.col("__sk.minhash"))
        .withColumn("hset", F.col("__sk.hset"))
    )
    if with_fp:
        out = out.withColumn("hset_fp", F.col("__sk.fp"))
    return out.drop("__sk")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    num_perm: int = 64,
    shingle_k: int = 5,
    out_col: str = "minhash",
) -> DataFrame:
    """Add an array<long> MinHash signature column (see minhash_sketch)."""
    out = minhash_sketch(df, text_col, num_perm, shingle_k).drop("hset")
    return out.withColumnRenamed("minhash", out_col) if out_col != "minhash" else out


def _banded_rows(sig: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(id, band, bh) rows: one xxhash64 per signature band — the LSH
    bucketing key. Only narrow columns are exploded and shuffled;
    shipping the shingle arrays through the band join measured ~100s
    at sf0.1 from array serialization alone."""
    rows_per_band = num_perm // bands
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.get(F.col("minhash"), b * rows_per_band + r) for r in range(rows_per_band)]
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bh")


def _dup_collapse_members(sketch: DataFrame) -> DataFrame:
    """(id, rep, __nn) membership of exact-duplicate classes: rep = the
    smallest id sharing this row's ``hset_fp`` (equal hset => equal
    signature, band hashes and Jaccard vs any third row), __nn = the
    class has a non-empty shingle set. Narrow columns only — the one
    shuffle is keyed by the 128-bit fingerprint; a clone cluster of any
    size costs a min() over narrow rows, not a quadratic bucket join."""
    from pyspark.sql.window import Window

    return (
        sketch.select(
            "id", "hset_fp", (F.size("hset") > 0).alias("__nn")
        )
        .withColumn(
            "rep", F.min("id").over(Window.partitionBy("hset_fp"))
        )
        .select("id", "rep", "__nn")
    )


# clone-mass threshold for the duplicate collapse: with fewer than this
# many exact-duplicate rows corpus-wide, the worst possible band-bucket
# flood is bounded by (n - d)^2 narrow rows (< ~65k) — cheaper than the
# collapse machinery's extra narrow stages; at or above it, collapsing
# wins and keeps growing clone clusters subquadratic. Both branches
# produce identical results, so the data-adaptive choice (guide §2.5,
# AQE-style plan-by-stats) cannot change any output.
_COLLAPSE_MIN_DUPS = 256

# input-size floor for even RUNNING the duplicate probe: the probe is
# one narrow aggregate, but as a separate action it costs a fixed
# ~0.3 s of job/stage scheduling at local[32] (A/B-measured r16) —
# which only pays off when a clone flood is possible at a scale that
# matters. A file-backed corpus below this many bytes keeps the plain
# pipeline outright: even fully degenerate, it floods a bucket with at
# most a few seconds of narrow rows. Results never depend on the
# choice; unknown sizes (non-file sources) probe.
_COLLAPSE_PROBE_MIN_BYTES = 4 << 20


def _collapse_probe_worthwhile(df: DataFrame) -> bool:
    """Metadata-only (zero Spark jobs): is ``df`` big enough that the
    exact-duplicate probe's fixed job cost is worth paying? See
    _COLLAPSE_PROBE_MIN_BYTES."""
    import os

    try:
        files = df.inputFiles()
    except Exception:
        return True
    if not files:
        return True  # non-file source: size unknown, stay safe
    total = 0
    for f in files[:4096]:
        p = f
        if p.startswith("file://"):
            p = p[len("file:") :]
            while p.startswith("//"):
                p = p[1:]
        elif p.startswith("file:"):
            p = p[len("file:") :]
        elif "://" in p:
            return True  # remote storage: can't size cheaply
        try:
            total += os.path.getsize(p)
        except OSError:
            return True
        if total >= _COLLAPSE_PROBE_MIN_BYTES:
            return True
    return len(files) > 4096


def _exact_dup_count(sketch: DataFrame) -> int:
    """ONE narrow agg over the (persisted) sketch: how many rows are
    exact duplicates of an earlier row (n - distinct hset_fp)."""
    r = sketch.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col("hset_fp")).alias("d"),
    ).first()
    return int(r["n"]) - int(r["d"])


def minhash_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 128,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.8,
    sketch: DataFrame | None = None,
    collapse: bool | None = None,
) -> DataFrame:
    """Near-duplicate pairs (a_id < b_id, jaccard >= threshold) via
    MinHash banding. Rows per band-bucket join only — the classic LSH
    candidate generation; exact Jaccard over shingle sets verifies.
    ``sketch`` (a precomputed (id, minhash, hset) frame, caller-owned
    lifetime) skips the sketch pass — the streaming crawl gate
    sketches each batch once and threads it through its dedup, gate
    and append steps.

    Skew guard (guide §2.5): exact-duplicate clusters — the clone-heavy
    failure mode where one (band, bh) bucket holds a whole cluster and
    the self-join goes quadratic — are collapsed to one REPRESENTATIVE
    per distinct shingle set (``hset_fp``) before banding, and the
    verified representative pairs are expanded back to member pairs by
    narrow joins afterwards. Because equal hsets imply equal
    signatures, band hashes, estimates and exact Jaccards, the output
    is identical to the uncollapsed join (within-class pairs carry
    jaccard exactly 1.0, as array_intersect of equal sets yields);
    only the *machinery* changes from O(cluster^2)-inside-one-task to
    O(cluster) narrow rows. ``collapse`` False/True forces the branch;
    None (default) probes the sketch with one narrow aggregate and
    collapses only when the corpus-wide clone mass reaches
    ``_COLLAPSE_MIN_DUPS``, so (near-)clone-free corpora keep the
    plain pipeline shape. One knowing divergence, degenerate by
    construction: two member rows of an EMPTY-shingle-set class (NULL
    texts) yield no pair here, where the uncollapsed join would raise
    ANSI 0/0 computing their jaccard."""
    # one sketch pass gives both the signature (for banding) and the hashed
    # shingle set (for verification); cached for the three reads below and
    # released before returning (the result is materialized first — a
    # leaked persist() accumulates executor storage across calls in a
    # long-lived session)
    caller_owns_sketch = sketch is not None
    if not caller_owns_sketch:
        sketch = (
            minhash_sketch(df, text_col, num_perm, shingle_k, with_fp=True)
            .select(F.col(id_col).alias("id"), "minhash", "hset", "hset_fp")
            .persist()
        )
    has_fp = "hset_fp" in sketch.columns
    if collapse is None and not _collapse_probe_worthwhile(df):
        collapse = False  # sub-probe-floor input: plain pipeline
    if collapse is None:
        collapse = has_fp and _exact_dup_count(sketch) >= _COLLAPSE_MIN_DUPS
    collapse = bool(collapse) and has_fp

    member = None
    if collapse:
        # narrow membership table, materialized once for its 4 readers
        # (band mapping, two expansion sides, within-class join);
        # localCheckpoint blocks are ContextCleaner-released
        member = _dup_collapse_members(sketch).localCheckpoint(eager=True)

    # phase 1: candidates — band the signatures, then the band-bucket
    # self-join over narrow rows.
    banded = _banded_rows(sketch.select("id", "minhash"), num_perm, bands)
    if collapse:
        # map band rows to class representatives and dedupe: each class
        # contributes each bucket once, so a clone cluster can no longer
        # flood its bucket quadratically
        banded = (
            banded.join(member.select("id", "rep"), "id")
            .select(F.col("rep").alias("id"), "band", "bh")
            .dropDuplicates(["id", "band", "bh"])
        )

    # candidate generation stays the band SELF-JOIN: an r15 experiment
    # rewrote it as groupBy(band, bh) + collect_set + JVM combinations
    # (one shuffle instead of three), but the full operator measured
    # ~0.2 s SLOWER at sf0.1 in alternating A/B (min 1.91 vs 1.71 —
    # the array build + explode costs more than the exchanges it
    # saves, and the fetch joins planned worse off the exploded
    # stats); identical 729-candidate output. Kept the measured
    # winner.
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, on=["band", "bh"], how="inner")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )

    # phase 2: ONE fetch join per side (signature AND shingle set
    # together), estimate as a row-level prefilter before the exact
    # intersection — the same fused shape as _minhash_anti_join_core.
    # r13 kept a two-phase fetch here (est-only joins, then hsets for
    # est-survivors only) on flood economics measured on that round's
    # fixture; re-measured in r16 the flood is gone (3924 band rows ->
    # 729 candidates -> 256 survivors at sf0.1, hsets avg 204 elements
    # ~1.6 KB), so the two extra joins and their two AQE stage
    # barriers cost more than the ~1 MB of hset bytes the est filter
    # would have saved. The est filter evaluates before the
    # intersection in the same stage, so est-failures still skip the
    # O(|hset|) exact compare.
    sk_cols = sketch.select("id", "minhash", "hset")
    pairs = (
        cand.join(
            sk_cols.select(
                F.col("id").alias("a_id"),
                F.col("minhash").alias("a_mh"),
                F.col("hset").alias("a_sh"),
            ),
            "a_id",
        ).join(
            sk_cols.select(
                F.col("id").alias("b_id"),
                F.col("minhash").alias("b_mh"),
                F.col("hset").alias("b_sh"),
            ),
            "b_id",
        )
    )
    est = F.size(
        F.filter(F.zip_with(F.col("a_mh"), F.col("b_mh"), lambda x, y: x == y), lambda v: v)
    ) / F.size(F.col("a_mh"))
    inter = F.size(F.array_intersect(F.col("a_sh"), F.col("b_sh")))
    union = F.size(F.col("a_sh")) + F.size(F.col("b_sh")) - inter
    result = (
        pairs.filter(est >= threshold - 0.25)
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )

    if collapse:
        # expand representative pairs back to member pairs. Cross-class:
        # every (member of A) x (member of B) pair shares the rep pair's
        # exact jaccard (equal hsets); least/greatest restores a < b.
        m_a = member.select(F.col("rep").alias("a_id"), F.col("id").alias("__xa"))
        m_b = member.select(F.col("rep").alias("b_id"), F.col("id").alias("__xb"))
        cross = (
            result.join(m_a, "a_id")
            .join(m_b, "b_id")
            .select(
                F.least("__xa", "__xb").alias("a_id"),
                F.greatest("__xa", "__xb").alias("b_id"),
                "jaccard",
            )
        )
        result = cross
        if threshold <= 1.0:
            # within-class pairs: equal non-empty hsets give jaccard
            # exactly 1.0 (|h| / |h|); empty-hset classes (NULL text)
            # produced NULL jaccard (0/0) in the plain join and are
            # dropped here too via __nn
            mm = member.where(F.col("__nn"))
            within = (
                mm.alias("x")
                .join(mm.alias("y"), "rep")
                .where(F.col("x.id") < F.col("y.id"))
                .select(
                    F.col("x.id").alias("a_id"),
                    F.col("y.id").alias("b_id"),
                    F.lit(1.0).alias("jaccard"),
                )
            )
            result = result.unionByName(within)

    # materialize the (far smaller) pair set, then release the sketch cache
    result = result.localCheckpoint(eager=True)
    if not caller_owns_sketch:
        sketch.unpersist()
    return result


def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 50,
) -> DataFrame:
    """Distributed connected components over an edge list -> (id, comp)
    with comp = min id of the component.

    Each round combines neighbor-min propagation with pointer jumping
    (comp := comp of comp), the standard alternating-star construction —
    O(log n) rounds even on path graphs, every step a DataFrame join (no
    driver state beyond the convergence scalar). Rounds are cut with an
    eager localCheckpoint so the lineage stays flat."""
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "comp", F.col("id")
    )
    labels = labels.localCheckpoint(eager=True)
    prev_sum = None
    for _ in range(max_iter):
        # neighbor-min: comp := min(comp, min over neighbors' comp)
        nb = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("comp").alias("nb_comp"))
            .withColumnRenamed("src", "id")
        )
        labels = labels.join(nb, "id", "left").select(
            "id",
            F.least(F.col("comp"), F.coalesce("nb_comp", F.col("comp"))).alias("comp"),
        )
        # pointer jumping: comp := comp(comp)
        hop = labels.select(F.col("id").alias("comp"), F.col("comp").alias("comp2"))
        labels = labels.join(hop, "comp", "left").select(
            "id", F.coalesce("comp2", F.col("comp")).alias("comp")
        )
        labels = labels.localCheckpoint(eager=True)
        # comp values only ever decrease, so the sum is a convergence scalar
        cur_sum = labels.agg(F.sum("comp")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 128,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.8,
    sketch: DataFrame | None = None,
    collapse: bool | None = None,
) -> DataFrame:
    """Drop near-duplicates, keeping exactly one row (the smallest id) per
    connected component of the dup-pair graph. Transitive clusters
    (A~B, B~C, A!~C) collapse to one survivor — the round-1 greedy
    smaller-id drop kept no survivor for some orderings. ``sketch``
    and ``collapse`` pass through to :func:`minhash_dup_pairs`
    (caller-owned / exact-duplicate class collapse)."""
    pairs = minhash_dup_pairs(
        df, id_col, text_col, num_perm, bands, shingle_k, threshold,
        sketch=sketch, collapse=collapse,
    )
    comp = connected_components(pairs)
    losers = comp.filter(F.col("comp") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------- simhash


def simhash(
    df: DataFrame, text_col: str = "text", out_col: str = "simhash"
) -> DataFrame:
    """64-bit SimHash over word tokens. Token hashing stays JVM-side
    (xxhash64 per token); the per-row bit-vote fold runs in a vectorized
    Arrow pandas_udf (numpy), which is the documented slow path but
    touches only an array<long> column, not the text."""
    from pyspark.sql.types import LongType

    # parallelize the token-hash + fold work even off single-file inputs
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    tokens = F.split(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", " "), r"\s+")
    hashes = F.transform(
        F.filter(tokens, lambda t: t != ""), lambda t: F.xxhash64(t)
    )

    @F.pandas_udf(LongType())
    def _fold(h: pd.Series) -> pd.Series:
        # batched fold: the whole Arrow batch's token hashes concatenate
        # into ONE (total_tokens, 64) bit matrix, and per-row bit votes
        # come from a segment-sum (np.add.reduceat) over row boundaries —
        # no per-row python loop. Chunked by token count to bound the
        # matrix at ~32 MB regardless of document lengths.
        n = len(h)
        out = np.zeros(n, dtype=np.int64)
        arrs = [None if a is None else np.asarray(a, dtype=np.int64) for a in h]
        idx = [i for i, a in enumerate(arrs) if a is not None and len(a)]
        if not idx:
            return pd.Series(out)
        shifts = np.arange(64, dtype=np.uint64)
        weights = np.uint64(1) << shifts
        chunk_tokens = 1 << 19
        start = 0
        while start < len(idx):
            end, total = start, 0
            while end < len(idx) and (
                total == 0 or total + len(arrs[idx[end]]) <= chunk_tokens
            ):
                total += len(arrs[idx[end]])
                end += 1
            rows = idx[start:end]
            lens = np.array([len(arrs[i]) for i in rows], dtype=np.int64)
            flat = np.concatenate([arrs[i] for i in rows]).view(np.uint64)
            bits = ((flat[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int32)
            bounds = np.concatenate(([0], np.cumsum(lens)[:-1]))
            votes = np.add.reduceat(bits, bounds, axis=0) * 2 - lens[:, None]
            sigs = ((votes > 0).astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
            out[rows] = sigs.view(np.int64)
            start = end
        return pd.Series(out)

    return df.withColumn(out_col, _fold(hashes))


def simhash_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash: split the 64-bit signature into
    ``blocks`` 16-bit blocks; by pigeonhole, any pair within hamming
    distance < blocks shares at least one exact block -> LSH-style block
    join, then exact hamming verification via bit_count(xor)."""
    sig = simhash(df, text_col).select(F.col(id_col).alias("id"), "simhash")
    width = 64 // blocks
    blocked = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bv"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", "bb.blk", "bb.bv")
    a, b = blocked.alias("a"), blocked.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, on=["blk", "bv"], how="inner")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            ham.alias("hamming"),
        )
        .dropDuplicates(["a_id", "b_id"])
        .filter(F.col("hamming") <= max_hamming)
    )


# ----------------------------------------------------------- ngram jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    group_col: str | None = None,
    allow_all_pairs: bool = False,
) -> DataFrame:
    """Word n-gram Jaccard similarity pairs. Without LSH this is a
    within-group pairwise compare, quadratic in the group size — so
    ``group_col`` (e.g. a language or length bucket) is REQUIRED; an
    ungrouped run must be opted into with ``allow_all_pairs=True`` (small
    corpora only — at scale use minhash_dup_pairs, which is the LSH path).
    The n-gram set algebra itself is JVM-side."""
    if group_col is None and not allow_all_pairs:
        raise ValueError(
            "ngram_jaccard_pairs without group_col is an all-pairs self-join "
            "(quadratic); pass group_col to bound it, use minhash_dup_pairs "
            "for LSH candidate generation, or opt in with allow_all_pairs=True"
        )
    toks = F.filter(
        F.split(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", " "), r"\s+"),
        lambda t: t != "",
    )
    ngrams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        )
    )
    base = df.select(
        F.col(id_col).alias("id"),
        *( [F.col(group_col).alias("g")] if group_col else [F.lit(1).alias("g")] ),
        ngrams.alias("ng"),
    )
    a, b = base.alias("a"), base.alias("b")
    inter = F.size(F.array_intersect(F.col("a.ng"), F.col("b.ng")))
    union = F.size(F.col("a.ng")) + F.size(F.col("b.ng")) - inter
    return (
        a.join(b, on=["g"], how="inner")
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"), "jaccard")
    )


def minhash_anti_join(
    new: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 128,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """CROSS-CORPUS dedup — the crawl-ingest gate: keep only the NEW
    documents with no near-duplicate (shingle Jaccard >= threshold) in
    an EXISTING corpus. Same LSH shape as minhash_dup_pairs, but the
    band join is strictly new-vs-corpus: in steady state |corpus| >>
    |new|, and never forming corpus-vs-corpus candidates is what makes
    re-running the gate per crawl batch O(|new| + matching buckets)
    instead of re-deduping the world. The corpus side needs only its
    (banded signature, hashed shingle set) — at 100 TB those sketches
    are the thing to persist as a manifest table and reuse across
    batches (minhash_signatures + append). Returns ``new``'s rows,
    original columns, duplicates removed."""
    def sketch(df):
        return (
            minhash_sketch(df, text_col, num_perm, shingle_k, with_fp=True)
            .select(
                F.col(id_col).alias("id"), "minhash", "hset", "hset_fp"
            )
            .persist()
        )

    sk_new = sketch(new)
    sk_old = sketch(corpus)
    try:
        return _minhash_anti_join_core(
            new,
            sk_new,
            sk_old,
            id_col,
            num_perm,
            bands,
            threshold,
            # probe each side only when its input is big enough for
            # the probe's fixed job cost to matter (zero-job gate)
            collapse_new=None if _collapse_probe_worthwhile(new) else False,
            collapse_old=(
                None if _collapse_probe_worthwhile(corpus) else False
            ),
        )
    finally:
        sk_new.unpersist()
        sk_old.unpersist()


def minhash_anti_join_sketched(
    new: DataFrame,
    corpus_sketch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 128,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.8,
    corpus_id_col: str = "id",
    new_sketch: DataFrame | None = None,
    collapse: bool | None = None,
) -> DataFrame:
    """The INCREMENTAL crawl-ingest gate: :func:`minhash_anti_join`
    against a PRE-SKETCHED corpus — the 100 TB steady state, where the
    existing corpus is never re-read, let alone re-sketched, per crawl
    batch. ``corpus_sketch`` is the (id, minhash, hset) relation
    :func:`minhash_sketch` produces (typically a manifest/parquet
    table: the band scan column-prunes to (id, minhash) and only the
    candidate fetch touches hset). Per batch only the NEW documents
    are sketched; gate cost is O(|new| + matching buckets). Keep the
    corpus current by appending the SURVIVORS' sketches after each
    gate — :func:`minhash_sketch` on the returned frame, or reuse the
    new-side sketch. ``corpus_id_col`` names the sketch's UNIQUE
    document id column (picking one positionally would silently fan
    out the candidate fetch join on a non-unique column); ``num_perm``
    must match the persisted sketch's signature width (validated
    against one corpus row; a mismatched sketch would silently band
    garbage). ``new_sketch`` (a precomputed (id, minhash, hset) frame
    for the new side) skips the gate's own sketch pass — the streaming
    committer sketches each batch exactly once and threads it
    through. ``collapse`` forwards to the exact-duplicate class
    collapse (guide §2.5; see :func:`_minhash_anti_join_core`) on each
    side that carries an ``hset_fp`` column: None (default) probes
    per side, True/False forces — a corpus kept self-deduped by this
    very gate never needs it, so a persisted fp-less sketch table
    skips the probe entirely."""
    for c in (corpus_id_col, "minhash", "hset"):
        if c not in corpus_sketch.columns:
            raise ValueError(
                f"corpus sketch is missing column {c!r} (have "
                f"{corpus_sketch.columns}); produce it with "
                "minhash_sketch(df).select(<id>, 'minhash', 'hset') "
                "and/or pass corpus_id_col"
            )
    # width validation rides IN the band scan itself (zero extra Spark
    # jobs — the old head(1) probe cost a corpus/manifest scan per
    # micro-batch in the streaming committer AND only checked one row,
    # so a mixed-width mis-appended sketch table could still pass):
    # every corpus row's signature width is asserted as its minhash is
    # read; a mismatch fails the gate loudly mid-scan.
    corpus_sketch = corpus_sketch.withColumn(
        "minhash",
        F.when(F.size("minhash") == num_perm, F.col("minhash")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "corpus sketch minhash signature width "
                    ),
                    F.size("minhash").cast("string"),
                    F.lit(
                        f" != num_perm={num_perm}; re-sketch the corpus "
                        "or pass the matching num_perm"
                    ),
                )
            )
        ),
    )
    caller_owns_sketch = new_sketch is not None
    sk_new = (
        new_sketch
        if caller_owns_sketch
        else minhash_sketch(new, text_col, num_perm, shingle_k, with_fp=True)
        .select(F.col(id_col).alias("id"), "minhash", "hset", "hset_fp")
        .persist()
    )
    sk_old = corpus_sketch.select(
        F.col(corpus_id_col).alias("id"),
        "minhash",
        "hset",
        *(
            ["hset_fp"]
            if "hset_fp" in corpus_sketch.columns
            else []
        ),
    )
    try:
        return _minhash_anti_join_core(
            new,
            sk_new,
            sk_old,
            id_col,
            num_perm,
            bands,
            threshold,
            collapse_new=collapse,
            collapse_old=collapse,
        )
    finally:
        if not caller_owns_sketch:
            sk_new.unpersist()


def _minhash_anti_join_core(
    new: DataFrame,
    sk_new: DataFrame,
    sk_old: DataFrame,
    id_col: str,
    num_perm: int,
    bands: int,
    threshold: float,
    collapse_new: bool | None = None,
    collapse_old: bool | None = None,
) -> DataFrame:
    # exact-duplicate collapse per side (guide §2.5 skew handling; see
    # minhash_dup_pairs): clone clusters — e.g. a crawl batch carrying
    # many copies of one page against a corpus holding a cluster of the
    # same page — multiply band-bucket candidates by |new cluster| x
    # |corpus cluster|. Each side that carries an ``hset_fp`` column
    # can be collapsed to one representative per distinct shingle set:
    # equal hsets imply equal band hashes, estimates and jaccards, and
    # the gate only asks WHETHER a new doc has a match, so new-side
    # membership expands the verdict back while the corpus side needs
    # no expansion at all. Results are identical by construction.
    # None = probe that side with one narrow aggregate (only when the
    # fingerprint column exists).
    def _resolve(flag, sk):
        if "hset_fp" not in sk.columns:
            return False
        if flag is None:
            return _exact_dup_count(sk) >= _COLLAPSE_MIN_DUPS
        return bool(flag)

    collapse_new = _resolve(collapse_new, sk_new)
    collapse_old = _resolve(collapse_old, sk_old)

    member_new = None
    if collapse_new:
        member_new = _dup_collapse_members(sk_new).localCheckpoint(
            eager=True
        )

    def banded(sk, side, member):
        rows = _banded_rows(sk.select("id", "minhash"), num_perm, bands)
        if member is not None:
            rows = (
                rows.join(member.select("id", "rep"), "id")
                .select(F.col("rep").alias("id"), "band", "bh")
                .dropDuplicates(["id", "band", "bh"])
            )
        return rows.select(
            F.col("id").alias(f"{side}_id"), "band", "bh"
        )

    member_old = None
    if collapse_old:
        member_old = _dup_collapse_members(sk_old)

    cand = (
        banded(sk_new, "new", member_new)
        .join(banded(sk_old, "old", member_old), ["band", "bh"])
        .select("new_id", "old_id")
        .dropDuplicates(["new_id", "old_id"])
    )
    # ONE fetch join per side (signature AND gram set together),
    # UNLIKE minhash_dup_pairs' two-phase fetch: the self-join's
    # banding admits a measured candidate flood (216k candidates for
    # 256 real pairs), where shipping hsets to est-failures would
    # dominate — but the strictly new-vs-corpus band join stays sparse
    # (measured 351 candidates -> 120 est-survivors at sf0.1, and
    # P ≈ 1-(1-j^r)^b ~ 1e-3 for j=0.3 random pairs), so the extra
    # hset bytes per candidate cost less than two more shuffles per
    # crawl batch. The estimate stays as a column-level prefilter:
    # rows failing it skip the O(|hset|) exact intersection.
    pairs = cand.join(
        sk_new.select(
            F.col("id").alias("new_id"),
            F.col("minhash").alias("a_mh"),
            F.col("hset").alias("a_sh"),
        ),
        "new_id",
    ).join(
        sk_old.select(
            F.col("id").alias("old_id"),
            F.col("minhash").alias("b_mh"),
            F.col("hset").alias("b_sh"),
        ),
        "old_id",
    )
    est = F.size(
        F.filter(
            F.zip_with(F.col("a_mh"), F.col("b_mh"), lambda x, y: x == y),
            lambda v: v,
        )
    ) / F.size(F.col("a_mh"))
    inter = F.size(F.array_intersect(F.col("a_sh"), F.col("b_sh")))
    union = F.size(F.col("a_sh")) + F.size(F.col("b_sh")) - inter
    dup_ids = (
        pairs.filter(est >= threshold - 0.25)
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("new_id"))
        .distinct()
    )
    if collapse_new:
        # expand the duplicate verdict from representatives to every
        # member of their class (equal hsets => identical verdict)
        dup_ids = (
            member_new.join(
                dup_ids,
                member_new["rep"] == dup_ids["new_id"],
                "left_semi",
            )
            .select(F.col("id").alias("new_id"))
        )
    # callers that consume the gated frame MORE THAN ONCE (the
    # streaming committers: kept rows land in two commits; the
    # incremental entry appends survivors AND unions them) re-run
    # only this cheap anti-join against the materialized id set
    # instead of the whole LSH pipeline per consumer
    dup_ids = dup_ids.localCheckpoint(eager=True)
    return new.join(
        dup_ids, new[id_col] == dup_ids["new_id"], "left_anti"
    )
