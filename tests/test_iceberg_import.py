"""CREATE TABLE ... FROM ICEBERG (sources/iceberg.py): the JSON
metadata layer is fully testable here; the Avro manifest layer reads
through the bundled spec reader (sources/avro_lite.py). The vendored
fixtures under
tests/fixtures/iceberg_avro/ are GENUINE Avro bytes written by the
Apache Avro JAVA library (tools/gen_iceberg_avro_fixture.py), so the
full import path executes here against real encoding with no
third-party codec."""

from __future__ import annotations

import json
import os

import pytest

from sclera_spark.sources import iceberg as ice
from sclera_spark.sources.iceberg import IcebergImportUnsupported

try:
    import fastavro  # noqa: F401

    HAVE_FASTAVRO = True
except ImportError:
    # fastavro is only an independent ENCODER for
    # test_full_iceberg_import_end_to_end; the import itself always
    # decodes through avro_lite
    HAVE_FASTAVRO = False


def _write_metadata(
    tmp_path,
    *,
    version=2,
    snapshot_id=77,
    fields=None,
    manifest_list="snap-77.avro",
    vname="v3.metadata.json",
    hint=None,
):
    t = tmp_path / "ice"
    (t / "metadata").mkdir(parents=True, exist_ok=True)
    doc = {
        "format-version": version,
        "location": str(t),
        "current-snapshot-id": snapshot_id,
        "snapshots": [
            {
                "snapshot-id": snapshot_id,
                "manifest-list": str(t / "metadata" / manifest_list),
            }
        ],
        "schemas": [
            {
                "schema-id": 0,
                "fields": fields
                or [
                    {"id": 1, "name": "k", "type": "long"},
                    {"id": 2, "name": "v", "type": "string"},
                ],
            }
        ],
        "current-schema-id": 0,
    }
    with open(t / "metadata" / vname, "w") as fh:
        json.dump(doc, fh)
    if hint is not None:
        with open(t / "metadata" / "version-hint.text", "w") as fh:
            fh.write(hint)
    return str(t)


def test_metadata_resolution_prefers_hint_then_highest(tmp_path):
    t = _write_metadata(tmp_path, vname="v3.metadata.json")
    # a HIGHER version exists; without a hint it wins
    doc_hi = json.load(open(os.path.join(t, "metadata", "v3.metadata.json")))
    doc_hi["current-snapshot-id"] = 99
    doc_hi["snapshots"][0]["snapshot-id"] = 99
    with open(os.path.join(t, "metadata", "v7.metadata.json"), "w") as fh:
        json.dump(doc_hi, fh)
    assert ice.load_table_metadata(t)["current-snapshot-id"] == 99
    # the hint pins the older one
    with open(os.path.join(t, "metadata", "version-hint.text"), "w") as fh:
        fh.write("3")
    assert ice.load_table_metadata(t)["current-snapshot-id"] == 77


def test_schema_fields_type_mapping(tmp_path):
    t = _write_metadata(
        tmp_path,
        fields=[
            {"id": 1, "name": "a", "type": "int"},
            {"id": 2, "name": "b", "type": "timestamptz"},
            {"id": 3, "name": "c", "type": "decimal(10, 2)"},
            {"id": 4, "name": "d", "type": "uuid"},
        ],
    )
    got = {f["name"]: f["type"] for f in ice.schema_fields(
        ice.load_table_metadata(t)
    )}
    assert got == {
        "a": "integer",
        "b": "timestamp",
        "c": "decimal(10,2)",
        "d": "string",
    }


def test_future_format_version_refused(tmp_path):
    t = _write_metadata(tmp_path, version=3)
    with pytest.raises(IcebergImportUnsupported, match="format-version 3"):
        ice.load_table_metadata(t)


def test_no_snapshot_is_explicit(tmp_path):
    t = _write_metadata(tmp_path, snapshot_id=None)
    assert ice.current_snapshot(ice.load_table_metadata(t)) is None


def test_local_path_containment(tmp_path):
    t = _write_metadata(tmp_path)
    inside = ice._local_path(f"file://{t}/data/x.parquet", t)
    assert inside == f"{t}/data/x.parquet"
    with pytest.raises(ValueError, match="escapes the table"):
        ice._local_path("file:///etc/passwd", t)
    with pytest.raises(ValueError, match="escapes the table"):
        ice._local_path("../../outside.parquet", t)
    with pytest.raises(IcebergImportUnsupported, match="s3"):
        ice._local_path("s3://bucket/key.parquet", t)


# ---- vendored REAL-Avro fixtures (r13): the full import executes
# here with no third-party codec — sources/avro_lite.py decodes bytes
# written by the Apache Avro JAVA encoder (tools/gen_iceberg_avro_fixture.py)

_FIXDIR = os.path.join(os.path.dirname(__file__), "fixtures", "iceberg_avro")


def _stage_fixture_table(tmp_path, spark, manifest_list="manifest_list.avro"):
    """A complete Iceberg table dir around the vendored Avro fixtures:
    metadata.json + manifest list + (deflate-coded) manifest + parquet
    data files at the RELATIVE paths the manifests name."""
    import shutil

    t = tmp_path / "ice"
    (t / "metadata").mkdir(parents=True)
    (t / "data").mkdir()
    shutil.copy(
        os.path.join(_FIXDIR, manifest_list),
        t / "metadata" / "snap-77.avro",
    )
    shutil.copy(os.path.join(_FIXDIR, "m1.avro"), t / "metadata" / "m1.avro")
    shutil.copy(
        os.path.join(_FIXDIR, "m1_snappy.avro"),
        t / "metadata" / "m1_snappy.avro",
    )
    for d in ("d1.avro", "d2.avro", "d3.avro", "m2.avro"):  # r14 deletes
        shutil.copy(os.path.join(_FIXDIR, d), t / "metadata" / d)
    for name, lo, hi in (
        ("f1.parquet", 0, 30),
        ("f2.parquet", 100, 110),
        ("f3.parquet", 200, 205),
    ):
        spark.range(lo, hi).selectExpr(
            "id AS k", "CAST(id AS STRING) AS v"
        ).coalesce(1).write.mode("overwrite").parquet(str(t / "stage"))
        (part,) = [
            f for f in os.listdir(t / "stage") if f.endswith(".parquet")
        ]
        os.rename(t / "stage" / part, t / "data" / name)
    _write_metadata(tmp_path)  # snapshot 77 -> metadata/snap-77.avro
    return str(t)


def test_vendored_real_avro_full_import(spark, tmp_path):
    """metadata.json -> REAL-Avro manifest list -> REAL-Avro deflate
    manifest -> parquet files, end to end, zero-copy; the deleted entry
    (status=2) is skipped."""
    from sclera_spark.sources.manifest import ManifestTable

    t = _stage_fixture_table(tmp_path, spark)
    dest = str(tmp_path / "imported")
    mt = ManifestTable.import_iceberg(t, dest)
    rows = sorted((r.k, r.v) for r in mt.read(spark).collect())
    assert rows == [
        (i, str(i)) for i in list(range(30)) + list(range(100, 110))
    ]
    assert os.stat(os.path.join(dest, "data", "f1.parquet")).st_nlink >= 2


def test_vendored_real_avro_delete_manifest_refuses(spark, tmp_path):
    from sclera_spark.sources.manifest import ManifestTable

    t = _stage_fixture_table(
        tmp_path, spark, manifest_list="manifest_list_deletes.avro"
    )
    with pytest.raises(IcebergImportUnsupported, match="DELETE manifest"):
        ManifestTable.import_iceberg(t, str(tmp_path / "imp"))


def test_unsupported_codec_refuses_by_name(spark, tmp_path):
    """avro_lite refuses an UNKNOWN-codec container LOUDLY, naming the
    codec — never silently skipping the manifest. (The full Avro 1.12
    codec matrix — snappy/zstandard/bzip2/xz — decodes, so the refusal
    vector is a hand-built container naming a codec that does not
    exist.)"""
    from tests.test_avro_lite import _unknown_codec_container

    t = _stage_fixture_table(tmp_path, spark)
    with open(
        os.path.join(t, "metadata", "snap-77.avro"), "wb"
    ) as fh:
        fh.write(_unknown_codec_container())
    with pytest.raises(IcebergImportUnsupported, match="lz4hc"):
        ice.snapshot_data_files(ice.load_table_metadata(t), t)


def test_vendored_real_avro_zstd_bzip2_xz_import(spark, tmp_path):
    """r14: the zstd / bzip2 / xz-coded manifest lists all resolve the
    same snapshot as the null-codec one, end to end."""
    for name in (
        "manifest_list_zstd.avro",
        "manifest_list_bzip2.avro",
        "manifest_list_xz.avro",
    ):
        t = _stage_fixture_table(
            tmp_path / name.replace(".", "_"), spark, manifest_list=name
        )
        files = ice.snapshot_data_files(ice.load_table_metadata(t), t)
        assert sorted(os.path.basename(f) for f in files) == [
            "f1.parquet",
            "f2.parquet",
        ], name


def _write_position_deletes(table_dir: str, rows: list[tuple[str, int]]):
    """A position-delete parquet per the public spec: (file_path
    string, pos long), written where the d1 manifest names it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table(
        {
            "file_path": pa.array([r[0] for r in rows], pa.string()),
            "pos": pa.array([r[1] for r in rows], pa.int64()),
        }
    )
    pq.write_table(t, os.path.join(table_dir, "data", "del1.parquet"))


def test_iceberg_position_delete_import(spark, tmp_path):
    """r13 VERDICT task 5: position deletes materialize at import time
    under the same MATERIALIZE opt-in as Delta DVs — masked rows are
    purged from ONLY the delete-bearing file (the clean file still
    hard-links); without the opt-in the delete manifest refuses
    loudly; delete rows naming dead files are no-ops."""
    from sclera_spark.sources.manifest import ManifestTable

    t = _stage_fixture_table(
        tmp_path, spark, manifest_list="manifest_list_posdeletes.avro"
    )
    _write_position_deletes(
        t,
        [
            ("data/f1.parquet", 0),
            ("data/f1.parquet", 5),
            ("data/f1.parquet", 7),
            ("data/f1.parquet", 5),  # duplicate positions dedupe
            ("data/ghost.parquet", 1),  # dead target: no effect
        ],
    )
    # no opt-in: loud refusal naming the opt-in spelling
    with pytest.raises(
        IcebergImportUnsupported, match="MATERIALIZE DELETION VECTORS"
    ):
        ManifestTable.import_iceberg(t, str(tmp_path / "imp0"))
    dest = str(tmp_path / "imp1")
    mt = ManifestTable.import_iceberg(t, dest, materialize_deletes=True)
    rows = sorted(r.k for r in mt.read(spark).collect())
    # f1 held k=0..29 in row order; positions 0/5/7 purged; f2 intact
    assert rows == [
        k for k in range(30) if k not in (0, 5, 7)
    ] + list(range(100, 110))
    # the clean file still hard-links; the purged one is a rewrite
    links = {
        f: os.stat(os.path.join(dest, "data", f)).st_nlink
        for f in os.listdir(os.path.join(dest, "data"))
        if f.endswith(".parquet")
    }
    assert any(n >= 2 for n in links.values()), links  # f2 linked
    assert any(n == 1 for n in links.values()), links  # f1 rewritten
    # source table untouched
    assert sorted(
        r.k
        for r in spark.read.parquet(
            os.path.join(t, "data", "f1.parquet")
        ).collect()
    ) == list(range(30))


def test_iceberg_equality_delete_without_ids_refuses(spark, tmp_path):
    """An equality-delete manifest entry carrying NO equality_ids
    (corrupt, or written by a tool predating the field) refuses loudly
    even under the opt-in — matching cannot be guessed."""
    import pyarrow as pa
    import pyarrow.parquet as _pq

    from sclera_spark.sources.manifest import ManifestTable

    t = _stage_fixture_table(
        tmp_path, spark, manifest_list="manifest_list_eqdeletes.avro"
    )
    _pq.write_table(
        pa.table({"k": pa.array([1], pa.int64())}),
        os.path.join(t, "data", "del2.parquet"),
    )
    with pytest.raises(IcebergImportUnsupported, match="equality_ids"):
        ManifestTable.import_iceberg(
            t, str(tmp_path / "imp"), materialize_deletes=True
        )


def test_iceberg_equality_delete_import(spark, tmp_path):
    """r14: equality deletes MATERIALIZE under the same opt-in, with
    the spec's application rules — a delete at sequence 2 purges
    matching rows from sequence-1 data files but NOT from the
    sequence-3 file added after it; unmatched values are no-ops; the
    clean files still hard-link."""
    import pyarrow as pa
    import pyarrow.parquet as _pq

    from sclera_spark.sources.manifest import ManifestTable

    t = _stage_fixture_table(
        tmp_path, spark, manifest_list="manifest_list_eqapply.avro"
    )
    # delete rows on k (field id 1): 5 and 105 live in seq-1 files,
    # 202 lives in the seq-3 file (must SURVIVE), 999 matches nothing
    _pq.write_table(
        pa.table({"k": pa.array([5, 105, 202, 999], pa.int64())}),
        os.path.join(t, "data", "del2.parquet"),
    )
    # no opt-in: loud refusal
    with pytest.raises(IcebergImportUnsupported, match="MATERIALIZE"):
        ManifestTable.import_iceberg(t, str(tmp_path / "imp0"))
    dest = str(tmp_path / "imp1")
    mt = ManifestTable.import_iceberg(t, dest, materialize_deletes=True)
    rows = sorted(r.k for r in mt.read(spark).collect())
    want = (
        [k for k in range(30) if k != 5]
        + [k for k in range(100, 110) if k != 105]
        + list(range(200, 205))  # seq-3 file: 202 survives
    )
    assert rows == want
    links = {
        f: os.stat(os.path.join(dest, "data", f)).st_nlink
        for f in os.listdir(os.path.join(dest, "data"))
        if f.endswith(".parquet")
    }
    # f3 (untouched) still hard-links; f1/f2 were rewritten
    assert sum(1 for n in links.values() if n >= 2) >= 1, links
    assert sum(1 for n in links.values() if n == 1) >= 2, links
    # source untouched
    assert (
        spark.read.parquet(os.path.join(t, "data", "f1.parquet")).count()
        == 30
    )


def test_iceberg_mixed_position_and_equality_deletes(spark, tmp_path):
    """Both delete kinds in ONE snapshot: the masks union per file —
    position rows 0/1 of f1 AND equality k=5 all purge; the seq-3 file
    is untouched by the seq-2 equality delete."""
    import pyarrow as pa
    import pyarrow.parquet as _pq

    from sclera_spark.sources.manifest import ManifestTable

    t = _stage_fixture_table(
        tmp_path, spark, manifest_list="manifest_list_mixdeletes.avro"
    )
    _write_position_deletes(
        t, [("data/f1.parquet", 0), ("data/f1.parquet", 1)]
    )
    _pq.write_table(
        pa.table({"k": pa.array([5, 202], pa.int64())}),
        os.path.join(t, "data", "del2.parquet"),
    )
    files, dels, info = ice.snapshot_files(
        ice.load_table_metadata(t), t, collect_deletes=True
    )
    assert sorted(d["content"] for d in dels) == [1, 2]
    dest = str(tmp_path / "impmix")
    mt = ManifestTable.import_iceberg(t, dest, materialize_deletes=True)
    rows = sorted(r.k for r in mt.read(spark).collect())
    want = (
        [k for k in range(30) if k not in (0, 1, 5)]
        + list(range(100, 110))
        + list(range(200, 205))  # seq 3: k=202 survives the equality mask
    )
    assert rows == want


def test_iceberg_position_delete_ddl_surface(spark, tmp_path):
    """The DDL spelling routes the opt-in (same MATERIALIZE DELETION
    VECTORS suffix as FROM DELTA) and the imported table is fully
    queryable."""
    from sclera_spark.engine import ScleraEngine

    engine = ScleraEngine(spark)
    t = _stage_fixture_table(
        tmp_path, spark, manifest_list="manifest_list_posdeletes.avro"
    )
    _write_position_deletes(t, [("data/f1.parquet", 2)])
    with pytest.raises(IcebergImportUnsupported, match="MATERIALIZE"):
        engine.execute(f"CREATE TABLE icedel0 FROM ICEBERG '{t}'")
    assert "icedel0" not in engine.ddl().managed
    engine.execute(
        f"CREATE TABLE icedel FROM ICEBERG '{t}' "
        "MATERIALIZE DELETION VECTORS"
    )
    try:
        n = engine.sql("SELECT count(*) AS n FROM icedel").collect()[0].n
        assert n == 39  # 40 live rows minus one purged position
        assert (
            engine.sql("SELECT count(*) AS n FROM icedel WHERE k = 2")
            .collect()[0]
            .n
            == 0
        )
    finally:
        engine.execute("DROP TABLE icedel")


def test_vendored_real_avro_full_snappy_import(spark, tmp_path):
    """The full-snappy chain — snappy manifest list pointing at a
    snappy manifest (the most common Iceberg encoding in the wild) —
    imports end to end through the pure-Python snappy decoder, byte-
    identical rows to the null/deflate chain."""
    from sclera_spark.sources.manifest import ManifestTable

    t = _stage_fixture_table(
        tmp_path, spark, manifest_list="manifest_list_allsnappy.avro"
    )
    dest = str(tmp_path / "imported_snappy")
    mt = ManifestTable.import_iceberg(t, dest)
    rows = sorted((r.k, r.v) for r in mt.read(spark).collect())
    assert rows == [
        (i, str(i)) for i in list(range(30)) + list(range(100, 110))
    ]


# ---- full import: runs wherever fastavro is installed, as an
# encoder independent of the avro_lite decoder ----

_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}

_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ],
            },
        },
    ],
}


@pytest.mark.skipif(not HAVE_FASTAVRO, reason="fastavro not installed")
def test_full_iceberg_import_end_to_end(spark, tmp_path):
    """With a real Avro codec: a v2 layout (metadata.json → manifest
    list → manifest → parquet files) imports zero-copy and reads
    bit-identical to the parquet files themselves; a delete manifest
    in the snapshot refuses."""
    import fastavro

    from sclera_spark.sources.manifest import ManifestTable

    t = tmp_path / "ice"
    (t / "data").mkdir(parents=True)
    (t / "metadata").mkdir()
    spark.range(0, 100).selectExpr(
        "id AS k", "CAST(id AS STRING) AS v"
    ).coalesce(1).write.mode("overwrite").parquet(str(t / "stage"))
    (part,) = [
        f for f in os.listdir(t / "stage") if f.endswith(".parquet")
    ]
    os.rename(t / "stage" / part, t / "data" / "f1.parquet")
    size = os.path.getsize(t / "data" / "f1.parquet")

    mpath = str(t / "metadata" / "m1.avro")
    with open(mpath, "wb") as fh:
        fastavro.writer(
            fh,
            _MANIFEST_SCHEMA,
            [
                {
                    "status": 1,
                    "snapshot_id": 77,
                    "data_file": {
                        "content": 0,
                        "file_path": f"file://{t}/data/f1.parquet",
                        "file_format": "PARQUET",
                        "record_count": 100,
                        "file_size_in_bytes": size,
                    },
                }
            ],
        )
    with open(t / "metadata" / "snap-77.avro", "wb") as fh:
        fastavro.writer(
            fh,
            _MANIFEST_LIST_SCHEMA,
            [
                {
                    "manifest_path": mpath,
                    "manifest_length": os.path.getsize(mpath),
                    "partition_spec_id": 0,
                    "content": 0,
                    "added_snapshot_id": 77,
                }
            ],
        )
    _write_metadata(tmp_path)  # reuses t; snapshot 77 → snap-77.avro

    dest = str(tmp_path / "imported")
    mt = ManifestTable.import_iceberg(str(t), dest)
    got = sorted(
        (r.k, r.v) for r in mt.read(spark).collect()
    )
    want = sorted(
        (r.k, r.v)
        for r in spark.read.parquet(str(t / "data" / "f1.parquet")).collect()
    )
    assert got == want
    # zero-copy: the imported file is a hard link, not a copy
    assert os.stat(os.path.join(dest, "data", "f1.parquet")).st_nlink >= 2


def test_ddl_surface_routes_and_refuses_loudly(spark, tmp_path):
    """The statement parses, resolves the JSON + Avro layers, and
    surfaces the codec refusal verbatim — and no half-registered table
    is left behind."""
    from sclera_spark.engine import ScleraEngine

    from tests.test_avro_lite import _unknown_codec_container

    engine = ScleraEngine(spark)
    t = _stage_fixture_table(tmp_path, spark)
    with open(
        os.path.join(t, "metadata", "snap-77.avro"), "wb"
    ) as fh:
        fh.write(_unknown_codec_container())
    with pytest.raises(IcebergImportUnsupported, match="lz4hc"):
        engine.execute(f"CREATE TABLE icetab FROM ICEBERG '{t}'")
    assert "icetab" not in engine.ddl().managed


# ---- fake-codec replay coverage (r12) ----
#
# snapshot_data_files' REPLAY LOGIC (manifest-list -> manifests -> data
# files, every refusal branch) is exercised with hand-written records.
# These tests swap in a JSON-lines stand-in for avro_lite.reader:
# fixture files hold one JSON record per line with exactly the record
# shapes the Avro reader yields, so the production replay code runs
# verbatim; only the byte decoding is faked.


def _json_lines_reader(fh):
    for line in fh.read().decode().splitlines():
        if line.strip():
            yield json.loads(line)


@pytest.fixture
def fake_avro(monkeypatch):
    from sclera_spark.sources import avro_lite

    monkeypatch.setattr(avro_lite, "reader", _json_lines_reader)


def _jl(path, records):
    with open(path, "w") as fh:
        for r in records:
            fh.write(json.dumps(r) + "\n")


def _data_file(t, name, df):
    df.coalesce(1).write.mode("overwrite").parquet(str(t / "stage"))
    (part,) = [
        f for f in os.listdir(t / "stage") if f.endswith(".parquet")
    ]
    os.makedirs(t / "data", exist_ok=True)
    os.rename(t / "stage" / part, t / "data" / name)
    return f"file://{t}/data/{name}"


def _entry(path, *, status=1, content=0, fmt="PARQUET"):
    return {
        "status": status,
        "snapshot_id": 77,
        "data_file": {
            "content": content,
            "file_path": path,
            "file_format": fmt,
            "record_count": 1,
            "file_size_in_bytes": 1,
        },
    }


def test_replay_imports_and_skips_deleted_entries(fake_avro, spark, tmp_path):
    from sclera_spark.sources.manifest import ManifestTable

    t = tmp_path / "ice"
    f1 = _data_file(
        t, "f1.parquet",
        spark.range(0, 30).selectExpr("id AS k", "CAST(id AS STRING) AS v"),
    )
    f2 = _data_file(
        t, "f2.parquet",
        spark.range(100, 110).selectExpr("id AS k", "CAST(id AS STRING) AS v"),
    )
    mpath = str(t / "metadata" / "m1.avro")
    os.makedirs(t / "metadata", exist_ok=True)
    _jl(mpath, [_entry(f1), _entry(f2, status=2)])  # f2 DELETED: skipped
    _jl(
        str(t / "metadata" / "snap-77.avro"),
        [{"manifest_path": mpath, "content": 0}],
    )
    _write_metadata(tmp_path)
    mt = ManifestTable.import_iceberg(str(t), str(tmp_path / "imp"))
    rows = sorted((r.k, r.v) for r in mt.read(spark).collect())
    assert rows == [(i, str(i)) for i in range(30)]


def test_replay_refuses_delete_manifest(fake_avro, spark, tmp_path):
    from sclera_spark.sources.manifest import ManifestTable

    t = tmp_path / "ice"
    os.makedirs(t / "metadata", exist_ok=True)
    _jl(
        str(t / "metadata" / "snap-77.avro"),
        [{"manifest_path": str(t / "metadata" / "m1.avro"), "content": 1}],
    )
    _write_metadata(tmp_path)
    with pytest.raises(IcebergImportUnsupported, match="DELETE manifest"):
        ManifestTable.import_iceberg(str(t), str(tmp_path / "imp"))


def test_replay_refuses_delete_and_foreign_format_files(
    fake_avro, spark, tmp_path
):
    from sclera_spark.sources.manifest import ManifestTable

    t = tmp_path / "ice"
    f1 = _data_file(t, "f1.parquet", spark.range(3).selectExpr(
        "id AS k", "CAST(id AS STRING) AS v"))
    os.makedirs(t / "metadata", exist_ok=True)
    mpath = str(t / "metadata" / "m1.avro")
    _jl(
        str(t / "metadata" / "snap-77.avro"),
        [{"manifest_path": mpath, "content": 0}],
    )
    _write_metadata(tmp_path)
    _jl(mpath, [_entry(f1, content=1)])
    with pytest.raises(IcebergImportUnsupported, match="delete file"):
        ManifestTable.import_iceberg(str(t), str(tmp_path / "impA"))
    _jl(mpath, [_entry(f1, fmt="AVRO")])
    with pytest.raises(IcebergImportUnsupported, match="only.*PARQUET"):
        ManifestTable.import_iceberg(str(t), str(tmp_path / "impB"))
    # containment: a manifest path escaping the table dir refuses
    _jl(
        str(t / "metadata" / "snap-77.avro"),
        [{"manifest_path": "/etc/passwd", "content": 0}],
    )
    with pytest.raises(ValueError, match="escapes the table"):
        ManifestTable.import_iceberg(str(t), str(tmp_path / "impC"))


def test_replay_v1_embedded_manifests(fake_avro, spark, tmp_path):
    from sclera_spark.sources.manifest import ManifestTable

    t = tmp_path / "ice"
    f1 = _data_file(t, "f1.parquet", spark.range(5).selectExpr(
        "id AS k", "CAST(id AS STRING) AS v"))
    os.makedirs(t / "metadata", exist_ok=True)
    mpath = str(t / "metadata" / "m1.avro")
    _jl(mpath, [_entry(f1)])
    doc = {
        "format-version": 1,
        "location": str(t),
        "current-snapshot-id": 5,
        "snapshots": [{"snapshot-id": 5, "manifests": [mpath]}],
        "schema": {"fields": [
            {"id": 1, "name": "k", "type": "long"},
            {"id": 2, "name": "v", "type": "string"},
        ]},
    }
    with open(t / "metadata" / "v1.metadata.json", "w") as fh:
        json.dump(doc, fh)
    mt = ManifestTable.import_iceberg(str(t), str(tmp_path / "imp"))
    assert mt.read(spark).count() == 5


def test_import_widens_promoted_types_and_refuses_drift(
    fake_avro, spark, tmp_path
):
    """Iceberg type promotion (int->long, float->double) leaves OLD
    files with narrower physical types; the import records a widened
    table_schema so reads bind the wide type for every file. Non-
    promotion drift (string vs long) refuses loudly."""
    from pyspark.sql.types import DoubleType, LongType

    from sclera_spark.sources.manifest import ManifestTable

    t = tmp_path / "ice"
    f_old = _data_file(t, "old.parquet", spark.range(0, 4).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id AS FLOAT) AS x"))
    f_new = _data_file(t, "new.parquet", spark.range(4, 8).selectExpr(
        "CAST(id AS LONG) AS k", "CAST(id AS DOUBLE) AS x"))
    os.makedirs(t / "metadata", exist_ok=True)
    mpath = str(t / "metadata" / "m1.avro")
    _jl(mpath, [_entry(f_old), _entry(f_new)])
    _jl(
        str(t / "metadata" / "snap-77.avro"),
        [{"manifest_path": mpath, "content": 0}],
    )
    _write_metadata(tmp_path, fields=[
        {"id": 1, "name": "k", "type": "long"},
        {"id": 2, "name": "x", "type": "double"},
    ])
    mt = ManifestTable.import_iceberg(str(t), str(tmp_path / "imp"))
    df = mt.read(spark)
    assert isinstance(df.schema["k"].dataType, LongType)
    assert isinstance(df.schema["x"].dataType, DoubleType)
    rows = sorted((r.k, r.x) for r in df.collect())
    assert rows == [(i, float(i)) for i in range(8)]
    # incompatible drift: footer stores string where schema says long
    f_bad = _data_file(t, "bad.parquet", spark.range(2).selectExpr(
        "CAST(id AS STRING) AS k", "CAST(id AS DOUBLE) AS x"))
    _jl(mpath, [_entry(f_bad)])
    with pytest.raises(IcebergImportUnsupported, match="type drift|drift"):
        ManifestTable.import_iceberg(str(t), str(tmp_path / "imp2"))


def test_equality_delete_resolves_columns_by_field_id(tmp_path):
    """r15 ADVICE pin: the Iceberg spec identifies equality-delete
    columns by FIELD ID, not name — a column renamed after the delete
    file was written must still resolve (old file name read via the
    parquet field_id metadata), and a data file written pre-rename
    must match by id too."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sclera_spark.sources.iceberg import (
        equality_delete_matches,
        equality_delete_targets,
    )

    def field(name, fid):
        return pa.field(
            name, pa.int64(), metadata={b"PARQUET:field_id": str(fid).encode()}
        )

    # delete file written BEFORE the rename: column still called 'k'
    del_path = str(tmp_path / "eqdel.parquet")
    pq.write_table(
        pa.table(
            {"k": pa.array([2, 4], pa.int64())},
            schema=pa.schema([field("k", 1)]),
        ),
        del_path,
    )
    # current schema renamed field 1 to 'key'
    fields_by_id = {1: "key"}
    cols, targets = equality_delete_targets(
        {"path": del_path, "equality_ids": [1]}, fields_by_id
    )
    assert cols == ["key"]
    assert targets == {(2,), (4,)}

    # data file also written pre-rename (column 'k', field id 1)
    data_path = str(tmp_path / "data.parquet")
    pq.write_table(
        pa.table(
            {"k": pa.array([1, 2, 3, 4, 5], pa.int64())},
            schema=pa.schema([field("k", 1)]),
        ),
        data_path,
    )
    pos = equality_delete_matches(data_path, cols, targets, ids=[1])
    assert pos == [1, 3]
    # files with NO field ids fall back to the current-schema name
    plain = str(tmp_path / "plain.parquet")
    pq.write_table(pa.table({"key": pa.array([4, 9], pa.int64())}), plain)
    assert equality_delete_matches(plain, cols, targets, ids=[1]) == [0]
