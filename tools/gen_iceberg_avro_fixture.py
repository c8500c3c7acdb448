"""Generate the vendored REAL-Avro Iceberg fixtures in
tests/fixtures/iceberg_avro/ using the Apache Avro JAVA library bundled
with the Spark distribution — an independent, canonical encoder, so the
bytes exercise sources/avro_lite.py against genuine Avro encoding
(r12 verdict task: the manifest replay had only run against a JSON
stand-in). Schemas follow the public Iceberg v2 table spec
(https://iceberg.apache.org/spec/#manifests) — trimmed to the fields
the replay reads plus enough optional/union/nested structure to be
representative. File paths inside the manifests are RELATIVE so the
fixtures are location-independent (iceberg._local_path joins relative
paths to the table dir).

Run from the repo root: python tools/gen_iceberg_avro_fixture.py
Idempotent; outputs are committed, so this only needs re-running when
the fixture content changes.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, ".")

OUT = os.path.join("tests", "fixtures", "iceberg_avro")

FIELD_SUMMARY = {
    "type": "record",
    "name": "field_summary",
    "fields": [
        {"name": "contains_null", "type": "boolean"},
        {"name": "contains_nan", "type": ["null", "boolean"], "default": None},
        {"name": "lower_bound", "type": ["null", "bytes"], "default": None},
        {"name": "upper_bound", "type": ["null", "bytes"], "default": None},
    ],
}

MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "min_sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
        {"name": "added_files_count", "type": "int"},
        {"name": "existing_files_count", "type": "int"},
        {"name": "deleted_files_count", "type": "int"},
        {"name": "added_rows_count", "type": "long"},
        {"name": "existing_rows_count", "type": "long"},
        {"name": "deleted_rows_count", "type": "long"},
        {
            "name": "partitions",
            "type": ["null", {"type": "array", "items": FIELD_SUMMARY}],
            "default": None,
        },
        {"name": "key_metadata", "type": ["null", "bytes"], "default": None},
    ],
}

DATA_FILE = {
    "type": "record",
    "name": "r2",
    "fields": [
        {"name": "content", "type": "int"},
        {"name": "file_path", "type": "string"},
        {"name": "file_format", "type": "string"},
        {
            # unpartitioned table: empty partition struct, per spec
            "name": "partition",
            "type": {"type": "record", "name": "r102", "fields": []},
        },
        {"name": "record_count", "type": "long"},
        {"name": "file_size_in_bytes", "type": "long"},
        {
            "name": "column_sizes",
            "type": [
                "null",
                {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "k117_v118",
                        "fields": [
                            {"name": "key", "type": "int"},
                            {"name": "value", "type": "long"},
                        ],
                    },
                },
            ],
            "default": None,
        },
        {"name": "key_metadata", "type": ["null", "bytes"], "default": None},
        {
            # equality-delete files name their equality FIELD IDS here
            # (spec: data_file.equality_ids; null for data files and
            # position deletes)
            "name": "equality_ids",
            "type": ["null", {"type": "array", "items": "int"}],
            "default": None,
        },
        {
            "name": "sort_order_id",
            "type": ["null", "int"],
            "default": None,
        },
    ],
}

MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None},
        {"name": "sequence_number", "type": ["null", "long"], "default": None},
        {
            "name": "file_sequence_number",
            "type": ["null", "long"],
            "default": None,
        },
        {"name": "data_file", "type": DATA_FILE},
    ],
}


def main() -> None:
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[2]").appName(
        "gen-iceberg-avro-fixture"
    ).getOrCreate()
    jvm = spark._jvm
    os.makedirs(OUT, exist_ok=True)

    def write_avro(path: str, schema_json: dict, rows: list[dict], codec=None):
        """Write rows (Avro-JSON datum encoding: union values spelled
        {"branch": v}) through the Java GenericDatumWriter."""
        parser = jvm.org.apache.avro.Schema.Parser()
        schema = parser.parse(json.dumps(schema_json))
        writer = jvm.org.apache.avro.generic.GenericDatumWriter(schema)
        reader = jvm.org.apache.avro.generic.GenericDatumReader(schema)
        dfw = jvm.org.apache.avro.file.DataFileWriter(writer)
        if codec == "deflate":
            dfw.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
        elif codec == "snappy":
            dfw.setCodec(jvm.org.apache.avro.file.CodecFactory.snappyCodec())
        elif codec == "zstd":
            dfw.setCodec(
                jvm.org.apache.avro.file.CodecFactory.zstandardCodec(3)
            )
        elif codec == "bzip2":
            dfw.setCodec(jvm.org.apache.avro.file.CodecFactory.bzip2Codec())
        elif codec == "xz":
            dfw.setCodec(jvm.org.apache.avro.file.CodecFactory.xzCodec(6))
        dfw.create(schema, jvm.java.io.File(os.path.join(OUT, path)))
        for row in rows:
            dec = jvm.org.apache.avro.io.DecoderFactory.get().jsonDecoder(
                schema, json.dumps(row)
            )
            dfw.append(reader.read(None, dec))
        dfw.close()

    def entry(path: str, status: int = 1, rows: int = 0, content: int = 0,
              fmt: str = "PARQUET", seq: int = 1,
              equality_ids: list | None = None) -> dict:
        return {
            "status": status,
            "snapshot_id": {"long": 77},
            "sequence_number": {"long": seq},
            "file_sequence_number": {"long": 1},
            "data_file": {
                "content": content,
                "file_path": path,
                "file_format": fmt,
                "partition": {},
                "record_count": rows,
                "file_size_in_bytes": 4096,
                "column_sizes": {
                    "array": [
                        {"key": 1, "value": 2048},
                        {"key": 2, "value": 2048},
                    ]
                },
                "key_metadata": None,
                "equality_ids": (
                    {"array": equality_ids} if equality_ids else None
                ),
                "sort_order_id": {"int": 0},
            },
        }

    def mlist_rec(mpath: str, content: int = 0) -> dict:
        return {
            "manifest_path": mpath,
            "manifest_length": 4096,
            "partition_spec_id": 0,
            "content": content,
            "sequence_number": 1,
            "min_sequence_number": 1,
            "added_snapshot_id": 77,
            "added_files_count": 2,
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": 40,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
            "partitions": {
                "array": [
                    {
                        "contains_null": False,
                        "contains_nan": {"boolean": False},
                        "lower_bound": {"bytes": "\u0000\u0001"},
                        "upper_bound": {"bytes": "\u00ff\u00fe"},
                    }
                ]
            },
            "key_metadata": None,
        }

    # the good snapshot: manifest list (null codec) -> manifest
    # (DEFLATE codec, exercising decompression) -> two live + one
    # deleted data file, relative paths
    write_avro(
        "m1.avro",
        MANIFEST_SCHEMA,
        [
            entry("data/f1.parquet", status=1, rows=30),
            entry("data/f2.parquet", status=1, rows=10),
            entry("data/gone.parquet", status=2, rows=5),
        ],
        codec="deflate",
    )
    write_avro(
        "manifest_list.avro",
        MANIFEST_LIST_SCHEMA,
        [mlist_rec("metadata/m1.avro")],
    )
    # a DELETE-manifest list (content=1): the import must refuse
    write_avro(
        "manifest_list_deletes.avro",
        MANIFEST_LIST_SCHEMA,
        [mlist_rec("metadata/m1.avro", content=1)],
    )
    # a snappy-coded list (avro_lite DECODES snappy via pyarrow's
    # bundled snappy, CRC32-verified; snappy-java's bytes are the
    # canonical test vector)
    write_avro(
        "manifest_list_snappy.avro",
        MANIFEST_LIST_SCHEMA,
        [mlist_rec("metadata/m1.avro")],
        codec="snappy",
    )
    # the full-snappy chain (the common layout in the wild): a snappy
    # list pointing at a snappy manifest — exercises multi-record
    # snappy blocks with back-references across the repetitive entries
    write_avro(
        "m1_snappy.avro",
        MANIFEST_SCHEMA,
        [
            entry("data/f1.parquet", status=1, rows=30),
            entry("data/f2.parquet", status=1, rows=10),
            entry("data/gone.parquet", status=2, rows=5),
        ],
        codec="snappy",
    )
    write_avro(
        "manifest_list_allsnappy.avro",
        MANIFEST_LIST_SCHEMA,
        [mlist_rec("metadata/m1_snappy.avro")],
        codec="snappy",
    )
    # r14: position-delete fixtures. d1.avro is a DELETE manifest whose
    # entry names a position-delete parquet (data_file.content=1, per
    # the spec's delete-file encoding); the posdeletes list pairs it
    # with the ordinary data manifest. d2.avro carries an EQUALITY
    # delete (content=2) — always a refusal.
    write_avro(
        "d1.avro",
        MANIFEST_SCHEMA,
        [entry("data/del1.parquet", status=1, rows=3, content=1)],
    )
    write_avro(
        "manifest_list_posdeletes.avro",
        MANIFEST_LIST_SCHEMA,
        [
            mlist_rec("metadata/m1.avro"),
            mlist_rec("metadata/d1.avro", content=1),
        ],
    )
    write_avro(
        "d2.avro",
        MANIFEST_SCHEMA,
        [entry("data/del2.parquet", status=1, rows=1, content=2)],
    )
    write_avro(
        "manifest_list_eqdeletes.avro",
        MANIFEST_LIST_SCHEMA,
        [
            mlist_rec("metadata/m1.avro"),
            mlist_rec("metadata/d2.avro", content=1),
        ],
    )
    # r14: equality-delete APPLY fixtures. d3.avro is a DELETE manifest
    # whose entry is an EQUALITY delete (content=2, equality_ids=[1] =
    # field id of column k) at sequence 2; m2.avro adds a data file at
    # sequence 3 (NEWER than the delete — its rows must survive); the
    # eqapply list combines m1 (seq 1 data), m2 (seq 3 data) and d3.
    write_avro(
        "d3.avro",
        MANIFEST_SCHEMA,
        [
            entry(
                "data/del2.parquet", status=1, rows=2, content=2,
                seq=2, equality_ids=[1],
            )
        ],
    )
    write_avro(
        "m2.avro",
        MANIFEST_SCHEMA,
        [entry("data/f3.parquet", status=1, rows=5, seq=3)],
    )
    write_avro(
        "manifest_list_eqapply.avro",
        MANIFEST_LIST_SCHEMA,
        [
            mlist_rec("metadata/m1.avro"),
            mlist_rec("metadata/m2.avro"),
            mlist_rec("metadata/d3.avro", content=1),
        ],
    )
    # ...and BOTH delete kinds in one snapshot (masks union per file)
    write_avro(
        "manifest_list_mixdeletes.avro",
        MANIFEST_LIST_SCHEMA,
        [
            mlist_rec("metadata/m1.avro"),
            mlist_rec("metadata/m2.avro"),
            mlist_rec("metadata/d1.avro", content=1),
            mlist_rec("metadata/d3.avro", content=1),
        ],
    )
    # zstd DECODES too (pyarrow's bundled libzstd, streamed: zstd-jni
    # writes frames without a content size); the zstd-jni bytes are
    # the canonical vector
    write_avro(
        "manifest_list_zstd.avro",
        MANIFEST_LIST_SCHEMA,
        [mlist_rec("metadata/m1.avro")],
        codec="zstd",
    )
    # r14: the remaining Avro 1.12 codecs — bzip2 and xz (Python
    # stdlib decoders); Java-written vectors complete the matrix
    write_avro(
        "manifest_list_bzip2.avro",
        MANIFEST_LIST_SCHEMA,
        [mlist_rec("metadata/m1.avro")],
        codec="bzip2",
    )
    write_avro(
        "manifest_list_xz.avro",
        MANIFEST_LIST_SCHEMA,
        [mlist_rec("metadata/m1.avro")],
        codec="xz",
    )
    spark.stop()
    for f in sorted(os.listdir(OUT)):
        print(f, os.path.getsize(os.path.join(OUT, f)))


if __name__ == "__main__":
    main()
