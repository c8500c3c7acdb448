"""Apache Iceberg table import — public-spec parsing only.

Migration INTO the engine from an Iceberg table directory
(``CREATE TABLE t FROM ICEBERG '<dir>'``): resolve the CURRENT snapshot
per the public Iceberg table spec (https://iceberg.apache.org/spec/),
collect its live parquet data files, and hand them to
``ManifestTable._adopt_external`` for a zero-copy (hard-link) import.

Two layers, split by what they need:

- ``metadata/*.metadata.json`` is PURE JSON — parsed here directly
  (version-hint resolution, current snapshot, schema, partition spec).
- The manifest list and manifest files are Avro, decoded by the
  bundled spec reader (sources/avro_lite.py, tested against the Apache
  Avro JAVA encoder in the Spark distribution) for every Avro 1.12
  codec. A corrupt container or an unknown codec refuses loudly, as
  ``IcebergImportUnsupported``.

Iceberg's identity-partitioned parquet files physically CONTAIN their
partition columns (unlike Delta/Hive directory partitioning), so no
virtual-column fill is needed: imported files are self-contained, and
partition-key pruning falls out of the ordinary per-file footer stats
the manifest backfill records.

Reference behavior parity: the reference engine's external-source
registry (reference: modules/external/... ExternalSource registration)
admits foreign tables by location; this is the Spark-native equivalent
for the Iceberg on-disk format.
"""

from __future__ import annotations

import json
import os
import re
import urllib.parse

from sclera_spark.sources import avro_lite

__all__ = [
    "IcebergImportUnsupported",
    "load_table_metadata",
    "current_snapshot",
    "schema_fields",
    "snapshot_data_files",
    "snapshot_files",
    "position_delete_positions",
    "equality_delete_targets",
    "equality_delete_matches",
]


def position_delete_positions(
    delete_files: list[str], table_dir: str
) -> dict[str, list[int]]:
    """Decode position-delete parquet files (public spec: schema
    ``file_path string, pos long`` [+ optional deleted row struct])
    into ``{realpath(data file): sorted positions}``. Paths inside
    delete files may be spelled absolute-URI or table-relative; both
    normalize through the same containment-checked resolution as the
    manifests, so a hostile delete file cannot name host files outside
    the table. Iceberg never reuses data-file paths (UUID names), so a
    path match is exact — a delete row naming a file absent from the
    live set simply has no effect (its target was already removed)."""
    import pyarrow.parquet as pq

    out: dict[str, list[int]] = {}
    for dpath in delete_files:
        t = pq.read_table(dpath, columns=["file_path", "pos"])
        fps = t.column("file_path").to_pylist()
        poss = t.column("pos").to_pylist()
        for fp, pos in zip(fps, poss):
            if fp is None or pos is None:
                raise IcebergImportUnsupported(
                    f"Iceberg import: position-delete file {dpath!r} "
                    "carries a NULL file_path/pos — corrupt delete file"
                )
            key = os.path.realpath(_local_path(str(fp), table_dir))
            out.setdefault(key, []).append(int(pos))
    return {k: sorted(set(v)) for k, v in out.items()}


def equality_delete_targets(
    delete: dict, fields_by_id: dict[int, str]
) -> tuple[list[str], set[tuple]]:
    """Load ONE equality-delete file into its match set — (column
    names, set of value tuples) — once per delete, so the per-data-file
    matching pass (:func:`equality_delete_matches`) never re-reads the
    delete parquet (it is matched against every eligible data file)."""
    import pyarrow.parquet as pq

    ids = delete["equality_ids"]
    if not ids:
        raise IcebergImportUnsupported(
            "Iceberg import: equality-delete file "
            f"{delete['path']!r} carries no equality_ids — corrupt "
            "manifest entry"
        )
    try:
        cols = [fields_by_id[i] for i in ids]
    except KeyError as exc:
        raise IcebergImportUnsupported(
            f"Iceberg import: equality field id {exc} is not a "
            "top-level column of the current schema (nested equality "
            "deletes are not supported here)"
        ) from exc
    # the spec identifies delete columns by FIELD ID, not name: a
    # column renamed after this delete file was written makes the
    # current-schema name wrong for the file — resolve the file's own
    # parquet field_id metadata first, falling back to the
    # current-schema names only for files that carry no field ids
    file_cols = _file_columns_for_ids(delete["path"], ids, cols)
    dt = pq.read_table(delete["path"], columns=file_cols)
    # the spec allows NULL in delete rows (matches NULL); tuples of
    # python values compare exactly for the primitive types involved
    return cols, set(zip(*(dt.column(c).to_pylist() for c in file_cols)))


def _file_columns_for_ids(
    path: str, ids: list[int], fallback_names: list[str]
) -> list[str]:
    """Resolve ``ids`` to THIS parquet file's top-level column names
    via the ``PARQUET:field_id`` schema metadata Iceberg writers stamp
    (spec: columns are identified by field id); ids the file does not
    carry fall back to ``fallback_names`` positionally (pre-field-id
    writers), where a genuinely-missing column still fails loudly at
    read time rather than matching the wrong data."""
    import pyarrow.parquet as pq

    by_id: dict[int, str] = {}
    for f in pq.read_schema(path):
        fid = (f.metadata or {}).get(b"PARQUET:field_id")
        if fid is not None:
            try:
                by_id[int(fid)] = f.name
            except ValueError:
                pass
    return [by_id.get(i, fb) for i, fb in zip(ids, fallback_names)]


def equality_delete_matches(
    data_path: str,
    cols: list[str],
    targets: set[tuple],
    ids: list[int] | None = None,
) -> list[int]:
    """Row POSITIONS of ``data_path`` whose ``cols`` tuple is in
    ``targets`` (one pre-loaded equality-delete match set) — the
    positions ride :func:`deletion_vectors.purge_parquet`, the same
    bounded-memory rewrite the position-delete path uses. ``ids``
    (the delete's equality field ids) resolves the DATA file's own
    column names by field id, so files written before a column rename
    still match; ``cols`` is the current-schema fallback."""
    import pyarrow.parquet as pq

    if not targets:
        return []
    file_cols = (
        _file_columns_for_ids(data_path, ids, cols) if ids else cols
    )
    st = pq.read_table(data_path, columns=file_cols)
    rows = zip(*(st.column(c).to_pylist() for c in file_cols))
    return [i for i, r in enumerate(rows) if r in targets]


class IcebergImportUnsupported(ValueError):
    """An Iceberg feature (or missing codec) that makes a truthful
    import impossible here — always raised with the exact reason."""


def _metadata_file(table_dir: str) -> str:
    """The CURRENT metadata file of ``table_dir``: honor
    ``version-hint.text`` when present (HadoopCatalog layout), else the
    highest-versioned ``v<N>.metadata.json`` / ``<N>-<uuid>.metadata.json``."""
    meta_dir = os.path.join(table_dir, "metadata")
    if not os.path.isdir(meta_dir):
        raise FileNotFoundError(
            f"{table_dir!r} has no metadata/ directory: not an Iceberg table"
        )
    hint = os.path.join(meta_dir, "version-hint.text")
    if os.path.isfile(hint):
        with open(hint) as fh:
            v = fh.read().strip()
        for cand in (f"v{v}.metadata.json", f"{v}.metadata.json"):
            p = os.path.join(meta_dir, cand)
            if os.path.isfile(p):
                return p
    best: tuple[int, str] | None = None
    for f in os.listdir(meta_dir):
        m = re.match(r"^(?:v)?(\d+)(?:-[0-9a-f-]+)?\.metadata\.json$", f)
        if m:
            n = int(m.group(1))
            if best is None or n > best[0]:
                best = (n, f)
    if best is None:
        raise FileNotFoundError(
            f"no *.metadata.json under {meta_dir!r}: not an Iceberg table"
        )
    return os.path.join(meta_dir, best[1])


def load_table_metadata(table_dir: str) -> dict:
    """Parse the current ``metadata.json`` (pure JSON, no Avro)."""
    path = _metadata_file(table_dir)
    with open(path) as fh:
        doc = json.load(fh)
    fv = int(doc.get("format-version", 1))
    if fv not in (1, 2):
        raise IcebergImportUnsupported(
            f"Iceberg format-version {fv} is newer than the v1/v2 spec "
            "this importer implements; refusing rather than guessing"
        )
    doc["_metadata_path"] = path
    return doc


def current_snapshot(doc: dict) -> dict | None:
    """The metadata's current snapshot record, or None for a table that
    never committed data."""
    sid = doc.get("current-snapshot-id")
    if sid is None or sid == -1:
        return None
    for s in doc.get("snapshots") or []:
        if s.get("snapshot-id") == sid:
            return s
    raise ValueError(
        f"Iceberg metadata names current-snapshot-id {sid} but carries "
        "no matching snapshot entry"
    )


_TYPE_MAP = {
    "boolean": "boolean",
    "int": "integer",
    "long": "long",
    "float": "float",
    "double": "double",
    "date": "date",
    "string": "string",
    "uuid": "string",
    "binary": "binary",
    "timestamp": "timestamp",
    "timestamptz": "timestamp",
}


def schema_fields(doc: dict) -> list[dict]:
    """Top-level fields of the CURRENT schema as
    ``[{"id", "name", "type"}]`` with Spark type names (decimal/fixed
    pass through; nested struct/list/map types are kept as their JSON
    form — the data files carry them, we only need names here)."""
    if "schemas" in doc:
        cur = doc.get("current-schema-id", 0)
        schema = next(
            (s for s in doc["schemas"] if s.get("schema-id") == cur),
            None,
        )
        if schema is None:
            raise ValueError(
                f"current-schema-id {cur} has no entry in 'schemas'"
            )
    else:
        schema = doc.get("schema")
        if schema is None:
            raise ValueError("Iceberg metadata carries no schema")
    out = []
    for f in schema.get("fields", []):
        t = f["type"]
        if isinstance(t, str):
            m = re.match(r"^decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$", t)
            if m:
                t = f"decimal({m.group(1)},{m.group(2)})"
            elif t.startswith("fixed"):
                t = "binary"
            else:
                t = _TYPE_MAP.get(t, t)
        out.append({"id": f["id"], "name": f["name"], "type": t})
    return out


def _local_path(uri: str, table_dir: str) -> str:
    """An Iceberg file URI → a local path proven to live under the
    table directory. Iceberg writes ABSOLUTE URIs (file:///... or
    object-store schemes); only file/local ones can be imported here,
    and containment is enforced the same way as the Delta importer —
    the untrusted metadata must not name arbitrary host files."""
    parsed = urllib.parse.urlparse(uri)
    if parsed.scheme in ("", "file"):
        p = urllib.parse.unquote(parsed.path if parsed.scheme else uri)
    else:
        raise IcebergImportUnsupported(
            f"Iceberg import: {uri!r} lives on {parsed.scheme}:// "
            "object storage; only local table directories can be "
            "imported here"
        )
    if not os.path.isabs(p):
        p = os.path.join(table_dir, p)
    resolved = os.path.realpath(p)
    root = os.path.realpath(table_dir)
    if os.path.commonpath([resolved, root]) != root:
        raise ValueError(
            f"Iceberg import: path {uri!r} escapes the table "
            "directory; refusing to link a file outside it"
        )
    return p


def snapshot_data_files(doc: dict, table_dir: str) -> list[str]:
    """The CURRENT snapshot's live parquet data files (local paths),
    by replaying manifest-list → manifests per the public spec.
    Refuses delete manifests / delete files (position or equality):
    importing their base files without applying the deletes would
    resurrect deleted rows. (:func:`snapshot_files` with
    ``collect_deletes=True`` is the apply path — r14.)"""
    files, _, _ = snapshot_files(doc, table_dir, collect_deletes=False)
    return files


def snapshot_files(
    doc: dict, table_dir: str, collect_deletes: bool = False
) -> tuple[list[str], list[dict], dict[str, dict]]:
    """The CURRENT snapshot's live parquet data files plus (when
    ``collect_deletes``) its delete files, replaying
    manifest-list → manifests per the public spec
    (https://iceberg.apache.org/spec/#delete-formats).

    With ``collect_deletes=False`` any delete manifest is a loud
    refusal (importing base files without applying deletes would
    resurrect deleted rows). With ``True``, position-delete files
    (``data_file.content == 1``, parquet) AND equality-delete files
    (``content == 2``, r14) are returned for the caller to materialize.
    Returns ``(data_files, deletes, data_info)``: data files as local
    paths; ``deletes`` as dicts with ``path`` (local), ``content``,
    ``seq`` (the delete's data sequence number, manifest-inherited when
    the entry leaves it null), ``equality_ids`` and ``partition``;
    ``data_info`` maps each data file's realpath to its ``seq`` and
    ``partition`` (the spec's application rules need both: an equality
    delete applies only to data files with a STRICTLY OLDER sequence
    number, scoped to its partition)."""
    snap = current_snapshot(doc)
    if snap is None:
        raise ValueError(
            "Iceberg table has no current snapshot (no data committed); "
            "nothing to import"
        )

    def read_avro(path: str):
        with open(path, "rb") as fh:
            try:
                yield from avro_lite.reader(fh)
            except ValueError as exc:
                # avro_lite's unknown-codec (or corrupt-container)
                # refusal, surfaced on the import's own error type
                raise IcebergImportUnsupported(
                    f"Iceberg import: cannot decode {path!r}: {exc}"
                ) from exc

    data_manifests: list[tuple[str, int | None]] = []
    delete_manifests: list[tuple[str, int | None]] = []
    if "manifest-list" in snap:
        for rec in read_avro(_local_path(snap["manifest-list"], table_dir)):
            mseq = rec.get("sequence_number")
            if rec.get("content", 0) == 1:
                if not collect_deletes:
                    raise IcebergImportUnsupported(
                        "Iceberg import: the current snapshot carries a "
                        "DELETE manifest (position/equality deletes); "
                        "importing the data files without applying them "
                        "would resurrect deleted rows. Re-run with "
                        "MATERIALIZE DELETION VECTORS to apply the "
                        "deletes at import time, or rewrite the table "
                        "(rewrite_data_files / expire) first."
                    )
                delete_manifests.append((rec["manifest_path"], mseq))
            else:
                data_manifests.append((rec["manifest_path"], mseq))
    else:
        # v1 layout: snapshot embeds the manifest paths directly
        # (v1 has no delete files by definition)
        data_manifests = [(m, None) for m in (snap.get("manifests") or [])]
        if not data_manifests:
            raise ValueError(
                "Iceberg snapshot names neither manifest-list nor "
                "manifests"
            )
    files: list[str] = []
    data_info: dict[str, dict] = {}
    for mpath, mseq in data_manifests:
        for entry in read_avro(_local_path(mpath, table_dir)):
            if entry.get("status") == 2:  # DELETED
                continue
            df = entry["data_file"]
            if df.get("content", 0) != 0:
                raise IcebergImportUnsupported(
                    "Iceberg import: delete file "
                    f"{df.get('file_path')!r} in a data manifest; "
                    "cannot import without applying row-level deletes"
                )
            fmt = str(df.get("file_format", "")).upper()
            if fmt != "PARQUET":
                raise IcebergImportUnsupported(
                    f"Iceberg import: data file format {fmt!r} — only "
                    "PARQUET files can join a manifest table"
                )
            p = _local_path(df["file_path"], table_dir)
            files.append(p)
            # sequence inheritance (spec: "Sequence Number Inheritance")
            seq = entry.get("sequence_number")
            data_info[os.path.realpath(p)] = {
                "seq": mseq if seq is None else seq,
                "partition": df.get("partition") or {},
            }
    deletes: list[dict] = []
    for mpath, mseq in delete_manifests:
        for entry in read_avro(_local_path(mpath, table_dir)):
            if entry.get("status") == 2:  # DELETED
                continue
            df = entry["data_file"]
            content = df.get("content", 0)
            if content not in (1, 2):
                raise IcebergImportUnsupported(
                    "Iceberg import: DELETE manifest lists "
                    f"{df.get('file_path')!r} with content={content} "
                    "(not a delete file) — corrupt or unsupported layout"
                )
            fmt = str(df.get("file_format", "")).upper()
            if fmt != "PARQUET":
                raise IcebergImportUnsupported(
                    "Iceberg import: delete file format "
                    f"{fmt!r} — only PARQUET delete files are readable "
                    "here"
                )
            seq = entry.get("sequence_number")
            deletes.append(
                {
                    "path": _local_path(df["file_path"], table_dir),
                    "content": content,
                    "seq": mseq if seq is None else seq,
                    "equality_ids": df.get("equality_ids") or [],
                    "partition": df.get("partition") or {},
                }
            )
    if not files:
        raise ValueError(
            "Iceberg snapshot resolves to zero live data files"
        )
    return files, deletes, data_info
