"""Apache Iceberg table source/sink — pure-Python, no runtime jar.

The north rule's input is "an Iceberg table of multi-turn transcripts";
the container has no iceberg-spark-runtime jar and no pyiceberg, so
this module implements the public Iceberg table-format spec
(https://iceberg.apache.org/spec/) directly on top of the repo's Avro
codec (`sources/avro.py`, itself oracle-validated against the Avro
Java library on Spark's classpath):

  * **Reader**: `IcebergTable(path)` resolves the current (or any
    pinned) snapshot through `metadata/v*.metadata.json` →
    manifest-list Avro → manifest Avro → parquet data files.  The file
    list feeds either `spark.read.parquet` (`read_table`) or the
    driver-planned direct-IO build (`plan_parquet_splits` /
    `build_index_direct`) — at 100 TB the same walk runs against
    object storage via pyarrow.fs, and Iceberg's metadata tree is
    exactly what makes the scan planning O(manifests), not O(listing).
  * **Writer**: `write_table(spark, df, path)` / `commit_append` write
    parquet + manifest + manifest-list and commit a new snapshot by
    atomically advancing `v{N}.metadata.json` + `version-hint.text`
    (rename-last, same manifest-last discipline as the index build,
    reference semantics `src/indexer/segment_updater.rs:511` —
    SURVEY.md maps tantivy's `meta.json` commit to exactly this
    Iceberg snapshot commit).

Scope, stated honestly: format v1/v2 data reads (v2 delete files are
detected and REFUSED with a clear error, not silently ignored);
unpartitioned writes (Iceberg partitioning is a pruning optimization —
the engine's own term-bucket/segment partitioning does that job for
the index itself); no catalog service (filesystem tables with
version-hint, the spec's "File System Tables" appendix).
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
import uuid
import warnings

from . import avro

# ---------------------------------------------------------------------------
# schema conversion (arrow <-> iceberg JSON)
# ---------------------------------------------------------------------------


def _arrow_to_iceberg_type(t) -> str:
    import pyarrow as pa

    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_int32(t) or pa.types.is_int16(t) or pa.types.is_int8(t):
        return "int"
    if pa.types.is_int64(t):
        return "long"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_date32(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamptz" if t.tz else "timestamp"
    raise NotImplementedError(f"no iceberg mapping for arrow type {t}")


def _iceberg_schema_from_arrow(schema) -> dict:
    import pyarrow as pa

    fields = []
    next_id = 1
    for f in schema:
        if pa.types.is_list(f.type) or pa.types.is_large_list(f.type):
            elem = _arrow_to_iceberg_type(f.type.value_type)
            fields.append({"id": next_id, "name": f.name,
                           "required": False,
                           "type": {"type": "list",
                                    "element-id": next_id + 1,
                                    "element": elem,
                                    "element-required": False}})
            next_id += 2
        else:
            fields.append({"id": next_id, "name": f.name,
                           "required": False,
                           "type": _arrow_to_iceberg_type(f.type)})
            next_id += 1
    return {"type": "struct", "schema-id": 0, "fields": fields,
            "_last_column_id": next_id - 1}


def iceberg_to_spark_schema(ice_schema: dict):
    """Iceberg JSON schema → Spark StructType (empty-table reads)."""
    from pyspark.sql import types as T

    prim = {"string": T.StringType(), "int": T.IntegerType(),
            "long": T.LongType(), "float": T.FloatType(),
            "double": T.DoubleType(), "boolean": T.BooleanType(),
            "binary": T.BinaryType(), "date": T.DateType(),
            "timestamp": T.TimestampNTZType(),
            "timestamptz": T.TimestampType()}

    def lookup(t, fname: str):
        # a diagnosable refusal, matching the reader's other
        # NotImplementedError surfaces — not a bare KeyError
        if isinstance(t, str):
            if t in prim:
                return prim[t]
            m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", t)
            if m:
                return T.DecimalType(int(m.group(1)), int(m.group(2)))
            if t == "uuid":
                # parquet stores uuid as fixed(16); Spark reads binary
                return T.BinaryType()
        raise NotImplementedError(
            f"iceberg type {t!r} on field {fname!r} is not supported "
            f"by this reader (primitives {sorted(prim)}, decimal, "
            "uuid, and lists of them only)")

    out = []
    for f in ice_schema["fields"]:
        t = f["type"]
        if isinstance(t, dict) and t.get("type") == "list":
            st = T.ArrayType(lookup(t["element"], f["name"]))
        else:
            st = lookup(t, f["name"])
        out.append(T.StructField(f["name"], st, not f.get("required")))
    return T.StructType(out)


# ---------------------------------------------------------------------------
# manifest avro schemas (spec "Manifests" / "Snapshots"; field ids in
# the "field-id" attributes follow the spec's reserved assignments)
# ---------------------------------------------------------------------------

_DATA_FILE_SCHEMA = {
    "type": "record", "name": "r2", "fields": [
        {"name": "content", "type": "int", "field-id": 134, "default": 0},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {"name": "partition", "field-id": 102,
         "type": {"type": "record", "name": "r102", "fields": []}},
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        # spec field 135: schema field ids an equality-delete file keys
        # on (null for data files and position deletes)
        {"name": "equality_ids", "field-id": 135, "default": None,
         "type": ["null", {"type": "array", "items": "int",
                           "element-id": 136}]},
    ]}

_MANIFEST_ENTRY_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"],
         "field-id": 1, "default": None},
        {"name": "sequence_number", "type": ["null", "long"],
         "field-id": 3, "default": None},
        {"name": "file_sequence_number", "type": ["null", "long"],
         "field-id": 4, "default": None},
        {"name": "data_file", "type": _DATA_FILE_SCHEMA, "field-id": 2},
    ]}

_MANIFEST_FILE_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517, "default": 0},
        {"name": "sequence_number", "type": "long", "field-id": 515,
         "default": 0},
        {"name": "min_sequence_number", "type": "long", "field-id": 516,
         "default": 0},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ]}

# manifest-entry status values (spec)
_STATUS_EXISTING, _STATUS_ADDED, _STATUS_DELETED = 0, 1, 2


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------


def _strip_scheme(p: str) -> str:
    if p.startswith("file://"):
        return p[len("file://"):]
    if p.startswith("file:"):
        return p[len("file:"):]
    return p


class IcebergTable:
    """Filesystem Iceberg table handle (read side + commit helpers)."""

    def __init__(self, path: str):
        self.path = os.path.abspath(_strip_scheme(path))
        meta_file = self._current_metadata_file()
        if meta_file is None:
            raise FileNotFoundError(
                f"no iceberg metadata under {self.path!r} "
                "(expected metadata/v*.metadata.json)")
        self.metadata_file = meta_file
        with open(meta_file) as f:
            self.metadata = json.load(f)

    # -- metadata resolution ------------------------------------------------

    def _meta_dir(self) -> str:
        return os.path.join(self.path, "metadata")

    def _current_metadata_file(self) -> str | None:
        md = self._meta_dir()
        hint = os.path.join(md, "version-hint.text")
        if os.path.exists(hint):
            with open(hint) as f:
                v = f.read().strip()
            for cand in (os.path.join(md, f"v{v}.metadata.json"),
                         os.path.join(md, f"{v}.metadata.json")):
                if os.path.exists(cand):
                    return cand
        return self._latest_metadata_file()

    def _latest_metadata_file(self) -> str | None:
        """Highest-version metadata file on disk — what WRITERS must
        build on (the hint is an advisory reader pointer; a racing or
        crashed committer may have created a newer version the hint
        doesn't reference yet)."""
        cands = sorted(glob.glob(
            os.path.join(self._meta_dir(), "*.metadata.json")))
        if not cands:
            return None

        def ver(p: str):
            base = os.path.basename(p)
            num = base.split(".", 1)[0].lstrip("v").split("-", 1)[0]
            return (int(num) if num.isdigit() else -1, base)

        return max(cands, key=ver)

    def _local(self, p: str) -> str:
        """Resolve a metadata-recorded absolute URI to a local path,
        rebasing when the table directory has been moved/copied since
        the path was recorded (paths in Iceberg metadata are absolute
        at write time)."""
        p = _strip_scheme(p)
        if os.path.exists(p):
            return p
        loc = _strip_scheme(self.metadata.get("location", ""))
        if loc and p.startswith(loc):
            cand = self.path + p[len(loc):]
            if os.path.exists(cand):
                return cand
        # last resort: rebase on the path component after the recorded
        # table root's basename
        for marker in ("/metadata/", "/data/"):
            i = p.rfind(marker)
            if i >= 0:
                cand = self.path + p[i:]
                if os.path.exists(cand):
                    return cand
        raise FileNotFoundError(f"iceberg file {p!r} not found "
                                f"(table at {self.path!r})")

    # -- snapshot / file listing -------------------------------------------

    @property
    def current_snapshot_id(self) -> int | None:
        return self.metadata.get("current-snapshot-id")

    @property
    def snapshots(self) -> list[dict]:
        return self.metadata.get("snapshots", [])

    def schema(self) -> dict:
        schemas = self.metadata.get("schemas")
        if schemas:
            sid = self.metadata.get("current-schema-id", 0)
            for s in schemas:
                if s.get("schema-id") == sid:
                    return s
            return schemas[-1]
        return self.metadata["schema"]  # format v1

    def _snapshot(self, snapshot_id: int | None) -> dict | None:
        sid = snapshot_id if snapshot_id is not None \
            else self.current_snapshot_id
        if sid is None or sid == -1:
            return None
        for s in self.snapshots:
            if s["snapshot-id"] == sid:
                return s
        raise ValueError(f"snapshot {sid} not in table "
                         f"{[s['snapshot-id'] for s in self.snapshots]}")

    def _manifests(self, snapshot_id: int | None) -> list[dict]:
        snap = self._snapshot(snapshot_id)
        if snap is None:
            return []
        if "manifest-list" in snap:
            _, _, manifests = avro.read_container(
                self._local(snap["manifest-list"]))
            return manifests
        # format v1 tables may inline the manifest list
        return [{"manifest_path": p, "content": 0}
                for p in snap.get("manifests", [])]

    def _walk_entries(self, snapshot_id: int | None, content: int):
        """(manifest, live entry) pairs from manifests of the given
        content class (0 = data, 1 = deletes), in spec order."""
        for mf in self._manifests(snapshot_id):
            if mf.get("content", 0) != content:
                continue
            _, _, entries = avro.read_container(
                self._local(mf["manifest_path"]))
            for e in entries:
                if e["status"] != _STATUS_DELETED:
                    yield mf, e

    @staticmethod
    def _entry_seq(mf: dict, e: dict) -> int:
        # null entry sequence numbers inherit the manifest's
        # (spec "Sequence Number Inheritance")
        seq = e.get("sequence_number")
        if seq is None:
            seq = mf.get("sequence_number", 0)
        return int(seq or 0)

    def data_files(self, snapshot_id: int | None = None) -> list[dict]:
        """Live data files of a snapshot: [{path, recorded_path,
        record_count, file_size_in_bytes, sequence_number}, ...],
        deterministic (manifest order, then entry order — the spec's
        own ordering).  v2 delete manifests are listed separately by
        `delete_files` and applied by `read_table` / `sync_index`
        (position deletes); this listing is the pre-delete file set."""
        out: list[dict] = []
        for mf, e in self._walk_entries(snapshot_id, content=0):
            df = e["data_file"]
            if df.get("content", 0) != 0:
                raise NotImplementedError(
                    "delete file inside a data manifest is not supported")
            fmt = str(df.get("file_format", "PARQUET")).upper()
            if fmt != "PARQUET":
                raise NotImplementedError(
                    f"iceberg data file format {fmt!r} (parquet "
                    "only)")
            out.append({
                "path": self._local(df["file_path"]),
                "recorded_path": df["file_path"],
                "record_count": df["record_count"],
                "file_size_in_bytes": df.get("file_size_in_bytes"),
                "sequence_number": self._entry_seq(mf, e),
            })
        return out

    def delete_files(self, snapshot_id: int | None = None) -> list[dict]:
        """Live v2 delete files of a snapshot: [{path, content (1 =
        position deletes, 2 = equality deletes), record_count,
        sequence_number}, ...].  Readers apply position deletes to data
        files whose data sequence number is <= the delete file's (spec
        "Scan Planning"); equality deletes are refused loudly at the
        points that would have to apply them."""
        out: list[dict] = []
        for mf, e in self._walk_entries(snapshot_id, content=1):
            df = e["data_file"]
            content = int(df.get("content", 1))
            fmt = str(df.get("file_format", "PARQUET")).upper()
            if fmt != "PARQUET":
                raise NotImplementedError(
                    f"iceberg delete file format {fmt!r} (parquet only)")
            out.append({
                "path": self._local(df["file_path"]),
                "content": content,
                "record_count": df["record_count"],
                "sequence_number": self._entry_seq(mf, e),
                "equality_ids": df.get("equality_ids"),
            })
        return out

    # -- commit -------------------------------------------------------------

    def _next_version(self) -> int:
        base = os.path.basename(self.metadata_file)
        num = base.split(".", 1)[0].lstrip("v")
        return (int(num) + 1) if num.isdigit() else 1


class CommitConflictError(RuntimeError):
    """Another committer created the same metadata version first."""


def _write_metadata(table_path: str, metadata: dict, version: int) -> str:
    """Atomic metadata commit.  The COMMIT POINT is the exclusive
    creation (hard link, fails-if-exists) of v{N}.metadata.json — the
    filesystem-table CAS: two committers that both read vN-1 race to
    create vN and exactly one wins; the loser gets CommitConflictError
    and must retry from re-read metadata (`commit_append` does).  The
    version-hint write afterward is an advisory READER pointer: a
    crash before it leaves readers on the previous version until the
    next commit advances the hint (stale, never torn — the pinned
    reader semantics), while WRITERS always resolve
    `_latest_metadata_file()` so the committed snapshot is never built
    over or lost.  The hint write is best-effort monotonic: a committer
    replaces the hint only with a higher version than the one it read,
    but the read and the replace are not one atomic step (no lock), so
    two committers racing between them can leave the lower version in
    place.  Readers then lag behind until the next commit's hint write;
    writers never trust the hint."""
    md = os.path.join(table_path, "metadata")
    os.makedirs(md, exist_ok=True)
    meta_path = os.path.join(md, f"v{version}.metadata.json")
    tmp = meta_path + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(metadata, f, indent=1)
    try:
        os.link(tmp, meta_path)                     # CAS: EEXIST = lost race
    except FileExistsError:
        raise CommitConflictError(
            f"concurrent commit already created {meta_path!r}; retry "
            "from re-read metadata") from None
    finally:
        os.unlink(tmp)
    hint = os.path.join(md, "version-hint.text")
    cur = -1
    try:
        with open(hint) as f:
            cur = int(f.read().strip() or -1)
    except (FileNotFoundError, ValueError):
        pass
    if version > cur:
        tmp = hint + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, hint)
    return meta_path


def commit_append(table_path: str, parquet_files: list[str],
                  snapshot_props: dict | None = None) -> int:
    """Commit existing parquet files as a new snapshot (creating the
    table from the first file's schema if absent).  Returns the new
    snapshot id.  Files are referenced in place — move them under
    `<table>/data/` first if you want the table self-contained (what
    `write_table` does).  Concurrent committers are safe: a lost
    metadata-version CAS (`_write_metadata`) retries the whole commit
    from re-read metadata, so no snapshot is silently dropped."""
    for _ in range(16):
        try:
            return _commit_append_once(table_path, parquet_files,
                                       snapshot_props)
        except CommitConflictError:
            continue
    raise CommitConflictError(
        f"commit_append to {table_path!r} lost the metadata CAS 16 "
        "times in a row")


def _commit_append_once(table_path: str, parquet_files: list[str],
                        snapshot_props: dict | None = None) -> int:
    import pyarrow.parquet as pq

    table_path = os.path.abspath(_strip_scheme(table_path))
    if not parquet_files:
        raise ValueError("commit_append needs at least one parquet file")
    parquet_files = sorted(os.path.abspath(p) for p in parquet_files)
    now_ms = int(time.time() * 1000)

    try:
        tbl: IcebergTable | None = IcebergTable(table_path)
    except FileNotFoundError:
        tbl = None
    if tbl is not None:
        latest = tbl._latest_metadata_file()
        if latest and latest != tbl.metadata_file:
            # a committed version the hint doesn't reference yet (racing
            # or crashed writer): commits build on the LATEST metadata —
            # building on the hinted one would drop that snapshot
            tbl.metadata_file = latest
            with open(latest) as f:
                tbl.metadata = json.load(f)

    if tbl is None:
        schema = _iceberg_schema_from_arrow(
            pq.ParquetFile(parquet_files[0]).schema_arrow)
        last_col = schema.pop("_last_column_id")
        metadata = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": table_path,
            "last-sequence-number": 0,
            "last-updated-ms": now_ms,
            "last-column-id": last_col,
            "current-schema-id": 0,
            "schemas": [schema],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "last-partition-id": 999,
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {},
            "current-snapshot-id": -1,
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }
        version = 0
        parent_id = None
    else:
        metadata = tbl.metadata
        version = tbl._next_version()
        parent_id = tbl.current_snapshot_id

    seq = metadata.get("last-sequence-number", 0) + 1
    # snapshot ids must be unique within the table; a counter keyed off
    # the sequence number is deterministic and collision-free here
    snapshot_id = seq
    md_dir = os.path.join(table_path, "metadata")
    os.makedirs(md_dir, exist_ok=True)

    entries = []
    added_rows = 0
    for p in parquet_files:
        pf = pq.ParquetFile(p)
        n = pf.metadata.num_rows
        added_rows += n
        entries.append({
            "status": _STATUS_ADDED,
            "snapshot_id": snapshot_id,
            "sequence_number": None,   # inherited from the manifest
            "file_sequence_number": None,
            "data_file": {
                "content": 0,
                "file_path": p,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": n,
                "file_size_in_bytes": os.path.getsize(p),
            },
        })
    schema_json = json.dumps(
        metadata["schemas"][0] if "schemas" in metadata
        else metadata["schema"])
    manifest_path = os.path.join(
        md_dir, f"manifest-{snapshot_id}-{uuid.uuid4().hex[:8]}.avro")
    mlen = avro.write_container(
        manifest_path, json.dumps(_MANIFEST_ENTRY_SCHEMA), entries,
        extra_meta={"schema": schema_json.encode(),
                    "schema-id": b"0",
                    "partition-spec": b"[]",
                    "partition-spec-id": b"0",
                    "format-version": b"2",
                    "content": b"data"})

    new_manifest = {
        "manifest_path": manifest_path,
        "manifest_length": mlen,
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": added_rows,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    prev_manifests: list[dict] = []
    if tbl is not None and tbl.current_snapshot_id not in (None, -1):
        snap = tbl._snapshot(None)
        if snap and "manifest-list" in snap:
            _, _, prev_manifests = avro.read_container(
                tbl._local(snap["manifest-list"]))
    all_manifests = prev_manifests + [new_manifest]
    mlist_path = os.path.join(
        md_dir, f"snap-{snapshot_id}-{uuid.uuid4().hex[:8]}.avro")
    avro.write_container(
        mlist_path, json.dumps(_MANIFEST_FILE_SCHEMA), all_manifests,
        extra_meta={"format-version": b"2",
                    "snapshot-id": str(snapshot_id).encode(),
                    "sequence-number": str(seq).encode()})

    snapshot = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": mlist_path,
        "schema-id": metadata.get("current-schema-id", 0),
        "summary": dict({"operation": "append",
                         "added-data-files": str(len(entries)),
                         "added-records": str(added_rows)},
                        **(snapshot_props or {})),
    }
    if parent_id not in (None, -1):
        snapshot["parent-snapshot-id"] = parent_id
    metadata["snapshots"] = metadata.get("snapshots", []) + [snapshot]
    metadata["current-snapshot-id"] = snapshot_id
    metadata["last-sequence-number"] = seq
    metadata["last-updated-ms"] = now_ms
    metadata["snapshot-log"] = metadata.get("snapshot-log", []) + [
        {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}]
    _write_metadata(table_path, metadata, version)
    return snapshot_id


def commit_position_deletes(table_path: str,
                            deletes: dict[str, list[int]],
                            snapshot_props: dict | None = None) -> int:
    """Commit v2 POSITION deletes: ``{data_file_path: [row
    positions]}`` (paths as `data_files()` returns them, or as
    recorded) becomes one position-delete parquet (spec columns
    ``file_path``, ``pos``) under a delete manifest (content=1)
    appended to a new snapshot.  Returns the snapshot id.  The same
    CAS/retry discipline as `commit_append`.

    This is the merge-on-read write side a lakehouse engine performs;
    here it exists so delete-carrying tables can be created and the
    read/sync paths tested without an external engine."""
    for _ in range(16):
        try:
            return _commit_position_deletes_once(table_path, deletes,
                                                 snapshot_props)
        except CommitConflictError:
            continue
    raise CommitConflictError(
        f"commit_position_deletes to {table_path!r} lost the metadata "
        "CAS 16 times in a row")


def _writer_state(table_path: str) -> tuple:
    """(tbl, metadata, version, parent_id, seq, snapshot_id, now_ms)
    for a new commit — always built on the LATEST metadata file (the
    hint is a reader pointer; see `_write_metadata`)."""
    tbl = IcebergTable(table_path)
    latest = tbl._latest_metadata_file()
    if latest and latest != tbl.metadata_file:
        tbl.metadata_file = latest
        with open(latest) as f:
            tbl.metadata = json.load(f)
    metadata = tbl.metadata
    seq = metadata.get("last-sequence-number", 0) + 1
    return (tbl, metadata, tbl._next_version(), tbl.current_snapshot_id,
            seq, seq, int(time.time() * 1000))


def _commit_position_deletes_once(table_path: str,
                                  deletes: dict[str, list[int]],
                                  snapshot_props: dict | None = None) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table_path = os.path.abspath(_strip_scheme(table_path))
    if not deletes:
        raise ValueError("commit_position_deletes needs at least one "
                         "(file, positions) entry")
    (tbl, metadata, version, parent_id,
     seq, snapshot_id, now_ms) = _writer_state(table_path)

    # resolve caller paths to the RECORDED form delete rows must carry
    rec_of = {}
    for e in tbl.data_files(None):
        rec_of[e["path"]] = e["recorded_path"]
        rec_of[e["recorded_path"]] = e["recorded_path"]
    rows_fp: list[str] = []
    rows_pos: list[int] = []
    for p, poss in sorted(deletes.items()):
        rp = rec_of.get(p) or rec_of.get(os.path.abspath(_strip_scheme(p)))
        if rp is None:
            raise ValueError(f"{p!r} is not a data file of this table")
        for pos in sorted(set(int(x) for x in poss)):
            rows_fp.append(rp)
            rows_pos.append(pos)

    data_dir = os.path.join(table_path, "data")
    os.makedirs(data_dir, exist_ok=True)
    del_path = os.path.join(
        data_dir, f"delete-{seq:05d}-{uuid.uuid4().hex[:8]}.parquet")
    pq.write_table(
        pa.table({"file_path": pa.array(rows_fp, pa.string()),
                  "pos": pa.array(rows_pos, pa.int64())}),
        del_path)

    entries = [{
        "status": _STATUS_ADDED,
        "snapshot_id": snapshot_id,
        "sequence_number": None,
        "file_sequence_number": None,
        "data_file": {
            "content": 1,                       # position deletes
            "file_path": del_path,
            "file_format": "PARQUET",
            "partition": {},
            "record_count": len(rows_fp),
            "file_size_in_bytes": os.path.getsize(del_path),
        },
    }]
    return _commit_delete_manifest(
        table_path, tbl, metadata, version, parent_id, seq, snapshot_id,
        now_ms, entries,
        summary={"operation": "delete", "added-delete-files": "1",
                 "added-position-deletes": str(len(rows_fp)),
                 **(snapshot_props or {})})


def commit_equality_deletes(table_path: str, equality_cols: list[str],
                            rows: list[dict],
                            snapshot_props: dict | None = None) -> int:
    """Commit v2 EQUALITY deletes: each row of values for
    ``equality_cols`` deletes every matching data row in data files
    whose data sequence number is STRICTLY less than this snapshot's
    (spec rule; null values match null, the null-safe semantics
    `_read_data_files` applies).  Returns the snapshot id."""
    for _ in range(16):
        try:
            return _commit_equality_deletes_once(
                table_path, equality_cols, rows, snapshot_props)
        except CommitConflictError:
            continue
    raise CommitConflictError(
        f"commit_equality_deletes to {table_path!r} lost the metadata "
        "CAS 16 times in a row")


def _commit_equality_deletes_once(table_path: str,
                                  equality_cols: list[str],
                                  rows: list[dict],
                                  snapshot_props: dict | None = None) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table_path = os.path.abspath(_strip_scheme(table_path))
    if not rows or not equality_cols:
        raise ValueError("commit_equality_deletes needs equality_cols "
                         "and at least one row")
    (tbl, metadata, version, parent_id,
     seq, snapshot_id, now_ms) = _writer_state(table_path)
    id_by_name = {f["name"]: f["id"] for f in tbl.schema()["fields"]}
    try:
        eq_ids = [int(id_by_name[c]) for c in equality_cols]
    except KeyError as e:
        raise ValueError(f"unknown equality column {e}") from None

    data_dir = os.path.join(table_path, "data")
    os.makedirs(data_dir, exist_ok=True)
    del_path = os.path.join(
        data_dir, f"eqdelete-{seq:05d}-{uuid.uuid4().hex[:8]}.parquet")
    pq.write_table(
        pa.table({c: pa.array([r.get(c) for r in rows])
                  for c in equality_cols}),
        del_path)
    entries = [{
        "status": _STATUS_ADDED,
        "snapshot_id": snapshot_id,
        "sequence_number": None,
        "file_sequence_number": None,
        "data_file": {
            "content": 2,                       # equality deletes
            "file_path": del_path,
            "file_format": "PARQUET",
            "partition": {},
            "record_count": len(rows),
            "file_size_in_bytes": os.path.getsize(del_path),
            "equality_ids": eq_ids,
        },
    }]
    return _commit_delete_manifest(
        table_path, tbl, metadata, version, parent_id, seq, snapshot_id,
        now_ms, entries,
        summary={"operation": "delete", "added-delete-files": "1",
                 "added-equality-deletes": str(len(rows)),
                 **(snapshot_props or {})})


def _commit_delete_manifest(table_path: str, tbl: IcebergTable,
                            metadata: dict, version: int, parent_id,
                            seq: int, snapshot_id: int, now_ms: int,
                            entries: list[dict], summary: dict) -> int:
    """Shared tail of a delete-snapshot commit: delete manifest
    (content=1) + manifest list + snapshot + metadata CAS."""
    md_dir = os.path.join(table_path, "metadata")
    n_rows = sum(e["data_file"]["record_count"] for e in entries)
    schema_json = json.dumps(
        metadata["schemas"][0] if "schemas" in metadata
        else metadata["schema"])
    manifest_path = os.path.join(
        md_dir, f"manifest-{snapshot_id}-{uuid.uuid4().hex[:8]}.avro")
    mlen = avro.write_container(
        manifest_path, json.dumps(_MANIFEST_ENTRY_SCHEMA), entries,
        extra_meta={"schema": schema_json.encode(),
                    "schema-id": b"0",
                    "partition-spec": b"[]",
                    "partition-spec-id": b"0",
                    "format-version": b"2",
                    "content": b"deletes"})
    new_manifest = {
        "manifest_path": manifest_path,
        "manifest_length": mlen,
        "partition_spec_id": 0,
        "content": 1,                           # delete manifest
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": n_rows,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    prev_manifests: list[dict] = []
    if tbl.current_snapshot_id not in (None, -1):
        snap = tbl._snapshot(None)
        if snap and "manifest-list" in snap:
            _, _, prev_manifests = avro.read_container(
                tbl._local(snap["manifest-list"]))
    all_manifests = prev_manifests + [new_manifest]
    mlist_path = os.path.join(
        md_dir, f"snap-{snapshot_id}-{uuid.uuid4().hex[:8]}.avro")
    avro.write_container(
        mlist_path, json.dumps(_MANIFEST_FILE_SCHEMA), all_manifests,
        extra_meta={"format-version": b"2",
                    "snapshot-id": str(snapshot_id).encode(),
                    "sequence-number": str(seq).encode()})
    snapshot = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": mlist_path,
        "schema-id": metadata.get("current-schema-id", 0),
        "summary": summary,
    }
    if parent_id not in (None, -1):
        snapshot["parent-snapshot-id"] = parent_id
    metadata["snapshots"] = metadata.get("snapshots", []) + [snapshot]
    metadata["current-snapshot-id"] = snapshot_id
    metadata["last-sequence-number"] = seq
    metadata["last-updated-ms"] = now_ms
    metadata["snapshot-log"] = metadata.get("snapshot-log", []) + [
        {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}]
    _write_metadata(table_path, metadata, version)
    return snapshot_id


def expire_snapshots(table_path: str, keep_last: int = 1) -> dict:
    """Expire all but the last ``keep_last`` snapshots and delete the
    files only they referenced — the spec's snapshot-expiration
    maintenance op, and the Iceberg analogue of `SegmentUpdater`'s
    orphan-file GC (`src/indexer/segment_updater.rs:756-805`,
    SURVEY.md §2.1).  Returns {"expired": n, "deleted_files": [...]}.

    Deletion order is crash-safe: the new metadata (without the expired
    snapshots) commits FIRST, then unreferenced manifest-lists /
    manifests / data files are removed — a crash mid-delete leaves
    harmless orphans, never a referenced-but-missing file (re-running
    expire cleans nothing further since the metadata no longer lists
    them; a fuller GC would walk the data dir, as the reference's
    `garbage_collect_files` walks the directory)."""
    tbl = IcebergTable(table_path)
    snaps = tbl.snapshots
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    if len(snaps) <= keep_last:
        return {"expired": 0, "deleted_files": []}
    keep, drop = snaps[-keep_last:], snaps[:-keep_last]

    def reachable(snapshots) -> tuple[set, set]:
        """(metadata files, data files) referenced by these snapshots."""
        meta_files: set[str] = set()
        data_files: set[str] = set()
        for s in snapshots:
            if "manifest-list" not in s:
                continue
            ml = tbl._local(s["manifest-list"])
            meta_files.add(ml)
            _, _, manifests = avro.read_container(ml)
            for mf in manifests:
                mp = tbl._local(mf["manifest_path"])
                meta_files.add(mp)
                _, _, entries = avro.read_container(mp)
                for e in entries:
                    if e["status"] != _STATUS_DELETED:
                        data_files.add(
                            tbl._local(e["data_file"]["file_path"]))
        return meta_files, data_files

    keep_meta, keep_data = reachable(keep)
    drop_meta, drop_data = reachable(drop)

    metadata = dict(tbl.metadata)
    kept_ids = {s["snapshot-id"] for s in keep}
    metadata["snapshots"] = keep
    metadata["snapshot-log"] = [
        e for e in metadata.get("snapshot-log", [])
        if e.get("snapshot-id") in kept_ids]
    # drop dangling parent pointers into the expired range
    for s in metadata["snapshots"]:
        if s.get("parent-snapshot-id") not in kept_ids:
            s.pop("parent-snapshot-id", None)
    _write_metadata(table_path, metadata, tbl._next_version())  # commit

    deleted = []
    for p in sorted((drop_meta | drop_data) - keep_meta - keep_data):
        try:
            os.remove(p)
            deleted.append(p)
        except FileNotFoundError:
            pass
    return {"expired": len(drop), "deleted_files": deleted}


def write_table(spark, df, table_path: str, mode: str = "append") -> int:
    """Write a DataFrame as a new Iceberg snapshot (parquet data files
    under `<table>/data/batch-<seq>/`, then the metadata commit).
    Returns the new snapshot id.  `mode="overwrite"` starts a fresh
    table (drops existing metadata + data)."""
    import shutil

    table_path = os.path.abspath(_strip_scheme(table_path))
    if mode == "overwrite" and os.path.exists(table_path):
        shutil.rmtree(table_path)
    elif mode not in ("append", "overwrite"):
        raise ValueError(f"mode {mode!r} (append|overwrite)")
    try:
        seq = IcebergTable(table_path).metadata["last-sequence-number"] + 1
    except FileNotFoundError:
        seq = 1
    data_dir = os.path.join(table_path, "data", f"batch-{seq:05d}")
    df.write.mode("overwrite").parquet(data_dir)
    files = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
    return commit_append(table_path, files)


def sync_index(spark, table_path: str, index_dir: str, cfg=None,
               snapshot_id: int | None = None) -> dict:
    """Incrementally index an Iceberg table: the first call indexes the
    pinned (default: current) snapshot; every later call appends ONLY
    the data files added since the last sync as new segments (the
    streaming micro-commit path, `streaming/incremental._append_segment`
    — one fused shuffle-free job per sync, tantivy's
    add_documents→commit lifecycle driven by table commits instead of a
    stream).  Returns the index manifest.

    At 10^12 turns this is the production shape: ingestion commits
    batches to the table, a scheduled sync indexes each commit's delta,
    and `LogMergePolicy` compaction bounds segment count — no full
    rebuilds, no re-reads of already-indexed files.

    Crash safety (two-phase sidecar `iceberg_sync.json`): phase 1
    records the pending file list plus a fresh sync NONCE, THEN the
    append commits the manifest atomically with the nonce stamped into
    its top level, THEN phase 2 promotes pending→done.  A crash between
    the phases is resolved by looking for OUR nonce in the manifest:
    present ⇒ the interrupted append committed (promote, don't
    re-index — no duplicates); absent ⇒ redo the pending files.  The
    nonce is the evidence — a mere manifest advance (a compaction, a
    delete commit, an append from another writer) does NOT promote, so
    never-indexed pending files can't be silently dropped."""
    from ..config import IndexConfig
    from ..operators.build import load_manifest, next_segment_ord
    from ..streaming.incremental import _append_segment

    try:
        existing_cfg = load_manifest(index_dir)["config"]
    except FileNotFoundError:
        existing_cfg = None
    if existing_cfg is not None:
        if cfg is None:
            # later syncs inherit the index's own recorded config — the
            # common case needs no cfg at all
            cfg = IndexConfig.from_json_dict(existing_cfg)
        elif cfg.to_json() != IndexConfig.from_json_dict(
                existing_cfg).to_json():
            raise ValueError(
                "sync_index config differs from the index's recorded "
                "config — segments built under different analyzers/"
                "options cannot share an index; omit cfg to inherit")
    cfg = cfg or IndexConfig()
    tbl = IcebergTable(table_path)
    snap_id = snapshot_id if snapshot_id is not None \
        else tbl.current_snapshot_id
    entries_now = tbl.data_files(snap_id)
    files_now = [f["path"] for f in entries_now]
    dels_now = tbl.delete_files(snap_id)

    table_root = os.path.abspath(_strip_scheme(table_path))

    def norm(p: str) -> str:
        # track done files by table-root-relative path (survives a
        # moved/copied table — absolute paths rebased by _local), and
        # by ABSOLUTE path for files referenced in place outside the
        # table: a bare basename collides across directories (two
        # part-00000.parquet files would collapse to one done-key and
        # the second would silently never be indexed)
        p = os.path.abspath(_strip_scheme(p))
        droot = os.path.join(table_root, "data") + os.sep
        if p.startswith(droot):
            return "/data/" + p[len(droot):]   # key form older sidecars use
        if p.startswith(table_root + os.sep):
            return p[len(table_root):]
        return p

    os.makedirs(index_dir, exist_ok=True)
    side_path = os.path.join(index_dir, "iceberg_sync.json")

    def manifest_max_ord() -> int:
        # highest ord ever taken: advances with every append, never
        # falls back (a delete_all_documents empties the segment list)
        try:
            return next_segment_ord(index_dir, load_manifest(index_dir)) - 1
        except FileNotFoundError:
            return -1

    uuid_now = tbl.metadata.get("table-uuid")
    side = {"table": os.path.abspath(_strip_scheme(table_path)),
            "table_uuid": uuid_now,
            "done": [], "pending": [], "base_max_ord": -1,
            "snapshot_id": None, "norm_version": 2}
    if os.path.exists(side_path):
        with open(side_path) as f:
            side = json.load(f)
        # identity = table-uuid (survives moves); path is informational
        same = (side.get("table_uuid") == uuid_now
                if side.get("table_uuid") and uuid_now
                else side.get("table") == os.path.abspath(
                    _strip_scheme(table_path)))
        if not same:
            raise ValueError(
                f"index {index_dir!r} is synced to table "
                f"{side.get('table')!r} (uuid {side.get('table_uuid')}), "
                f"not {table_path!r}")
        if side.get("pending"):
            # crash-window recovery: did the interrupted append commit?
            # Evidence = OUR nonce stamped in the manifest by the same
            # atomic commit.  (Manifest-advance alone is NOT evidence:
            # compaction, a delete commit, or another writer's append
            # also advance it — promoting on that would silently drop
            # never-indexed files.)  Sidecars from before the nonce
            # (r4) fall back to the old max-ord comparison.
            nonce = side.get("pending_nonce")
            if nonce is not None:
                try:
                    committed = (load_manifest(index_dir)
                                 .get("last_sync_nonce") == nonce)
                except FileNotFoundError:
                    committed = False
            else:
                committed = manifest_max_ord() > side["base_max_ord"]
            if committed:
                side["done"] = side["done"] + side["pending"]
            side["pending"] = []  # uncommitted pendings simply re-enter
            side.pop("pending_nonce", None)

    def write_side() -> None:
        tmp = side_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(side, f)
        os.replace(tmp, side_path)

    if side.get("norm_version", 1) < 2 and side.get("done"):
        # migrate a pre-norm-v2 sidecar: its done keys for files
        # referenced in place were bare basenames (and table-contained
        # keys may differ in form) — re-key every stored entry that
        # matches a current data file under BOTH key functions, so
        # already-indexed files are never re-indexed (duplicated docs)
        # after the upgrade; unmatched stored keys (files of older
        # snapshots) are kept verbatim
        def legacy_norm(p: str) -> str:
            p = os.path.abspath(_strip_scheme(p))
            i = p.rfind("/data/")
            return p[i:] if i >= 0 else os.path.basename(p)

        stored = set(side["done"])
        migrated, matched = [], set()
        for e in entries_now:
            for k in (norm(e["path"]), legacy_norm(e["path"])):
                if k in stored:
                    matched.add(k)
                    migrated.append(norm(e["path"]))
                    break
        side["done"] = sorted(set(migrated) | (stored - matched))
    side["norm_version"] = 2

    done = {norm(p) for p in side["done"]}
    new_entries = [e for e in entries_now if norm(e["path"]) not in done]

    # v2 deletes across snapshots, BEFORE the data append:
    # delete files added since the last sync whose rows target
    # ALREADY-INDEXED data files become engine address tombstones
    # (resolved distributed: positions -> source keys -> docmap
    # addresses, nothing per-row on the driver).  Idempotent — a crash
    # anywhere below redoes it and duplicate tombstone rows are
    # distinct-ed by every reader — so done_deletes promotes with
    # phase 2 and needs no nonce of its own.  Rows targeting files
    # indexed THIS sync are instead applied by the filtered read below.
    done_dels = {norm(p) for p in side.get("done_deletes", [])}
    new_dels = [d for d in dels_now if norm(d["path"]) not in done_dels]
    done_entries = [e for e in entries_now if norm(e["path"]) in done]
    if new_dels and done_entries:
        _tombstone_v2_deletes(spark, index_dir, cfg,
                              done_entries, new_dels, tbl.schema())

    if not new_entries:
        side["done_deletes"] = side.get("done_deletes", []) + [
            norm(d["path"]) for d in new_dels]
        write_side()  # persists any recovery promotion above
        try:
            return load_manifest(index_dir)
        except FileNotFoundError:
            # first sync of an empty (or fully-deleted) table: commit
            # an empty manifest so the index exists
            return _append_segment(
                spark, read_table(spark, table_path, snap_id)
                .limit(0), index_dir, cfg)

    nonce = uuid.uuid4().hex
    side["pending"] = [norm(e["path"]) for e in new_entries]
    side["pending_nonce"] = nonce
    side["base_max_ord"] = manifest_max_ord()
    write_side()                                   # phase 1
    manifest = _append_segment(                    # atomic commit + nonce
        spark, _read_data_files(spark, new_entries, dels_now, tbl.schema()),
        index_dir, cfg,
        manifest_extra={"last_sync_nonce": nonce})
    side["done"] = side["done"] + side["pending"]
    side["done_deletes"] = side.get("done_deletes", []) + [
        norm(d["path"]) for d in new_dels]
    side["pending"] = []
    side.pop("pending_nonce", None)
    side["snapshot_id"] = snap_id
    side["table"] = os.path.abspath(_strip_scheme(table_path))
    write_side()                                   # phase 2
    return manifest


def _tombstone_v2_deletes(spark, index_dir: str, cfg,
                          done_entries: list[dict],
                          new_dels: list[dict],
                          schema: dict | None = None) -> int:
    """Convert v2 delete rows that target ALREADY-INDEXED data files
    into engine address tombstones: doomed source rows -> key columns
    -> docmap (segment_ord, doc_id) -> distributed append to the
    tombstone table (the `delete_query` write discipline — the matched
    count is the only scalar on the driver).  Position deletes match
    (file, `_metadata.row_index`) with del_seq >= data_seq; equality
    deletes match null-safe on their key columns with data_seq
    STRICTLY < del_seq (the spec rules `_read_data_files` applies at
    first-index time)."""
    from functools import reduce

    from pyspark.sql import functions as F

    from ..operators.merge import tombstones_docs_path

    pos = [d for d in new_dels if d.get("content") == 1]
    eq = [d for d in new_dels if d.get("content") == 2]
    if not pos and not eq:
        return 0
    key_cols = list(cfg.key_cols)
    mapping = _delete_mapping(spark, done_entries)
    # read the eq-delete key columns too: doomed-row detection needs
    # them even when they are not index key cols
    eq_groups = _eq_delete_groups(eq, schema)
    read_cols = sorted(set(key_cols)
                       | {c for g in eq_groups for c in g})
    base = (
        spark.read.parquet(*[e["path"] for e in done_entries])
        .select(*read_cols,
                _spark_file_col().alias("__file"),
                F.col("_metadata.row_index").alias("__pos"))
        .join(F.broadcast(mapping.select(F.col("uri").alias("__file"),
                                         F.col("data_seq")
                                         .alias("__dseq"))), "__file")
    )
    # |dead|-proportional frames are shuffle-pinned throughout (never
    # broadcast — the same discipline as the read path and the engine's
    # own dead_docs_df handling)
    row_cols = [*key_cols, "__file", "__pos"]
    doomed = []
    if pos:
        doomed.append(
            base.join(
                _pos_delete_victims(spark, pos, mapping)
                .hint("shuffle_hash"),
                ["__file", "__pos"], "left_semi")
            .select(*row_cols))
    for gcols, ds in sorted(eq_groups.items()):
        ed = _eq_delete_frame(spark, gcols, ds).hint("shuffle_hash")
        doomed.append(base.join(ed, _eq_delete_cond(base, ed, gcols),
                                "left_semi")
                      .select(*row_cols))
    doomed_rows = reduce(lambda a, b: a.unionByName(b),
                         doomed).distinct().persist()
    # tombstones address docs by key, which assumes key_cols are unique:
    # doomed rows sharing a key mean every indexed doc with that key dies
    n_rows, n_keys = doomed_rows.agg(
        F.count(F.lit(1)), F.count_distinct(F.struct(*key_cols))).first()
    if n_keys < n_rows:
        warnings.warn(
            f"{n_rows} v2-deleted rows carry only {n_keys} distinct "
            f"key_cols {key_cols} values: the keys are not unique, so "
            "every indexed doc sharing a deleted row's key is tombstoned",
            stacklevel=2)
    doomed_keys = doomed_rows.select(*key_cols).distinct()
    addrs = (
        spark.read.parquet(os.path.join(index_dir, "docmap"))
        .select(*key_cols, "segment_ord", "doc_id")
        .join(doomed_keys.hint("shuffle_hash"), key_cols, "left_semi")
        .select(F.col("segment_ord").cast("int"),
                F.col("doc_id").cast("int"))
        .distinct()
        .withColumn("ts", F.lit(float(time.time())))
        .persist()
    )
    n = addrs.count()
    doomed_rows.unpersist()
    if n:
        addrs.write.mode("append").parquet(tombstones_docs_path(index_dir))
    addrs.unpersist()
    return n


def _eq_delete_cols(d: dict, schema: dict | None) -> list[str]:
    """Column names an equality-delete file keys on (spec field ids ->
    current-schema names)."""
    ids = d.get("equality_ids")
    if not ids:
        raise NotImplementedError(
            "equality delete file without equality_ids cannot be applied")
    if schema is None:
        raise NotImplementedError(
            "equality deletes need the table schema to resolve field ids")
    name_by_id = {f["id"]: f["name"] for f in schema["fields"]}
    try:
        return [name_by_id[int(i)] for i in ids]
    except KeyError as e:
        raise NotImplementedError(
            f"equality delete references unknown field id {e} "
            "(schema evolution beyond this reader)") from None


def _spark_file_col():
    """Spark's parquet `_metadata.file_path` is a URL-ENCODED file URI
    (space -> %20, %% -> %25, ...), while the delete machinery keys on
    plain 'file:' + local path — joining the raw column silently
    matches nothing for any path with an encodable character (deletes
    stop applying).  Decode it; a literal '+' is a valid unencoded URI
    path character, so protect it from url_decode's form semantics
    (+ -> space) first."""
    from pyspark.sql import functions as F

    return F.url_decode(
        F.regexp_replace(F.col("_metadata.file_path"), r"\+", "%2B"))


def _delete_mapping(spark, entries: list[dict]):
    """Broadcastable (recorded path `rp` — what delete rows reference —
    -> 'file:'+local uri, data sequence number) frame; file-list-sized,
    the only driver-side structure (split planning holds it anyway)."""
    return spark.createDataFrame(
        [(e["recorded_path"], "file:" + e["path"],
          int(e["sequence_number"])) for e in entries],
        "rp string, uri string, data_seq long")


def _pos_delete_victims(spark, pos: list[dict], mapping):
    """Distinct (__file, __pos) rows the position-delete files kill,
    applicability-filtered (del_seq >= data_seq — spec 'Scan
    Planning')."""
    from functools import reduce

    from pyspark.sql import functions as F

    dd = reduce(lambda a, b: a.unionByName(b), [
        spark.read.parquet(d["path"]).select(
            F.col("file_path").alias("rp"),
            F.col("pos").cast("long").alias("__pos"),
            F.lit(int(d["sequence_number"])).alias("del_seq"))
        for d in pos
    ])
    return (dd.join(F.broadcast(mapping), "rp")
            .filter(F.col("del_seq") >= F.col("data_seq"))
            .select(F.col("uri").alias("__file"), "__pos")
            .distinct())


def _eq_delete_groups(eq: list[dict],
                      schema: dict | None) -> dict[tuple, list[dict]]:
    """Equality-delete files grouped by their resolved key-column
    tuple, so each group is ONE join."""
    groups: dict[tuple, list[dict]] = {}
    for d in eq:
        groups.setdefault(tuple(_eq_delete_cols(d, schema)), []).append(d)
    return groups


def _eq_delete_frame(spark, gcols: tuple, ds: list[dict]):
    """One group's delete rows: (__eq_<col>..., __eq_seq)."""
    from functools import reduce

    from pyspark.sql import functions as F

    return reduce(lambda a, b: a.unionByName(b), [
        spark.read.parquet(d["path"]).select(
            *[F.col(c).alias(f"__eq_{c}") for c in gcols],
            F.lit(int(d["sequence_number"])).alias("__eq_seq"))
        for d in ds
    ])


def _eq_delete_cond(base, ed, gcols: tuple):
    """Spec equality-delete match: data_seq STRICTLY < del_seq, and
    null-safe equality on every key column (null matches null)."""
    cond = ed["__eq_seq"] > base["__dseq"]
    for c in gcols:
        cond = cond & base[c].eqNullSafe(ed[f"__eq_{c}"])
    return cond


def _read_data_files(spark, entries: list[dict], dels: list[dict],
                     schema: dict | None = None):
    """DataFrame over the given data-file entries with applicable v2
    deletes anti-joined out (merge-on-read).  Fully distributed: the
    row position is Spark's parquet `_metadata.row_index`, the delete
    rows are read as DataFrames, and the spec applicability rules are
    join conditions against the broadcast file-list mapping (shared
    helpers above — `_tombstone_v2_deletes` applies the SAME rules to
    already-indexed files)."""
    from pyspark.sql import functions as F

    paths = [e["path"] for e in entries]
    pos = [d for d in dels if d.get("content") == 1]
    eq = [d for d in dels if d.get("content") == 2]
    reader = spark.read.parquet(*paths)
    if not pos and not eq:
        return reader
    cols = reader.columns
    base = reader.select(
        "*",
        _spark_file_col().alias("__file"),
        F.col("_metadata.row_index").alias("__pos"))
    mapping = _delete_mapping(spark, entries)
    # delete-row frames scale with |dead| — pin them to shuffle joins
    # so stats/AQE can never pick a broadcast of 10^7 delete rows (the
    # r2 lesson: per-row-scaled side tables are never broadcast by
    # default; only the file-list mapping is)
    if pos:
        base = base.join(
            _pos_delete_victims(spark, pos, mapping).hint("shuffle_hash"),
            ["__file", "__pos"], "left_anti")
    if eq:
        base = base.join(
            F.broadcast(mapping.select(F.col("uri").alias("__file"),
                                       F.col("data_seq").alias("__dseq"))),
            "__file")
        for gcols, ds in sorted(_eq_delete_groups(eq, schema).items()):
            ed = _eq_delete_frame(spark, gcols, ds).hint("shuffle_hash")
            base = base.join(ed, _eq_delete_cond(base, ed, gcols),
                             "left_anti")
        base = base.drop("__dseq")
    return base.select(*cols)


def read_table(spark, table_path: str,
               snapshot_id: int | None = None):
    """Snapshot-pinned DataFrame over an Iceberg table — the input
    side of `build_index` (the direct build plans splits from the same
    file list via `plan_parquet_splits`).  v2 POSITION and EQUALITY
    deletes are applied (merge-on-read semantics)."""
    tbl = IcebergTable(table_path)
    entries = tbl.data_files(snapshot_id)
    if not entries:
        return spark.createDataFrame(
            [], iceberg_to_spark_schema(tbl.schema()))
    return _read_data_files(spark, entries, tbl.delete_files(snapshot_id),
                            tbl.schema())
