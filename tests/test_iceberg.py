"""Iceberg source/sink: snapshot resolution, pinned reads, commit
atomicity, and parity of the direct-IO build over an Iceberg table vs
the same rows as plain parquet.

The Avro layer under the manifests is oracle-validated against the
Java Avro library in test_avro.py; here `test_jvm_reads_real_manifest`
additionally runs the Java reader over the ACTUAL manifest files our
commits write (not synthetic fixtures).
"""

import glob
import json
import os
import shutil

import pytest

from tantivy_spark.sources import avro, iceberg


def _mk_df(spark, n, off=0):
    from pyspark.sql import functions as F

    return (spark.range(off, off + n)
            .select(F.concat(F.lit("conv"), F.col("id")).alias("conv_id"),
                    (F.col("id") % 7).cast("int").alias("turn_idx"),
                    F.lit("user").alias("role"),
                    F.concat(F.lit("hello world token"),
                             F.col("id")).alias("text"),
                    F.lit(None).cast("string").alias("tool"),
                    F.lit("2026-01-01 00:00:00")
                    .cast("timestamp").alias("ts")))


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ice") / "transcripts")
    s1 = iceberg.write_table(spark, _mk_df(spark, 120), path)
    s2 = iceberg.write_table(spark, _mk_df(spark, 80, off=120), path)
    return path, s1, s2


def test_snapshots_and_counts(spark, table):
    path, s1, s2 = table
    t = iceberg.IcebergTable(path)
    assert t.current_snapshot_id == s2
    assert [s["snapshot-id"] for s in t.snapshots] == [s1, s2]
    n_all = sum(f["record_count"] for f in t.data_files())
    n_s1 = sum(f["record_count"] for f in t.data_files(s1))
    assert (n_s1, n_all) == (120, 200)
    # parent linkage + sequence numbers advance
    snap2 = t.snapshots[-1]
    assert snap2["parent-snapshot-id"] == s1
    assert t.metadata["last-sequence-number"] == 2


def test_read_table_pinned(spark, table):
    path, s1, s2 = table
    assert iceberg.read_table(spark, path).count() == 200
    df1 = iceberg.read_table(spark, path, snapshot_id=s1)
    assert df1.count() == 120
    assert df1.columns == ["conv_id", "turn_idx", "role", "text",
                           "tool", "ts"]


def test_unknown_snapshot_raises(spark, table):
    path, *_ = table
    with pytest.raises(ValueError, match="snapshot"):
        iceberg.IcebergTable(path).data_files(99999)


def test_version_hint_is_commit_point(spark, table, tmp_path):
    """Reader falls back to the highest metadata version when the hint
    is missing (spec File System Tables), and a stale hint (crash
    between metadata rename and hint rename) serves the PREVIOUS
    version — never a torn state."""
    path, s1, s2 = table
    dst = str(tmp_path / "copy")
    shutil.copytree(path, dst)
    hint = os.path.join(dst, "metadata", "version-hint.text")
    os.remove(hint)
    assert iceberg.IcebergTable(dst).current_snapshot_id == s2
    with open(hint, "w") as f:
        f.write("0")  # stale: points at the pre-append version
    assert iceberg.IcebergTable(dst).current_snapshot_id == s1


def test_moved_table_rebases_paths(spark, table, tmp_path):
    """Metadata records absolute paths at write time; a moved/copied
    table directory must still resolve its own files."""
    path, s1, s2 = table
    dst = str(tmp_path / "moved")
    shutil.copytree(path, dst)
    # make the recorded absolute paths dead so rebase is exercised
    t = iceberg.IcebergTable(dst)
    files = t.data_files()
    assert all(f["path"].startswith(dst + os.sep) or
               f["path"].startswith(os.path.abspath(path))
               for f in files)
    # simulate the original location disappearing entirely
    tmp_orig = path + ".away"
    os.rename(path, tmp_orig)
    try:
        files = iceberg.IcebergTable(dst).data_files()
        assert sum(f["record_count"] for f in files) == 200
        assert all(f["path"].startswith(dst + os.sep) for f in files)
    finally:
        os.rename(tmp_orig, path)


def test_position_deletes_applied_on_read(spark, tmp_path):
    """v2 merge-on-read: commit_position_deletes writes a spec-shaped
    delete manifest; read_table anti-joins the deleted (file, pos) rows
    out; a snapshot pinned BEFORE the delete still sees every row; data
    files committed AFTER the delete are untouched (sequence rule)."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "mor")
    iceberg.write_table(spark, _mk_df(spark, 100), path)
    t = iceberg.IcebergTable(path)
    pre_delete_snap = t.current_snapshot_id
    target = t.data_files()[0]
    victim_rows = pq.read_table(target["path"]).to_pylist()
    victims = {victim_rows[i]["conv_id"] for i in (0, 1, 5)}

    sid = iceberg.commit_position_deletes(
        path, {target["path"]: [0, 1, 5]})
    t2 = iceberg.IcebergTable(path)
    assert t2.current_snapshot_id == sid
    dels = t2.delete_files()
    assert len(dels) == 1 and dels[0]["content"] == 1
    assert dels[0]["record_count"] == 3
    # data_files still lists the pre-delete file set (no raise)
    assert len(t2.data_files()) == len(t.data_files())

    got = {r["conv_id"] for r in
           iceberg.read_table(spark, path).collect()}
    assert len(got) == 97 and not (got & victims)
    # pinned pre-delete snapshot is untouched
    assert iceberg.read_table(spark, path,
                              pre_delete_snap).count() == 100
    # later data files are not affected by the earlier delete
    iceberg.write_table(spark, _mk_df(spark, 30, off=100), path)
    assert iceberg.read_table(spark, path).count() == 127


def test_position_deletes_direct_build_falls_back(spark, tmp_path):
    """build_index_direct over a merge-on-read table routes through the
    delete-applying DataFrame read — deleted rows are absent from the
    index instead of raising (or silently appearing)."""
    import pyarrow.parquet as pq

    from tantivy_spark.config import IndexConfig
    from tantivy_spark.operators.build import build_index_direct
    from tantivy_spark.operators.search import Searcher
    from tantivy_spark.plans.logical import TermQuery

    path = str(tmp_path / "mor_build")
    iceberg.write_table(spark, _mk_df(spark, 60), path)
    t = iceberg.IcebergTable(path)
    target = t.data_files()[0]
    victim = pq.read_table(target["path"]).to_pylist()[3]
    tok = victim["text"].split()[-1]          # tokenNN, unique per row
    iceberg.commit_position_deletes(path, {target["path"]: [3]})

    idx = str(tmp_path / "mor_idx")
    m = build_index_direct(spark, path, idx, IndexConfig(n_term_buckets=2))
    assert m["total_docs"] == 59
    s = Searcher(spark, idx)
    assert s.count(TermQuery(tok.lower())) == 0
    assert s.count(TermQuery("hello")) == 59


def test_equality_deletes_applied(spark, tmp_path):
    """v2 equality deletes: rows matching the delete values disappear
    from reads of data files with a STRICTLY smaller sequence number;
    a later re-insert of the same key survives (the spec's upsert
    pattern); null delete values match null rows (null-safe
    equality)."""
    path = str(tmp_path / "eqdel")
    iceberg.write_table(spark, _mk_df(spark, 30), path)
    sid = iceberg.commit_equality_deletes(
        path, ["conv_id"], [{"conv_id": "conv3"}, {"conv_id": "conv7"}])
    t = iceberg.IcebergTable(path)
    assert t.current_snapshot_id == sid
    dels = t.delete_files()
    assert len(dels) == 1 and dels[0]["content"] == 2
    assert dels[0]["equality_ids"]         # field ids recorded
    got = {r["conv_id"] for r in iceberg.read_table(spark, path).collect()}
    assert len(got) == 28 and "conv3" not in got and "conv7" not in got

    # upsert: re-commit conv3 AFTER the delete -> data_seq > del_seq,
    # the new row survives while the old one stays deleted
    iceberg.write_table(spark, _mk_df(spark, 1, off=3), path)
    got2 = [r["conv_id"] for r in
            iceberg.read_table(spark, path).collect()]
    assert len(got2) == 29 and got2.count("conv3") == 1

    # null-safe: tool is all-null in this corpus; deleting tool=None
    # kills every row committed before the delete
    iceberg.commit_equality_deletes(path, ["tool"], [{"tool": None}])
    assert iceberg.read_table(spark, path).count() == 0
    iceberg.write_table(spark, _mk_df(spark, 5, off=100), path)
    assert iceberg.read_table(spark, path).count() == 5


def test_equality_delete_build_and_refusals(spark, tmp_path):
    """The direct build falls back through the delete-applying read
    for equality deletes too; a delete entry whose equality_ids are
    missing or unresolvable refuses loudly."""
    from tantivy_spark.config import IndexConfig
    from tantivy_spark.operators.build import build_index_direct
    from tantivy_spark.operators.search import Searcher
    from tantivy_spark.plans.logical import TermQuery

    path = str(tmp_path / "eqb")
    iceberg.write_table(spark, _mk_df(spark, 40), path)
    iceberg.commit_equality_deletes(
        path, ["conv_id"], [{"conv_id": "conv5"}])
    idx = str(tmp_path / "eqb_idx")
    m = build_index_direct(spark, path, idx, IndexConfig(n_term_buckets=2))
    assert m["total_docs"] == 39
    assert Searcher(spark, idx).count(TermQuery("token5")) == 0

    # strip equality_ids from the manifest -> loud refusal, not wrong
    # results
    t = iceberg.IcebergTable(path)
    for mf in t._manifests(None):
        if mf.get("content") == 1:
            mp = t._local(mf["manifest_path"])
            schema, meta, entries = avro.read_container(mp)
            for e in entries:
                e["data_file"]["equality_ids"] = None
            avro.write_container(
                mp, json.dumps(iceberg._MANIFEST_ENTRY_SCHEMA), entries)
    with pytest.raises(NotImplementedError, match="equality_ids"):
        iceberg.read_table(spark, path).count()
    with pytest.raises(ValueError, match="unknown equality column"):
        iceberg.commit_equality_deletes(path, ["nope"], [{"nope": 1}])


def test_sync_honors_equality_deletes(spark, tmp_path):
    """sync_index converts equality deletes of already-indexed files
    into tombstones and filters them for files first indexed in the
    same sync."""
    from tantivy_spark.config import IndexConfig
    from tantivy_spark.operators.search import Searcher
    from tantivy_spark.plans.logical import TermQuery

    path = str(tmp_path / "tbl")
    idx = str(tmp_path / "idx")
    cfg = IndexConfig(n_term_buckets=4)
    iceberg.write_table(spark, _mk_df(spark, 50), path)
    iceberg.sync_index(spark, path, idx, cfg)

    # post-index equality delete -> tombstones at next sync
    iceberg.commit_equality_deletes(
        path, ["conv_id"], [{"conv_id": "conv11"}, {"conv_id": "conv22"}])
    # plus a new batch whose own rows are hit by a second delete
    # BEFORE it is first indexed -> filtered read
    iceberg.write_table(spark, _mk_df(spark, 30, off=50), path)
    iceberg.commit_equality_deletes(path, ["conv_id"],
                                    [{"conv_id": "conv66"}])
    iceberg.sync_index(spark, path, idx, cfg)

    s = Searcher(spark, idx)
    for tok in ("token11", "token22", "token66"):
        assert s.count(TermQuery(tok)) == 0
    assert s.count(TermQuery("hello")) == 50 - 2 + 30 - 1
    # idempotent
    iceberg.sync_index(spark, path, idx, cfg)
    assert Searcher(spark, idx).count(TermQuery("hello")) == 77


def test_sync_warns_on_non_unique_delete_keys(spark, tmp_path):
    """Tombstones address indexed docs by key_cols; when two rows a v2
    delete dooms share one key, the sync says so (every doc with that
    key is tombstoned, not only the deleted rows)."""
    from tantivy_spark.config import IndexConfig

    path = str(tmp_path / "tbl")
    idx = str(tmp_path / "idx")
    cfg = IndexConfig(n_term_buckets=4, key_cols=("role",))
    iceberg.write_table(spark, _mk_df(spark, 20), path)
    iceberg.sync_index(spark, path, idx, cfg)
    iceberg.commit_equality_deletes(
        path, ["conv_id"], [{"conv_id": "conv11"}, {"conv_id": "conv12"}])
    with pytest.warns(UserWarning, match="not unique"):
        iceberg.sync_index(spark, path, idx, cfg)


def test_jvm_reads_real_manifest(spark, table):
    """The Java Avro library reads the actual manifest + manifest-list
    files a commit wrote, and sees the same file list we do."""
    path, s1, s2 = table
    t = iceberg.IcebergTable(path)
    jvm = spark._jvm
    mlist = t._local(t._snapshot(None)["manifest-list"])
    ours = {f["path"] for f in t.data_files()}
    theirs = set()
    r = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(mlist),
        jvm.org.apache.avro.generic.GenericDatumReader())
    jpaths = []
    while r.hasNext():
        jpaths.append(r.next().get("manifest_path").toString())
    r.close()
    for mp in jpaths:
        mr = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(t._local(mp)),
            jvm.org.apache.avro.generic.GenericDatumReader())
        while mr.hasNext():
            e = mr.next()
            theirs.add(t._local(
                e.get("data_file").get("file_path").toString()))
        mr.close()
    assert theirs == ours


def test_direct_build_parity_vs_parquet(spark, table, tmp_path):
    """build_index_direct over the Iceberg table == the same rows as a
    plain parquet directory: identical segment plan, identical query
    results; a snapshot-pinned build sees only that snapshot's rows."""
    from tantivy_spark.config import IndexConfig
    from tantivy_spark.operators.build import build_index_direct
    from tantivy_spark.operators.search import Searcher
    from tantivy_spark.plans.logical import TermQuery

    path, s1, s2 = table
    cfg = IndexConfig(n_term_buckets=4)

    plain = str(tmp_path / "plain_src")
    iceberg.read_table(spark, path).write.parquet(plain)

    idx_ice = str(tmp_path / "idx_ice")
    idx_plain = str(tmp_path / "idx_plain")
    m_ice = build_index_direct(spark, path, idx_ice, cfg)
    build_index_direct(spark, plain, idx_plain, cfg)
    assert m_ice["total_docs"] == 200

    def top(idx):
        rows = (Searcher(spark, idx).search(TermQuery("token5"), k=5)
                .collect())
        return [(r["conv_id"], round(r["score"], 5)) for r in rows]

    assert top(idx_ice) == top(idx_plain)

    idx_s1 = str(tmp_path / "idx_s1")
    m1 = build_index_direct(spark, path, idx_s1, cfg, snapshot_id=s1)
    assert m1["total_docs"] == 120


def test_empty_table_read(spark, tmp_path):
    """A created-but-empty table (no snapshot yet) reads as an empty
    DataFrame with the schema from metadata."""
    path = str(tmp_path / "empty")
    # commit one batch then roll back to "no snapshot" by hand-writing
    # a v0-style metadata without snapshots
    iceberg.write_table(spark, _mk_df(spark, 3), path)
    t = iceberg.IcebergTable(path)
    md = dict(t.metadata)
    md["current-snapshot-id"] = -1
    md["snapshots"] = []
    iceberg._write_metadata(path, md, t._next_version())
    df = iceberg.read_table(spark, path)
    assert df.count() == 0
    assert df.columns == ["conv_id", "turn_idx", "role", "text",
                          "tool", "ts"]


# ---------------------------------------------------------------------------
# incremental snapshot sync
# ---------------------------------------------------------------------------


def test_sync_index_incremental(spark, tmp_path):
    from tantivy_spark.config import IndexConfig
    from tantivy_spark.operators.build import build_index_direct
    from tantivy_spark.operators.search import Searcher
    from tantivy_spark.plans.logical import TermQuery

    path = str(tmp_path / "tbl")
    idx = str(tmp_path / "idx")
    cfg = IndexConfig(n_term_buckets=4)
    s1 = iceberg.write_table(spark, _mk_df(spark, 100), path)
    m1 = iceberg.sync_index(spark, path, idx, cfg)
    assert m1["total_docs"] == 100
    ords1 = {s["segment_ord"] for s in m1["segments"]}

    s2 = iceberg.write_table(spark, _mk_df(spark, 60, off=100), path)
    m2 = iceberg.sync_index(spark, path, idx, cfg)
    assert m2["total_docs"] == 160
    ords2 = {s["segment_ord"] for s in m2["segments"]}
    assert ords1 < ords2  # old segments untouched, new ones appended

    # idempotent: nothing new -> no new segments
    m3 = iceberg.sync_index(spark, path, idx, cfg)
    assert {s["segment_ord"] for s in m3["segments"]} == ords2

    # result parity vs a one-shot build of the full table (global BM25
    # stats are sums, so scores match; layout differs)
    full = str(tmp_path / "idx_full")
    build_index_direct(spark, path, full, cfg)

    def hits(i):
        return sorted(
            (r["conv_id"], int(r["turn_idx"]), round(float(r["score"]), 5))
            for r in Searcher(spark, i).search(
                TermQuery("token42"), k=10, mode="daat").collect())

    assert hits(idx) == hits(full)


def test_sync_index_crash_recovery(spark, tmp_path):
    """Both sides of the crash window: append committed but sidecar not
    promoted (must NOT re-index), and sidecar written but append never
    ran (must redo)."""
    import json as _json

    from tantivy_spark.config import IndexConfig

    path = str(tmp_path / "tbl")
    idx = str(tmp_path / "idx")
    cfg = IndexConfig(n_term_buckets=4)
    iceberg.write_table(spark, _mk_df(spark, 50), path)
    m1 = iceberg.sync_index(spark, path, idx, cfg)
    side_path = os.path.join(idx, "iceberg_sync.json")
    with open(side_path) as f:
        side = _json.load(f)

    # case 1: pretend the crash hit AFTER the append committed — move
    # the done files back to pending with the pre-append base ord
    side_c1 = dict(side, pending=side["done"], done=[], base_max_ord=-1)
    with open(side_path, "w") as f:
        _json.dump(side_c1, f)
    m = iceberg.sync_index(spark, path, idx, cfg)
    assert m["total_docs"] == 50  # promoted, not duplicated

    # case 2: pretend the crash hit BEFORE the append — pending files
    # with base == current max ord; a new commit makes them real work
    iceberg.write_table(spark, _mk_df(spark, 30, off=50), path)
    cur_max = max(s["segment_ord"] for s in m["segments"])
    side_c2 = dict(side, pending=["/nonexistent/ghost.parquet"],
                   done=side["done"], base_max_ord=cur_max)
    with open(side_path, "w") as f:
        _json.dump(side_c2, f)
    m2 = iceberg.sync_index(spark, path, idx, cfg)
    assert m2["total_docs"] == 80  # pending dropped, new files indexed


def test_sync_recovery_nonce_not_fooled_by_other_commits(spark, tmp_path):
    """Crash-recovery must decide 'the interrupted append committed' by
    finding OUR nonce in the manifest, not by manifest advance: a
    compaction (or any other manifest-advancing op) between the crash
    and the re-sync must NOT promote never-indexed pending files —
    that would be silent permanent data loss."""
    import glob as _glob
    import json as _json

    from tantivy_spark.config import IndexConfig
    from tantivy_spark.operators.merge import merge_segments

    path = str(tmp_path / "tbl")
    idx = str(tmp_path / "idx")
    cfg = IndexConfig(n_term_buckets=4)
    iceberg.write_table(spark, _mk_df(spark, 50), path)
    iceberg.sync_index(spark, path, idx, cfg)
    side_path = os.path.join(idx, "iceberg_sync.json")
    with open(side_path) as f:
        side1 = _json.load(f)

    # a second table commit whose sync "crashed" AFTER phase 1 (pending
    # + nonce recorded) but BEFORE its append ran
    iceberg.write_table(spark, _mk_df(spark, 30, off=50), path)
    batch2_keys = ["/data/batch-00002/" + os.path.basename(p)
                   for p in sorted(_glob.glob(
                       os.path.join(path, "data", "batch-00002",
                                    "*.parquet")))]
    assert batch2_keys
    side_crash = dict(side1, pending=batch2_keys,
                      pending_nonce="feedface" * 4,
                      base_max_ord=-1)    # old heuristic would promote
    with open(side_path, "w") as f:
        _json.dump(side_crash, f)

    # ...and a compaction advances the manifest in the crash window
    merge_segments(spark, idx)

    m = iceberg.sync_index(spark, path, idx, cfg)
    assert m["total_docs"] == 80          # batch2 redone, not dropped

    # converse: when the manifest DOES carry the pending nonce, the
    # interrupted append committed — promote without re-indexing
    with open(side_path) as f:
        side_ok = _json.load(f)
    committed_nonce = m["last_sync_nonce"]
    side_again = dict(side_ok, pending=batch2_keys,
                      pending_nonce=committed_nonce,
                      done=[k for k in side_ok["done"]
                            if k not in batch2_keys])
    with open(side_path, "w") as f:
        _json.dump(side_again, f)
    m2 = iceberg.sync_index(spark, path, idx, cfg)
    assert m2["total_docs"] == 80         # promoted, no duplicates


def test_sync_index_honors_deletes_across_snapshots(spark, tmp_path):
    """sync_index with v2 deletes: rows deleted AFTER their file was
    indexed become engine address tombstones (distributed resolution,
    queries exclude them); rows deleted BEFORE their file is first
    indexed are dropped by the filtered read; re-sync is idempotent."""
    import pyarrow.parquet as pq

    from tantivy_spark.config import IndexConfig
    from tantivy_spark.operators.search import Searcher
    from tantivy_spark.plans.logical import TermQuery

    path = str(tmp_path / "tbl")
    idx = str(tmp_path / "idx")
    cfg = IndexConfig(n_term_buckets=4)
    iceberg.write_table(spark, _mk_df(spark, 50), path)
    m1 = iceberg.sync_index(spark, path, idx, cfg)
    assert m1["total_docs"] == 50

    # delete 2 rows of the ALREADY-INDEXED file -> tombstones
    t = iceberg.IcebergTable(path)
    f1 = t.data_files()[0]
    rows1 = pq.read_table(f1["path"]).to_pylist()
    toks_dead = [rows1[i]["text"].split()[-1].lower() for i in (2, 4)]
    iceberg.commit_position_deletes(path, {f1["path"]: [2, 4]})

    # plus a new batch carrying its own pre-index delete
    iceberg.write_table(spark, _mk_df(spark, 30, off=50), path)
    t = iceberg.IcebergTable(path)
    f2 = [e for e in t.data_files()
          if "batch-00003" in e["path"]][0]
    rows2 = pq.read_table(f2["path"]).to_pylist()
    tok_new_dead = rows2[1]["text"].split()[-1].lower()
    iceberg.commit_position_deletes(path, {f2["path"]: [1]})

    iceberg.sync_index(spark, path, idx, cfg)
    s = Searcher(spark, idx)
    # tombstoned (post-index delete): invisible to every query path
    for tok in toks_dead:
        assert s.count(TermQuery(tok)) == 0
    # pre-index delete: never entered the index
    assert s.count(TermQuery(tok_new_dead)) == 0
    assert s.count(TermQuery("hello")) == 50 - 2 + 30 - 1
    # idempotent: nothing new -> unchanged
    m3 = iceberg.sync_index(spark, path, idx, cfg)
    assert {x["segment_ord"] for x in m3["segments"]} == \
        {x["segment_ord"] for x in iceberg.sync_index(
            spark, path, idx, cfg)["segments"]}
    s2 = Searcher(spark, idx)
    assert s2.count(TermQuery("hello")) == 77


def test_deletes_apply_under_encodable_paths(spark, tmp_path):
    """Spark reports `_metadata.file_path` URL-ENCODED (space -> %20,
    %% -> %25, literal + unencoded); the delete joins decode it, so a
    table path with encodable characters still applies v2 deletes —
    the raw column would silently match nothing (deleted rows
    reappear) or empty the equality-join."""
    path = str(tmp_path / "mor dir %x+y" / "tbl")
    iceberg.write_table(spark, _mk_df(spark, 20), path)
    t = iceberg.IcebergTable(path)
    target = t.data_files()[0]
    iceberg.commit_position_deletes(path, {target["path"]: [0, 1]})
    assert iceberg.read_table(spark, path).count() == 18
    iceberg.commit_equality_deletes(path, ["conv_id"],
                                    [{"conv_id": "conv5"}])
    got = {r["conv_id"] for r in iceberg.read_table(spark, path).collect()}
    assert len(got) == 17 and "conv5" not in got


def test_sync_mass_delete_scale_smoke(spark, tmp_path):
    """100k-row table with 20% position-deleted AFTER the first sync:
    the tombstone conversion stays distributed (delete-row frames
    shuffle-pinned, only the file-list mapping broadcast; the matched
    count is the only scalar on the driver) and every count is
    right."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from tantivy_spark.config import IndexConfig
    from tantivy_spark.operators.search import Searcher
    from tantivy_spark.plans.logical import TermQuery

    n = 100_000
    src = spark.range(n).select(
        F.concat(F.lit("conv"), F.col("id")).alias("conv_id"),
        (F.col("id") % 7).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(F.lit("hello world"),
                 F.when(F.col("id") % 5 == 0, F.lit(" kill"))
                 .otherwise(F.lit("")),
                 F.lit(" tok"), (F.col("id") % 97).cast("string"))
        .alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"))
    path = str(tmp_path / "tbl")
    idx = str(tmp_path / "idx")
    iceberg.write_table(spark, src.repartition(4), path)
    cfg = IndexConfig(n_term_buckets=4)
    m1 = iceberg.sync_index(spark, path, idx, cfg)
    assert m1["total_docs"] == n

    # delete every position whose row contains ' kill' (20k rows,
    # across all 4 data files)
    t = iceberg.IcebergTable(path)
    deletes = {}
    for e in t.data_files():
        txt = pq.read_table(e["path"], columns=["text"]).column("text")
        deletes[e["path"]] = [
            i for i, v in enumerate(txt.to_pylist()) if " kill" in v]
    assert sum(map(len, deletes.values())) == n // 5
    iceberg.commit_position_deletes(path, deletes)
    iceberg.sync_index(spark, path, idx, cfg)

    s = Searcher(spark, idx)
    assert s.count(TermQuery("kill")) == 0
    assert s.count(TermQuery("hello")) == n - n // 5
    top = s.search(TermQuery("hello"), k=10).collect()
    assert len(top) == 10


def test_concurrent_committers_lose_no_snapshot(spark, tmp_path):
    """Real racing committers: N threads each commit_append files
    concurrently; the metadata CAS serializes them via retries and
    EVERY commit's rows are present in the final table — no snapshot
    silently lost to a last-writer-wins overwrite."""
    import threading

    path = str(tmp_path / "race")
    d = tmp_path / "files"
    _mk_df(spark, 60).repartition(6).write.parquet(str(d))
    files = sorted(glob.glob(str(d / "*.parquet")))
    assert len(files) == 6
    errs = []

    def committer(fs):
        try:
            for f in fs:
                iceberg.commit_append(path, [f])
        except Exception as e:                     # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=committer, args=(files[i::3],))
               for i in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    t = iceberg.IcebergTable(path)
    assert len(t.snapshots) == 6                  # every commit landed
    assert iceberg.read_table(spark, path).count() == 60
    # one linear snapshot chain: each commit built on the previous
    seqs = sorted(s["sequence-number"] for s in t.snapshots)
    assert seqs == list(range(1, 7))


def test_version_hint_never_regresses(spark, tmp_path):
    """The hint write is monotonic: a commit whose version is below an
    already-written newer hint (a delayed committer finishing after a
    racing winner advanced it) must not clobber it backward."""
    path = str(tmp_path / "tbl")
    iceberg.write_table(spark, _mk_df(spark, 5), path)
    hint = os.path.join(path, "metadata", "version-hint.text")
    with open(hint, "w") as f:
        f.write("50")                    # a newer racing committer's hint
    iceberg.write_table(spark, _mk_df(spark, 5, off=5), path)
    with open(hint) as f:
        assert f.read().strip() == "50"  # not regressed
    # readers still resolve (dangling hint -> version-glob fallback)
    assert iceberg.read_table(spark, path).count() == 10


def test_sync_sidecar_legacy_key_migration(spark, tmp_path):
    """A pre-norm-v2 sidecar keyed in-place files by bare basename;
    the migration re-keys matched entries so already-indexed files are
    NOT re-indexed (duplicated docs) after the upgrade."""
    import json as _json

    from tantivy_spark.config import IndexConfig

    path = str(tmp_path / "tbl")
    idx = str(tmp_path / "idx")
    cfg = IndexConfig(n_term_buckets=2)
    d_a = tmp_path / "ext"
    _mk_df(spark, 40).coalesce(1).write.parquet(str(d_a))
    fa = glob.glob(str(d_a / "*.parquet"))[0]
    iceberg.commit_append(path, [fa])    # referenced in place
    m1 = iceberg.sync_index(spark, path, idx, cfg)
    assert m1["total_docs"] == 40

    # rewrite the sidecar as the OLD code would have written it
    side_path = os.path.join(idx, "iceberg_sync.json")
    with open(side_path) as f:
        side = _json.load(f)
    side["done"] = [os.path.basename(fa)]     # legacy basename key
    side.pop("norm_version", None)
    with open(side_path, "w") as f:
        _json.dump(side, f)

    m2 = iceberg.sync_index(spark, path, idx, cfg)
    assert m2["total_docs"] == 40             # NOT re-indexed
    with open(side_path) as f:
        side2 = _json.load(f)
    assert side2["norm_version"] == 2
    assert side2["done"] == [os.path.abspath(fa)]   # migrated key


def test_commit_cas_survives_concurrent_committer(spark, tmp_path):
    """The metadata-version write is an exclusive-create CAS: a
    concurrent commit that already created vN must make ours retry from
    re-read metadata (landing at vN+1) instead of silently overwriting
    — no snapshot is ever lost."""
    path = str(tmp_path / "tbl")
    iceberg.write_table(spark, _mk_df(spark, 20), path)
    t = iceberg.IcebergTable(path)
    n_snaps = len(t.snapshots)

    # simulate the concurrent winner: the next version file appears
    # between our read and our write (content = a valid commit by the
    # other writer; a re-read picks it up via the version glob)
    winner = os.path.join(path, "metadata",
                          f"v{t._next_version()}.metadata.json")
    with open(t.metadata_file) as f:
        other = json.load(f)
    with open(winner, "w") as f:
        json.dump(other, f)

    # direct same-version write must refuse
    with pytest.raises(iceberg.CommitConflictError):
        iceberg._write_metadata(path, other, t._next_version())

    # the public commit path retries past the conflict
    sid = iceberg.write_table(spark, _mk_df(spark, 10, off=20), path)
    t2 = iceberg.IcebergTable(path)
    assert t2.current_snapshot_id == sid
    assert len(t2.snapshots) == n_snaps + 1
    assert sum(f["record_count"] for f in t2.data_files(None)) == 30


def test_sync_inplace_files_same_basename(spark, tmp_path):
    """Done-file tracking for files referenced in place keys on the
    absolute path: two files in different directories sharing a
    basename must both be indexed (a bare-basename key would collapse
    them and silently skip the second)."""
    from tantivy_spark.config import IndexConfig

    path = str(tmp_path / "tbl")
    idx = str(tmp_path / "idx")
    cfg = IndexConfig(n_term_buckets=2)
    d_a, d_b = tmp_path / "a", tmp_path / "b"
    _mk_df(spark, 50).coalesce(1).write.parquet(str(d_a))
    _mk_df(spark, 30, off=50).coalesce(1).write.parquet(str(d_b))
    fa = glob.glob(str(d_a / "*.parquet"))
    fb = glob.glob(str(d_b / "*.parquet"))
    assert len(fa) == len(fb) == 1
    # force the colliding basename
    fa2 = str(d_a / "part-00000.parquet")
    fb2 = str(d_b / "part-00000.parquet")
    os.rename(fa[0], fa2)
    os.rename(fb[0], fb2)

    iceberg.commit_append(path, [fa2])
    m1 = iceberg.sync_index(spark, path, idx, cfg)
    assert m1["total_docs"] == 50
    iceberg.commit_append(path, [fb2])
    m2 = iceberg.sync_index(spark, path, idx, cfg)
    assert m2["total_docs"] == 80        # second file NOT skipped


def test_sync_index_wrong_table_refused(spark, tmp_path):
    from tantivy_spark.config import IndexConfig

    p1, p2 = str(tmp_path / "t1"), str(tmp_path / "t2")
    idx = str(tmp_path / "idx")
    iceberg.write_table(spark, _mk_df(spark, 10), p1)
    iceberg.write_table(spark, _mk_df(spark, 10), p2)
    iceberg.sync_index(spark, p1, idx, IndexConfig(n_term_buckets=2))
    with pytest.raises(ValueError, match="synced to table"):
        iceberg.sync_index(spark, p2, idx, IndexConfig(n_term_buckets=2))


def test_sync_compact_sync_compose(spark, tmp_path):
    """Table-commit syncs interleave with LogMergePolicy-style
    compaction: merged ords are monotonic (max+1), so the sidecar's
    base-ord recovery logic stays sound and later syncs keep appending
    above the compacted segment."""
    from tantivy_spark.config import IndexConfig
    from tantivy_spark.operators.build import build_index_direct
    from tantivy_spark.operators.merge import merge_segments
    from tantivy_spark.operators.search import Searcher
    from tantivy_spark.plans.logical import TermQuery

    path = str(tmp_path / "tbl")
    idx = str(tmp_path / "idx")
    cfg = IndexConfig(n_term_buckets=4)
    iceberg.write_table(spark, _mk_df(spark, 60), path)
    iceberg.sync_index(spark, path, idx, cfg)
    iceberg.write_table(spark, _mk_df(spark, 40, off=60), path)
    iceberg.sync_index(spark, path, idx, cfg)

    m = merge_segments(spark, idx)  # full compaction
    assert len(m["segments"]) == 1
    compact_ord = m["segments"][0]["segment_ord"]

    iceberg.write_table(spark, _mk_df(spark, 30, off=100), path)
    m2 = iceberg.sync_index(spark, path, idx, cfg)
    assert m2["total_docs"] == 130
    new_ords = {s["segment_ord"] for s in m2["segments"]}
    assert compact_ord in new_ords
    assert all(o >= compact_ord for o in new_ords)

    # the synced+compacted+synced index answers like a one-shot build
    full = str(tmp_path / "full")
    build_index_direct(spark, path, full, cfg)

    def hits(i):
        return sorted(
            (r["conv_id"], round(float(r["score"]), 5))
            for r in Searcher(spark, i).search(
                TermQuery("token101"), k=10, mode="daat").collect())

    assert hits(idx) == hits(full)


def test_sync_then_serving_reload(spark, tmp_path):
    """The serving reader's reload() picks up segments appended by an
    iceberg sync — the live-serving loop: table commit -> sync ->
    reload -> new docs visible at interactive latency."""
    from tantivy_spark.config import IndexConfig
    from tantivy_spark.operators.serve import ServingSearcher
    from tantivy_spark.plans.logical import TermQuery

    path = str(tmp_path / "tbl")
    idx = str(tmp_path / "idx")
    cfg = IndexConfig(n_term_buckets=4)
    iceberg.write_table(spark, _mk_df(spark, 40), path)
    iceberg.sync_index(spark, path, idx, cfg)

    srv = ServingSearcher(idx)
    assert len(srv.search(TermQuery("token77"), k=5)) == 0

    iceberg.write_table(spark, _mk_df(spark, 40, off=40), path)
    iceberg.sync_index(spark, path, idx, cfg)
    srv.reload()
    assert len(srv.search(TermQuery("token77"), k=5)) == 1


def test_serving_on_commit_reload_policy(spark, tmp_path):
    """ReloadPolicy::OnCommitWithDelay analogue (src/reader/mod.rs:
    21-30): a reader opened with reload_policy='on_commit' sees a
    sync-appended segment within the configured delay with NO explicit
    reload() call, and tracks delete commits (which don't rewrite the
    manifest) on the same cadence."""
    import time as _time

    from tantivy_spark.config import IndexConfig
    from tantivy_spark.operators.merge import delete_by_address
    from tantivy_spark.operators.serve import ServingSearcher
    from tantivy_spark.plans.logical import TermQuery

    path = str(tmp_path / "tbl")
    idx = str(tmp_path / "idx")
    cfg = IndexConfig(n_term_buckets=4)
    iceberg.write_table(spark, _mk_df(spark, 40), path)
    iceberg.sync_index(spark, path, idx, cfg)

    srv = ServingSearcher(idx, reload_policy="on_commit",
                          reload_delay=0.05)
    assert len(srv.search(TermQuery("token77"), k=5)) == 0
    baseline = srv.count(TermQuery("hello"))
    assert baseline == 40

    # table commit + sync; NO srv.reload() anywhere below
    iceberg.write_table(spark, _mk_df(spark, 40, off=40), path)
    iceberg.sync_index(spark, path, idx, cfg)
    _time.sleep(0.06)                      # > reload_delay
    assert len(srv.search(TermQuery("token77"), k=5)) == 1
    assert srv.count(TermQuery("hello")) == 80

    # a delete commit (no manifest rewrite) is tracked on the cadence
    hit = srv.search(TermQuery("token77"), k=5)
    addr = (int(hit["segment_ord"][0]), int(hit["doc_id"][0]))
    delete_by_address(spark, idx, [addr])
    _time.sleep(0.06)
    assert len(srv.search(TermQuery("token77"), k=5)) == 0

    # manual policy (the default) stays pinned
    srv2 = ServingSearcher(idx)
    iceberg.write_table(spark, _mk_df(spark, 10, off=80), path)
    iceberg.sync_index(spark, path, idx, cfg)
    _time.sleep(0.06)
    assert srv2.count(TermQuery("hello")) == 79   # 80 - 1 deleted
    srv2.reload()
    assert srv2.count(TermQuery("hello")) == 89

    with pytest.raises(ValueError, match="reload_policy"):
        ServingSearcher(idx, reload_policy="bogus")


def test_sync_index_inherits_and_guards_config(spark, tmp_path):
    from tantivy_spark.config import IndexConfig

    path = str(tmp_path / "tbl")
    idx = str(tmp_path / "idx")
    iceberg.write_table(spark, _mk_df(spark, 20), path)
    iceberg.sync_index(spark, path, idx,
                       IndexConfig(n_term_buckets=2, positions=True))
    iceberg.write_table(spark, _mk_df(spark, 20, off=20), path)
    # cfg omitted: inherited from the index's recorded config
    m = iceberg.sync_index(spark, path, idx)
    assert m["total_docs"] == 40
    assert m["config"]["positions"] is True
    # a conflicting cfg is refused, not silently mixed
    with pytest.raises(ValueError, match="recorded config"):
        iceberg.sync_index(spark, path, idx,
                           IndexConfig(n_term_buckets=8))


def test_sync_survives_table_move(spark, tmp_path):
    """Sync identity is the table's uuid and done-files are tracked by
    table-relative path, so a moved/copied table keeps syncing
    incrementally instead of re-indexing (or refusing)."""
    from tantivy_spark.config import IndexConfig

    path = str(tmp_path / "tbl")
    idx = str(tmp_path / "idx")
    iceberg.write_table(spark, _mk_df(spark, 30), path)
    iceberg.sync_index(spark, path, idx, IndexConfig(n_term_buckets=2))

    moved = str(tmp_path / "tbl_moved")
    os.rename(path, moved)
    iceberg.write_table(spark, _mk_df(spark, 20, off=30), moved)
    m = iceberg.sync_index(spark, moved, idx)
    assert m["total_docs"] == 50
    # idempotent after the move too
    m2 = iceberg.sync_index(spark, moved, idx)
    assert {s["segment_ord"] for s in m2["segments"]} == \
        {s["segment_ord"] for s in m["segments"]}


def test_expire_snapshots(spark, tmp_path):
    """Expiration keeps the table readable at the retained snapshot,
    forgets the expired ones, and deletes only files no retained
    snapshot references (append-only: data files stay, old
    manifest-lists go)."""
    path = str(tmp_path / "tbl")
    iceberg.write_table(spark, _mk_df(spark, 30), path)
    iceberg.write_table(spark, _mk_df(spark, 20, off=30), path)
    s3 = iceberg.write_table(spark, _mk_df(spark, 10, off=50), path)
    t0 = iceberg.IcebergTable(path)
    old_mlists = [t0._local(s["manifest-list"]) for s in t0.snapshots[:-1]]

    out = iceberg.expire_snapshots(path, keep_last=1)
    assert out["expired"] == 2
    assert set(old_mlists) <= set(out["deleted_files"])
    for p in old_mlists:
        assert not os.path.exists(p)

    t = iceberg.IcebergTable(path)
    assert [s["snapshot-id"] for s in t.snapshots] == [s3]
    assert "parent-snapshot-id" not in t.snapshots[0]
    assert iceberg.read_table(spark, path).count() == 60  # data intact
    with pytest.raises(ValueError, match="snapshot"):
        t.data_files(1)  # expired id no longer resolvable
    # idempotent
    assert iceberg.expire_snapshots(path, keep_last=1)["expired"] == 0
