"""COLF metadata-log snapshots: every writer commit is an immutable
version; ``option("snapshot", N)`` time-travels; retained compaction
keeps history readable; vacuum reclaims expired part files.

(The reference has no dataset/versioning concept — single file,
SURVEY.md §1.1; this layer is engine infrastructure over the same
on-disk format: part files stay byte-identical version-1 COLF, the
log is a sidecar JSON.)
"""

import os

import pytest
from pyspark.sql import functions as F

from columnar_format_spark.colf.datasource import (
    dataset_files,
    load_snapshots,
)
from columnar_format_spark.colf.format import ColfFormatError
from columnar_format_spark.colf.maintenance import compact, vacuum


@pytest.fixture(scope="module")
def colf_spark(spark):
    from columnar_format_spark.colf.datasource import register

    register(spark)
    return spark


def _ints(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").cast("int").alias("v"))


def _read(spark, path, snapshot=None):
    r = spark.read.format("colf")
    if snapshot is not None:
        r = r.option("snapshot", str(snapshot))
    return r.load(path)


def _vals(df):
    return sorted(r.v for r in df.collect())


def test_append_commits_are_versions(colf_spark, tmp_path):
    path = str(tmp_path / "ds")
    _ints(colf_spark, 0, 10).coalesce(1).write.format("colf") \
        .mode("overwrite").save(path)
    _ints(colf_spark, 10, 15).coalesce(1).write.format("colf") \
        .mode("append").save(path)
    snaps = load_snapshots(path)
    assert [s["version"] for s in snaps] == [1, 2]
    assert _vals(_read(colf_spark, path, snapshot=1)) == list(range(10))
    assert _vals(_read(colf_spark, path, snapshot=2)) == list(range(15))
    assert _vals(_read(colf_spark, path)) == list(range(15))  # latest


def test_overwrite_resets_history(colf_spark, tmp_path):
    path = str(tmp_path / "ds")
    _ints(colf_spark, 0, 5).coalesce(1).write.format("colf") \
        .mode("overwrite").save(path)
    _ints(colf_spark, 5, 8).coalesce(1).write.format("colf") \
        .mode("append").save(path)
    _ints(colf_spark, 100, 103).coalesce(1).write.format("colf") \
        .mode("overwrite").save(path)
    snaps = load_snapshots(path)
    assert [s["version"] for s in snaps] == [1]  # fresh history
    assert _vals(_read(colf_spark, path)) == [100, 101, 102]


def test_retained_compaction_keeps_old_version_readable(colf_spark, tmp_path):
    path = str(tmp_path / "ds")
    _ints(colf_spark, 0, 20).repartition(4).write.format("colf") \
        .mode("overwrite").save(path)
    before = _vals(_read(colf_spark, path))
    n_live = compact(colf_spark, path, 2, retain=True)
    assert n_live == 2
    snaps = load_snapshots(path)
    assert [s["version"] for s in snaps] == [1, 2]
    assert len(snaps[-1]["files"]) == 2
    # live read = compacted files only, same rows
    assert _vals(_read(colf_spark, path)) == before
    # the pre-compaction version still reads from the retained files
    assert _vals(_read(colf_spark, path, snapshot=1)) == before
    # old part files still on disk (4 old + 2 compacted)
    assert len(dataset_files(path)) == 6


def test_vacuum_reclaims_expired_versions(colf_spark, tmp_path):
    path = str(tmp_path / "ds")
    _ints(colf_spark, 0, 20).repartition(4).write.format("colf") \
        .mode("overwrite").save(path)
    compact(colf_spark, path, 2, retain=True)
    deleted = vacuum(path, keep_last=1)
    assert len(deleted) == 4  # the pre-compaction part files
    assert len(dataset_files(path)) == 2
    assert [s["version"] for s in load_snapshots(path)] == [2]
    assert _vals(_read(colf_spark, path)) == list(range(20))
    # the expired version now fails loudly, not silently partially
    with pytest.raises(Exception) as ei:
        _read(colf_spark, path, snapshot=1).collect()
    assert "snapshot 1" in str(ei.value)


def test_missing_snapshot_is_a_clean_error(colf_spark, tmp_path):
    path = str(tmp_path / "ds")
    _ints(colf_spark, 0, 3).coalesce(1).write.format("colf") \
        .mode("overwrite").save(path)
    with pytest.raises(Exception) as ei:
        _read(colf_spark, path, snapshot=99).collect()
    assert "snapshot 99" in str(ei.value)


def test_listing_fallback_for_reference_written_dirs(colf_spark, tmp_path):
    """Dirs without a metadata log (reference writer, hand-assembled)
    read by directory listing, exactly as before the snapshot layer."""
    from columnar_format_spark.colf.format import ColfColumn, ColfSchema, write_colf

    path = str(tmp_path / "refdir")
    os.makedirs(path)
    write_colf(os.path.join(path, "a.colf"),
               ColfSchema(2, [ColfColumn("v", "int32", False)]), {"v": [1, 2]})
    write_colf(os.path.join(path, "b.colf"),
               ColfSchema(1, [ColfColumn("v", "int32", False)]), {"v": [3]})
    assert load_snapshots(path) == []
    assert _vals(_read(colf_spark, path)) == [1, 2, 3]


def test_stream_sink_commits_advance_the_log(colf_spark, tmp_path):
    """Each micro-batch commit of the COLF stream sink is a
    time-travel-able version for batch readers."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _ints(colf_spark, 0, 6).coalesce(1).write.format("colf") \
        .mode("overwrite").save(src)
    q = (
        colf_spark.readStream.format("colf").load(src)
        .writeStream.format("colf")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    snaps = load_snapshots(out)
    assert snaps, "stream sink must commit metadata-log versions"
    assert _vals(_read(colf_spark, out)) == list(range(6))


def test_incremental_read_between_versions(colf_spark, tmp_path):
    """incrementalFrom plans only files added after the given version;
    unknown versions fail loudly."""
    path = str(tmp_path / "ds")
    _ints(colf_spark, 0, 10).coalesce(1).write.format("colf") \
        .mode("overwrite").save(path)
    _ints(colf_spark, 10, 15).coalesce(1).write.format("colf") \
        .mode("append").save(path)
    _ints(colf_spark, 15, 18).coalesce(1).write.format("colf") \
        .mode("append").save(path)
    inc = colf_spark.read.format("colf").option("incrementalFrom", "1").load(path)
    assert _vals(inc) == list(range(10, 18))
    inc12 = (colf_spark.read.format("colf")
             .option("incrementalFrom", "1").option("snapshot", "2").load(path))
    assert _vals(inc12) == list(range(10, 15))
    # already-current consumer gets an empty increment
    inc33 = (colf_spark.read.format("colf")
             .option("incrementalFrom", "3").load(path))
    assert _vals(inc33) == []
    with pytest.raises(Exception) as ei:
        colf_spark.read.format("colf").option("incrementalFrom", "9") \
            .load(path).collect()
    assert "incrementalFrom version 9" in str(ei.value)


def test_corrupt_log_raises_not_listing_fallback(colf_spark, tmp_path):
    """A PRESENT but unparseable metadata log must raise: after a
    retained compaction the directory listing is a superset of the
    live set, so silently degrading to listing semantics would
    double-count rows."""
    from columnar_format_spark.colf.datasource import log_dir

    path = str(tmp_path / "ds")
    _ints(colf_spark, 0, 20).repartition(4).write.format("colf") \
        .mode("overwrite").save(path)
    compact(colf_spark, path, 2, retain=True)
    # corrupt one committed v2 log entry in place — an OUT-OF-BAND
    # mutation (no dir-mtime bump), so clear the process caches to
    # model the fresh reader that encounters the torn file (the warm
    # cache legitimately keeps serving the pre-corruption log)
    from columnar_format_spark.colf.datasource import (_HEAD_CACHE,
                                                       _LOG_RAW_CACHE)

    entries = sorted(n for n in os.listdir(log_dir(path))
                     if n.endswith(".json") and ".ckpt" not in n)
    with open(os.path.join(log_dir(path), entries[0]), "w") as f:
        f.write("{not json")
    _LOG_RAW_CACHE.clear()
    _HEAD_CACHE.clear()
    with pytest.raises(ColfFormatError, match="corrupt metadata log"):
        load_snapshots(path)
    with pytest.raises(Exception, match="corrupt metadata log"):
        _read(colf_spark, path).collect()


def test_corrupt_legacy_log_raises_too(colf_spark, tmp_path):
    """A logless dir holding the retired v1 log (`_snapshots.json`) is
    refused on read and on write: the v1 log is no longer read, and
    the directory listing is no stand-in for it."""
    import json
    import shutil

    from columnar_format_spark.colf.datasource import log_dir

    path = str(tmp_path / "ds")
    _ints(colf_spark, 0, 20).repartition(2).write.format("colf") \
        .mode("overwrite").save(path)
    live = sorted(os.path.basename(f) for f in dataset_files(path))
    shutil.rmtree(log_dir(path))
    with open(os.path.join(path, "_snapshots.json"), "w") as f:
        json.dump([{"version": 1, "files": live}], f)
    with pytest.raises(ColfFormatError, match="no longer read"):
        load_snapshots(path)
    with pytest.raises(Exception, match="no longer read"):
        _read(colf_spark, path).collect()
    with pytest.raises(Exception, match="no longer read"):
        _ints(colf_spark, 20, 25).write.format("colf") \
            .mode("append").save(path)
    with pytest.raises(Exception, match="no longer read"):
        _ints(colf_spark, 20, 25).write.format("colf") \
            .mode("overwrite").save(path)
    # the refused writes committed nothing and wrote no log
    assert not os.path.isdir(log_dir(path))
    # beside a _log/, a _snapshots.json is never read at all
    path2 = str(tmp_path / "ds2")
    _ints(colf_spark, 0, 3).coalesce(1).write.format("colf") \
        .mode("overwrite").save(path2)
    with open(os.path.join(path2, "_snapshots.json"), "w") as f:
        f.write("{not json")
    _ints(colf_spark, 3, 5).coalesce(1).write.format("colf") \
        .mode("append").save(path2)
    assert [s["version"] for s in load_snapshots(path2)] == [1, 2]
    assert _vals(_read(colf_spark, path2)) == list(range(5))


def test_concurrent_commit_cas_detects_lost_update(tmp_path):
    """commit_snapshot with expected_parent must refuse when another
    writer committed in between — the lost-update scenario where the
    last write would silently drop the other append's files."""
    from columnar_format_spark.colf.datasource import commit_snapshot

    path = str(tmp_path / "ds")
    os.makedirs(path)
    v1 = commit_snapshot(path, ["a.colf"], expected_parent=None)
    assert v1 == 1
    # writer A reads the log (parent=1), writer B commits v2 first
    commit_snapshot(path, ["a.colf", "b.colf"], expected_parent=1)
    with pytest.raises(ColfFormatError, match="concurrent commit"):
        commit_snapshot(path, ["a.colf", "c.colf"], expected_parent=1)
    # retry after re-reading the live set succeeds
    v3 = commit_snapshot(path, ["a.colf", "b.colf", "c.colf"],
                         expected_parent=2)
    assert v3 == 3


def test_vacuum_spares_files_newer_than_the_log(colf_spark, tmp_path):
    """An unreferenced part file written AFTER the latest snapshot is
    in-flight uncommitted work, not garbage — vacuum must skip it."""
    import time

    from columnar_format_spark.colf.datasource import log_mtime
    from columnar_format_spark.colf.format import (
        ColfColumn, ColfSchema, write_colf)

    path = str(tmp_path / "ds")
    _ints(colf_spark, 0, 20).repartition(4).write.format("colf") \
        .mode("overwrite").save(path)
    compact(colf_spark, path, 2, retain=True)
    # make the committed part files strictly older than the log (the
    # test runs sub-second; real writes precede their commit), then
    # drop an uncommitted (unreferenced) file — newer than the log
    past = time.time() - 60
    for f in dataset_files(path):
        os.utime(f, (past, past))
    assert log_mtime(path) > past
    inflight = os.path.join(path, "part-inflight.colf")
    write_colf(inflight, ColfSchema(1, [ColfColumn("v", "int32", False)]),
               {"v": [99]})
    deleted = vacuum(path, keep_last=1)
    assert "part-inflight.colf" not in deleted
    assert os.path.exists(inflight)
    assert len(deleted) == 4  # only the expired pre-compaction files


def test_cli_snapshots_flags_partial_row_counts(colf_spark, tmp_path, capsys):
    """A version mixing manifested and unmanifested files must report
    num_rows=null (a partial sum is indistinguishable from a total)
    with counted_files showing the coverage."""
    import json as _json

    from columnar_format_spark.colf.cli import main as cli_main
    from columnar_format_spark.colf.datasource import (
        commit_snapshot, load_snapshots)
    from columnar_format_spark.colf.format import (
        ColfColumn, ColfSchema, write_colf)

    path = str(tmp_path / "ds")
    _ints(colf_spark, 0, 10).coalesce(1).write.format("colf") \
        .mode("overwrite").save(path)
    # drop in a reference-writer-style file (no manifest entry) and
    # commit it into the live set
    extra = os.path.join(path, "ref-extra.colf")
    write_colf(extra, ColfSchema(2, [ColfColumn("v", "int32", False)]),
               {"v": [100, 101]})
    live = load_snapshots(path)[-1]["files"] + ["ref-extra.colf"]
    commit_snapshot(path, live, expected_parent=1)
    assert cli_main(["snapshots", path]) == 0
    out = _json.loads(capsys.readouterr().out)
    assert out[0]["num_rows"] == 10 and out[0]["counted_files"] == 1
    assert out[1]["num_rows"] is None  # partial — not a fake total
    assert out[1]["counted_files"] == 1 and out[1]["n_files"] == 2


def test_vacuum_age_based_retention(colf_spark, tmp_path):
    """older_than_s keeps every snapshot younger than the bound even
    past keep_last; an aged-out history collapses to keep_last; legacy
    entries without a commit timestamp only expire via keep_last."""
    import json as _json

    from pyspark.sql import functions as F

    from columnar_format_spark.colf.datasource import (load_snapshots,
                                                       write_snapshots)
    from columnar_format_spark.colf.maintenance import vacuum

    p = str(tmp_path / "ageds")
    for i, mode in enumerate(["overwrite", "append", "append", "append"]):
        (colf_spark.range(i * 10, i * 10 + 10)
         .select(F.col("id").cast("int").alias("k"))
         .coalesce(1).write.format("colf").mode(mode).save(p))
    assert len(load_snapshots(p)) == 4
    # everything committed seconds ago: a 1-hour bound keeps all 4
    assert vacuum(p, keep_last=1, older_than_s=3600) == []
    assert len(load_snapshots(p)) == 4
    # age the first three snapshots artificially, keep the newest young
    snaps = load_snapshots(p)
    for s in snaps[:3]:
        s["ts"] = s["ts"] - 7200
    write_snapshots(p, snaps)
    vacuum(p, keep_last=1, older_than_s=3600)
    assert [s["version"] for s in load_snapshots(p)] == [4]
    assert colf_spark.read.format("colf").load(p).count() == 40
    # legacy entries (no ts): age bound never expires them
    snaps = load_snapshots(p)
    (colf_spark.range(100, 105).select(F.col("id").cast("int").alias("k"))
     .coalesce(1).write.format("colf").mode("append").save(p))
    snaps = load_snapshots(p)
    for s in snaps:
        s.pop("ts", None)
    write_snapshots(p, snaps)
    vacuum(p, keep_last=2, older_than_s=1)
    assert len(load_snapshots(p)) == 2  # keep_last floor, not age


def test_vacuum_cli(colf_spark, tmp_path, capsys):
    import json as _json

    from pyspark.sql import functions as F

    from columnar_format_spark.colf.cli import main as cli_main
    from columnar_format_spark.colf.maintenance import compact

    p = str(tmp_path / "vcli")
    for mode in ("overwrite", "append"):
        (colf_spark.range(50).select(F.col("id").cast("int").alias("k"))
         .coalesce(1).write.format("colf").mode(mode).save(p))
    compact(colf_spark, p, 1, retain=True)
    assert cli_main(["vacuum", p, "1"]) == 0
    out = _json.loads(capsys.readouterr().out)
    assert len(out["deleted_files"]) == 2  # both pre-compaction files
    assert colf_spark.read.format("colf").load(p).count() == 100


def test_remove_orphan_files_contract(colf_spark, tmp_path):
    """Iceberg remove_orphan_files: sweeps unreferenced crash
    artifacts past the grace period without expiring any snapshot —
    history-only files, staged/WAP files and recent orphans all
    survive."""
    import shutil
    import time

    from columnar_format_spark.colf.maintenance import remove_orphan_files

    path = str(tmp_path / "ds")
    _ints(colf_spark, 0, 20).repartition(4).write.format("colf") \
        .mode("overwrite").save(path)
    compact(colf_spark, path, 2, retain=True)  # v1 files history-only
    # a WAP-staged append: outside the published lineage, still pinned
    _ints(colf_spark, 100, 105).coalesce(1).write.format("colf") \
        .option("wap", "true").mode("append").save(path)

    old_t = time.time() - 7200
    live = sorted(f for f in os.listdir(path) if f.endswith(".colf"))
    orphan = os.path.join(path, "part-crashed.colf")
    shutil.copy2(os.path.join(path, live[0]), orphan)
    os.utime(orphan, (old_t, old_t))
    recent = os.path.join(path, "part-recent.colf")
    shutil.copy2(os.path.join(path, live[0]), recent)
    scratch = path + ".rdel-beef0000"
    os.makedirs(scratch)
    os.utime(scratch, (old_t, old_t))

    from columnar_format_spark.colf.datasource import log_fingerprint

    log0 = log_fingerprint(path)
    assert set(remove_orphan_files(path, older_than_s=3600,
                                   dry_run=True)) == \
        {"part-crashed.colf", os.path.basename(scratch)}
    assert os.path.exists(orphan)  # dry run deletes nothing
    assert set(remove_orphan_files(path, older_than_s=3600)) == \
        {"part-crashed.colf", os.path.basename(scratch)}
    assert not os.path.exists(orphan) and not os.path.isdir(scratch)
    assert os.path.exists(recent)  # grace period
    assert log_fingerprint(path) == log0  # zero snapshots expired
    # v1 (history-only files) and the staged files all still read
    assert _vals(_read(colf_spark, path, snapshot=1)) == list(range(20))
    assert _vals(_read(colf_spark, path)) == list(range(20))
    staged_v = load_snapshots(path)[-1]["version"]
    assert sorted(_vals(_read(colf_spark, path, snapshot=staged_v))) == \
        list(range(20)) + list(range(100, 105))


def test_remove_orphan_files_logless_is_noop(colf_spark, tmp_path):
    """Without a metadata log the directory listing IS the live set —
    nothing can be an orphan."""
    import shutil

    from columnar_format_spark.colf.datasource import log_dir
    from columnar_format_spark.colf.maintenance import remove_orphan_files

    path = str(tmp_path / "ds")
    _ints(colf_spark, 0, 5).coalesce(1).write.format("colf") \
        .mode("overwrite").save(path)
    shutil.rmtree(log_dir(path))
    assert remove_orphan_files(path, older_than_s=0) == []
    assert _vals(_read(colf_spark, path)) == list(range(5))


def test_metadata_tables(colf_spark, tmp_path):
    """files/snapshots/refs metadata tables reflect the manifest and
    log exactly; manifest-less (reference-writer-style) files fall
    back to reading n_rows from the COLF header."""
    from columnar_format_spark.colf.maintenance import (
        create_tag, metadata_table)

    path = str(tmp_path / "ds")
    _ints(colf_spark, 0, 20).repartition(2).write.format("colf") \
        .mode("overwrite").save(path)
    _ints(colf_spark, 20, 25).coalesce(1).write.format("colf") \
        .mode("append").save(path)
    create_tag(path, "t1", version=1)

    snaps = metadata_table(colf_spark, path, "snapshots").collect()
    assert [(r.version, r.n_files) for r in snaps] == [(1, 2), (2, 3)]
    assert all(r.ts is not None and not r.staged for r in snaps)
    files = metadata_table(colf_spark, path, "files").collect()
    assert sorted(r.first_version for r in files) == [1, 1, 2]
    assert sum(r.n_rows for r in files) == 25
    assert all(r.size_bytes > 0 and r.n_columns == 1 for r in files)
    refs = metadata_table(colf_spark, path, "refs").collect()
    assert [(r.name, r.version) for r in refs] == [("t1", 1)]

    # manifest-less fallback: n_rows read from the file header
    import shutil

    from columnar_format_spark.colf.datasource import MANIFEST_DIR_NAME

    shutil.rmtree(os.path.join(path, MANIFEST_DIR_NAME))
    files2 = metadata_table(colf_spark, path, "files").collect()
    assert sum(r.n_rows for r in files2) == 25

    with pytest.raises(ValueError, match="unknown metadata table"):
        metadata_table(colf_spark, path, "manifests")


def test_binpack_selective_and_noop(colf_spark, tmp_path):
    """binpack coalesces only sub-threshold files in one retained
    commit; fewer than two candidates is a no-op."""
    from columnar_format_spark.colf.maintenance import binpack

    path = str(tmp_path / "ds")
    _ints(colf_spark, 0, 5000).coalesce(1).write.format("colf") \
        .mode("overwrite").save(path)
    for lo in (5000, 5010, 5020):
        _ints(colf_spark, lo, lo + 10).coalesce(1).write.format("colf") \
            .mode("append").save(path)
    sizes = sorted(os.path.getsize(f) for f in dataset_files(path))
    thr = (sizes[-2] + sizes[-1]) // 2  # 3 small + 1 big

    stats = binpack(colf_spark, path, smaller_than=thr)
    assert stats["n_candidates"] == 3 and stats["n_outputs"] == 1
    assert stats["n_live_after"] == 2
    assert sorted(_vals(_read(colf_spark, path))) == list(range(5030))
    # old versions still read; binpack commit is data_change=false
    snaps = load_snapshots(path)
    assert snaps[-1]["data_change"] is False
    assert sorted(_vals(_read(colf_spark, path, snapshot=4))) == \
        list(range(5030))
    # one surviving small-ish packed file + the big one: no-op now
    stats2 = binpack(colf_spark, path, smaller_than=thr)
    assert {k: stats2[k] for k in
            ("n_candidates", "n_outputs", "n_live_after", "version")} \
        == {"n_candidates": 1, "n_outputs": 0,
            "n_live_after": 2, "version": None}
    # with no explicit target the output sizing comes from the live
    # set's established file sizes (round-11 stats-driven planning)
    assert stats2["target_from"] == "stats-median-live"


def test_ndv_sketches_metadata_only(colf_spark, tmp_path):
    """Per-file KMV sketches merge to table NDV from metadata alone,
    stay maintained through append + CoW delete + compaction, and go
    exact below k."""
    from columnar_format_spark.colf.maintenance import (
        delete_where, table_ndv)

    path = str(tmp_path / "ds")
    df = colf_spark.range(0, 3000).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") % 7).cast("int").alias("small"))
    (df.repartitionByRange(3, "k").write.format("colf")
     .option("ndvColumns", "k,small").option("ndvK", "256")
     .mode("overwrite").save(path))

    nd = table_ndv(path)
    assert nd["small"] == {"estimate": 7.0, "exact": True, "rsd": 0.0}
    assert not nd["k"]["exact"]
    assert abs(nd["k"]["estimate"] - 3000) / 3000 < 5 * nd["k"]["rsd"]

    # append with sketches: merge covers both commits
    (colf_spark.range(3000, 4000).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") % 7).cast("int").alias("small"))
     .coalesce(1).write.format("colf")
     .option("ndvColumns", "k,small").option("ndvK", "256")
     .mode("append").save(path))
    assert abs(table_ndv(path)["k"]["estimate"] - 4000) / 4000 < 0.16

    # CoW delete + compact: rewrites re-sketch automatically
    delete_where(colf_spark, path, "k < 2000")
    compact(colf_spark, path, 2, retain=True)
    nd2 = table_ndv(path, columns=["k"])
    assert abs(nd2["k"]["estimate"] - 2000) / 2000 < 0.16

    # a live file without sketches poisons the merge: loud refusal
    colf_spark.range(0, 5).select(
        F.col("id").cast("int").alias("k"),
        F.lit(0).alias("small")).coalesce(1) \
        .write.format("colf").mode("append").save(path)
    with pytest.raises(ValueError, match="lack sketches"):
        table_ndv(path)


def test_timestamp_as_of(colf_spark, tmp_path):
    """option timestampAsOf resolves to the latest published snapshot
    at or before the instant (epoch or ISO, UTC); before-the-first
    raises; mutually exclusive with snapshot/ref."""
    import datetime

    path = str(tmp_path / "ds")
    _ints(colf_spark, 0, 10).coalesce(1).write.format("colf") \
        .mode("overwrite").save(path)
    _ints(colf_spark, 10, 20).coalesce(1).write.format("colf") \
        .mode("append").save(path)
    # pin commit times to known instants (v1 @1000, v2 @2000)
    from columnar_format_spark.colf.datasource import (load_snapshots as
                                                       _loads, write_snapshots)

    snaps = _loads(path)
    for s, ts in zip(snaps, (1000.0, 2000.0)):
        s["ts"] = ts
    write_snapshots(path, snaps)

    def read_at(ts):
        return colf_spark.read.format("colf") \
            .option("timestampAsOf", ts).load(path)

    assert read_at("1500").count() == 10    # between commits -> v1
    assert read_at("2000").count() == 20    # boundary inclusive -> v2
    assert read_at("999999999").count() == 20
    iso = datetime.datetime.fromtimestamp(
        1999, datetime.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
    assert read_at(iso).count() == 10
    with pytest.raises(Exception, match="no published snapshot"):
        read_at("999").count()
    with pytest.raises(Exception, match="mutually exclusive"):
        colf_spark.read.format("colf").option("snapshot", "1") \
            .option("timestampAsOf", "2000").load(path).count()
    with pytest.raises(Exception, match="neither epoch"):
        read_at("not-a-time").count()


def test_vacuum_dry_run(colf_spark, tmp_path):
    """vacuum(dry_run=True) reports the reclaimable set and touches
    nothing — files, manifest, and log all intact."""
    from columnar_format_spark.colf.datasource import log_fingerprint

    path = str(tmp_path / "ds")
    _ints(colf_spark, 0, 20).repartition(4).write.format("colf") \
        .mode("overwrite").save(path)
    compact(colf_spark, path, 2, retain=True)
    log0 = log_fingerprint(path)
    would = vacuum(path, keep_last=1, dry_run=True)
    assert len(would) == 4
    assert len(dataset_files(path)) == 6  # nothing deleted
    assert log_fingerprint(path) == log0  # log not pruned
    assert vacuum(path, keep_last=1) == would  # real run matches
    assert len(dataset_files(path)) == 2


def test_binpack_skips_fully_masked_sentinel(colf_spark, tmp_path):
    """Candidates whose rows are ALL MoR-masked produce the writer's
    0-row sentinel in the scratch dir; binpack must not move it in as
    a junk live file."""
    from columnar_format_spark.colf.maintenance import binpack, delete_where

    path = str(tmp_path / "ds")
    _ints(colf_spark, 0, 5000).coalesce(1).write.format("colf") \
        .mode("overwrite").save(path)
    for lo in (5000, 5010):
        _ints(colf_spark, lo, lo + 10).coalesce(1).write.format("colf") \
            .mode("append").save(path)
    delete_where(colf_spark, path, "v >= 5000", mode="mor")
    sizes = sorted(os.path.getsize(f) for f in dataset_files(path)
                   if not f.endswith(".colfd"))
    thr = (sizes[-2] + sizes[-1]) // 2

    stats = binpack(colf_spark, path, smaller_than=thr)
    assert stats["n_candidates"] == 2
    assert stats["n_outputs"] == 0  # all candidate rows were masked
    assert stats["n_live_after"] == 1
    live = [os.path.basename(f) for f in dataset_files(path)]
    assert not any("empty" in b for b in
                   load_snapshots(path)[-1]["files"]), live
    assert sorted(_vals(_read(colf_spark, path))) == list(range(5000))
