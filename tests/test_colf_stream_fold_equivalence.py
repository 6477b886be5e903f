"""Pins the INCREMENTAL streaming log fold (round-11 post-gate change,
round-12 verdict item #2): `ColfStreamReader._log_entries` folds the
log's raw delta entries in one forward pass — O(commits + files) per
latestOffset poll — relying on the invariant that a PUBLISHED delta
entry's `base` is the previous published version by construction
(staged/branch commits never become a published entry's base). These
tests build every history shape that could break that invariant —
appends, a staged WAP commit, a branch commit, a data_change=False
compaction, a vacuum prune (self-contained rewrite), post-vacuum
appends — and assert the incremental fold yields the byte-identical
(version, new-files) expansion basis as the reference fold over the
FULLY MATERIALIZED history (`published_snapshots(load_snapshots(p))`).

Log-layer unit tests — no Spark session."""

import os

from pyspark.sql.types import StructType

from columnar_format_spark.colf.datasource import (
    ColfStreamReader,
    commit_snapshot,
    load_snapshots,
    published_snapshots,
    write_snapshots,
)


def _entries(p):
    return ColfStreamReader({"path": p}, StructType([]))._log_entries()


def _reference_entries(p):
    """(version, sorted new basenames) per PUBLISHED snapshot, diffing
    each materialized live set against the previous one — the
    reference the incremental fold must match. A data_change=False
    commit (a reorganizing rewrite) delivers nothing, except as the
    first retained commit, which is the replay basis and delivers its
    full set."""
    out = []
    prev: set[str] = set()
    for s in published_snapshots(load_snapshots(p)):
        cur = set(s["files"])
        if s.get("data_change") is False and prev:
            out.append((s["version"], []))
        else:
            out.append((s["version"], sorted(cur - prev)))
        prev = cur
    return out


def _reference_offset_files(p, off):
    """The file set a cursor offset {"v", "k"} expands to over the
    reference fold: every new file of earlier versions plus the first
    k of version v."""
    files: set[str] = set()
    for ver, new in _reference_entries(p):
        if ver < off["v"]:
            files.update(new)
        elif ver == off["v"]:
            files.update(new[:off["k"]])
    return files


def _assert_folds_agree(p, tag):
    inc = _entries(p)
    ref = _reference_entries(p)
    assert inc == ref, f"{tag}: incremental fold diverged\n{inc}\nvs\n{ref}"
    return inc


def _build_history(p):
    os.makedirs(p)
    commit_snapshot(p, ["a.colf"])                                  # v1
    commit_snapshot(p, ["a.colf", "b.colf"], expected_parent=1)     # v2
    # staged WAP commit: invisible to streams until published
    commit_snapshot(p, ["a.colf", "b.colf", "w.colf"], staged=True,
                    added=["w.colf"])                               # v3
    # branch commit: same isolation
    commit_snapshot(p, ["a.colf", "b.colf", "br.colf"],
                    branch="dev")                                   # v4
    # published append AFTER the staged/branch commits — its delta
    # base must be v2, not v3/v4
    commit_snapshot(p, ["a.colf", "b.colf", "c.colf"])              # v5
    # compaction: data_change=False, files reorganized
    commit_snapshot(p, ["ab.colf", "c.colf"], data_change=False)    # v6
    commit_snapshot(p, ["ab.colf", "c.colf", "d.colf"])             # v7


def test_incremental_fold_matches_legacy_on_mixed_history(tmp_path):
    p = str(tmp_path / "ds")
    _build_history(p)
    got = _assert_folds_agree(p, "mixed")
    # and both match the hand-derived expansion basis: staged/branch
    # excluded, the compaction's reorganized files NOT re-delivered
    assert got == [
        (1, ["a.colf"]),
        (2, ["b.colf"]),
        (5, ["c.colf"]),
        (6, []),
        (7, ["d.colf"]),
    ]


def test_incremental_fold_matches_legacy_after_vacuum(tmp_path):
    """write_snapshots' prune rewrites kept entries SELF-CONTAINED —
    the fold's `"files" in e` branch — and the first retained commit
    becomes the replay basis (its full set delivers, even for a
    data_change=False compaction)."""
    p = str(tmp_path / "ds")
    _build_history(p)
    # vacuum down to v6 (the data_change=False compaction) + v7:
    # the baseline exception must deliver v6's full reorganized set
    snaps = [s for s in load_snapshots(p) if s["version"] >= 6]
    write_snapshots(p, snaps)
    got = _assert_folds_agree(p, "vacuumed")
    assert got == [
        (6, ["ab.colf", "c.colf"]),
        (7, ["d.colf"]),
    ]
    # appends after the vacuum go back to delta entries on top of the
    # self-contained rewrite — the mixed self-contained/delta walk
    commit_snapshot(p, ["ab.colf", "c.colf", "d.colf", "e.colf"],
                    expected_parent=7)                              # v8
    commit_snapshot(p, ["ab.colf", "c.colf", "d.colf", "e.colf"],
                    staged=True, added=["w2.colf"])                 # v9
    commit_snapshot(p, ["ab.colf", "c.colf", "d.colf", "e.colf",
                        "f.colf"])                                  # v10
    got = _assert_folds_agree(p, "post-vacuum-appends")
    assert got[-2:] == [(8, ["e.colf"]), (10, ["f.colf"])]


def test_incremental_fold_matches_legacy_long_checkpointed_log(tmp_path):
    """A log long enough to cross checkpoint boundaries (every 20
    commits), with a staged commit and a compaction in the middle —
    the incremental fold never consults checkpoints, the full
    materialization does; they must still agree."""
    p = str(tmp_path / "ds")
    os.makedirs(p)
    live = []
    for i in range(1, 46):
        if i == 17:
            commit_snapshot(p, live + [f"w{i}.colf"], staged=True,
                            added=[f"w{i}.colf"])
            continue
        if i == 30:
            live = [f"compact-{i}.colf"]
            commit_snapshot(p, live, data_change=False)
            continue
        live = live + [f"p{i:03d}.colf"]
        commit_snapshot(p, live)
    got = _assert_folds_agree(p, "long")
    assert len(got) == 44  # 45 commits, one staged
    assert (30, []) in got
    # cursor expansion parity: the offset-to-file-set expansion the
    # reader derives from its fold must match the reference expansion
    r = ColfStreamReader({"path": p}, StructType([]))
    off = {"v": 31, "k": 1}
    assert r._offset_files(off) == _reference_offset_files(p, off)
