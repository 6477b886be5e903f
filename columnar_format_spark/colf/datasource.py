"""PySpark Python DataSource exposing COLF as ``spark.read.format("colf")``
/ ``df.write.format("colf")``.

A COLF *dataset* is either a single ``.colf`` file or a directory of
``part-*.colf`` files (the format has one block per column and no row
groups — reader.py:184-188 semantics — so a single file is not
splittable; the directory convention is what makes the format usable
at scale: one InputPartition per file, one file per Spark write task).

Read path:
- ``schema()`` parses the header of the first file (O(header), no
  column blocks touched).
- ``read(partition)`` yields ONE pyarrow RecordBatch per file —
  Arrow-vectorized decode, zero-copy into the JVM.
- Option ``columns`` ("a,b,c") performs the reference's selective
  read at the I/O layer: only those blocks are seeked + decompressed
  (reader.py:165-192). Spark's ColumnPruning handles the logical
  projection either way; this option additionally avoids the disk
  reads, which is the format's whole point. (The 4.1 Python DataSource
  API has no column-pruning pushdown hook — SURVEY.md §4.3.)

Write path:
- one ``part-NNNNN-<uuid>.colf`` per Spark partition, byte-compatible
  with the reference reader (cross-implementation round-trip tested in
  tests/test_colf_reference_compat.py).
- ``mode("overwrite")`` clears previous dataset files on commit.

Spark type mapping (SURVEY.md §1.2): IntegerType↔int32,
DoubleType↔float64, StringType↔utf8. Writes of other types require an
explicit cast upstream — rejected with a clear error, mirroring the
format's 3-type domain (writer.py:17-19).
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .format import (
    SUPPORTED_VERSIONS,
    VERSION_V3,
    ColfColumn,
    ColfFormatError,
    ColfSchema,
    file_version,
    read_columns_arrow,
    read_schema,
    read_stripes_info,
    write_colf,
    write_colf_arrow,
    write_colf_arrow_v3,
)

SPARK_TO_COLF = {"int": "int32", "double": "float64", "string": "utf8"}
FILE_COLUMN = "_colf_file"  # virtual column, option withFileColumn=true
POS_COLUMN = "_colf_pos"  # virtual column, option withPosColumn=true:
# the row's ordinal within its part file BEFORE any delete/filter mask
# — the coordinate system position-delete files address
DELETE_SUFFIX = ".colfd"  # position-delete sidecar files (Iceberg v2
# position deletes): regular COLF files [file utf8, pos int32] whose
# extension keeps them out of the data-file listing
COLF_TO_SPARK = {"int32": IntegerType(), "float64": DoubleType(), "utf8": StringType()}


def dataset_files(path: str) -> list[str]:
    """List the .colf files of a dataset path (file or directory)."""
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".colf")
        )
    return [path]


def colf_to_spark_schema(schema: ColfSchema) -> StructType:
    return StructType([
        StructField(c.name, COLF_TO_SPARK[c.type], c.nullable) for c in schema.columns
    ])


def spark_to_colf_columns(schema: StructType) -> list[ColfColumn]:
    cols = []
    for f in schema.fields:
        t = SPARK_TO_COLF.get(f.dataType.simpleString())
        if t is None:
            raise ColfFormatError(
                f"COLF supports int32/float64/utf8 only; cast column "
                f"'{f.name}' ({f.dataType.simpleString()}) to int/double/string first")
        cols.append(ColfColumn(f.name, t, f.nullable))
    return cols




def _local_path(p):
    """Normalize a Spark-supplied path option to a local filesystem
    path: the SQL surface (CREATE TABLE ... USING colf OPTIONS (path
    ...)) hands the source a qualified file: URI, while the DataFrame
    API passes the raw string. (A real deployment would dispatch other
    schemes to a filesystem abstraction; this engine is
    local/NFS-posix by contract.)"""
    if p and p.startswith("file:"):
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(p).path)
    return p


@dataclass
class ColfInputPartition(InputPartition):
    file: str
    stripe: int | None = None  # v3 striped files: one partition/stripe
    # position-delete sidecar basenames that MAY address this file
    # (pruned at plan time by the sidecars' own file-column zone maps);
    # the task reads them and masks the deleted ordinals out
    deletes: tuple = ()
    # equality-delete predicate groups applying to this file (each a
    # tuple of serialized filter specs — AND within a group, any group
    # matching masks the row); already sequence-filtered at plan time
    eq: tuple = ()
    # field-ID schema-evolution resolution, when the dataset records a
    # table schema: (fields tuple of (id, name, type), name_mapping
    # tuple of (historical name, id)) — None for pre-evolution
    # datasets (the by-name fast path)
    evo: tuple | None = None


# ---------------------------------------------------------------------------
# Metadata log: a DIRECTORY of per-commit files.
#
#   _log/v000000000007.json        one commit. Either SELF-CONTAINED
#                                  ("files": [...]) or a DELTA against
#                                  an earlier version ("base": 5,
#                                  "files_add"/"files_remove", and
#                                  "deletes_add"/"deletes_remove" for
#                                  the position-delete sidecar list).
#                                  All other snapshot keys (spec, sort,
#                                  table_schema, eq_deletes, branch,
#                                  staged, ...) are stored verbatim —
#                                  they are small.
#   _log/v000000000020.ckpt.jz     DERIVED checkpoint: the fully
#                                  materialized entry for that version,
#                                  written every LOG_CHECKPOINT_EVERY
#                                  commits so head/single-version reads
#                                  fold a bounded number of deltas
#                                  (Delta's checkpoint.parquet role).
#
# A commit writes ONE small delta file — O(the commit's own
# added/removed files), independent of table size — and the file's
# O_EXCL publication doubles as the cross-process version CAS (the
# Iceberg manifest-list / Delta checkpointed delta-log model).
# `load_snapshots` reconstructs the self-contained entry list, so
# every consumer (time travel, CDC, vacuum, branches, WAP) sees whole
# snapshots. A directory without `_log/` has no log: its live set is
# the directory listing (reference-writer output, hand-made dirs).
# ---------------------------------------------------------------------------

LOG_DIR_NAME = "_log"
LOG_CHECKPOINT_EVERY = 20


def log_dir(dataset_dir: str) -> str:
    return os.path.join(dataset_dir, LOG_DIR_NAME)


def _log_entry_name(version: int, ckpt: bool = False) -> str:
    # checkpoints carry the FULL live-file list — the one O(table)
    # member of the log — so they are zlib-compressed JSON (`.jz`,
    # the Iceberg manifest-list / Delta checkpoint.parquet role in
    # miniature). Commit entries stay plain JSON: they are O(commit)
    # small and debuggability-by-cat matters more than bytes there.
    return f"v{version:012d}" + (".ckpt.jz" if ckpt else ".json")


_LOG_ENTRY_RE = None


def _parse_log_name(name: str):
    """(version, is_ckpt) for a _log/ member (`v<N>.json` commit entry
    or `v<N>.ckpt.jz` checkpoint), else None — tmp files and any other
    name are not log members."""
    global _LOG_ENTRY_RE
    if _LOG_ENTRY_RE is None:
        import re

        _LOG_ENTRY_RE = re.compile(r"^v(\d{12})(\.json|\.ckpt\.jz)$")
    m = _LOG_ENTRY_RE.match(name)
    if m is None:
        return None
    return (int(m.group(1)), m.group(2) == ".ckpt.jz")


# process-level raw-log cache: the log is MANY small files, and the
# driver loads the log several times per plan (schema, partitions,
# writer bootstrap) — at 10^4 commits that is 10^4 opens per call
# without this. Keyed by the _log dir's (mtime_ns, ino): every commit
# and vacuum rewrite creates/renames/removes members IN the dir,
# bumping its mtime. Entries are treated as immutable by all
# callers (materialization copies every container it hands out).
_LOG_RAW_CACHE: dict[str, tuple] = {}


def _log_raw_cache_hit(path: str):
    """(raw, ckpt) when the process cache holds a CURRENT copy of the
    path's log, else None — lets head reads choose the bounded
    cold path (_head_snapshot_cold) instead of forcing the O(commits)
    full read a cache miss would trigger."""
    d = log_dir(path)
    try:
        st = os.stat(d)
    except OSError:
        return None
    hit = _LOG_RAW_CACHE.get(os.path.realpath(path))
    if hit is not None and hit[0] == (st.st_mtime_ns, st.st_ino):
        return hit[1], hit[2]
    return None


def _read_log_raw_cached(path: str) -> tuple[dict, dict]:
    hit = _log_raw_cache_hit(path)
    if hit is not None:
        return hit
    d = log_dir(path)
    try:
        st = os.stat(d)
        key = (st.st_mtime_ns, st.st_ino)
    except OSError:
        return _read_log_raw(path)
    raw, ckpt = _read_log_raw(path)
    _log_raw_cache_put(os.path.realpath(path), (key, raw, ckpt))
    return raw, ckpt


def _log_raw_cache_put(rp: str, item: tuple) -> None:
    """Bounded insert: pop-before-put so re-caching a hot dataset
    moves it to the BACK of the eviction order (LRU-by-write — a
    plain dict update keeps original insertion order, so a hot,
    frequently-updated dataset could be evicted as 'oldest'; round-12
    verdict nit #2), then evict the front until under the cap — a
    driver juggling >64 datasets keeps its hot ones warm."""
    _LOG_RAW_CACHE.pop(rp, None)
    while len(_LOG_RAW_CACHE) > 64:
        _LOG_RAW_CACHE.pop(next(iter(_LOG_RAW_CACHE)))
    _LOG_RAW_CACHE[rp] = item


def _encode_log_member(name: str, obj) -> bytes:
    """The on-disk encoding of a _log/ member, decided by its NAME:
    zlib-compressed compact JSON for `.jz` checkpoints, plain JSON
    otherwise — _load_log_member's exact inverse."""
    import json
    import zlib

    blob = json.dumps(obj, separators=(",", ":")).encode("utf-8")
    return zlib.compress(blob) if name.endswith(".jz") else blob


def _load_log_member(full: str) -> dict:
    """Parse one _log/ member by its on-disk encoding: zlib JSON for
    `.jz` (checkpoints), plain JSON otherwise. Raises OSError /
    ValueError on a torn or unreadable member — the caller decides
    whether that is tolerable (derived checkpoints) or corruption
    (commit entries)."""
    import json
    import zlib

    if full.endswith(".jz"):
        with open(full, "rb") as f:
            blob = f.read()
        try:
            blob = zlib.decompress(blob)
        except zlib.error as exc:
            raise ValueError(f"torn compressed member: {exc}") from exc
        return json.loads(blob.decode("utf-8"))
    with open(full) as f:
        return json.load(f)


def _refuse_retired_log(path: str) -> None:
    """Raise when a logless dataset dir holds the single-file
    `_snapshots.json` log of early builds. That log is no longer read,
    and the directory listing is no stand-in for it: after a retained
    compaction the listing is a superset of the live set and would
    double-count rows."""
    if os.path.exists(os.path.join(path, "_snapshots.json")):
        raise ColfFormatError(
            f"{path} holds a v1 metadata log (_snapshots.json) and no "
            f"_log/ dir; the v1 log is no longer read. Convert the "
            f"dataset to the _log/ layout with an earlier build.")


def _read_log_raw(path: str) -> tuple[dict, dict]:
    """({version: raw entry}, {version: checkpoint entry}) from the
    log dir. Raw entries are deltas or self-contained; checkpoints
    are always self-contained. Corrupt members raise — a dataset that
    ever had a log must not silently degrade to directory-listing
    semantics. No `_log/` dir is the defined empty state (a logless
    dir, or one whose log a racing overwrite reset just removed)."""
    d = log_dir(path)
    raw: dict[int, dict] = {}
    ckpt: dict[int, dict] = {}
    try:
        members = sorted(os.listdir(d))
    except (FileNotFoundError, NotADirectoryError):
        _refuse_retired_log(path)
        return raw, ckpt
    for n in members:
        p = _parse_log_name(n)
        if p is None:
            continue
        v, is_ckpt = p
        try:
            e = _load_log_member(os.path.join(d, n))
            if e.get("version") != v:
                raise ValueError(f"entry names version {v} but contains "
                                 f"{e.get('version')}")
        except (OSError, ValueError, KeyError, TypeError) as exc:
            if is_ckpt:
                continue  # checkpoints are derived; ignore a bad one
            raise ColfFormatError(
                f"corrupt metadata log entry at {os.path.join(d, n)}: "
                f"{exc}; refusing to fall back to the directory "
                f"listing. Restore the entry or delete the _log dir "
                f"to explicitly adopt listing semantics.") from exc
        (ckpt if is_ckpt else raw)[v] = e
    return raw, ckpt


def _materialize_entry(v: int, raw: dict, ckpt: dict, memo: dict) -> dict:
    """Reconstruct version ``v``'s self-contained snapshot entry from
    the delta-encoded log. Recursive along each entry's ``base``
    chain with memoization; checkpoints short-circuit the fold."""
    if v == 0:
        return {"files": [], "deletes": [], "eq_deletes": []}
    got = memo.get(v)
    if got is not None:
        return got
    e = raw.get(v)
    if e is None:
        ck = ckpt.get(v)
        if ck is not None:
            # fresh containers: raw/ckpt dicts are process-cached
            out = dict(ck)
            # checkpoint-only key, not part of the committed snapshot
            out.pop("resolved_meta", None)
            for k in ("files", "deletes", "eq_deletes"):
                if k in out:
                    out[k] = list(out[k])
            memo[v] = out
            return out
        raise ColfFormatError(
            f"metadata log references version {v} but no entry file "
            f"exists (interrupted vacuum?); run vacuum again or "
            f"restore the entry")
    if "files" in e:  # self-contained
        # fresh containers: the raw entry may be process-cached and
        # callers (vacuum, tests) mutate top-level keys / lists
        out = dict(e)
        out["files"] = list(e["files"])
        if "deletes" in e:
            out["deletes"] = list(e["deletes"])
        if "eq_deletes" in e:
            out["eq_deletes"] = list(e["eq_deletes"])
    else:
        if v in ckpt:
            # checkpoint shortcut: the ckpt IS this version fully
            # materialized — take all three materialized keys from it
            # (including eq_deletes, which the delta may carry as an
            # eq_inherit marker the ckpt has already resolved)
            out = dict(e)
            for k in ("base", "files_add", "files_remove",
                      "deletes_add", "deletes_remove", "eq_inherit",
                      "deletes", "eq_deletes"):
                out.pop(k, None)
            base_full = ckpt[v]
            out["files"] = list(base_full["files"])
            if base_full.get("deletes"):
                out["deletes"] = list(base_full["deletes"])
            if base_full.get("eq_deletes"):
                out["eq_deletes"] = list(base_full["eq_deletes"])
            memo[v] = out
            return out
        base = _materialize_entry(e.get("base", 0), raw, ckpt, memo)
        out = dict(e)
        files = set(base.get("files") or [])
        files -= set(e.get("files_remove") or [])
        files |= set(e.get("files_add") or [])
        out["files"] = sorted(files)
        dels = set(base.get("deletes") or [])
        dels -= set(e.get("deletes_remove") or [])
        dels |= set(e.get("deletes_add") or [])
        if dels:
            out["deletes"] = sorted(dels)
        else:
            out.pop("deletes", None)
        # eq_deletes are stored verbatim when present (small predicate
        # metadata); "eq_inherit" marks byte-identical inheritance
        if out.pop("eq_inherit", None):
            if base.get("eq_deletes"):
                out["eq_deletes"] = list(base["eq_deletes"])
        for k in ("base", "files_add", "files_remove",
                  "deletes_add", "deletes_remove"):
            out.pop(k, None)
    memo[v] = out
    return out


def load_snapshots(path: str) -> list[dict]:
    """Ascending list of ``{"version": int, "files": [basenames]}``
    commits — the dataset's Iceberg-style metadata log, materialized
    self-contained from the `_log/` deltas. Empty when ABSENT
    (pre-snapshot datasets, reference-writer dirs: directory-listing
    semantics are exactly right there). A PRESENT but unparseable log
    raises instead: after a retained compaction the directory listing
    is a superset of the live set, so silently degrading to listing
    semantics would double-count rows — a dataset that ever had a log
    must not serve reads without it."""
    raw, ckpt = _read_log_raw_cached(path)
    memo: dict = {}
    out = []
    for v in sorted(raw):
        try:
            out.append(_materialize_entry(v, raw, ckpt, memo))
        except ColfFormatError:
            # an entry whose base chain was pruned mid-vacuum:
            # skip it (the kept lineage is rewritten self-contained
            # BEFORE pruned entries are deleted, so only versions
            # being vacuumed can be orphaned)
            if v == max(raw):
                raise  # the head must always materialize
    return out


def load_snapshots_meta(path: str) -> list[dict]:
    """Ascending log entries with METADATA KEYS ONLY — ``files`` (and
    the delete lists) may be ABSENT on delta entries; callers
    needing file lists materialize the specific versions they want
    with ``materialize_log_versions``. This is the O(commits) view
    retention planning (vacuum/compact_log) and head checks read —
    never O(commits x files). READ-ONLY: the dicts are the process
    cache's own objects."""
    raw, _ = _read_log_raw_cached(path)
    return [raw[v] for v in sorted(raw)]


def materialize_log_versions(path: str, versions,
                             skip_broken: bool = False) -> dict[int, dict]:
    """{version: fully-materialized snapshot entry} for the requested
    versions only — one shared memoized fold, so a contiguous tail
    costs one chain walk, not one per version.

    ``skip_broken=True`` drops versions whose base chain was pruned
    mid-vacuum (the same orphan tolerance load_snapshots has, minus
    its head-must-materialize rule, which is the caller's to enforce)
    instead of raising — retention planning and summaries must keep
    working on a dataset whose recovery is 'run vacuum again'."""
    raw, ckpt = _read_log_raw_cached(path)
    memo: dict = {}
    out: dict[int, dict] = {}
    if not raw:
        return out  # logless dir: no versions to materialize
    for v in versions:
        try:
            out[v] = _materialize_entry(v, raw, ckpt, memo)
        except ColfFormatError:
            if not skip_broken:
                raise
    return out


def _delta_encode_entry(entry: dict, base: dict | None) -> dict:
    """The delta form of a self-contained entry against ``base``
    (None = encode self-contained). Round-trips exactly through
    _materialize_entry."""
    if base is None:
        return dict(entry)
    out = {k: v for k, v in entry.items()
           if k not in ("files", "deletes", "eq_deletes")}
    out["base"] = base["version"]
    bfiles = set(base.get("files") or [])
    efiles = set(entry.get("files") or [])
    add = sorted(efiles - bfiles)
    rem = sorted(bfiles - efiles)
    if add:
        out["files_add"] = add
    if rem:
        out["files_remove"] = rem
    bdel = set(base.get("deletes") or [])
    edel = set(entry.get("deletes") or [])
    dadd = sorted(edel - bdel)
    drem = sorted(bdel - edel)
    if dadd:
        out["deletes_add"] = dadd
    if drem:
        out["deletes_remove"] = drem
    eq = entry.get("eq_deletes")
    if eq:
        if eq == base.get("eq_deletes"):
            out["eq_inherit"] = True
        else:
            out["eq_deletes"] = list(eq)
    return out


def _invalidate_log_cache(path: str) -> None:
    """Drop the raw-log cache entry for ``path``. Called by every
    IN-PROCESS log mutation: the cache key (dir mtime_ns) comes from
    the kernel's coarse clock, so two writes inside one tick would
    otherwise leave the key unchanged and serve a stale log to the
    next same-process reader (the commit path computes versions from
    it). Cross-process writers are covered by the mtime key alone —
    their window is one clock tick, and the O_EXCL entry CAS (not the
    cache) still arbitrates versions."""
    rp = os.path.realpath(path)
    _LOG_RAW_CACHE.pop(rp, None)
    _HEAD_CACHE.pop(rp, None)


# materialized-PUBLISHED-HEAD cache, same (mtime_ns, ino) keying and
# invalidation discipline as _LOG_RAW_CACHE. The head is what every
# plan and every commit's base fold needs; rematerializing it from the
# nearest checkpoint is O(checkpoint distance x live files) — ~200 ms
# per commit on a 10^5-file table — while the SEQUENTIAL case (commit
# after commit, plan after commit) can reuse the entry the previous
# commit just built. Entries are treated as immutable; head_snapshot
# hands out copies.
_HEAD_CACHE: dict[str, tuple] = {}


def _log_dir_key(path: str):
    """The (mtime_ns, ino) cache key of the _log dir RIGHT NOW, or
    None when it does not exist."""
    try:
        st = os.stat(log_dir(path))
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_ino)


def _head_cache_get(path: str) -> dict | None:
    key = _log_dir_key(path)
    if key is None:
        return None
    hit = _HEAD_CACHE.get(os.path.realpath(path))
    if hit is not None and hit[0] == key:
        return hit[1]
    return None


def _head_cache_put(path: str, head: dict, key) -> None:
    """Store under a key the CALLER captured BEFORE computing the
    head: a cross-process commit landing mid-compute then simply makes
    the entry stale-keyed (next read recomputes) instead of pinning an
    outdated head under the post-commit key — the stat-before-read
    discipline _read_log_raw_cached follows. The commit path passes a
    key captured right after its own append (its residual window is
    the same one-tick the raw-cache seed documents)."""
    if key is None:
        return
    rp = os.path.realpath(path)
    _HEAD_CACHE.pop(rp, None)   # LRU-by-write, not FIFO (see
    while len(_HEAD_CACHE) > 64:  # _log_raw_cache_put)
        _HEAD_CACHE.pop(next(iter(_HEAD_CACHE)))
    _HEAD_CACHE[rp] = (key, head)


def _copy_snapshot_entry(e: dict) -> dict:
    """Fresh top-level containers for a snapshot entry handed to
    callers (they mutate lists/keys; the caches must not see it)."""
    out = dict(e)
    if "files" in out:
        out["files"] = list(out["files"])
    if "deletes" in out:
        out["deletes"] = list(out["deletes"])
    if "eq_deletes" in out:
        out["eq_deletes"] = list(out["eq_deletes"])
    return out


# the four CARRIED-metadata slots (each with vacuum's carry-forward
# twin): the current_* getters resolve each by a newest-first scan of
# published entries. Checkpoints store the scan's result as-of their
# version under "resolved_meta" (round-12 verdict item #3) so a COLD
# getter reads O(entries since the newest checkpoint), not the raw log.
_META_SLOTS = (("spec", "inherited_spec"),
               ("sort", "inherited_sort"),
               ("cluster", "inherited_cluster"),
               ("table_schema", "inherited_table_schema"))


def _resolve_meta_slots(entries_desc) -> dict:
    """{slot: value} over published entries NEWEST-FIRST — exactly the
    per-slot reverse scan the current_* getters run, so a checkpoint's
    stored result and a full-log scan can never disagree. Slots never
    recorded are absent (≠ recorded-as-empty)."""
    rm: dict = {}
    for e in entries_desc:
        if e.get("staged") or e.get("branch") is not None:
            continue
        for slot, inh in _META_SLOTS:
            if slot in rm:
                continue
            if slot in e:
                rm[slot] = e[slot]
            elif inh in e:
                rm[slot] = e[inh]
        if len(rm) == len(_META_SLOTS):
            break
    return rm


def _write_log_member(path: str, name: str, obj, excl: bool) -> None:
    import uuid as _uuid

    d = log_dir(path)
    os.makedirs(d, exist_ok=True)
    _invalidate_log_cache(path)
    target = os.path.join(d, name)
    if excl:
        # Atomic publish + CAS: write the full JSON to a hidden tmp
        # (its name never matches _parse_log_name, so readers skip it),
        # then hard-link it to the published name. link(2) fails with
        # FileExistsError exactly like O_CREAT|O_EXCL — the Iceberg
        # HadoopTableOperations rename-claim — but, unlike creating the
        # published name and THEN dumping into it, a lock-free reader
        # listing _log/ mid-commit can never see an empty/partial entry
        # (which _read_log_raw must treat as corruption), and a writer
        # crash mid-dump leaves only an ignorable tmp, never a torn
        # head entry that poisons every subsequent read.
        tmp = os.path.join(d, ".tmp-" + _uuid.uuid4().hex)
        try:
            with open(tmp, "wb") as f:
                f.write(_encode_log_member(name, obj))
            os.link(tmp, target)
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass
    else:
        tmp = target + ".tmp-" + _uuid.uuid4().hex[:8]
        with open(tmp, "wb") as f:
            f.write(_encode_log_member(name, obj))
        os.rename(tmp, target)


def _append_sharded_entry(path: str, base: dict | None,
                          entry: dict, reset: bool,
                          cache_seed: tuple | None = None) -> None:
    """The commit: ONE O(commit-delta) entry file, O_EXCL-created
    (doubling as the cross-process version CAS), plus a periodic
    derived checkpoint. ``base`` is the entry's MATERIALIZED lineage
    parent (None for reset / first commit) — the caller computes it
    with a head-only fold, so the commit path never materializes the
    whole history.

    ``cache_seed`` is the (raw, ckpt) pair the caller's version
    computation read: after a successful append the raw-log cache is
    refreshed IN PLACE with the new entry, so a commit-heavy workload
    pays O(1) cache maintenance per commit instead of a full
    O(commits) re-read on its next log access. The residual window
    (another process committing between our write and the dir stat)
    is the documented one-tick staleness the mtime key already had —
    and a commit retry recovers via the failed-CAS invalidation."""
    if reset:
        import shutil

        d = log_dir(path)
        if os.path.isdir(d):
            shutil.rmtree(d, ignore_errors=True)
        _invalidate_log_cache(path)
        base = None
        cache_seed = ({}, {})
    version = entry["version"]
    delta = _delta_encode_entry(entry, base)
    try:
        _write_log_member(path, _log_entry_name(version), delta,
                          excl=True)
    except FileExistsError:
        # drop the raw-log cache BEFORE surfacing the conflict: if the
        # competing writer is another PROCESS that landed two commits
        # within one dir-mtime tick, this process's cache key still
        # matches and would keep serving the stale log — every retry
        # would recompute the same already-claimed version and wedge
        # on this error forever. Invalidating here guarantees the
        # caller's "re-read the live set" sees the competing commit.
        _invalidate_log_cache(path)
        raise ColfFormatError(
            f"concurrent commit detected at {path}: version {version} "
            f"is already claimed by another writer. The metadata log "
            f"is single-writer; re-read the live set and retry the "
            f"commit.") from None
    is_ckpt_commit = version % LOG_CHECKPOINT_EVERY == 0
    ckpt_obj = None
    if is_ckpt_commit:
        # derived, non-atomic-with-commit: a crash here just means the
        # next reader folds a few more deltas
        ckpt_obj = dict(entry)
        if cache_seed is not None:
            # resolve the carried-metadata slots INTO the checkpoint
            # (only when the full pre-commit log is in hand — a
            # partial scan would record a WRONG "never recorded"):
            # cold current_* getters then stop here instead of
            # reverse-scanning every raw entry
            raw_seed = cache_seed[0]
            ckpt_obj["resolved_meta"] = _resolve_meta_slots(
                [entry] + [raw_seed[v]
                           for v in sorted(raw_seed, reverse=True)
                           if v < version])
        _write_log_member(path, _log_entry_name(version, ckpt=True),
                          ckpt_obj, excl=False)
    if cache_seed is not None:
        new_raw = dict(cache_seed[0])
        new_raw[version] = delta
        new_ckpt = cache_seed[1]
        if is_ckpt_commit:
            new_ckpt = dict(new_ckpt)
            new_ckpt[version] = ckpt_obj
        try:
            st = os.stat(log_dir(path))
            _log_raw_cache_put(os.path.realpath(path), (
                (st.st_mtime_ns, st.st_ino), new_raw, new_ckpt))
        except OSError:
            pass


def _delta_encode_history(snaps: list[dict]) -> dict[str, dict]:
    """``{member_name: obj}`` re-encoding a FULL materialized history
    in the delta form, with the SAME base choice as the live commit
    path (published entries base on the previous published version —
    the invariant the streaming incremental fold relies on; staged
    entries base on their parent; branch commits chain per branch).
    The first entry of each chain has no base and stays self-contained
    — the replay basis. A head checkpoint is included so head reads
    stay O(1) folds.

    This keeps the log's AT-REST size O(files + commits), not
    O(commits x files): the pre-round-12 rewrite stored every kept
    entry self-contained, so a vacuum retaining 100 versions of a
    10^5-file table wrote 100 full file lists."""
    snaps = sorted(snaps, key=lambda s: s["version"])
    by_branch: dict = {}
    pub_prev = None
    by_version = {s["version"]: s for s in snaps}
    out: dict[str, dict] = {}
    for s in snaps:
        if s.get("branch") is not None:
            base = by_branch.get(s["branch"])
            if base is None:
                pubs = [p for p in published_snapshots(snaps)
                        if p["version"] < s["version"]]
                base = pubs[-1] if pubs else None
            by_branch[s["branch"]] = s
        elif s.get("staged"):
            base = by_version.get(s.get("parent")) or pub_prev
        else:
            base = pub_prev
            pub_prev = s
        out[_log_entry_name(s["version"])] = _delta_encode_entry(s, base)
    if snaps:
        head = snaps[-1]
        ckpt_obj = dict(head)
        # the kept snaps ARE the full retained history (vacuum's
        # inherited_* carry-forwards included), so the resolved slots
        # here equal a full-log getter scan — same guarantee as the
        # live commit path's checkpoint
        ckpt_obj["resolved_meta"] = _resolve_meta_slots(
            list(reversed(snaps)))
        out[_log_entry_name(head["version"], ckpt=True)] = ckpt_obj
    return out


def write_snapshots(path: str, snaps: list[dict]) -> None:
    """FULL log rewrite (vacuum's prune, tests). The kept entries are
    rewritten in ASCENDING version order as delta entries over kept
    bases (oldest self-contained), then entries outside the kept set
    are deleted — at every intermediate state each entry's base chain
    resolves (a new entry's base is an already-rewritten kept entry;
    an old entry's base is a pruned entry that still exists until the
    delete phase), so a crash mid-way leaves extra readable versions
    for the next vacuum, never a broken chain."""
    import time as _time

    keep_data = _delta_encode_history(snaps)
    d = log_dir(path)
    os.makedirs(d, exist_ok=True)
    for name, obj in keep_data.items():
        _write_log_member(path, name, obj, excl=False)
    for n in os.listdir(d):
        full = os.path.join(d, n)
        if ".tmp-" in n:
            # a crashed writer's leftover — but ONLY past a grace
            # period: the dataset lock is in-process, so another
            # PROCESS may be mid-atomic-publish right now, and
            # sweeping its seconds-old tmp would fail its os.link
            # with an un-retryable FileNotFoundError
            try:
                if _time.time() - os.path.getmtime(full) > 3600:
                    os.remove(full)
            except OSError:
                pass
            continue
        if _parse_log_name(n) is not None and n not in keep_data:
            try:
                os.remove(full)
            except OSError:
                pass
    _invalidate_log_cache(path)


def log_mtime(path: str) -> float:
    """Last-modified time of the metadata log (its newest member) —
    vacuum's age anchor."""
    d = log_dir(path)
    return max(os.path.getmtime(os.path.join(d, n))
               for n in os.listdir(d)
               if _parse_log_name(n) is not None)


def log_fingerprint(path: str) -> bytes:
    """Digest of the raw committed log bytes (every non-checkpoint
    member in name order) — 'the log did not change' assertions."""
    import hashlib

    h = hashlib.sha256()
    d = log_dir(path)
    for n in sorted(os.listdir(d)):
        p = _parse_log_name(n)
        if p is None or p[1]:
            continue
        h.update(n.encode())
        with open(os.path.join(d, n), "rb") as fh:
            h.update(fh.read())
    return h.digest()


_COMMIT_LOCKS: dict[str, object] = {}
_COMMIT_LOCKS_GUARD = None  # initialized lazily to keep import cheap


def dataset_commit_lock(path: str):
    """Per-dataset in-process mutex serializing the metadata log's
    read-check-write. Spark local[*] drives concurrent writers as
    THREADS of one driver process (each Spark write task commits from
    the driver-side Python data source), so an in-process lock makes
    the optimistic ``expected_parent`` check atomic for every writer
    this process hosts; the O_EXCL log-entry publication
    (_append_sharded_entry) extends the guarantee across processes."""
    import threading

    global _COMMIT_LOCKS_GUARD
    if _COMMIT_LOCKS_GUARD is None:
        _COMMIT_LOCKS_GUARD = threading.Lock()
    key = os.path.realpath(path)
    with _COMMIT_LOCKS_GUARD:
        return _COMMIT_LOCKS.setdefault(key, threading.Lock())


REFS_NAME = "_refs.json"


def refs_path(dataset_dir: str) -> str:
    return os.path.join(dataset_dir, REFS_NAME)


def load_refs(path: str) -> dict:
    """Named snapshot refs (Iceberg table refs): ``{name: {"version":
    int, "type": "tag"}}``. Tags are immutable pointers into the
    metadata log — vacuum retains the snapshots (and files) they pin,
    so a tagged version stays readable past any retention horizon."""
    import json

    rp = refs_path(path)
    if not os.path.isdir(path) or not os.path.exists(rp):
        return {}
    try:
        with open(rp) as f:
            return json.load(f)
    except (OSError, ValueError) as exc:
        raise ColfFormatError(f"corrupt refs sidecar at {rp}: {exc}") from exc


def write_refs(path: str, refs: dict) -> None:
    import json
    import uuid

    # uuid-suffixed tmp (like _merge_manifest_sidecar): a FIXED .tmp
    # name lets two processes interleave open/rename and publish a
    # torn file; unique names make the rename the only shared step.
    tmp = refs_path(path) + ".tmp-" + uuid.uuid4().hex
    with open(tmp, "w") as f:
        json.dump(refs, f)
    os.rename(tmp, refs_path(path))


CONSTRAINTS_NAME = "_constraints.json"


def constraints_path(dataset_dir: str) -> str:
    return os.path.join(dataset_dir, CONSTRAINTS_NAME)


def load_constraints(path: str) -> dict:
    """Table CHECK constraints (Delta's ALTER TABLE ADD CONSTRAINT
    model): ``{name: sql_condition}``. A current-state sidecar like
    refs — constraints gate future WRITES, never reads, so they have
    no place in time-travel semantics (and they survive vacuum and
    overwrite the way Delta's do: dropping one is an explicit
    maintenance.drop_constraint)."""
    import json

    cp = constraints_path(path)
    if not os.path.isdir(path) or not os.path.exists(cp):
        return {}
    try:
        with open(cp) as f:
            return json.load(f)
    except (OSError, ValueError) as exc:
        raise ColfFormatError(
            f"corrupt constraints sidecar at {cp}: {exc}") from exc


def write_constraints(path: str, constraints: dict) -> None:
    import json
    import uuid

    # uuid-suffixed tmp — same cross-process interleave fix as
    # write_refs / _merge_manifest_sidecar.
    tmp = constraints_path(path) + ".tmp-" + uuid.uuid4().hex
    with open(tmp, "w") as f:
        json.dump(constraints, f)
    os.rename(tmp, constraints_path(path))


def published_snapshots(snaps: list[dict]) -> list[dict]:
    """The main-lineage view of the log: every snapshot except staged
    (write-audit-publish) commits and branch commits, which are
    invisible to normal reads and to append inheritance until
    published / fast-forwarded."""
    return [s for s in snaps if not s.get("staged") and not s.get("branch")]


def published_head(path: str) -> dict | None:
    """head_snapshot by its historical name — head-only
    materialization, see head_snapshot (defined later in the module,
    resolved at call time)."""
    return head_snapshot(path)


def commit_snapshot(path: str, live_files: list[str],
                    reset: bool = False,
                    expected_parent: int | None = None,
                    spec: list[str] | None = None,
                    sort: list[str] | None = None,
                    staged: bool = False,
                    added: list[str] | None = None,
                    wap_source: int | None = None,
                    branch: str | None = None,
                    ff_from: str | None = None,
                    cluster: list[str] | None = None,
                    deletes: list[str] | None = None,
                    eq_deletes: list[dict] | None = None,
                    data_change: bool | None = None,
                    table_schema: dict | None = None) -> int:
    """Append a snapshot whose live set is ``live_files`` (basenames);
    ``reset`` starts a fresh history at version 1 (overwrite mode —
    the old part files are physically gone, so old versions would be
    unreadable anyway). Returns the committed version.

    CONCURRENCY: the metadata log is single-writer-per-dataset — the
    same contract as Iceberg's HadoopTableOperations on plain
    filesystems (no atomic CAS primitive). ``expected_parent`` is the
    optimistic-concurrency guard: pass the version the caller's live
    set was computed against, and the commit re-reads the log and
    REFUSES (ColfFormatError) if another writer has committed since —
    turning a silent lost-update (the other append's files dropped
    from the live set, then physically deleted by vacuum) into a loud
    retryable failure. ``expected_parent=None`` skips the check (first
    commit / reset paths).

    The check itself is made ATOMIC two ways: a per-dataset in-process
    lock (all of local[*]'s writers are threads of one driver process)
    and the cross-process ``O_EXCL`` publication of the version's log
    entry (the Iceberg HadoopTableOperations CAS) — without them
    check-then-write interleavings could clobber a concurrent commit
    the check was meant to catch."""
    with dataset_commit_lock(path):
        return _commit_snapshot_locked(
            path, live_files, reset, expected_parent, spec, sort,
            staged, added, wap_source, branch, ff_from, cluster,
            deletes, eq_deletes, data_change, table_schema)


def _commit_snapshot_locked(path, live_files, reset, expected_parent,
                            spec, sort, staged, added, wap_source,
                            branch, ff_from, cluster, deletes,
                            eq_deletes, data_change,
                            table_schema) -> int:
    # Metadata-only view of the log: raw entries (cheap, cached — no
    # file-list materialization; the commit path at 10^4 commits must
    # not fold the whole history). Only the ONE lineage-base entry is
    # materialized, below.
    raw, ckpt = ({}, {}) if reset else _read_log_raw_cached(path)
    meta = [raw[v] for v in sorted(raw)]
    current = meta[-1]["version"] if meta else 0
    if not reset and expected_parent is not None and current != expected_parent:
        raise ColfFormatError(
            f"concurrent commit detected at {path}: expected parent "
            f"version {expected_parent} but log is at {current}. The "
            f"metadata log is single-writer; re-read the live set and "
            f"retry the commit.")
    version = current + 1
    import time as _time

    # commit wall-clock, for AGE-based retention (vacuum older_than_s —
    # Iceberg's expire_snapshots(older_than)); never read by queries
    entry: dict = {"version": version, "files": sorted(set(live_files)),
                   "ts": _time.time()}
    if staged:
        # write-audit-publish: the commit exists in the log (readable
        # via option("snapshot", v) for auditing) but is OUTSIDE the
        # published lineage; "added" records the delta this staged
        # append introduced so publish_wap can cherry-pick it onto
        # whatever the published head is by then (Iceberg WAP)
        pub = published_snapshots(meta)
        entry["staged"] = True
        entry["parent"] = pub[-1]["version"] if pub else 0
        entry["added"] = sorted(set(added or []))
    if wap_source is not None:
        entry["wap_source"] = wap_source  # publish provenance
    if branch is not None:
        # a commit on a named BRANCH lineage: outside the published
        # view (like staged), its delta recorded for fast-forward
        entry["branch"] = branch
        entry["added"] = sorted(set(added or []))
    if branch == "":
        # an empty branch NAME would straddle the two published-ness
        # conventions (`is None` on raw log entries vs falsy on
        # materialized snapshots) — reject it at the one chokepoint
        # instead of letting the ambiguity reach the on-disk log
        raise ColfFormatError(
            "branch name must be non-empty (pass branch=None for a "
            "published commit)")
    if ff_from is not None:
        entry["ff_from"] = ff_from  # fast-forward provenance
    if spec is not None:
        # partition-spec evolution (Iceberg model): the spec is TABLE
        # metadata carried by the snapshot that adopted it; files
        # written under older specs keep their layout and their
        # manifest partition tuples
        entry["spec"] = list(spec)
    if sort is not None:
        entry["sort"] = list(sort)  # recorded sort order (see
        # current_sort_order) — same carry-by-snapshot model as spec
    if cluster is not None:
        entry["cluster"] = list(cluster)  # recorded z-order clustering
    # position-delete sidecars (merge-on-read DML): ``deletes`` lists
    # the .colfd files active for this snapshot's live set. None =
    # INHERIT the parent lineage's list (an append must not resurrect
    # rows a prior MoR delete removed); [] clears explicitly (compact
    # materializes deletes away); a list sets it (the MoR delete
    # commit itself).
    # the lineage BASE entry: same-branch tail for branch commits,
    # else the published head — materialized head-only (one fold, not
    # the whole history). It serves BOTH the delete-state inheritance
    # below and the delta encoding of the appended entry.
    base_entry: dict | None = None
    if not reset and meta:
        lineage = ([s for s in meta if s.get("branch") == branch]
                   if branch is not None else [])
        if not lineage:
            lineage = published_snapshots(meta)
        if lineage:
            base_v = lineage[-1]["version"]
            # the published head is usually cached materialized (the
            # previous commit put it there) — the fold from the
            # nearest checkpoint is the cold fallback
            h = (_head_cache_get(path) if branch is None else None)
            base_entry = (h if h is not None
                          and h.get("version") == base_v
                          else _materialize_entry(base_v, raw, ckpt, {}))
    if (deletes is None or eq_deletes is None) and base_entry is not None:
        if deletes is None:
            deletes = base_entry.get("deletes")
        if eq_deletes is None:
            eq_deletes = base_entry.get("eq_deletes")
    if deletes:
        entry["deletes"] = sorted(set(deletes))
    # EQUALITY deletes (Iceberg v2's other delete flavor): pure
    # predicate metadata ``{"seq": committing version, "filters":
    # [...]}``; a reader masks matching rows in files whose first-
    # appearance version is OLDER than seq (appends after the delete
    # are not masked — sequence-number semantics). Same
    # inherit/set/clear protocol as ``deletes``.
    if eq_deletes:
        entry["eq_deletes"] = list(eq_deletes)
    if data_change is False:
        # Delta's dataChange=false: this commit REORGANIZES files
        # (compact(retain), rewrite_delete_files) without changing the
        # visible rows — streams skip its added files (no re-delivery)
        # and the changelog emits zero rows for it
        entry["data_change"] = False
    if table_schema is not None:
        # field-ID TABLE SCHEMA (Iceberg schema evolution): carried by
        # the snapshot that adopted it, same model as spec/sort —
        # {"fields": [{"id","name","type"}], "name_mapping":
        # {historical name: id}} where the mapping resolves columns of
        # ID-less files (reference-written / pre-evolution)
        entry["table_schema"] = table_schema
    # O(commit) append: one delta entry file; never rewrites the rest
    # of the log
    _append_sharded_entry(path, base_entry, entry, reset,
                          cache_seed=(raw, ckpt))
    # refresh the materialized-head cache: a published commit's entry
    # IS the new head, fully materialized (we just built it); a staged
    # commit leaves the published head at its base. Branch commits
    # just drop the cache (head unchanged but the re-key is not worth
    # special-casing a rare path — the next head read is the bounded
    # cold walk).
    key_now = _log_dir_key(path)
    if not staged and branch is None:
        _head_cache_put(path, entry, key_now)
    elif staged and base_entry is not None:
        _head_cache_put(path, base_entry, key_now)
    return version


_NO_ENTRIES = object()   # _head_snapshot_cold: "no committed entries"


def _head_snapshot_cold(path: str):
    """COLD-cache head read with BOUNDED I/O: one listdir, then opens
    only along the head's base chain — O(staged tail + distance to
    the nearest checkpoint/self-contained entry), never O(commits)
    entry-file opens. This is what a fresh driver process pays on its
    FIRST plan against a long-lived log (10^5 commits would otherwise
    be 10^5 small-file opens before the first byte of data), and it
    deliberately does NOT warm the raw-log cache — full-history
    consumers (time travel, CDC, vacuum) pay their own full read.
    Returns the materialized head dict, None (staged/branch-only
    log), or _NO_ENTRIES (no committed entries)."""
    d = log_dir(path)
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return _NO_ENTRIES
    entry_names: dict[int, str] = {}
    ckpt_names: dict[int, str] = {}
    for n in names:
        p = _parse_log_name(n)
        if p is not None:
            (ckpt_names if p[1] else entry_names)[p[0]] = n
    if not entry_names:
        return _NO_ENTRIES

    def load(v: int, is_ckpt: bool):
        name = (ckpt_names if is_ckpt else entry_names)[v]
        full = os.path.join(d, name)
        try:
            e = _load_log_member(full)
            if e.get("version") != v:
                raise ValueError(f"entry names version {v} but "
                                 f"contains {e.get('version')}")
            return e
        except (OSError, ValueError, KeyError, TypeError) as exc:
            if is_ckpt:
                return None  # derived; a bad one is ignorable
            raise ColfFormatError(
                f"corrupt metadata log entry at {full}: {exc}; "
                f"refusing to fall back to the directory listing. "
                f"Restore the entry or delete the _log dir to "
                f"explicitly adopt listing semantics.") from exc

    raw: dict[int, dict] = {}
    ckpt: dict[int, dict] = {}
    head_v = None
    for v in sorted(entry_names, reverse=True):   # skip the staged tail
        e = load(v, False)
        raw[v] = e
        if not e.get("staged") and e.get("branch") is None:
            head_v = v
            break
    if head_v is None:
        return None
    # prefetch the head's base chain (checkpoint short-circuit), then
    # hand the partial dicts to the one materialization routine
    v = head_v
    while True:
        e = raw[v]
        if "files" in e:
            break
        c = load(v, True) if v in ckpt_names else None
        if c is not None:
            ckpt[v] = c
            break
        b = e.get("base", 0)
        if b == 0:
            break
        if b not in raw:
            if b not in entry_names:
                raise ColfFormatError(
                    f"metadata log references version {b} but no "
                    f"entry file exists (interrupted vacuum?); run "
                    f"vacuum again or restore the entry")
            raw[b] = load(b, False)
        v = b
    return _materialize_entry(head_v, raw, ckpt, {})


def head_snapshot(path: str) -> dict | None:
    """The PUBLISHED head, materialized WITHOUT folding the whole
    history. It walks only the head's ``base`` chain with the
    checkpoint short-circuit — O(distance to the nearest checkpoint or
    self-contained entry), not O(commits x files) — which is what
    every PLAN pays (schema, partitions, writer bootstrap all start
    from the head). With a COLD raw-log cache it further bounds the
    I/O itself (_head_snapshot_cold): opens only the chain's members
    instead of every entry file. None when no published snapshot
    exists (logless dirs, empty/staged-only logs)."""
    if os.path.isdir(path):
        h = _head_cache_get(path)
        if h is not None:
            return _copy_snapshot_entry(h)
        key0 = _log_dir_key(path)   # BEFORE reading (see _head_cache_put)
        cached = _log_raw_cache_hit(path)
        if cached is None and os.path.isdir(log_dir(path)):
            got = _head_snapshot_cold(path)
            if got is not _NO_ENTRIES:
                if got is not None:
                    _head_cache_put(path, got, key0)
                    return _copy_snapshot_entry(got)
                return None
        elif cached is not None and cached[0]:
            raw, ckpt = cached
            pub = [v for v in sorted(raw)
                   if not raw[v].get("staged")
                   and raw[v].get("branch") is None]
            if not pub:
                return None
            got = _materialize_entry(pub[-1], raw, ckpt, {})
            _head_cache_put(path, got, key0)
            return _copy_snapshot_entry(got)
    pub = published_snapshots(load_snapshots(path))
    return pub[-1] if pub else None


def live_files(path: str) -> list[str]:
    """Current live set as full paths: the latest PUBLISHED snapshot
    when the metadata log exists (staged write-audit-publish commits
    are invisible until published), else the directory listing (compat
    with datasets produced by the reference writer or by hand).
    Head-only materialization — never folds the full history."""
    head = head_snapshot(path)
    if head is not None:
        return [os.path.join(path, b) for b in head["files"]]
    # no published snapshot: either no log at all (directory-listing
    # semantics) or a staged/branch-only log — the published table is
    # EMPTY then, never the listing (which would leak staged files)
    has_log = bool(_read_log_raw_cached(path)[0])
    return [] if has_log else dataset_files(path)


def _published_meta_entries(path: str) -> list[dict]:
    """Published-lineage entries with METADATA KEYS ONLY — no
    ``files`` materialization — for the reverse scans of the
    ``current_*`` getters (spec/sort/cluster/table_schema): raw
    entries carry every metadata key verbatim, so at 10^4 commits a
    getter reads the cached raw dicts instead of folding the whole
    file history. READ-ONLY: the returned dicts are the process
    cache's own objects."""
    raw, _ = _read_log_raw_cached(path)
    return [raw[v] for v in sorted(raw)
            if not raw[v].get("staged") and raw[v].get("branch") is None]


_META_COLD_FALLBACK = object()

# memoized cold-walk results: {realpath: (log-dir key, {slot: value})}
# — one walk resolves ALL four slots, so a plan reading spec + sort +
# cluster + schema pays one bounded walk, not four, and repeated cold
# getters on an unchanged log are dict lookups (review finding r13:
# the unmemoized walk re-opened the tail + re-parsed the O(live files)
# checkpoint per call)
_META_COLD_CACHE: dict[str, tuple] = {}


def _meta_slots_cold(path: str):
    """BOUNDED cold read of ALL carried-metadata slots from the log: one listdir, then entry opens newest-first only until a
    checkpoint carrying ``resolved_meta`` — O(entries since that
    checkpoint + staged tail), never O(commits), the
    _head_snapshot_cold discipline for the current_* getters. Like it,
    deliberately does NOT warm the raw-log cache. Returns {slot:
    value-or-None} or _META_COLD_FALLBACK when the walk cannot answer
    cheaply: no committed entries, an unreadable/misnamed member (the
    full read then answers, or raises, the one canonical way), or a
    pre-resolved-checkpoint log where the walk would degrade to
    O(commits) opens — there the single CACHED full read is strictly
    better."""
    d = log_dir(path)
    try:
        names = os.listdir(d)
    except OSError:
        return _META_COLD_FALLBACK
    entry_names: dict[int, str] = {}
    ckpt_names: dict[int, str] = {}
    for n in names:
        p = _parse_log_name(n)
        if p is not None:
            (ckpt_names if p[1] else entry_names)[p[0]] = n
    if not entry_names:
        return _META_COLD_FALLBACK
    out: dict = {}
    walked = 0
    for v in sorted(entry_names, reverse=True):
        walked += 1
        if walked > 2 * LOG_CHECKPOINT_EVERY:
            # no resolved checkpoint in reach (pre-round-13 log):
            # bail to the full cached read instead of opening every
            # entry uncached on every call
            return _META_COLD_FALLBACK
        try:
            e = _load_log_member(os.path.join(d, entry_names[v]))
            if e.get("version") != v:
                raise ValueError("version/filename mismatch")
        except (OSError, ValueError, KeyError, TypeError,
                AttributeError):
            return _META_COLD_FALLBACK  # full read raises canonically
        if not e.get("staged") and e.get("branch") is None:
            for slot, inh in _META_SLOTS:
                if slot not in out:
                    if slot in e:
                        out[slot] = e[slot]
                    elif inh in e:
                        out[slot] = e[inh]
            if len(out) == len(_META_SLOTS):
                return {s: out.get(s) for s, _ in _META_SLOTS}
        if v in ckpt_names:
            # every published entry newer than v was already scanned,
            # so the checkpoint's published-as-of-v resolution fills
            # the remaining slots (staged/branch checkpoints included:
            # their resolved_meta excludes the unpublished entry)
            try:
                c = _load_log_member(os.path.join(d, ckpt_names[v]))
            except (OSError, ValueError):
                c = None  # derived; a bad one just lengthens the walk
            if isinstance(c, dict) and isinstance(
                    c.get("resolved_meta"), dict):
                rm = c["resolved_meta"]
                return {s: out.get(s, rm.get(s)) for s, _ in _META_SLOTS}
    return {s: out.get(s) for s, _ in _META_SLOTS}


def _current_meta_slot(path: str, slot: str, inh: str):
    """Newest PUBLISHED value of one carried-metadata slot. Warm raw
    cache → in-memory reverse scan (unchanged cost); cold log → the
    bounded checkpoint walk, memoized on the log dir's stat key for
    all four slots at once; unreadable members / pre-resolved-
    checkpoint logs → the full cached read."""
    if os.path.isdir(path) and _log_raw_cache_hit(path) is None:
        key = _log_dir_key(path)
        if key is not None:
            rp = os.path.realpath(path)
            hit = _META_COLD_CACHE.get(rp)
            if hit is not None and hit[0] == key:
                return hit[1][slot]
            got = _meta_slots_cold(path)
            if got is not _META_COLD_FALLBACK:
                _META_COLD_CACHE.pop(rp, None)
                while len(_META_COLD_CACHE) > 64:
                    _META_COLD_CACHE.pop(next(iter(_META_COLD_CACHE)))
                _META_COLD_CACHE[rp] = (key, got)
                return got[slot]
    for s in reversed(_published_meta_entries(path)):
        if slot in s:
            return s[slot]
        if inh in s:
            return s[inh]
    return None


def current_partition_spec(path: str) -> list[str] | None:
    """The dataset's RECORDED partition spec: the most recent snapshot
    carrying a ``"spec"`` key (written by overwrites, by appends with
    ``evolvePartitionSpec``, and by ``maintenance.
    evolve_partition_spec``). ``None`` when no snapshot records one —
    legacy datasets, where callers fall back to
    ``inferred_partition_spec``. (``inherited_spec`` is vacuum's
    carry-forward of a spec whose adopting snapshot expired — a
    dedicated key so the snapshot's original committed contents stay
    byte-faithful.)"""
    v = _current_meta_slot(path, "spec", "inherited_spec")
    return list(v) if v is not None else None


def dataset_logical_columns(path: str, files: list[str]):
    """The dataset's LOGICAL columns: the recorded field-ID table
    schema when evolution has run (renames/drops/widening are table
    metadata — DML conditions, assignments, merge schemas, and layout
    validation must resolve against it, never against the files'
    physical names), else the live files' union (the additive model).
    Returns ColfColumn list either way."""
    meta = current_table_schema(path)
    if meta is not None:
        return [ColfColumn(f["name"], f["type"], True, None, f["id"])
                for f in meta["fields"]]
    return dataset_union_columns(path, files)


def current_table_schema(path: str, at_version: int | None = None,
                         snaps: list[dict] | None = None) -> dict | None:
    """The dataset's RECORDED field-ID table schema: the most recent
    published snapshot (<= ``at_version`` when time-traveling) carrying
    a ``"table_schema"`` key — written by the schema-evolution ops
    (maintenance.rename_column / drop_column / widen_column) and kept
    current by appends that add columns. ``None`` for pre-evolution
    datasets, where reads resolve columns by NAME (the union model)."""
    if at_version is None and snaps is None:
        # head schema: the bounded-cold / warm-cache slot read (time
        # travel keeps the full scan — a checkpoint resolves only the
        # newest state)
        return _current_meta_slot(path, "table_schema",
                                  "inherited_table_schema")
    entries = (published_snapshots(snaps) if snaps is not None
               else _published_meta_entries(path))
    for s in reversed(entries):
        if at_version is not None and s["version"] > at_version:
            continue
        if "table_schema" in s:
            return s["table_schema"]
        if "inherited_table_schema" in s:
            return s["inherited_table_schema"]  # vacuum carry-forward
    return None


def inferred_partition_spec(path: str) -> list[str]:
    """Legacy-dataset fallback: the partition columns EVERY live file's
    manifest entry agrees on, else ``[]`` (mixed or unpartitioned) —
    pre-evolution datasets never recorded a spec, so the layout itself
    is the only evidence."""
    man = load_manifest(path)
    cols: tuple | None = None
    for f in live_files(path):
        p = (man.get(os.path.basename(f)) or {}).get("partition")
        if not p:
            return []
        t = tuple(p.keys())
        if cols is None:
            cols = t
        elif cols != t:
            return []
    return list(cols or ())


def effective_partition_spec(path: str) -> list[str]:
    """The spec writes should follow NOW: the recorded spec when one
    exists, else the legacy inference."""
    rec = current_partition_spec(path)
    return rec if rec is not None else inferred_partition_spec(path)


def partition_source_columns(spec: list[str]) -> list[str]:
    """The raw source column behind each spec entry (identity entries
    are their own source) — what maintenance rewrites repartition on:
    co-locating raw values co-locates every derived value."""
    return [t.col for t in parse_partition_transforms(spec)]


def current_sort_order(path: str) -> list[str] | None:
    """The dataset's recorded SORT ORDER (snapshot-log ``"sort"``,
    Iceberg's sort-order metadata): the columns every part file is
    internally ascending-sorted on (nulls last). Performance metadata,
    not identity — it exists so maintenance rewrites RE-SORT instead
    of silently destroying the clustering a reader's stripe pruning
    depends on. ``None`` = never recorded."""
    v = _current_meta_slot(path, "sort", "inherited_sort")
    return list(v) if v is not None else None


def current_clustering(path: str) -> list[str] | None:
    """The dataset's recorded Z-ORDER CLUSTERING (snapshot-log
    ``"cluster"``, Delta OPTIMIZE ZORDER's model): the numeric columns
    whose rank-normalized Morton interleave ``compact()`` re-clusters
    the layout by. Writes land in arrival order (Delta parity: DML
    never re-z-orders); maintenance restores the layout. ``None`` =
    never recorded. Mutually exclusive with the recorded sort order —
    both describe THE layout, so recording one clears the other."""
    v = _current_meta_slot(path, "cluster", "inherited_cluster")
    return list(v) if v is not None else None


# ---------------------------------------------------------------------------
# Sharded per-file-keyed sidecars: the zone-map manifest and the Bloom
# filters, each a dict {file basename: entry}.
#
# Each commit's entries are one immutable SHARD file
# (`_manifests/s-<uuid>.json`, `_blooms/s-<uuid>.json`): an append
# WRITES ONE NEW FILE (no lock, no read-modify-write — entries are
# keyed by immutable uuid data-file basenames, so shards never
# conflict), and readers union every shard. Entry drops (vacuum /
# orphan sweep) rewrite only the shards that contain the dropped
# keys; when the shard count passes SIDECAR_COMPACT_SHARDS the next
# locked operation folds them into one (Iceberg's manifest-rewrite
# role).
# ---------------------------------------------------------------------------

MANIFEST_DIR_NAME = "_manifests"
BLOOMS_DIR_NAME = "_blooms"
SIDECAR_COMPACT_SHARDS = 64


def _shard_dir(path: str, dirname: str) -> str:
    return os.path.join(path, dirname)


def _shard_files(path: str, dirname: str) -> list[str]:
    d = _shard_dir(path, dirname)
    if not os.path.isdir(d):
        return []
    return sorted(os.path.join(d, n) for n in os.listdir(d)
                  if n.startswith("s-") and n.endswith(".json"))


def _load_one_json(fp: str) -> dict:
    import json

    try:
        with open(fp) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}  # corrupt/racing shard → prune nothing, stay correct


# process-level parsed-sidecar cache (round-12 verdict item #1): the
# manifest/bloom union is re-parsed from every shard on each pruning
# plan — at 10^5-file manifests that is tens of MB of JSON per plan.
# Keyed by the full physical state of the family: one (name, mtime_ns,
# size, ino) part per shard. Every
# mutation path changes the key — appends add a part, drops/compaction
# rename-replace shards (fresh inode), resets empty the set — so
# correctness never depends on explicit invalidation. Cached dicts are
# READ-ONLY to callers (load_manifest/load_blooms document this).
_SIDECAR_CACHE: dict[tuple[str, str], tuple] = {}


def _sidecar_key(path: str, dirname: str):
    """The cache key of one sidecar family RIGHT NOW: stat of every
    shard, in shard-name order. None when a shard vanishes mid-stat
    (racing compaction) — the caller then skips the cache for this
    read."""
    parts = []
    for fp in _shard_files(path, dirname):
        try:
            st = os.stat(fp)
        except OSError:
            return None
        parts.append((os.path.basename(fp), st.st_mtime_ns,
                      st.st_size, st.st_ino))
    return tuple(parts)


# total parsed entries the sidecar cache may hold across all
# datasets: the unit the feature is sized in (one manifest entry ≈
# a few hundred bytes parsed), so 2M entries ≈ low hundreds of MB —
# a dataset-count-only cap would let 64 10^5-file manifests pin
# gigabytes (review finding r13)
SIDECAR_CACHE_MAX_ENTRIES = 2_000_000


def _sidecar_cache_put(ck: tuple, key: tuple, value: dict) -> None:
    # pop-before-put: re-caching a hot dataset moves it to the back of
    # the eviction order (LRU-by-write, not FIFO-by-first-insertion —
    # round-12 verdict nit #2); bounded by dataset count AND total
    # parsed entries
    _SIDECAR_CACHE.pop(ck, None)
    total = len(value)
    for _, v in _SIDECAR_CACHE.values():
        total += len(v)
    while _SIDECAR_CACHE and (len(_SIDECAR_CACHE) > 64
                              or total > SIDECAR_CACHE_MAX_ENTRIES):
        _, old = _SIDECAR_CACHE.pop(next(iter(_SIDECAR_CACHE)))
        total -= len(old)
    if len(value) <= SIDECAR_CACHE_MAX_ENTRIES:
        _SIDECAR_CACHE[ck] = (key, value)


def _load_sharded_dict(path: str, dirname: str) -> dict:
    """Union of every shard. Duplicate keys are benign: data files are write-once under
    uuid basenames, so two shards carrying the same key carry the
    same entry (a crashed shard compaction leaves exactly that).
    Process-cached on the family's full stat key; the key is captured
    BEFORE parsing (stat-before-read — a write landing mid-parse makes
    the cached copy stale-keyed, never stale-served). The returned
    dict may be the cache's own object: callers must not mutate it."""
    ck = (os.path.realpath(path), dirname)
    key = _sidecar_key(path, dirname)
    hit = _SIDECAR_CACHE.get(ck)
    if key is not None and hit is not None and hit[0] == key:
        return hit[1]
    out: dict = {}
    for fp in _shard_files(path, dirname):
        out.update(_load_one_json(fp))
    if key is not None:
        _sidecar_cache_put(ck, key, out)
    return out


def _append_sidecar_shard(path: str, dirname: str, entries: dict) -> None:
    """O(commit) sidecar append: one new immutable shard file, no
    lock, no read of existing state. Opportunistically folds shards
    when they pile up (locked; crash-safe because the union is
    idempotent).

    Refreshes the parsed-sidecar cache IN PLACE (old dict + these
    entries) when the post-append key is exactly the cached key plus
    this one new shard — so a commit-heavy DML loop pays O(delta)
    cache maintenance per commit instead of a full O(table) JSON
    re-parse on its next pruning plan. Any other delta (concurrent
    append, drop, compaction) just drops the cache entry."""
    import json

    if not entries:
        return
    d = _shard_dir(path, dirname)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(entries, f)
    shard_name = f"s-{uuid.uuid4().hex}.json"
    os.rename(tmp, os.path.join(d, shard_name))
    ck = (os.path.realpath(path), dirname)
    hit = _SIDECAR_CACHE.pop(ck, None)
    if len(_shard_files(path, dirname)) > SIDECAR_COMPACT_SHARDS:
        _compact_sidecar_shards(path, dirname)
        return
    if hit is None:
        return
    key = _sidecar_key(path, dirname)
    if key is None:
        return
    old_parts, new_parts = set(hit[0]), set(key)
    extra = new_parts - old_parts
    if (old_parts <= new_parts and len(extra) == 1
            and next(iter(extra))[0] == shard_name):
        merged = dict(hit[1])
        merged.update(entries)
        _sidecar_cache_put(ck, key, merged)


def _compact_sidecar_shards(path: str, dirname: str) -> None:
    """Fold all shards into one. Locked; write-then-delete ordering
    keeps every intermediate state a correct union (duplicates carry
    identical entries)."""
    import json

    with dataset_commit_lock(path):
        olds = _shard_files(path, dirname)
        merged = _load_sharded_dict(path, dirname)
        if not merged:
            return
        d = _shard_dir(path, dirname)
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(merged, f)
        os.rename(tmp, os.path.join(d, f"s-{uuid.uuid4().hex}.json"))
        for fp in olds:
            try:
                os.remove(fp)
            except OSError:
                pass


def _drop_sidecar_keys(path: str, dirname: str, keys) -> None:
    """Remove entries from whichever shards hold them — rewrites ONLY
    the affected shards. Locked: concurrent drops/compactions would
    race the rewrite-in-place."""
    import json

    keys = set(keys)
    if not keys:
        return
    with dataset_commit_lock(path):
        for fp in _shard_files(path, dirname):
            cur = _load_one_json(fp)
            if not (keys & set(cur)):
                continue
            for k in keys:
                cur.pop(k, None)
            if cur:
                tmp = fp + ".tmp-" + uuid.uuid4().hex[:8]
                with open(tmp, "w") as f:
                    json.dump(cur, f)
                os.rename(tmp, fp)
            else:
                try:
                    os.remove(fp)
                except OSError:
                    pass


def load_manifest(path: str) -> dict:
    """{file basename: {"num_rows": n, "columns": {name: {"min","max",
    "null_count"}}}} — the union of the `_manifests/` shards. Empty
    when absent (e.g.
    files written by the reference writer dropped into the dataset
    dir). Process-cached: READ-ONLY to callers — copy before
    mutating."""
    if not os.path.isdir(path):
        return {}
    return _load_sharded_dict(path, MANIFEST_DIR_NAME)


def _load_delete_file(fp: str):
    """{data-file basename: sorted unique int64 position array} from
    one position-delete sidecar. The sidecar is itself a COLF file
    ([file utf8, pos int32]) so the decode is the ordinary vectorized
    codec; delete files are write-once under uuid names, so the
    process-level cache never goes stale (same immutability contract
    as Iceberg delete files)."""
    import numpy as np
    import pyarrow as pa

    from .format import read_columns_arrow

    if fp in _DELETE_FILE_CACHE:
        return _DELETE_FILE_CACHE[fp]
    tbl = pa.table(read_columns_arrow(fp, ["file", "pos"]))
    grouped = tbl.group_by("file").aggregate([("pos", "list")])
    out = {f: np.unique(np.asarray(ps, dtype=np.int64))
           for f, ps in zip(grouped["file"].to_pylist(),
                            grouped["pos_list"].to_pylist())}
    while len(_DELETE_FILE_CACHE) > 64:
        # evict oldest-inserted only (sidecars are immutable, so any
        # retained entry stays valid) — a wholesale clear() would
        # throw away 64 warm decodes to admit one
        _DELETE_FILE_CACHE.pop(next(iter(_DELETE_FILE_CACHE)))
    _DELETE_FILE_CACHE[fp] = out
    return out


_DELETE_FILE_CACHE: dict = {}


def deleted_positions(dataset_dir: str, deletes, base: str):
    """Merged deleted-position array for one data file across the
    snapshot's delete sidecars (None = no deletions for that file)."""
    import numpy as np

    arrs = [a for d in deletes
            if (a := _load_delete_file(
                os.path.join(dataset_dir, d)).get(base)) is not None]
    if not arrs:
        return None
    return arrs[0] if len(arrs) == 1 else np.unique(np.concatenate(arrs))


_EQ_FILTER_CLASSES = {
    "EqualTo": EqualTo, "EqualNullSafe": EqualNullSafe,
    "GreaterThan": GreaterThan, "GreaterThanOrEqual": GreaterThanOrEqual,
    "LessThan": LessThan, "LessThanOrEqual": LessThanOrEqual,
    "In": In, "IsNull": IsNull, "IsNotNull": IsNotNull,
    "StringStartsWith": StringStartsWith,
}


def serialize_eq_filters(filters) -> list[dict]:
    """Pushed-Filter conjunction -> JSON-stable specs for the snapshot
    log (equality-delete predicates are TABLE METADATA, so they must
    round-trip bytes-exactly through json)."""
    out = []
    for f in filters:
        spec: dict = {"op": type(f).__name__,
                      "col": getattr(f, "attribute")[0]}
        if isinstance(f, In):
            spec["value"] = list(f.value)
        elif not isinstance(f, (IsNull, IsNotNull)):
            spec["value"] = f.value
        out.append(spec)
    return out


def deserialize_eq_filters(specs) -> list:
    out = []
    for s in specs:
        cls = _EQ_FILTER_CLASSES[s["op"]]
        if cls in (IsNull, IsNotNull):
            out.append(cls((s["col"],)))
        elif cls is In:
            out.append(cls((s["col"],), tuple(s["value"])))
        else:
            out.append(cls((s["col"],), s["value"]))
    return out


def file_first_versions(snaps: list[dict]) -> dict[str, int]:
    """{basename: first log version containing it} — the data file's
    SEQUENCE NUMBER in the Iceberg sense: an equality delete committed
    at version v masks only files first appearing BEFORE v.
    ``inherited_fseq`` entries (vacuum's carry-forward of TRUE first
    versions whose original snapshots expired) take precedence over
    what the pruned log would derive: without them, pruning the log
    would make old files look newer than the deletes that mask them —
    silently resurrecting deleted rows."""
    seq: dict[str, int] = {}
    for s in snaps:  # ascending
        for b, v in (s.get("inherited_fseq") or {}).items():
            seq.setdefault(b, v)
        if s.get("staged") or s.get("branch") is not None:
            # a WAP-staged / branch file's sequence number is assigned
            # at PUBLISH (Iceberg cherry-pick semantics): an equality
            # delete committed between stage and publish must not mask
            # the published rows, so the file first "appears" at the
            # publish_wap / fast_forward commit, not the staging one.
            # Branch-ref readers see branch files with NO seq entry —
            # deliberately unmasked, since branch commits only inherit
            # eq-deletes from the fork point, whose seqs predate the
            # fork and therefore predate every branch-written file.
            continue
        for b in s["files"]:
            seq.setdefault(b, s["version"])
    return seq


def live_file_first_versions(path: str) -> dict[str, int]:
    """``file_first_versions`` computed WITHOUT materializing the
    history: one forward pass over the cached raw entries —
    published deltas' ``files_add`` ARE each version's new files,
    self-contained entries (replay basis, post-vacuum) contribute
    their full list, ``inherited_fseq`` keeps precedence. O(files +
    commits), vs the O(commits x files) full fold."""
    raw, _ = _read_log_raw_cached(path)
    seq: dict[str, int] = {}
    for v in sorted(raw):
        e = raw[v]
        for b, fv in (e.get("inherited_fseq") or {}).items():
            seq.setdefault(b, fv)
        if e.get("staged") or e.get("branch") is not None:
            continue  # sequence numbers assign at publish
        for b in (e["files"] if "files" in e
                  else e.get("files_add") or ()):
            seq.setdefault(b, v)
    return seq


def delete_file_first_versions(path: str) -> dict[str, int]:
    """{position-delete sidecar basename: first log version carrying
    it} — the sidecar analogue of live_file_first_versions, same
    O(commits + sidecars) raw fold (delta entries' ``deletes_add``,
    self-contained entries' full ``deletes`` list). Feeds
    rewrite_delete_files' metadata no-op gate."""
    raw, _ = _read_log_raw_cached(path)
    seq: dict[str, int] = {}
    for v in sorted(raw):
        e = raw[v]
        if e.get("staged") or e.get("branch") is not None:
            continue
        lst = (e.get("deletes") if "files" in e
               else e.get("deletes_add")) or ()
        for d in lst:
            seq.setdefault(d, v)
    return seq


def snapshot_summaries(path: str) -> list[dict]:
    """One SUMMARY dict per log commit — version, ts, n_files,
    n_delete_files, staged, branch, data_change — computed without
    materializing any file list: the counts fold along
    each entry's base chain (len(files_add)/len(files_remove) deltas,
    checkpoint/self-contained short-circuits), so the snapshots
    metadata table over a 10^4-commit, 10^5-file history is an
    O(commits) driver pass, not the O(commits x files) full
    materialization (round-12 verdict item on metadata tables at
    history scale). Full file LISTS for a specific version come from
    ``materialize_log_versions`` on demand."""
    raw, ckpt = _read_log_raw_cached(path)
    counts: dict[int, tuple] = {}

    def count(v: int) -> tuple:
        if v == 0:
            return (0, 0)
        got = counts.get(v)
        if got is not None:
            return got
        e = raw.get(v)
        if e is None:
            raise ColfFormatError(
                f"metadata log references version {v} but no entry "
                f"file exists (interrupted vacuum?); run vacuum again "
                f"or restore the entry")
        if "files" in e:
            c = (len(e["files"]), len(e.get("deletes") or []))
        elif v in ckpt:
            c = (len(ckpt[v]["files"]),
                 len(ckpt[v].get("deletes") or []))
        else:
            bf, bd = count(e.get("base", 0))
            c = (bf - len(e.get("files_remove") or ())
                 + len(e.get("files_add") or ()),
                 bd - len(e.get("deletes_remove") or ())
                 + len(e.get("deletes_add") or ()))
        counts[v] = c
        return c

    out = []
    for v in sorted(raw):
        e = raw[v]
        try:
            nf, nd = count(v)
        except ColfFormatError:
            # orphaned entry (interrupted vacuum pruned its base):
            # load_snapshots skips these too — the head must still
            # count, matching its head-must-materialize rule
            if v == max(raw):
                raise
            continue
        out.append({"version": v, "ts": e.get("ts"), "n_files": nf,
                    "n_delete_files": nd,
                    "staged": bool(e.get("staged")),
                    "branch": e.get("branch"),
                    "data_change": e.get("data_change")})
    return out


def delete_positions_map(path: str, deletes) -> dict:
    """{data-file basename: position array} over a whole snapshot's
    delete list — the driver-side view diff/changelog cancellation
    needs."""
    import numpy as np

    out: dict = {}
    for d in deletes or []:
        for f, a in _load_delete_file(os.path.join(path, d)).items():
            prev = out.get(f)
            out[f] = a if prev is None else np.unique(
                np.concatenate([prev, a]))
    return out


# ---------------------------------------------------------------------------
# Change Data Feed (Delta CDF / Iceberg changelog-scan model): a read
# with ``option("readChangeFeed", "true")`` — batch or stream — emits
# the table's row-level changes per PUBLISHED commit, each row carrying
# ``_change_type`` ('insert' | 'delete'), ``_commit_version``, and
# ``_commit_timestamp``. Unlike Delta, no CDC files are written at DML
# time: every change class this engine commits is METADATA-REPLAYABLE —
#   append / publish_wap / fast_forward  → added files, all inserts;
#   MoR delete / update / merge          → delta position sidecars give
#                                          the exact deleted ordinals
#                                          (plus appended image files);
#   equality delete                      → the predicate itself selects
#                                          the deleted rows among those
#                                          still visible at the parent;
#   compact(retain)/rewrites marked data_change=False → zero rows.
# The one class that is NOT replayable from metadata is an unmarked
# copy-on-write rewrite (CoW delete/update/merge, rollback): exact CDC
# there needs row-level cancellation, which maintenance.
# snapshot_changelog() provides as a batch diff. The changelog read
# REFUSES those commits loudly (or skips them with
# option("skipChangeCommits", "true") — Delta's knob, same name).

CHANGE_TYPE_COLUMN = "_change_type"
COMMIT_VERSION_COLUMN = "_commit_version"
COMMIT_TS_COLUMN = "_commit_timestamp"
CDC_COLUMNS = (CHANGE_TYPE_COLUMN, COMMIT_VERSION_COLUMN, COMMIT_TS_COLUMN)


@dataclass
class ColfChangePartition(InputPartition):
    file: str
    version: int                 # commit version → _commit_version
    ts: float | None             # commit epoch-seconds → _commit_timestamp
    change: str                  # 'insert' | 'delete'
    stripe: int | None = None    # inserts split per v3 stripe
    # 'delete' via MoR: the commit's DELTA sidecars that may address
    # this file (zone-map pruned at plan time) — their positions ARE
    # the deleted rows (delete_where only ever targets visible rows)
    del_sidecars: tuple = ()
    # 'delete' via a NEW equality predicate: serialized filter groups
    # that SELECT the deleted rows ...
    sel_eq: tuple = ()
    # ... among rows still visible at the PARENT version: its position
    # masks and applicable equality groups exclude already-dead rows
    mask_deletes: tuple = ()
    mask_eq: tuple = ()
    # field-ID schema-evolution resolution (see ColfInputPartition.evo):
    # the CURRENT table schema — CDC output is in the table's current
    # shape, like Delta CDF
    evo: tuple | None = None


def _eq_entry_key(e: dict) -> tuple:
    import json as _json

    return (e["seq"], _json.dumps(e["filters"], sort_keys=True))


def _sidecar_may_address(manifest: dict, sidecar: str, base: str) -> bool:
    """Zone-map prune: may this delete sidecar address data file
    ``base``? (Sidecars are written file-sorted, so their file-column
    min/max is tight.)"""
    fcol = ((manifest.get(sidecar) or {}).get("columns") or {}).get("file")
    if fcol and fcol.get("min") is not None:
        return fcol["min"] <= base <= fcol["max"]
    return True


def _eq_groups_mask(data: dict, groups: tuple):
    """Boolean Arrow mask: True where a row matches ANY serialized
    equality-delete group (conjuncts AND within a group — NULL
    comparisons are FALSE, SQL DELETE semantics). None when no group
    produced a mask."""
    import pyarrow.compute as pc

    hit = None
    for group in groups:
        gm = None
        for flt in deserialize_eq_filters(group):
            m1 = _residual_mask(data, [flt])
            if m1 is None:
                raise ColfFormatError(
                    f"equality-delete predicate not evaluable at read "
                    f"time: {flt} (corrupt metadata?)")
            gm = m1 if gm is None else pc.and_(gm, m1)
        if gm is not None:
            hit = gm if hit is None else pc.or_(hit, gm)
    return hit


def plan_changelog_partitions(path: str, v_from: int, v_to: int | None,
                              skip_change_commits: bool = False) -> list:
    """CDC input partitions for every published commit in
    ``(v_from, v_to]`` (``v_to=None`` = published head). Pure metadata
    planning: the log, the manifest (zone maps prune sidecars per data
    file), and file sequence numbers — no data file is opened on the
    driver, so planning cost is log-sized regardless of table size."""
    # Metadata-bounded planning (round 12): the version list, the
    # retention check, fseq and the table schema all come from the
    # RAW metadata view; only the versions the batch actually diffs —
    # the (v_from, v_to] window plus its baseline — materialize their
    # file lists. A tailing stream's per-trigger plan is O(commits +
    # the batch's own files), not the O(commits x files) full-history
    # fold this path paid before (it runs on EVERY micro-batch).
    meta_entries = load_snapshots_meta(path)
    if not meta_entries:
        raise ColfFormatError(
            f"readChangeFeed needs a dataset with a metadata log at "
            f"{path} (reference-writer/logless dirs have no commit "
            f"history to replay)")
    pub_vs = [s["version"] for s in meta_entries
              if not s.get("staged") and s.get("branch") is None]
    fseq = live_file_first_versions(path)
    manifest = load_manifest(path)
    evo = None
    meta = current_table_schema(path)
    if meta is not None:
        # CDC emits in the table's CURRENT shape (Delta CDF model):
        # historical commits' files resolve by field id
        evo = (tuple((f["id"], f["name"], f["type"])
                     for f in meta["fields"]),
               tuple(meta["name_mapping"].items()))
    if v_from > 0 and pub_vs and not any(v <= v_from for v in pub_vs):
        # the baseline commit was vacuum-pruned: diffing the first
        # retained snapshot against an EMPTY set would re-deliver the
        # whole retained live set as inserts — silent duplicates at a
        # downstream replica. Fail like Delta's out-of-retention CDF
        # error; the consumer must re-bootstrap from a full read.
        raise ColfFormatError(
            f"startingVersion {v_from} predates the retained log at "
            f"{path} (oldest published: {pub_vs[0]}): the "
            f"baseline needed to diff against was vacuumed, so the "
            f"change feed cannot resume without re-delivering rows. "
            f"Re-bootstrap the consumer from a full snapshot read.")
    baseline = max((v for v in pub_vs if v <= v_from), default=None)
    window = [v for v in pub_vs if v > v_from
              and (v_to is None or v <= v_to)]
    need = ([baseline] if baseline is not None else []) + window
    full = materialize_log_versions(path, need)
    parts: list = []
    prev = full[baseline] if baseline is not None else None
    for v in window:
        s = full[v]
        parts.extend(_commit_change_partitions(
            path, s, prev, fseq, manifest, skip_change_commits, evo))
        prev = s
    return parts


def _commit_change_partitions(path: str, s: dict, p: dict | None,
                              fseq: dict, manifest: dict,
                              skip_change_commits: bool,
                              evo: tuple | None = None) -> list:
    ver, ts = s["version"], s.get("ts")
    if s.get("data_change") is False:
        # a marked rewrite (compact(retain), rewrite_delete_files):
        # file set reorganized, visible rows identical — zero CDC rows
        return []
    f_p = set(p["files"]) if p else set()
    f_v = set(s["files"])
    d_p = set(p.get("deletes") or []) if p else set()
    d_v = set(s.get("deletes") or [])
    e_p = {_eq_entry_key(e): e for e in (p.get("eq_deletes") or [])} \
        if p else {}
    e_v = {_eq_entry_key(e): e for e in (s.get("eq_deletes") or [])}
    removed = f_p - f_v
    vanished = (d_p - d_v) or (set(e_p) - set(e_v))
    if removed or vanished:
        if skip_change_commits:
            return []
        raise ColfFormatError(
            f"version {ver} at {path} is a copy-on-write rewrite / "
            f"rollback commit (files or delete metadata removed); its "
            f"exact row changes need row-level cancellation, which the "
            f"streaming changelog cannot do. Use maintenance."
            f"snapshot_changelog() for an exact batch diff across it, "
            f"or option('skipChangeCommits', 'true') to skip it.")
    parts: list = []
    # inserts: this commit's added files, split per v3 stripe
    for b in sorted(f_v - f_p):
        full = os.path.join(path, b)
        entry = manifest.get(b)
        stripes = entry.get("stripes") if entry else None
        if stripes is None and entry is None \
                and file_version(full) == VERSION_V3:
            stripes = [{"num_rows": n} for n in read_stripes_info(full)]
        if stripes is None:
            parts.append(ColfChangePartition(full, ver, ts, "insert",
                                             evo=evo))
        else:
            parts.extend(ColfChangePartition(full, ver, ts, "insert", si,
                                             evo=evo)
                         for si in range(len(stripes)))
    # deletes via this commit's DELTA position sidecars
    delta = sorted(d_v - d_p)
    if delta:
        for b in sorted(f_v):
            cands = tuple(d for d in delta
                          if _sidecar_may_address(manifest, d, b))
            if cands:
                parts.append(ColfChangePartition(
                    os.path.join(path, b), ver, ts, "delete",
                    del_sidecars=cands, evo=evo))
    # deletes via this commit's NEW equality predicates
    new_eq = [e for k, e in e_v.items() if k not in e_p]
    if new_eq:
        prior_eq = list(e_p.values())
        for b in sorted(f_v):
            fs = fseq.get(b)
            groups = tuple(tuple(e["filters"]) for e in new_eq
                           if fs is not None and fs < e["seq"])
            if not groups:
                continue
            parts.append(ColfChangePartition(
                os.path.join(path, b), ver, ts, "delete",
                evo=evo, sel_eq=groups,
                mask_deletes=tuple(d for d in sorted(d_p)
                                   if _sidecar_may_address(manifest, d, b)),
                mask_eq=tuple(tuple(e["filters"]) for e in prior_eq
                              if fs is not None and fs < e["seq"])))
    return parts


def read_change_partition(partition: ColfChangePartition,
                          schema: StructType):
    """Executor-side CDC decode: one Arrow batch of this partition's
    change rows (insert = the added file/stripe verbatim; delete = the
    exact rows a MoR sidecar or new equality predicate killed, with the
    parent version's masks excluding rows already dead)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    data_fields = [f for f in schema.fields if f.name not in CDC_COLUMNS]
    names = [f.name for f in data_fields]
    dschema = StructType(data_fields)
    data, n = _read_file_columns(partition.file, names, partition.stripe,
                                 dschema, partition.evo)
    base = os.path.basename(partition.file)
    ddir = os.path.dirname(partition.file)
    if partition.change == "delete":
        if partition.del_sidecars:
            dpos = deleted_positions(ddir, partition.del_sidecars, base)
            if dpos is None or not len(dpos):
                return
            take = pa.array(dpos[(dpos >= 0) & (dpos < n)],
                            type=pa.int64())
            if not len(take):
                return
            data = {c: arr.take(take) for c, arr in data.items()}
            n = len(take)
        else:
            if partition.mask_deletes:
                dpos = deleted_positions(ddir, partition.mask_deletes, base)
                if dpos is not None and len(dpos):
                    keep = np.ones(n, dtype=bool)
                    keep[dpos[(dpos >= 0) & (dpos < n)]] = False
                    km = pa.array(keep)
                    data = {c: arr.filter(km) for c, arr in data.items()}
                    n = int(keep.sum())
            if partition.mask_eq and n:
                m = _eq_groups_mask(data, partition.mask_eq)
                if m is not None and m.true_count > 0:
                    km = pc.invert(m)
                    data = {c: arr.filter(km) for c, arr in data.items()}
                    n -= m.true_count
            if not n:
                return
            m = _eq_groups_mask(data, partition.sel_eq)
            if m is None or m.true_count == 0:
                return
            data = {c: arr.filter(m) for c, arr in data.items()}
            n = m.true_count
    out = dict(data)
    out[CHANGE_TYPE_COLUMN] = pa.array([partition.change] * n,
                                       type=pa.string())
    out[COMMIT_VERSION_COLUMN] = pa.array(
        np.full(n, partition.version, dtype=np.int64), type=pa.int64())
    ts_type = pa.timestamp("us", tz="UTC")
    if partition.ts is None:
        out[COMMIT_TS_COLUMN] = pa.nulls(n, type=ts_type)
    else:
        out[COMMIT_TS_COLUMN] = pa.array(
            np.full(n, int(partition.ts * 1_000_000), dtype=np.int64),
            type=ts_type)
    wanted = [f.name for f in schema.fields]
    yield pa.RecordBatch.from_arrays([out[c] for c in wanted],
                                     names=wanted)


def load_blooms(path: str) -> dict:
    """{file basename: {"columns": {col: bloom}, "stripes":
    [{col: bloom}, ...]}} per-file (and, for v3 striped files,
    per-stripe) Bloom filters (bloom.py) — the point-lookup complement
    to the zone-map manifest. Empty when absent/corrupt: like zone
    maps, blooms can only SKIP I/O, never change results, so
    degradation is silent-correct. Process-cached: READ-ONLY to
    callers — copy before mutating."""
    if not os.path.isdir(path):
        return {}
    return _load_sharded_dict(path, BLOOMS_DIR_NAME)


def save_blooms(path: str, blooms: dict) -> None:
    """FULL replacement of the bloom sidecar state (shards wiped, one
    fresh shard written). Writers and maintenance
    now APPEND shards / DROP keys instead; this remains for the
    replace-everything paths (tests, explicit rebuilds)."""
    _reset_sidecar(path, BLOOMS_DIR_NAME)
    _append_sidecar_shard(path, BLOOMS_DIR_NAME, blooms)


def bloom_columns(path: str) -> list[str]:
    """Columns carrying a Bloom filter in ANY live file — what a
    maintenance rewrite must pass through as bloomColumns so CoW and
    compaction preserve the dataset's point-lookup pruning."""
    return sorted({c for per_file in load_blooms(path).values()
                   for c in per_file.get("columns", {})})


def ndv_columns(path: str) -> tuple[list[str], int]:
    """(columns carrying a KMV NDV sketch in any live file's manifest
    entry, the smallest recorded k) — what maintenance rewrites must
    pass through as ndvColumns/ndvK so stats stay maintained through
    CoW/compaction."""
    cols: set[str] = set()
    ks: set[int] = set()
    for ent in load_manifest(path).values():
        for c, s in (ent.get("kmv") or {}).items():
            cols.add(c)
            ks.add(int(s["k"]))
    return sorted(cols), (min(ks) if ks else NDV_K_DEFAULT)


def _bloom_encode(dtype, v):
    """Probe-value byte encoding matching the writer's (bloom.py
    contract). None = not encodable (type mismatch / unsupported) →
    caller must keep the file."""
    from . import bloom as B

    if isinstance(dtype, IntegerType):
        if isinstance(v, bool) or not isinstance(v, int):
            return None
        if not (-(1 << 31) <= v < (1 << 31)):
            return None
        return B.encode_int32(v)
    if isinstance(dtype, StringType):
        return B.encode_utf8(v) if isinstance(v, str) else None
    if isinstance(dtype, DoubleType):
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            return None
        # canonical bits (±0.0, NaN payloads collapse) — matches the
        # writer, and matches Spark's SQL equality for those values
        return B.encode_float64(float(v))
    return None


def _bloom_may_match(col_blooms: dict, flt: Filter, schema: StructType) -> bool:
    """False only when the {column: bloom} map PROVES no row matches
    the equality filter — same conservative contract as the zone maps
    (_file_may_match): every unknown case keeps the file/stripe, and a
    shape-corrupt entry (hand-edited / version-skewed sidecar) counts
    as unknown, never a planning failure (blooms can only SKIP I/O)."""
    import binascii

    from . import bloom as B

    attr = getattr(flt, "attribute", None)
    if not attr or len(attr) != 1:
        return True
    bl = col_blooms.get(attr[0])
    if bl is None or schema is None:
        return True
    try:
        dtype = schema[attr[0]].dataType
    except KeyError:
        return True
    try:
        if isinstance(flt, (EqualTo, EqualNullSafe)):
            if flt.value is None:
                return True  # null probe: blooms index values, not nulls
            vb = _bloom_encode(dtype, flt.value)
            return vb is None or B.might_contain(bl, vb)
        if isinstance(flt, In):
            probes = []
            for x in flt.value:
                if x is None:
                    return True
                vb = _bloom_encode(dtype, x)
                if vb is None:
                    return True
                probes.append(vb)
            # decode the bitmap ONCE for the whole IN list (a pushed
            # 1000-key merge probe must not b64-decode 1000 times)
            bits, m, k = B.decode_bits(bl)
            return any(B.contains(bits, m, k, vb) for vb in probes)
        if isinstance(flt, StringStartsWith):
            if not isinstance(flt.value, str):
                return True
            return B.prefix_might_match(bl, flt.value)
    except (KeyError, TypeError, ValueError, IndexError, binascii.Error):
        return True  # malformed entry: prune nothing, stay correct
    return True


def _partition_may_match(partition: dict | None, flt: Filter,
                         schema: StructType) -> bool:
    """Bucket-transform partition pruning: a ``bucket(N,col)``
    partitioned file holds only rows whose md5-bucket of ``col``
    equals the manifest tuple value, so a pushed EqualTo/In probe on
    the SOURCE column prunes the file iff the probe's bucket differs —
    the reader maps the probe through the same bucket_of the writer
    used. Identity and truncate transforms need nothing here: their
    files are contiguous in the raw column and the zone maps already
    prune them exactly. Conservative contract as everywhere in
    planning: any unknown shape keeps the file."""
    if not partition:
        return True
    attr = getattr(flt, "attribute", None)
    if not attr or len(attr) != 1:
        return True
    for key, stored in partition.items():
        m = _TRANSFORM_RE.match(key)
        if not m or m.group(1) != "bucket" or m.group(3) != attr[0]:
            continue
        n = int(m.group(2))
        try:
            dtype = schema[attr[0]].dataType
        except (KeyError, TypeError):
            return True
        if isinstance(dtype, IntegerType):
            colf_type, ok = "int32", lambda v: (
                isinstance(v, int) and not isinstance(v, bool)
                and -(1 << 31) <= v < (1 << 31))
        elif isinstance(dtype, StringType):
            colf_type, ok = "utf8", lambda v: isinstance(v, str)
        else:
            return True
        try:
            if isinstance(flt, (EqualTo, EqualNullSafe)):
                v = flt.value
                if v is None or not ok(v):
                    return True
                # stored None = an all-null file: equality never matches
                return (stored is not None
                        and bucket_of(v, colf_type, n) == stored)
            if isinstance(flt, In):
                buckets = set()
                for v in flt.value:
                    if v is None or not ok(v):
                        return True
                    buckets.add(bucket_of(v, colf_type, n))
                return stored in buckets
        except (TypeError, ValueError):
            return True
    return True


def _residual_mask(data: dict, filters: list):
    """Executor-side residual filter evaluation: AND-combine the pushed
    conjuncts that can be evaluated on the decoded Arrow arrays with
    semantics IDENTICAL to Spark's (null comparison → false; binary
    collation for strings — Spark's UTF8_BINARY default; float64 with
    Spark's NaN total order: NaN rows kept on upper-bound compares,
    NaN probes left to Spark). Returns a boolean mask, or None when
    nothing is evaluable. Spark re-applies every filter row-level regardless
    (pushFilters returns all of them), so a skipped conjunct costs
    transfer, never correctness — but a row this mask drops MUST be one
    Spark would drop, hence the conservative type/exception guards.

    Why: the Python DataSource ships whole decoded batches over Arrow
    to the JVM; for a selective predicate that is almost entirely
    wasted transfer (a point lookup moves 1 row's worth instead of the
    file's). This is the row-group-less format's version of Parquet's
    record-level filtering, applied at the decode boundary."""
    import pyarrow as pa
    import pyarrow.compute as pc

    mask = None
    for flt in filters:
        attr = getattr(flt, "attribute", None)
        if not attr or len(attr) != 1:
            continue
        arr = data.get(attr[0])
        if arr is None:
            continue
        t = arr.type
        is_float = pa.types.is_float64(t)
        if not (pa.types.is_int32(t) or pa.types.is_string(t) or is_float):
            continue
        v = getattr(flt, "value", None)
        if is_float and isinstance(v, float) and v != v:
            continue  # NaN probe: Spark's NaN total order decides, not IEEE
        # Spark orders NaN ABOVE every double, so a NaN row satisfies
        # `col > v` / `col >= v` where IEEE says false — for those ops
        # the mask must keep NaN rows. Every other op's IEEE result for
        # NaN (false) matches Spark's. -0.0 == 0.0 under both.
        keep_nan = False
        try:
            if isinstance(flt, IsNull):
                m = pc.is_null(arr)
            elif isinstance(flt, IsNotNull):
                m = pc.is_valid(arr)
            elif isinstance(flt, EqualNullSafe) and v is None:
                m = pc.is_null(arr)
            elif isinstance(flt, (EqualTo, EqualNullSafe)):
                m = pc.equal(arr, v)
            elif isinstance(flt, In):
                vals = [x for x in flt.value if x is not None]
                if is_float and any(isinstance(x, float) and x != x
                                    for x in vals):
                    continue  # NaN in the IN list: leave to Spark
                if is_float and any(x == 0.0 for x in vals):
                    # pc.is_in matches bitwise: In(0.0) would miss a
                    # stored -0.0 row Spark keeps (-0.0 == 0.0 in SQL).
                    # Put both bit patterns in the value set.
                    vals = list(vals) + [0.0, -0.0]
                m = pc.is_in(arr, value_set=pa.array(vals, type=t))
            elif isinstance(flt, GreaterThan):
                m = pc.greater(arr, v)
                keep_nan = is_float
            elif isinstance(flt, GreaterThanOrEqual):
                m = pc.greater_equal(arr, v)
                keep_nan = is_float
            elif isinstance(flt, LessThan):
                m = pc.less(arr, v)
            elif isinstance(flt, LessThanOrEqual):
                m = pc.less_equal(arr, v)
            elif isinstance(flt, StringStartsWith) and pa.types.is_string(t):
                m = pc.starts_with(arr, pattern=v)
            else:
                continue
            if keep_nan:
                m = pc.or_kleene(m, pc.is_nan(arr))
        except (pa.ArrowInvalid, pa.ArrowTypeError,
                pa.ArrowNotImplementedError, TypeError, ValueError):
            continue  # not evaluable bit-identically → leave to Spark
        m = pc.fill_null(m, False)  # NULL comparison is FALSE in a filter
        mask = m if mask is None else pc.and_(mask, m)
    return mask


def _file_may_match(stats: dict, flt: Filter) -> bool:
    """Conservative zone-map check: False only when NO row in the file
    can satisfy `flt`. Row-level filtering stays with Spark (pushFilters
    returns every filter as still-needed), so pruning can only skip
    whole files — a wrong True costs I/O, a wrong False loses rows,
    hence every unknown case returns True."""
    attr = getattr(flt, "attribute", None)
    if not attr or len(attr) != 1:
        return True
    col = stats.get("columns", {}).get(attr[0])
    if col is None:
        return True
    mn, mx = col.get("min"), col.get("max")
    nulls = col.get("null_count")
    nrows = stats.get("num_rows")
    if isinstance(flt, IsNull):
        return nulls is None or nulls > 0
    if isinstance(flt, EqualNullSafe) and flt.value is None:
        return nulls is None or nulls > 0  # `col <=> NULL` == IS NULL
    if isinstance(flt, IsNotNull):
        return nulls is None or nrows is None or nulls < nrows
    if mn is None or mx is None:  # all-null column: no comparison matches
        return isinstance(flt, (IsNull,))
    v = getattr(flt, "value", None)

    def cmp_ok(a, b) -> bool:
        return isinstance(a, (int, float)) == isinstance(b, (int, float)) and not (
            isinstance(a, bool) or isinstance(b, bool))

    def is_nan(x) -> bool:
        return isinstance(x, float) and x != x

    # Spark totals-orders NaN ABOVE every double, so a file holding NaN
    # rows satisfies any `col > v` / `col >= v` / `col = NaN` no matter
    # what its (NaN-skipping) min/max say. nan_count==0 proves absence;
    # a missing key (pre-NaN-stats sidecar) means unknown → keep.
    may_have_nan = (isinstance(mn, float)
                    and col.get("nan_count", None) != 0)
    if is_nan(mn) or is_nan(mx):
        return True  # poisoned stats: prune nothing
    if isinstance(flt, In):
        vals = [x for x in flt.value if x is not None and cmp_ok(x, mn)]
        if any(is_nan(x) for x in vals) and may_have_nan:
            return True
        vals = [x for x in vals if not is_nan(x)]
        return any(mn <= x <= mx for x in vals) if vals else True
    if isinstance(flt, StringStartsWith):
        # strings with prefix v form the interval [v, v + U+10FFFF…):
        # if max < v every row sorts before them; if min's first
        # len(v) chars already exceed v every row sorts after them
        if not isinstance(v, str) or not isinstance(mn, str):
            return True
        return mx >= v and mn[: len(v)] <= v
    if v is None or not cmp_ok(v, mn):
        return True
    if is_nan(v):
        return True  # NaN probe: Spark's NaN ordering decides, not stats
    if isinstance(flt, (EqualTo, EqualNullSafe)):
        return mn <= v <= mx
    if isinstance(flt, GreaterThan):
        return mx > v or may_have_nan  # NaN rows satisfy > v for any v
    if isinstance(flt, GreaterThanOrEqual):
        return mx >= v or may_have_nan
    if isinstance(flt, LessThan):
        return mn < v  # NaN never satisfies < v: min check alone decides
    if isinstance(flt, LessThanOrEqual):
        return mn <= v
    return True


def _resolve_timestamp_as_of(path: str, ts_opt: str) -> int:
    """Resolve a timestampAsOf option to a snapshot version: the
    latest PUBLISHED commit with ts <= the instant. Accepts epoch
    seconds (int/float) or ISO "YYYY-MM-DD[ HH:MM:SS]" interpreted as
    UTC (Delta resolves against the session zone; a file format with
    no session carries the unambiguous choice instead). Commits from
    logs predating commit timestamps (no ts key) cannot be resolved by
    time and are skipped. Before-the-first-commit raises, like Delta's
    timestampAsOf underflow."""
    import datetime as _dt

    s = ts_opt.strip()
    try:
        cutoff = float(s)
    except ValueError:
        try:
            iso = s if " " in s or "T" in s else s + " 00:00:00"
            cutoff = _dt.datetime.fromisoformat(iso.replace("T", " ")) \
                .replace(tzinfo=_dt.timezone.utc).timestamp()
        except ValueError:
            raise ColfFormatError(
                f"timestampAsOf {ts_opt!r} is neither epoch seconds "
                f"nor ISO YYYY-MM-DD[ HH:MM:SS]") from None
    # version + ts are metadata keys — never materialize file lists
    # just to resolve a timestamp
    pub = [s_ for s_ in load_snapshots_meta(path)
           if not s_.get("staged") and s_.get("branch") is None]
    cands = [s_ for s_ in pub
             if s_.get("ts") is not None and s_["ts"] <= cutoff]
    if not cands:
        known = [s_["version"] for s_ in pub if s_.get("ts") is not None]
        raise ColfFormatError(
            f"no published snapshot at or before timestampAsOf "
            f"{ts_opt!r} in {path} (time-resolvable versions: "
            f"{known or 'none'})")
    return int(cands[-1]["version"])


class ColfReader(DataSourceReader):
    def __init__(self, options, schema: StructType):
        self.path = _local_path(options.get("path"))
        if not self.path:
            raise ColfFormatError(
                f"colf reader requires a path "
                f"(got options: {sorted(options)})")
        cols_opt = options.get("columns")
        self.columns = [c.strip() for c in cols_opt.split(",") if c.strip()] if cols_opt else None
        self.schema = schema
        self.pushed: list[Filter] = []
        # option pruning=off disables zone-map file skipping (debugging
        # / benchmarking the skip ratio); correctness is unaffected —
        # Spark re-applies every filter row-level either way
        self.pruning = options.get("pruning", "on").lower() != "off"
        # option rowFilter=off disables executor-side residual filter
        # evaluation on decoded batches (_residual_mask) — correctness
        # is unaffected either way (Spark re-applies all filters);
        # independent of `pruning`, which governs file/stripe skipping
        self.row_filter = options.get("rowFilter", "on").lower() != "off"
        # option snapshot=N time-travels to that committed version of
        # the metadata log (None = latest snapshot, or the directory
        # listing for datasets without one)
        snap_opt = options.get("snapshot")
        self.snapshot = int(snap_opt) if snap_opt is not None else None
        # option ref=name reads the snapshot a named ref (tag) pins —
        # Iceberg's read-by-ref; resolved at plan time via the refs
        # sidecar, then identical to option snapshot=N
        ref_opt = options.get("ref")
        if ref_opt is not None:
            if self.snapshot is not None:
                raise ColfFormatError(
                    "options ref and snapshot are mutually exclusive")
            refs = load_refs(self.path)
            if ref_opt not in refs:
                raise ColfFormatError(
                    f"unknown ref '{ref_opt}' in {self.path} "
                    f"(have: {sorted(refs) or 'none'})")
            self.snapshot = int(refs[ref_opt]["version"])
        # option timestampAsOf reads the table as of a WALL-CLOCK time
        # (Delta's timestampAsOf): the latest PUBLISHED snapshot whose
        # commit ts is <= the given instant — epoch seconds or ISO
        # "YYYY-MM-DD[ HH:MM:SS]" (UTC). Resolved at plan time to a
        # version, then identical to option snapshot=N.
        ts_opt = options.get("timestampAsOf")
        if ts_opt is not None:
            if self.snapshot is not None:
                raise ColfFormatError(
                    "options timestampAsOf and snapshot/ref are "
                    "mutually exclusive")
            self.snapshot = _resolve_timestamp_as_of(self.path, ts_opt)
        # option incrementalFrom=N plans ONLY the part files added
        # after version N (up to `snapshot` or latest) — the CDC-style
        # incremental scan: a consumer that has processed version N
        # reads just the appended files, zero re-reads. Valid between
        # APPEND-ONLY versions; a retained compaction rewrites the
        # file set, so an increment spanning it degenerates to the
        # full compacted set (file-level diff semantics, documented).
        inc_opt = options.get("incrementalFrom")
        self.incremental_from = int(inc_opt) if inc_opt is not None else None
        # option withFileColumn=true appends a virtual _colf_file
        # string column (source part-file basename) to every row —
        # the input_file_name() parity hook that file-granular
        # maintenance (delete_where) is built on
        self.with_file_column = (
            options.get("withFileColumn", "false").lower() == "true")
        # option files=a.colf,b.colf restricts the scan to those live
        # basenames (metadata-level pruning for maintenance rewrites)
        files_opt = options.get("files")
        self.only_files = (
            {b.strip() for b in files_opt.split(",") if b.strip()}
            if files_opt else None)
        # option readChangeFeed=true turns the batch read into a CDC
        # scan over (startingVersion, endingVersion] — see
        # plan_changelog_partitions; Delta CDF's batch surface
        self.changelog = (
            options.get("readChangeFeed", "false").lower() == "true")
        self.cdc_from = int(options.get("startingVersion", "0"))
        end_opt = options.get("endingVersion")
        self.cdc_to = int(end_opt) if end_opt is not None else None
        self.skip_change_commits = (
            options.get("skipChangeCommits", "false").lower() == "true")
        if self.changelog:
            clash = [o for o in ("snapshot", "ref", "incrementalFrom",
                                 "files", "columns", "withFileColumn",
                                 "withPosColumn")
                     if options.get(o) is not None]
            if clash:
                raise ColfFormatError(
                    f"readChangeFeed is incompatible with options "
                    f"{clash}; the changelog is planned per commit "
                    f"from the metadata log")
            if self.cdc_to is not None and self.cdc_to < self.cdc_from:
                raise ColfFormatError(
                    f"endingVersion {self.cdc_to} < startingVersion "
                    f"{self.cdc_from}")

    def pushFilters(self, filters):
        """Record conjuncts usable for manifest file-skipping. ALL
        filters are returned (Spark re-applies them row-level): the
        format has no row groups, so pushdown here means skipping
        whole files via the _manifests/ zone maps — the same
        design as parquet footer min/max, kept format-compatible by
        living in a sidecar (SURVEY.md §4.3/M6)."""
        self.pushed = [
            f for f in filters
            if isinstance(f, (EqualTo, EqualNullSafe, GreaterThan,
                              GreaterThanOrEqual, LessThan, LessThanOrEqual,
                              In, IsNull, IsNotNull, StringStartsWith))
        ]
        return filters

    def partitions(self):
        if self.changelog:
            parts = plan_changelog_partitions(
                self.path, self.cdc_from, self.cdc_to,
                self.skip_change_commits)
            return parts or [ColfInputPartition(None)]
        # every branch below is metadata-BOUNDED (round 12): the live
        # path reads only the cached/chain-walked head; time travel
        # and incrementalFrom materialize exactly the one version they
        # name; nothing on a batch-plan path folds the whole
        # O(commits x files) history any more (this runs on EVERY
        # scan plan).
        dels: list[str] = []
        eqs: list[dict] = []
        if self.snapshot is not None:
            versions = sorted(s["version"]
                              for s in load_snapshots_meta(self.path))
            if self.snapshot not in versions:
                raise ColfFormatError(
                    f"snapshot {self.snapshot} not found in {self.path} "
                    f"(available: {versions or 'none'}); it may have "
                    f"been vacuumed")
            snap = materialize_log_versions(
                self.path, [self.snapshot])[self.snapshot]
            files = [os.path.join(self.path, b) for b in snap["files"]]
            missing = [f for f in files if not os.path.exists(f)]
            if missing:
                raise ColfFormatError(
                    f"snapshot {self.snapshot} references vacuumed files: "
                    f"{[os.path.basename(f) for f in missing]}")
            dels = snap.get("deletes") or []
            eqs = snap.get("eq_deletes") or []
        else:
            files = live_files(self.path)
            head = head_snapshot(self.path)
            dels = (head.get("deletes") or []) if head else []
            eqs = (head.get("eq_deletes") or []) if head else []
        # equality deletes mask by SEQUENCE: only files first committed
        # before the delete's version are affected (a later append may
        # legally re-introduce matching rows)
        file_seq = live_file_first_versions(self.path) if eqs else {}
        if self.incremental_from is not None:
            versions = sorted(s["version"]
                              for s in load_snapshots_meta(self.path))
            if self.incremental_from not in versions:
                raise ColfFormatError(
                    f"incrementalFrom version {self.incremental_from} not "
                    f"found in {self.path} (available: "
                    f"{versions or 'none'})")
            seen = set(materialize_log_versions(
                self.path,
                [self.incremental_from])[self.incremental_from]["files"])
            files = [f for f in files if os.path.basename(f) not in seen]
        if self.only_files is not None:
            unknown = self.only_files - {os.path.basename(f) for f in files}
            if unknown:
                raise ColfFormatError(
                    f"option files names basenames not in the live set: "
                    f"{sorted(unknown)}")
            files = [f for f in files
                     if os.path.basename(f) in self.only_files]
        # both sidecars load at most ONCE per plan, shared by the file
        # pass and the v3 stripe pass; blooms only when a bloom-servable
        # conjunct exists (point lookups / IN probes / startswith
        # prefixes) — the sidecar read costs nothing on range scans
        pruning_on = bool(self.pushed and self.pruning)
        # field-ID schema evolution: resolve the table schema AT the
        # read's snapshot (time travel sees the schema of its era) and
        # carry it on every partition; None keeps the by-name fast path
        evo = None
        meta = current_table_schema(self.path, at_version=self.snapshot)
        if meta is not None:
            evo = (tuple((f["id"], f["name"], f["type"])
                         for f in meta["fields"]),
                   tuple(meta["name_mapping"].items()))
        eq_filters = [f for f in self.pushed
                      if isinstance(f, (EqualTo, EqualNullSafe, In,
                                        StringStartsWith))] \
            if pruning_on else []
        blooms = load_blooms(self.path) if eq_filters and files else {}
        manifest = load_manifest(self.path)
        if pruning_on:
            if manifest:
                kept = []
                for f in files:
                    stats = manifest.get(os.path.basename(f))
                    if stats is None or (all(
                        _file_may_match(stats, flt) for flt in self.pushed
                    ) and all(
                        _partition_may_match(stats.get("partition"), flt,
                                             self.schema)
                        for flt in eq_filters
                    )):
                        kept.append(f)
                files = kept
            if blooms:  # Bloom pass AFTER zone maps
                files = [
                    f for f in files
                    if (per := blooms.get(os.path.basename(f))) is None
                    or all(_bloom_may_match(per.get("columns", {}),
                                            flt, self.schema)
                           for flt in eq_filters)
                ]
        if not files:
            # the API requires >= 1 partition; a None-file sentinel
            # yields zero batches (empty increment / all files pruned)
            return [ColfInputPartition(None)]

        def _dels_for(f: str) -> tuple:
            # prune the snapshot's delete sidecars per data file via
            # the sidecars' OWN file-column zone maps in the manifest —
            # a task only opens delete files that may address its file
            if not dels:
                return ()
            base = os.path.basename(f)
            out = []
            for d in dels:
                fcol = ((manifest.get(d) or {}).get("columns")
                        or {}).get("file")
                if (fcol and fcol.get("min") is not None
                        and not (fcol["min"] <= base <= fcol["max"])):
                    continue
                out.append(d)
            return tuple(out)

        def _eqs_for(f: str) -> tuple:
            if not eqs:
                return ()
            fseq = file_seq.get(os.path.basename(f))
            return tuple(tuple(e["filters"]) for e in eqs
                         if fseq is not None and fseq < e["seq"])
        # v3 striped files plan one partition per STRIPE, pruned by the
        # per-stripe zone maps (and per-stripe blooms) when the
        # sidecars carry them — all from metadata; a file header is
        # opened on the driver only for v3 files missing a manifest
        # entry entirely
        parts: list[ColfInputPartition] = []
        for f in files:
            entry = manifest.get(os.path.basename(f))
            stripes = entry.get("stripes") if entry else None
            if stripes is None and entry is None                     and file_version(f) == VERSION_V3:
                stripes = [{"num_rows": n} for n in read_stripes_info(f)]
            if stripes is None:
                parts.append(ColfInputPartition(f, deletes=_dels_for(f),
                                                eq=_eqs_for(f), evo=evo))
                continue
            sblooms = (blooms.get(os.path.basename(f), {})
                       .get("stripes") or [])

            def _stripe_may_match(si: int, st: dict) -> bool:
                if not pruning_on:
                    return True
                if st.get("columns") and not all(
                        _file_may_match(st, flt) for flt in self.pushed):
                    return False
                if si < len(sblooms):
                    return all(_bloom_may_match(sblooms[si], flt, self.schema)
                               for flt in eq_filters)
                return True

            fd, fe = _dels_for(f), _eqs_for(f)
            parts.extend(ColfInputPartition(f, si, deletes=fd, eq=fe,
                                            evo=evo)
                         for si, st in enumerate(stripes)
                         if _stripe_may_match(si, st))
        return parts or [ColfInputPartition(None)]

    def read(self, partition: ColfInputPartition):
        import pyarrow as pa

        if isinstance(partition, ColfChangePartition):
            yield from read_change_partition(partition, self.schema)
            return
        if partition.file is None:
            return
        wanted = self.columns or [f.name for f in self.schema.fields]
        file_cols = [c for c in wanted
                     if c not in (FILE_COLUMN, POS_COLUMN)]
        read_cols = file_cols
        if partition.eq and partition.evo is not None:
            # evolved datasets: live equality-delete predicate columns
            # resolve by field id like any other — fold them into the
            # one evo read (the final projection drops the extras)
            need_eq = {spec["col"] for group in partition.eq
                       for spec in group}
            read_cols = file_cols + [c for c in need_eq
                                     if c not in file_cols]
        # row count for metadata-only projections comes from the
        # stripe footer / header, not 0 (per-file counts via the
        # virtual column must be exact); evolved-away columns decode
        # as typed nulls
        data, n = _read_file_columns(partition.file, read_cols,
                                     partition.stripe, self.schema,
                                     partition.evo)
        if partition.eq and partition.evo is None:
            # live equality deletes must evaluate their predicate
            # columns even when the projection excludes them: decode
            # the extras here (typed NULLs when an evolved file
            # predates the column — each spec carries its coltype, so
            # this never depends on the projected schema), mask, and
            # let the final projection drop them. The extra decode
            # lasts only until compact() materializes the predicates.
            need = {spec["col"]: spec["coltype"]
                    for group in partition.eq for spec in group}
            missing = [c for c in need if c not in data]
            if missing:
                avail = {c.name for c in read_schema(partition.file).columns}
                present = [c for c in missing if c in avail]
                if present:
                    data.update(read_columns_arrow(
                        partition.file, present, stripe=partition.stripe))
                for c in missing:
                    if c not in avail:
                        data[c] = pa.nulls(n, type={
                            "int32": pa.int32(), "float64": pa.float64(),
                            "utf8": pa.string()}[need[c]])
        base = os.path.basename(partition.file)
        pos_np = None
        start = 0
        if POS_COLUMN in wanted or partition.deletes:
            import numpy as np

            if partition.stripe is not None:
                # the header is already open for this task; its stripe
                # row counts give the stripe's base ordinal
                counts = read_stripes_info(partition.file)
                start = int(sum(counts[:partition.stripe]))
            if POS_COLUMN in wanted:
                pos_np = np.arange(start, start + n, dtype=np.int64)
        # merge-on-read position deletes FIRST: sidecar positions
        # address ORIGINAL file ordinals, so the delete mask must
        # precede the residual filter (which re-bases row indices)
        if partition.deletes:
            import numpy as np

            dpos = deleted_positions(os.path.dirname(partition.file),
                                     partition.deletes, base)
            if dpos is not None:
                sel = dpos[(dpos >= start) & (dpos < start + n)] - start
                if len(sel):
                    keep = np.ones(n, dtype=bool)
                    keep[sel] = False
                    kmask = pa.array(keep)
                    data = {c: arr.filter(kmask)
                            for c, arr in data.items()}
                    if pos_np is not None:
                        pos_np = pos_np[keep]
                    n -= len(sel)
        if partition.eq:
            # equality-delete masks: within a predicate group the
            # conjuncts AND (all must be TRUE — NULL comparisons are
            # FALSE, SQL DELETE semantics, so NULL-bearing rows
            # survive); any group matching drops the row. Every
            # conjunct was validated evaluable at delete time; an
            # unevaluable one here means corrupted metadata — refuse
            # loudly rather than resurrect deleted rows.
            import pyarrow.compute as pc

            drop = _eq_groups_mask(data, partition.eq)
            if drop is not None and drop.true_count > 0:
                keepm = pc.invert(drop)
                data = {c: arr.filter(keepm) for c, arr in data.items()}
                n -= drop.true_count
                if pos_np is not None:
                    pos_np = pos_np[keepm.to_numpy(zero_copy_only=False)]
        if self.row_filter and self.pushed and file_cols:
            mask = _residual_mask(data, self.pushed)
            # all-true mask: skip the survivor copy — a non-selective
            # conjunct must not tax the scan it can't help
            if mask is not None and mask.false_count > 0:
                data = {c: arr.filter(mask) for c, arr in data.items()}
                n = len(data[file_cols[0]])
                if pos_np is not None:
                    pos_np = pos_np[mask.to_numpy(zero_copy_only=False)]
        if FILE_COLUMN in wanted:
            data[FILE_COLUMN] = pa.array([base] * n, type=pa.string())
        if POS_COLUMN in wanted:
            data[POS_COLUMN] = pa.array(pos_np, type=pa.int64())
        yield pa.RecordBatch.from_arrays([data[c] for c in wanted], names=wanted)


@dataclass
class ColfCommitMessage(WriterCommitMessage):
    file: str | None
    stats: dict | None = None
    blooms: dict | None = None  # {column: bloom dict} for _blooms/
    # partitionColumns writes emit one value-homogeneous file per
    # distinct partition tuple the task held: [{"file","stats","blooms"}]
    parts: list | None = None


def _iter_commit_parts(messages):
    """Flatten commit messages to (file, stats, blooms) triples —
    single-file writes and partitionColumns multi-file writes alike."""
    for m in messages:
        if not m:
            continue
        if m.file:
            yield m.file, m.stats, m.blooms
        for p in getattr(m, "parts", None) or []:
            yield p["file"], p["stats"], p["blooms"]


def _bloom_opts(options, colf_columns: list[ColfColumn]):
    """Parse ``bloomColumns`` ("a,b") / ``bloomFpp`` writer options.
    Requested columns must exist; all three COLF types are indexable
    (float64 under the canonical-bits encoding, bloom.py
    encode_float64)."""
    from .bloom import DEFAULT_FPP

    cols_opt = options.get("bloomColumns")
    if not cols_opt:
        return [], DEFAULT_FPP
    wanted = [c.strip() for c in cols_opt.split(",") if c.strip()]
    by_name = {c.name: c for c in colf_columns}
    for c in wanted:
        if c not in by_name:
            raise ColfFormatError(
                f"bloomColumns names unknown column '{c}' "
                f"(have: {sorted(by_name)})")
    fpp = float(options.get("bloomFpp", str(DEFAULT_FPP)))
    if not (0.0 < fpp < 0.5):
        raise ColfFormatError(f"bloomFpp must be in (0, 0.5), got {fpp}")
    return wanted, fpp


NDV_K_DEFAULT = 256  # KMV sketch size; rsd ~ 1/sqrt(k-2)


def _ndv_opts(options, colf_columns: list[ColfColumn]):
    """Parse ``ndvColumns`` ("a,b") / ``ndvK`` writer options — per-file
    KMV (k-minimum-values) distinct-count sketches recorded in the
    manifest entry, the Iceberg Puffin theta-sketch role: mergeable
    across any file subset, so table/partition NDV comes from metadata
    alone and stays fresh through DML (rewrites recompute their files'
    sketches in the same write)."""
    cols_opt = options.get("ndvColumns")
    if not cols_opt:
        return [], NDV_K_DEFAULT
    wanted = [c.strip() for c in cols_opt.split(",") if c.strip()]
    by_name = {c.name: c for c in colf_columns}
    for c in wanted:
        if c not in by_name:
            raise ColfFormatError(
                f"ndvColumns names unknown column '{c}' "
                f"(have: {sorted(by_name)})")
    k = int(options.get("ndvK", str(NDV_K_DEFAULT)))
    if k < 16:
        raise ColfFormatError(f"ndvK must be >= 16, got {k}")
    return wanted, k


def _build_kmv(chunks: dict, colf_columns: list[ColfColumn],
               ndv_cols: list[str], k: int) -> dict | None:
    """One KMV sketch per requested column over this part file: the k
    smallest distinct 64-bit value hashes (md5 prefix over the bloom
    encoders' canonical bytes, so ±0.0 / NaN-payload collapse rules
    match the rest of the stats machinery), base64-packed little-endian
    for the manifest. A file with fewer than k distinct values stores
    them all — its sketch is EXACT."""
    import base64
    import hashlib

    import numpy as np
    import pyarrow as pa

    from . import bloom as B

    if not ndv_cols:
        return None
    types = {c.name: c.type for c in colf_columns}
    out = {}
    for name in ndv_cols:
        enc = {"int32": B.encode_int32, "utf8": B.encode_utf8,
               "float64": B.encode_float64}[types[name]]
        arr = pa.chunked_array(chunks[name])
        hashes = {
            int.from_bytes(hashlib.md5(enc(v)).digest()[:8], "little")
            for v in set(arr.to_pylist()) if v is not None}
        kmin = np.sort(np.fromiter(hashes, dtype=np.uint64,
                                   count=len(hashes)))[:k]
        out[name] = {"k": k, "h": base64.b64encode(
            kmin.astype("<u8").tobytes()).decode("ascii")}
    return out


def kmv_merge_estimate(sketches: list[dict]) -> dict:
    """Merge per-file KMV sketches of ONE column and estimate its NDV:
    union the hash sets, dedup, keep the min(k) smallest; if the union
    holds fewer than k values the count is exact, else the standard
    KMV estimator (k-1)·2^64/kth_min. Returns {"estimate", "exact",
    "rsd"} (rsd 0.0 when exact)."""
    import base64

    import numpy as np

    k = min(s["k"] for s in sketches)
    allh = np.concatenate([
        np.frombuffer(base64.b64decode(s["h"]), dtype="<u8")
        for s in sketches])
    uniq = np.unique(allh)  # sorted ascending
    if uniq.size < k:
        return {"estimate": float(uniq.size), "exact": True, "rsd": 0.0}
    kth = float(uniq[k - 1])
    return {"estimate": (k - 1) * (2.0 ** 64) / kth, "exact": False,
            "rsd": 1.0 / (k - 2) ** 0.5}


def _build_blooms(chunks: dict, colf_columns: list[ColfColumn],
                  bloom_cols: list[str], fpp: float, num_rows: int) -> dict:
    """Executor-side: one Bloom filter per requested column over this
    part file's values (nulls excluded — IsNull pruning is the zone
    maps' job via null_count)."""
    import pyarrow as pa

    from . import bloom as B

    types = {c.name: c.type for c in colf_columns}
    out = {}
    for name in bloom_cols:
        arr = pa.chunked_array(chunks[name])
        vals = [v for v in arr.to_pylist() if v is not None]
        enc = {"int32": B.encode_int32, "utf8": B.encode_utf8,
               "float64": B.encode_float64}[types[name]]
        out[name] = B.build((enc(v) for v in vals),
                            n_hint=num_rows, fpp=fpp)
        if types[name] == "utf8":
            # prefix filters serve pushed StringStartsWith probes the
            # way the value filter serves equality/IN
            prefixes = B.build_prefixes(vals, fpp=fpp)
            if prefixes:
                out[name]["prefixes"] = prefixes
    return out


def _build_bloom_entry(chunks: dict, colf_columns: list[ColfColumn],
                       bloom_cols: list[str], fpp: float, num_rows: int,
                       version: int, stripe_rows: int):
    """The ``_blooms/`` entry for one part file: file-level blooms
    always; per-STRIPE blooms too for v3 files (stripes are the task
    granule, so an equality probe should prune tasks, not just files —
    the bloom twin of the manifest's per-stripe zone maps)."""
    import pyarrow as pa

    if not bloom_cols:
        return None
    entry = {"columns": _build_blooms(chunks, colf_columns, bloom_cols,
                                      fpp, num_rows)}
    if version == VERSION_V3 and num_rows > stripe_rows:
        combined = {name: pa.chunked_array(chunks[name]).combine_chunks()
                    for name in bloom_cols}
        stripes = []
        lo = 0
        while lo < num_rows:
            hi = min(num_rows, lo + stripe_rows)
            sl = {name: [arr.slice(lo, hi - lo)]
                  for name, arr in combined.items()}
            stripes.append(_build_blooms(sl, colf_columns, bloom_cols,
                                         fpp, hi - lo))
            lo = hi
        entry["stripes"] = stripes
    return entry


def _reset_sidecar(path: str, dirname: str) -> None:
    """Overwrite-mode wipe of one sidecar family (every shard), locked
    against concurrent drops/compactions."""
    import shutil

    with dataset_commit_lock(path):
        d = _shard_dir(path, dirname)
        if os.path.isdir(d):
            shutil.rmtree(d, ignore_errors=True)


def _merge_bloom_sidecar(path: str, messages, reset: bool = False) -> None:
    """Record the tasks' per-file blooms: ONE new immutable shard in
    ``_blooms/`` — no lock, no read-modify-write (shard keys are fresh
    uuid data-file basenames, so concurrent appenders can never
    conflict; the round-9/10 lost-entry class is gone by
    construction). Overwrite mode wipes the old sidecar first."""
    if reset:
        _reset_sidecar(path, BLOOMS_DIR_NAME)
    entries = {os.path.basename(f): per
               for f, _stats, per in _iter_commit_parts(messages) if per}
    _append_sidecar_shard(path, BLOOMS_DIR_NAME, entries)


def _merge_manifest_sidecar(path: str, messages,
                            reset: bool = False) -> None:
    """Record the tasks' per-file zone-map stats: one new immutable
    shard in ``_manifests/`` — same lock-free O(commit) append as
    ``_merge_bloom_sidecar`` (previously a locked whole-dict rewrite
    of one manifest file, O(table) per commit)."""
    entries = {os.path.basename(f): stats
               for f, stats, _b in _iter_commit_parts(messages) if stats}
    if reset:
        _reset_sidecar(path, MANIFEST_DIR_NAME)
    _append_sidecar_shard(path, MANIFEST_DIR_NAME, entries)


def _chunk_stats(chunks: list, num_rows: int) -> dict:
    """Per-column min/max/null_count zone maps for the manifest."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = {}
    for name, chunk_list in chunks.items():
        arr = pa.chunked_array(chunk_list)
        entry = {"null_count": int(arr.null_count)}
        if arr.null_count < len(arr):
            mm = pc.min_max(arr)
            entry["min"] = mm["min"].as_py()
            entry["max"] = mm["max"].as_py()
        else:
            entry["min"] = entry["max"] = None
        if pa.types.is_floating(arr.type):
            # Arrow's min_max SKIPS NaN, but Spark orders NaN above
            # every value — a NaN row satisfies `col > v` for any v.
            # Record the NaN count so _file_may_match can refuse to
            # prune on upper-bound checks when NaNs are present.
            entry["nan_count"] = int(pc.sum(pc.is_nan(arr)).as_py() or 0)
        cols[name] = entry
    return {"num_rows": num_rows, "columns": cols}


def dataset_union_columns(path: str, files: list[str]) -> list:
    """Column union of the given files in first-seen order — the
    dataset schema under ADDITIVE evolution (later appends may carry
    extra columns; older files read them as typed NULLs). Cost: one
    header read for the first file plus one per file whose MANIFEST
    column set adds something new, so a uniform-schema dataset (the
    common case) reads exactly one header no matter how many files it
    has; files without a manifest entry fall back to a header read.
    Conflicting types for a shared column name raise — those bytes
    cannot be decoded under one dataset schema."""
    cols = list(read_schema(files[0]).columns)
    seen = {c.name: c for c in cols}
    man = load_manifest(path)
    for f in files[1:]:
        entry = man.get(os.path.basename(f))
        names = (set(entry["columns"].keys())
                 if entry and entry.get("columns") else None)
        if names is not None and names <= seen.keys():
            continue
        for c in read_schema(f).columns:
            prev = seen.get(c.name)
            if prev is None:
                seen[c.name] = c
                cols.append(c)
            elif prev.type != c.type:
                raise ColfFormatError(
                    f"dataset {path} has conflicting types for column "
                    f"'{c.name}': {prev.type} vs {c.type} "
                    f"(in {os.path.basename(f)})")
    return cols


def _arrow_type_for(field):
    import pyarrow as pa

    tag = SPARK_TO_COLF.get(field.dataType.simpleString())
    return {"int32": pa.int32(), "float64": pa.float64(),
            "utf8": pa.string()}[tag]


_ARROW_BY_COLF = None


def _read_file_columns_evo(path: str, cols: list[str], stripe, evo: tuple):
    """Field-ID column resolution (Iceberg schema evolution): map each
    requested TABLE column to this file's physical column by field id —
    embedded "id" for post-evolution files, the dataset name mapping
    for ID-less (reference-written / pre-evolution) files — then
    decode, RENAME to the table name, and WIDEN int32→float64 where
    the table type promoted. A table column with no match in this file
    (added or re-added after the file was written) decodes as typed
    nulls; a file column absent from the table schema (dropped) is
    never read. Returns (data dict keyed by table names, n_rows)."""
    import pyarrow as pa

    global _ARROW_BY_COLF
    if _ARROW_BY_COLF is None:
        _ARROW_BY_COLF = {"int32": pa.int32(), "float64": pa.float64(),
                          "utf8": pa.string()}
    fields, nm = dict(), dict(evo[1])
    for fid, name, typ in evo[0]:
        fields[name] = (fid, typ)
    fsch = read_schema(path)
    by_id: dict[int, tuple] = {}
    for c in fsch.columns:
        cid = c.fid if c.fid is not None else nm.get(c.name)
        if cid is not None:
            by_id[cid] = (c.name, c.type)
    src: dict[str, tuple] = {}
    for col in cols:
        fid, _typ = fields[col]
        hit = by_id.get(fid)
        if hit is not None:
            src[col] = hit
    raw = read_columns_arrow(path, [s[0] for s in src.values()],
                             stripe=stripe)
    if src:
        n = len(raw[next(iter(src.values()))[0]])
    else:
        n = (read_stripes_info(path)[stripe] if stripe is not None
             else fsch.num_rows)
    data = {}
    for col in cols:
        fid, ttyp = fields[col]
        hit = src.get(col)
        if hit is None:
            data[col] = pa.nulls(n, type=_ARROW_BY_COLF[ttyp])
            continue
        arr = raw[hit[0]]
        if hit[1] != ttyp:
            # the only legal promotion is int32 → float64
            # (maintenance.widen_column guards this at commit time)
            arr = arr.cast(_ARROW_BY_COLF[ttyp])
        data[col] = arr
    return data, n


def _read_file_columns(path: str, cols: list[str], stripe,
                       spark_schema: StructType, evo: tuple | None = None):
    """read_columns_arrow plus additive-evolution null fill: columns
    the DATASET schema carries but this (older) file does not decode
    as typed all-null arrays of the file's/stripe's row count. Returns
    (data dict, n_rows). The fast path (file has every column — all
    files of a never-evolved dataset) is a single file open. ``evo``
    (a recorded field-ID table schema) switches to by-ID resolution —
    renames, drops, and int32→float64 widening, see
    _read_file_columns_evo."""
    import pyarrow as pa

    if evo is not None:
        return _read_file_columns_evo(path, cols, stripe, evo)
    try:
        data = read_columns_arrow(path, cols, stripe=stripe)
        if cols:
            return data, len(data[cols[0]])
    except KeyError:
        # evolved dataset: this file predates >=1 requested column
        avail = {c.name for c in read_schema(path).columns}
        present = [c for c in cols if c in avail]
        data = read_columns_arrow(path, present, stripe=stripe)
        if present:
            n = len(data[present[0]])
        else:
            n = (read_stripes_info(path)[stripe] if stripe is not None
                 else read_schema(path).num_rows)
        fields = {f.name: f for f in spark_schema.fields}
        for c in cols:
            if c not in avail:
                data[c] = pa.nulls(n, type=_arrow_type_for(fields[c]))
        return data, n
    # metadata-only projection (no data columns requested)
    n = (read_stripes_info(path)[stripe] if stripe is not None
         else read_schema(path).num_rows)
    return data, n


def _check_append_schema(path: str, cols) -> None:
    """Appends may EXTEND the dataset schema (additive evolution, the
    parquet-schema-merging model): the write must carry every existing
    dataset column with its exact type (nullability may differ — each
    file's own null bitmaps stay correct) and may ADD new columns,
    which older files then read as NULLs. Anything else — a type
    change, a dropped column — would silently corrupt or truncate the
    dataset, so it raises."""
    existing = live_files(path) if os.path.isdir(path) else []
    if not existing:
        return
    meta = current_table_schema(path)
    if meta is not None:
        # evolved dataset: the RECORDED table schema is authoritative
        # (a widened column must be appended at its widened type; a
        # dropped column must not be required)
        have = [(f["name"], f["type"]) for f in meta["fields"]]
    else:
        have = [(c.name, c.type)
                for c in dataset_union_columns(path, existing)]
    want = {c.name: c.type for c in cols}
    for name, typ in have:
        wt = want.get(name)
        if wt is None:
            raise ColfFormatError(
                f"append schema mismatch at {path}: write is missing "
                f"dataset column '{name}' (appends may add columns but "
                f"not drop them; use mode('overwrite') to replace the "
                f"dataset)")
        if wt != typ:
            raise ColfFormatError(
                f"append schema mismatch at {path}: column '{name}' is "
                f"{typ} in the dataset but {wt} in the write (type "
                f"changes are not supported; additive new columns are)")


def _write_version(options) -> int:
    """``option("version", "2")`` opts a write into the v2 adaptive
    encodings; ``"3"`` additionally stripes each part file into
    independently-readable row groups (``option("stripeRows", N)``,
    default 1,000,000) so the reader plans one task per STRIPE —
    intra-file parallelism the v1 format fundamentally lacks
    (format.py module docstrings). Default 1 keeps every written file
    readable by the reference's reader. Readers need no option — each
    file self-describes via its preamble version byte, and a dataset
    may mix file versions."""
    v = int(options.get("version", "1"))
    if v not in SUPPORTED_VERSIONS and v != VERSION_V3:
        raise ColfFormatError(
            f"Unsupported colf write version {v} (supported: "
            f"{SUPPORTED_VERSIONS + (VERSION_V3,)})")
    return v


# one file per distinct partition tuple per task: a unique-ish key
# would silently shatter the dataset into per-row files, so the split
# fails fast past this many tuples in a single task
MAX_PARTITION_TUPLES_PER_TASK = 10_000


# ---------------------------------------------------------------------------
# Partition TRANSFORMS (Iceberg-style hidden partitioning): a
# partitionColumns entry is either a plain column name (identity) or
# ``bucket(N,col)`` / ``truncate(N,col)``. The derived value — never a
# materialized column — is what the split groups on and what the
# manifest records under the transform string as key. bucket() is THE
# answer to the high-cardinality guard: a million-key id column
# becomes N stable hash buckets, and a point lookup opens one of them.
# truncate() groups by int floor-multiple / string codepoint prefix,
# so raw-column zone maps stay contiguous per file and serve
# equality/range pruning exactly with no new reader code; bucket files
# are hash-scattered on the raw column, so the reader maps pushed
# EqualTo/In probes through the SAME bucket function against the
# manifest tuple (_partition_may_match).

import re as _re

_TRANSFORM_RE = _re.compile(
    r"^(bucket|truncate)\(\s*(\d+)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)$")


@dataclass(frozen=True)
class PartitionTransform:
    key: str   # canonical spec/manifest key: "col" or "bucket(16,col)"
    kind: str  # "identity" | "bucket" | "truncate"
    col: str   # source column
    n: int = 0


def parse_partition_transforms(specs: list[str]) -> list[PartitionTransform]:
    out = []
    for s in specs:
        s = s.strip()
        m = _TRANSFORM_RE.match(s)
        if m:
            kind, n, col = m.group(1), int(m.group(2)), m.group(3)
            if n < 1:
                raise ColfFormatError(
                    f"partitionColumns: {kind} width/count must be >= 1 "
                    f"in '{s}'")
            if kind == "bucket" and n == 1:
                raise ColfFormatError(
                    f"partitionColumns: bucket(1,{col}) is a constant — "
                    f"use more buckets or drop the transform")
            out.append(PartitionTransform(f"{kind}({n},{col})", kind, col, n))
        elif _re.match(r"^[A-Za-z_][A-Za-z0-9_]*$", s):
            out.append(PartitionTransform(s, "identity", s))
        else:
            raise ColfFormatError(
                f"partitionColumns entry '{s}' is neither a column name "
                f"nor bucket(N,col)/truncate(N,col)")
    return out


def bucket_of(value, colf_type: str, n: int) -> int:
    """The stable bucket id of one value: md5 over the same canonical
    byte encoding the Bloom filters use (bloom.py determinism
    contract), mod n — identical from any task, any executor, any
    rewrite, and from the reader's probe side."""
    import hashlib

    from . import bloom as B

    enc = (B.encode_int32(value) if colf_type == "int32"
           else B.encode_utf8(value))
    d = hashlib.md5(enc).digest()
    return int.from_bytes(d[:8], "little") % n


def transform_scalar(t: PartitionTransform, value, colf_type: str):
    """The derived partition value of one raw value (None stays None:
    null rows form their own partition group, as with identity)."""
    if value is None:
        return None
    if t.kind == "identity":
        return value
    if t.kind == "bucket":
        return bucket_of(value, colf_type, t.n)
    if colf_type == "utf8":  # truncate: codepoint prefix
        return value[: t.n]
    return (value // t.n) * t.n  # int floor-multiple (negatives too)


def _derived_array(tbl, t: PartitionTransform, colf_type: str):
    """Vectorized derived-partition-value array for the split writer:
    identity passes through; truncate is one pyarrow kernel; bucket
    md5-hashes each DISTINCT value once (dictionary-encode, then a
    take through the per-unique lookup) — O(uniques) Python, O(rows)
    Arrow."""
    import pyarrow as pa
    import pyarrow.compute as pc

    col = tbl[t.col]
    if t.kind == "identity":
        return col
    if t.kind == "truncate":
        if colf_type == "utf8":
            return pc.utf8_slice_codeunits(col, 0, t.n)
        a = col.combine_chunks()
        mask = pc.is_null(a)
        import numpy as np

        filled = pc.fill_null(a, 0).to_numpy(zero_copy_only=False)
        # int64 arithmetic: the floor-multiple of INT32_MIN-adjacent
        # values leaves int32 range (e.g. truncate(100, -2^31) →
        # -2147483700), and the derived value is metadata-only anyway —
        # must agree with transform_scalar's unbounded Python ints
        der = pa.array(np.floor_divide(filled.astype("int64"), t.n) * t.n,
                       pa.int64())
        return pc.if_else(mask, pa.scalar(None, pa.int64()), der)
    # bucket
    a = col.combine_chunks()
    enc = a.dictionary_encode()
    lut = pa.array([bucket_of(u, colf_type, t.n)
                    for u in enc.dictionary.to_pylist()], pa.int32())
    if len(lut) == 0:
        return pa.nulls(len(a), pa.int32())
    return lut.take(enc.indices)


def _split_write_files(path: str, colf_columns, chunks: dict,
                       partition_cols: list[str], version: int,
                       stripe_rows: int, bloom_cols: list[str],
                       bloom_fpp: float, fname_stem: str,
                       tuple_cap: int | None = None,
                       ndv_cols: list[str] | None = None,
                       ndv_k: int = NDV_K_DEFAULT) -> list[dict]:
    """partitionColumns write path (batch AND stream sinks): one
    value-homogeneous part file per distinct partition tuple this
    task holds, with the tuple recorded in the manifest entry
    (``"partition"``).

    This is the Iceberg partitioning model, not Hive's: the partition
    tuple lives in METADATA, the directory stays flat — at 100 TB the
    planner reads one sidecar, never a recursive listing. No reader
    change is needed for pruning, and the pruning is EXACT: a
    value-homogeneous file's zone map has min == max == value, so the
    existing ``_file_may_match`` keeps a file iff the predicate
    matches its partition value (equality, IN, ranges, IsNull all
    inherit this for free).

    File-count shape: each task emits one file per tuple it SEES, so
    total files = sum over tasks of distinct-tuples-in-task. The
    intended pattern for low-cardinality keys is
    ``df.repartition(partition_cols...)`` upstream (each tuple then
    lands in exactly one task → exactly one file per tuple); without
    it the split still bounds files at tasks × tuples and every file
    stays homogeneous (pruning unaffected, just more files —
    compact() folds them later)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    names = [c.name for c in colf_columns]
    types = {c.name: c.type for c in colf_columns}
    tbl = pa.table({n: pa.chunked_array(chunks[n]) for n in names})
    transforms = parse_partition_transforms(partition_cols)
    derived = {t.key: _derived_array(tbl, t, types[t.col])
               for t in transforms}
    # group key: per-column parts are "N" for NULL else
    # "V<bytelen>:<value>" — the marker separates NULL from any real
    # string (including one spelling a sentinel), and the length
    # prefix makes the tuple concatenation injective no matter what
    # bytes the values contain (a bare separator would let
    # ("a<sep>b","c") collide with ("a","b<sep>c"))
    def part_key(arr):
        col = pc.cast(arr, pa.string())
        lens = pc.cast(pc.binary_length(pc.cast(col, pa.binary())),
                       pa.string())
        tagged = pc.binary_join_element_wise("V", lens, ":", col, "")
        return pc.fill_null(tagged, "N")  # tagged is null iff col is

    keyed = [part_key(derived[t.key]) for t in transforms]
    key = (keyed[0] if len(keyed) == 1
           else pc.binary_join_element_wise(*keyed, ""))
    if isinstance(key, pa.ChunkedArray):
        key = (pa.concat_arrays([c.cast(pa.string())
                                 for c in key.chunks])
               if key.num_chunks else pa.array([], pa.string()))
    enc = key.dictionary_encode()
    cap = (tuple_cap if tuple_cap is not None
           else MAX_PARTITION_TUPLES_PER_TASK)
    if len(enc.dictionary) > cap:
        raise ColfFormatError(
            f"partitionColumns {partition_cols} produced "
            f"{len(enc.dictionary)} distinct tuples in one task "
            f"(cap {cap}) — this column is "
            f"too high-cardinality to partition by (one file per "
            f"tuple); use bucket(N,{transforms[0].col}) or "
            f"truncate(N,col) to bound the tuple count, or zone-map/"
            f"Bloom pruning instead")
    codes = enc.indices
    os.makedirs(path, exist_ok=True)
    parts = []
    for code in range(len(enc.dictionary)):
        sub = tbl.filter(pc.equal(codes, code))
        n = sub.num_rows
        sub_chunks = {nm: list(sub.column(nm).chunks) for nm in names}
        fname = f"{fname_stem}-s{code:03d}-{uuid.uuid4().hex[:8]}.colf"
        target = os.path.join(path, fname)
        tmp = target + ".tmp"
        stats = _write_part_file(tmp, ColfSchema(n, colf_columns),
                                 sub_chunks, version, stripe_rows)
        stats["partition"] = {
            t.key: transform_scalar(t, sub.column(t.col)[0].as_py(),
                                    types[t.col])
            for t in transforms}
        kmv = _build_kmv(sub_chunks, colf_columns, ndv_cols or [], ndv_k)
        if kmv:
            stats["kmv"] = kmv
        blooms = _build_bloom_entry(sub_chunks, colf_columns, bloom_cols,
                                    bloom_fpp, n, version, stripe_rows)
        os.rename(tmp, target)
        parts.append({"file": target, "stats": stats, "blooms": blooms})
    return parts


def _partition_tuple_cap(options) -> int:
    """``partitionTupleCap`` overrides the per-task distinct-tuple
    guard (default MAX_PARTITION_TUPLES_PER_TASK)."""
    cap = int(options.get("partitionTupleCap",
                          str(MAX_PARTITION_TUPLES_PER_TASK)))
    if cap < 1:
        raise ColfFormatError("partitionTupleCap must be >= 1")
    return cap


def _validate_partition_cols(wanted: list[str],
                             colf_columns: list[ColfColumn]) -> list[str]:
    """Each entry is a column name or a bucket/truncate transform of
    one; the SOURCE column must exist and be int32/utf8 — float64
    partition identity is ill-defined the same way float Bloom probes
    were (NaN/±0.0 bit-pattern identity vs SQL equality), so it fails
    fast. Returns the CANONICAL spec strings (whitespace-normalized),
    which is what the snapshot log records and what spec comparisons
    use."""
    transforms = parse_partition_transforms(wanted)
    by_name = {c.name: c for c in colf_columns}
    for t in transforms:
        col = by_name.get(t.col)
        if col is None:
            raise ColfFormatError(
                f"partitionColumns names unknown column '{t.col}' "
                f"(have: {sorted(by_name)})")
        if col.type == "float64":
            raise ColfFormatError(
                f"partitionColumns: float64 column '{t.col}' is "
                f"unsupported (float partition identity is ill-defined)")
    return [t.key for t in transforms]


def _split_spec_list(s: str) -> list[str]:
    """Split a partitionColumns option on TOP-LEVEL commas only —
    the comma inside ``bucket(8,k)`` is part of the entry."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
            continue
        depth += (ch == "(") - (ch == ")")
        cur.append(ch)
    out.append("".join(cur))
    return [e.strip() for e in out if e.strip()]


def _partition_opts(options, colf_columns: list[ColfColumn]) -> list[str]:
    """Parse ``partitionColumns`` ("a,b" / "a,bucket(8,k)")."""
    cols_opt = options.get("partitionColumns")
    if not cols_opt:
        return []
    return _validate_partition_cols(_split_spec_list(cols_opt),
                                    colf_columns)


def _validate_sort_cols(wanted: list[str],
                        colf_columns: list[ColfColumn]) -> list[str]:
    by_name = {c.name for c in colf_columns}
    for c in wanted:
        if c not in by_name:
            raise ColfFormatError(
                f"sortOrder names unknown column '{c}' "
                f"(have: {sorted(by_name)})")
    return wanted


def _resolve_sort_order(options, path: str,
                        colf_columns: list[ColfColumn],
                        overwrite: bool) -> tuple[list[str],
                                                  list[str] | None]:
    """The columns this write must in-file sort on and the order to
    RECORD at commit (None = no change). Unlike the partition spec,
    the sort order is performance metadata, not identity — an explicit
    ``sortOrder`` simply ADOPTS (and records) a new order, an absent
    one inherits the dataset's recorded order (for OVERWRITES too —
    Iceberg's model: sort order is table metadata and survives data
    overwrites; pass ``sortOrder ""`` to clear it explicitly), and an
    overwrite whose new schema drops a recorded sort column clears the
    order (it can no longer be satisfied)."""
    opt = options.get("sortOrder")
    cols = ([c.strip() for c in opt.split(",") if c.strip()]
            if opt is not None else None)
    if cols is not None:
        cols = _validate_sort_cols(cols, colf_columns)
    exists = os.path.isdir(path) and dataset_files(path)
    if overwrite or not exists:
        if cols is None and overwrite and exists:
            rec = current_sort_order(path)
            have = {c.name for c in colf_columns}
            if rec and all(c in have for c in rec):
                # overwrite resets the snapshot log, so re-record the
                # inherited order into the fresh log (and sort by it)
                return rec, rec
        return (cols or []), (cols if cols is not None else None)
    if cols is None:
        rec = current_sort_order(path)
        if rec:
            return _validate_sort_cols(rec, colf_columns), None
        return [], None
    rec = current_sort_order(path)
    return cols, (cols if cols != (rec or []) else None)


def _sort_chunks(chunks: dict, colf_columns: list[ColfColumn],
                 sort_cols: list[str]) -> dict:
    """In-file ascending sort (nulls last) of one part file's columns —
    an executor-side Arrow kernel over data already in memory, so the
    dataset-wide clustering a ``repartitionByRange`` upstream (or a
    compaction rewrite) establishes across files continues INSIDE each
    file, where the v3 per-stripe zone maps need it."""
    if not sort_cols:
        return chunks
    import pyarrow as pa
    import pyarrow.compute as pc

    names = [c.name for c in colf_columns]
    tbl = pa.table({n: pa.chunked_array(chunks[n]) for n in names})
    idx = pc.sort_indices(
        tbl, sort_keys=[(c, "ascending") for c in sort_cols])
    tbl = tbl.take(idx)
    return {n: [tbl.column(n).combine_chunks()] for n in names}


def _resolve_append_spec(options, path: str, partition_cols: list[str],
                         colf_columns: list[ColfColumn],
                         ) -> tuple[list[str], list[str] | None]:
    """Append-time partition-spec contract (Iceberg model: the spec is
    table metadata, not a per-write choice). Returns the partition
    columns this write must use and the spec to RECORD at commit
    (``None`` = no spec change).

    - ``partitionColumns`` absent → inherit the dataset's effective
      spec (recorded, else legacy-inferred).
    - present and equal to the effective spec → write as asked.
    - present and DIFFERENT → loud failure, unless
      ``evolvePartitionSpec=true``: then this write adopts the new
      spec, the commit records it, and existing files keep their old
      layout (readers prune per-file from manifest tuples either way).
    """
    if not (os.path.isdir(path) and dataset_files(path)):
        return partition_cols, (partition_cols or None)
    rec = current_partition_spec(path)
    if rec is None and not load_manifest(path):
        # no COMMITTED metadata at all: a brand-new dataset whose
        # first commit is in flight (the streaming sink re-instantiates
        # its writer between task writes and the epoch commit), or a
        # reference-writer/by-hand directory — there is no layout
        # evidence to contract-check, and this write's columns become
        # the recorded spec going forward
        return partition_cols, (partition_cols or None)
    effective = rec if rec is not None else inferred_partition_spec(path)
    if options.get("partitionColumns") is None:
        if effective:
            return _validate_partition_cols(effective, colf_columns), None
        return [], None
    if partition_cols == effective:
        return partition_cols, None
    evolve = str(options.get("evolvePartitionSpec",
                             "false")).lower() == "true"
    if not evolve:
        raise ColfFormatError(
            f"append partitionColumns {partition_cols or '[]'} does not "
            f"match the dataset's current partition spec "
            f"{effective or '[]'} at {path}. Append with matching (or "
            f"absent — it is inherited) partitionColumns, or pass "
            f".option('evolvePartitionSpec', 'true') to adopt the new "
            f"spec for this and future writes (existing files keep "
            f"their layout; compact() rewrites them into the current "
            f"spec).")
    return partition_cols, partition_cols


DEFAULT_STRIPE_ROWS = 1_000_000


def _stripe_rows_opt(options) -> int:
    n = int(options.get("stripeRows", str(DEFAULT_STRIPE_ROWS)))
    if n < 1:
        raise ColfFormatError("stripeRows must be >= 1")
    return n


def _write_part_file(tmp: str, schema: ColfSchema, chunks: dict,
                     version: int, stripe_rows: int) -> dict:
    """Write one part file at the requested version and return its
    manifest stats (file-level zone maps; per-stripe zone maps too for
    v3, so the reader can plan and prune stripes from metadata alone)."""
    stats = _chunk_stats(chunks, schema.num_rows)
    if version == VERSION_V3:
        write_colf_arrow_v3(tmp, schema, chunks, stripe_rows)
        stats["stripes"] = _stripe_stats(chunks, schema.num_rows,
                                         stripe_rows)
    else:
        write_colf_arrow(tmp, schema, chunks, version=version)
    return stats


def _stripe_stats(chunks: dict, num_rows: int, stripe_rows: int) -> list:
    import pyarrow as pa

    combined = {name: pa.chunked_array(cl).combine_chunks()
                for name, cl in chunks.items()}
    out = []
    lo = 0
    while lo < num_rows:
        hi = min(num_rows, lo + stripe_rows)
        sl = {name: [arr.slice(lo, hi - lo)]
              for name, arr in combined.items()}
        out.append(_chunk_stats(sl, hi - lo))
        lo = hi
    return out or [_chunk_stats(chunks, 0)]


def _assign_field_ids(options, path: str, colf_columns, overwrite: bool,
                      staged: bool) -> dict | None:
    """Resolve the evolved table's field IDs onto this write's columns
    (mutating each ColfColumn's ``fid``) and return the EXTENDED table
    schema to commit when the write adds columns (else None). Shared
    by the batch AND streaming writers — a sink that skipped this
    would write ID-less files whose renamed columns silently decode
    as NULL through the frozen bootstrap name mapping."""
    meta_src = options.get("tableSchemaFrom") or (
        None if (overwrite or not os.path.isdir(path)) else path)
    meta = current_table_schema(meta_src) if meta_src else None
    if meta is None:
        return None
    by_name = {f["name"]: f for f in meta["fields"]}
    # fresh ids start past last_id, the ever-assigned high-water
    # mark — never past max(current ids), which would REUSE a
    # dropped column's id and resurrect its old data
    next_id = meta.get("last_id", max(
        (f["id"] for f in meta["fields"]), default=0)) + 1
    new_fields = []
    for c in colf_columns:
        f = by_name.get(c.name)
        if f is not None:
            c.fid = f["id"]
        else:
            c.fid = next_id
            next_id += 1
            new_fields.append(
                {"id": c.fid, "name": c.name, "type": c.type})
    if new_fields and options.get("tableSchemaFrom"):
        raise ColfFormatError(
            f"maintenance rewrite would add columns "
            f"{[f['name'] for f in new_fields]} missing from "
            f"the evolved table schema")
    if new_fields and staged:
        raise ColfFormatError(
            f"staged/branch appends cannot extend an evolved "
            f"table's schema (new columns "
            f"{[f['name'] for f in new_fields]}): the recorded "
            f"field-ID schema lives on the published lineage. "
            f"Add the columns with a published append first.")
    if new_fields and not options.get("tableSchemaFrom"):
        return {"fields": list(meta["fields"]) + new_fields,
                "last_id": next_id - 1,
                "name_mapping": dict(meta["name_mapping"])}
    return None


def _check_constraint_batches(batches, constraints: dict) -> None:
    """Executor-side CHECK-constraint validation of one partition's
    Arrow batches, before any byte hits disk. SQL-standard CHECK
    semantics (Delta's): a row violates only when the condition
    evaluates to FALSE — NULL satisfies. Evaluation is DuckDB over
    the zero-copy Arrow table, so arbitrary SQL conditions come for
    free, vectorized, with no per-row Python and no extra shuffle;
    a violation fails this write task, which fails the job before the
    snapshot commit — the table is untouched."""
    import duckdb
    import pyarrow as pa

    tbl = pa.Table.from_batches(batches)
    con = duckdb.connect()
    try:
        con.register("_colf_write_batch", tbl)
        for name, cond in sorted(constraints.items()):
            try:
                bad = con.execute(
                    f"SELECT COUNT(*) FROM _colf_write_batch "
                    f"WHERE NOT COALESCE(({cond}), TRUE)").fetchone()[0]
            except duckdb.Error as exc:
                raise ColfFormatError(
                    f"CHECK constraint {name!r} ({cond}) failed to "
                    f"evaluate against the written schema: {exc}"
                ) from exc
            if bad:
                raise ColfFormatError(
                    f"CHECK constraint {name!r} violated by {bad} "
                    f"row(s) in this write: ({cond}) is false for "
                    f"them. Nothing was committed.")
    finally:
        con.close()


class ColfWriter(DataSourceArrowWriter):
    def __init__(self, options, schema: StructType, overwrite: bool):
        self.path = _local_path(options.get("path"))
        if not self.path:
            raise ColfFormatError("colf writer requires a path")
        self.schema = schema
        self.overwrite = overwrite
        self.version = _write_version(options)
        self.stripe_rows = _stripe_rows_opt(options)
        self.colf_columns = spark_to_colf_columns(schema)  # validate types early
        self.bloom_cols, self.bloom_fpp = _bloom_opts(options, self.colf_columns)
        self.partition_cols = _partition_opts(options, self.colf_columns)
        self.partition_tuple_cap = _partition_tuple_cap(options)
        # CHECK constraints (Delta model): resolved DRIVER-side from
        # the table's sidecar (or, for maintenance rewrites that write
        # to a tmp dir, from the live dataset via constraintsFrom) and
        # shipped to executors inside this pickled writer — every
        # partition validates its batches BEFORE writing any file, so
        # a violating write fails with zero on-disk residue and zero
        # committed state. Overwrites of a constrained table stay
        # constrained (Delta semantics: constraints survive overwrite;
        # removal is an explicit drop_constraint).
        csrc = options.get("constraintsFrom") or self.path
        self.constraints = load_constraints(csrc)
        self.ndv_cols, self.ndv_k = _ndv_opts(options, self.colf_columns)
        if overwrite:
            # an overwrite DEFINES the table: record its spec (possibly
            # empty) so later appends inherit it
            self.commit_spec: list[str] | None = self.partition_cols
        else:
            _check_append_schema(self.path, self.colf_columns)
            self.partition_cols, self.commit_spec = _resolve_append_spec(
                options, self.path, self.partition_cols, self.colf_columns)
        self.sort_cols, self.commit_sort = _resolve_sort_order(
            options, self.path, self.colf_columns, overwrite)
        # option wap=true stages this APPEND as a write-audit-publish
        # commit: the snapshot lands in the log (auditable via
        # option("snapshot", v)) but stays invisible to normal reads
        # and to later appends until maintenance.publish_wap()
        self.wap = options.get("wap", "false").lower() == "true"
        # option branch=name appends onto a named BRANCH lineage
        # (maintenance.create_branch): the branch head advances, the
        # published table is untouched until maintenance.fast_forward
        self.branch = options.get("branch")
        if self.wap or self.branch is not None:
            what = "wap=true" if self.wap else "branch writes"
            if self.wap and self.branch is not None:
                raise ColfFormatError(
                    "options wap and branch are mutually exclusive "
                    "(a WAP stage is an anonymous single-commit branch)")
            if overwrite:
                raise ColfFormatError(
                    f"{what} stage appends only; an overwrite "
                    f"redefines the table and cannot be staged")
            if self.commit_spec is not None or self.commit_sort is not None:
                raise ColfFormatError(
                    f"{what} cannot change table metadata (partition "
                    f"spec / sort order); evolve the published table "
                    f"first, then stage the data write")
        if self.branch is not None:
            ref = load_refs(self.path).get(self.branch)
            if ref is None or ref.get("type") != "branch":
                raise ColfFormatError(
                    f"unknown branch '{self.branch}' at {self.path} "
                    f"(create it with maintenance.create_branch)")
        # FIELD-ID table schema (Iceberg schema evolution): writes
        # against an evolved dataset embed each column's id in the file
        # schema JSON so reads resolve across renames/drops/widening.
        # Appends that ADD columns extend the recorded schema in the
        # same commit. option("tableSchemaFrom", dsdir) lets the
        # maintenance rewrites (CoW delete/update/merge, compact),
        # which write to a TMP dir before renaming files in, embed the
        # LIVE dataset's ids — without it their id-less outputs would
        # resolve only through the bootstrap name mapping, losing
        # columns re-added after a drop.
        self.commit_table_schema = _assign_field_ids(
            options, self.path, self.colf_columns, overwrite,
            staged=self.wap or self.branch is not None)

    def write(self, iterator):
        """Executor-side: drain this partition's Arrow batches into one
        .colf file (columnar all the way — no row pivot)."""
        from pyspark import TaskContext

        batches = list(iterator)
        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        num_rows = sum(b.num_rows for b in batches)
        if num_rows == 0:
            return ColfCommitMessage(file=None)  # no empty part files
        if self.constraints:
            _check_constraint_batches(batches, self.constraints)
        chunks = {
            col.name: [b.column(i) for b in batches]
            for i, col in enumerate(self.colf_columns)
        }
        chunks = _sort_chunks(chunks, self.colf_columns, self.sort_cols)
        if self.partition_cols:
            return self._write_split(chunks, pid)
        os.makedirs(self.path, exist_ok=True)
        fname = f"part-{pid:05d}-{uuid.uuid4().hex[:8]}.colf"
        target = os.path.join(self.path, fname)
        tmp = target + ".tmp"
        stats = _write_part_file(tmp, ColfSchema(num_rows, self.colf_columns),
                                 chunks, self.version, self.stripe_rows)
        kmv = _build_kmv(chunks, self.colf_columns, self.ndv_cols,
                         self.ndv_k)
        if kmv:
            stats["kmv"] = kmv
        blooms = _build_bloom_entry(chunks, self.colf_columns,
                                    self.bloom_cols, self.bloom_fpp,
                                    num_rows, self.version, self.stripe_rows)
        os.rename(tmp, target)
        return ColfCommitMessage(file=target, stats=stats, blooms=blooms)

    def _write_split(self, chunks: dict, pid: int) -> "ColfCommitMessage":
        return ColfCommitMessage(file=None, parts=_split_write_files(
            self.path, self.colf_columns, chunks, self.partition_cols,
            self.version, self.stripe_rows, self.bloom_cols,
            self.bloom_fpp, f"part-{pid:05d}",
            self.partition_tuple_cap, self.ndv_cols, self.ndv_k))

    def commit(self, messages):
        import json

        written = {f for f, _s, _b in _iter_commit_parts(messages)}
        # live set BEFORE this commit (latest snapshot, or listing for
        # pre-snapshot dirs) — what an append extends. The log version
        # it was computed against becomes the CAS expected-parent, so
        # a concurrent append fails loudly instead of silently losing
        # the other writer's files (single-writer contract, enforced).
        branch_deletes = branch_eq_deletes = None
        if self.overwrite or not os.path.isdir(self.path):
            prior, parent = [], None
        elif self.branch is not None:
            # a branch append bases on the BRANCH head, not the
            # published head; CAS still guards the whole log
            refs = load_refs(self.path)
            ref = refs.get(self.branch)
            if ref is None or ref.get("type") != "branch":
                raise ColfFormatError(
                    f"branch '{self.branch}' disappeared from "
                    f"{self.path} between plan and commit")
            meta = load_snapshots_meta(self.path)
            if not any(s["version"] == ref["version"] for s in meta):
                raise ColfFormatError(
                    f"branch '{self.branch}' head version "
                    f"{ref['version']} was vacuumed from the log")
            head = materialize_log_versions(
                self.path, [ref["version"]])[ref["version"]]
            parent = meta[-1]["version"] if meta else 0
            prior = list(head["files"])
            # a branch commit inherits delete state from the BRANCH
            # HEAD (the fork-point snapshot on the first branch
            # commit), never from whatever the published head mutated
            # to since the fork — otherwise a MoR delete on main after
            # the fork would mask branch reads of rows never deleted
            # on the branch, and a compact on main (deletes=[]) would
            # resurrect rows masked at the fork. Pass explicitly:
            # commit_snapshot's None-means-inherit fallback resolves
            # against the published lineage when the branch has no
            # prior commits, which is exactly the wrong lineage here.
            branch_deletes = list(head.get("deletes") or [])
            branch_eq_deletes = list(head.get("eq_deletes") or [])
        else:
            meta = load_snapshots_meta(self.path)
            parent = meta[-1]["version"] if meta else 0
            prior = [os.path.basename(f) for f in live_files(self.path)]
        if self.overwrite and os.path.isdir(self.path):
            for f in os.listdir(self.path):
                full = os.path.join(self.path, f)
                if full not in written and (f.endswith(".colf")
                                            or f.endswith(".tmp")):
                    os.remove(full)
        existing = dataset_files(self.path) if os.path.isdir(self.path) else []
        if not written and not existing:
            # all partitions were empty: materialize a valid 0-row file
            # (engine-defined 0-row behavior, SURVEY.md §7 M3b)
            os.makedirs(self.path, exist_ok=True)
            target = os.path.join(self.path, "part-00000-empty.colf")
            # write_colf handles v1/v2 only; a 0-row file gains nothing
            # from v3 striping, so clamp the sentinel (a delete-all on
            # a v3 dataset adopts this path and must not fail)
            write_colf(target, ColfSchema(0, self.colf_columns),
                       {c.name: [] for c in self.colf_columns},
                       version=min(self.version, 2))
            written = {target}
        # sidecar zone-map manifest for reader-side file skipping
        # (format-compatible: extra file, not a format change — M6)
        _merge_manifest_sidecar(self.path, messages,
                                reset=self.overwrite)
        _merge_bloom_sidecar(self.path, messages, reset=self.overwrite)
        # metadata-log commit: the new live set is this write's files
        # plus (append only) the prior live set. Overwrite physically
        # removed the old part files, so its history restarts at v1.
        new_version = commit_snapshot(
            self.path,
            prior + [os.path.basename(f) for f in written],
            reset=self.overwrite,
            expected_parent=parent,
            spec=self.commit_spec,
            sort=self.commit_sort,
            # sort and clustering are ONE layout slot (the
            # set_sort_order/set_clustering invariant): recording a new
            # sort order must clear a previously recorded clustering,
            # or compact() would keep z-ordering by the stale keys
            cluster=([] if self.commit_sort is not None
                     and not self.overwrite
                     and current_clustering(self.path) else None),
            staged=self.wap,
            added=[os.path.basename(f) for f in written]
            if (self.wap or self.branch is not None) else None,
            branch=self.branch,
            deletes=branch_deletes,
            eq_deletes=branch_eq_deletes,
            table_schema=self.commit_table_schema,
        )
        if self.branch is not None:
            # advance the branch head and accumulate its delta (what
            # fast_forward will cherry-pick onto the published head)
            refs = load_refs(self.path)
            ref = refs[self.branch]
            ref["version"] = new_version
            ref["added"] = sorted(set(ref.get("added", []))
                                  | {os.path.basename(f) for f in written})
            write_refs(self.path, refs)

    def abort(self, messages):
        for file, _s, _b in _iter_commit_parts(messages):
            if os.path.exists(file):
                os.remove(file)


class ColfStreamReader(DataSourceStreamReader):
    """Micro-batch source tailing a COLF dataset directory with
    EXECUTOR-side reads: each batch is planned as one InputPartition
    per newly-arrived ``.colf`` file and decoded Arrow-vectorized in
    the tasks — rows never pass through the driver.  (The previous
    ``SimpleDataSourceStreamReader`` implementation materialized every
    batch on the driver; a batch over a few large files would OOM it
    at production scale.)

    OFFSETS are a constant-size cursor into the dataset's metadata log
    when one exists: ``{"v": version, "k": files_consumed_within_v}``
    means "every file committed by versions < v, plus the first k of
    version v's (sorted) newly-added files".  The log is append-only
    under the streaming contract, so a cursor expands to a
    deterministic file set and a batch re-plans exactly ``end − start``
    on failure — same replay guarantees as a file list, without the
    offset JSON growing O(files) per commit (the previous format; at a
    file-per-micro-batch-task cadence that offset itself became the
    scale limiter).  Datasets WITHOUT a metadata log (reference-writer
    dirs) keep the legacy sorted-basename-list offsets.  Checkpoints
    written with legacy offsets upgrade transparently: both forms
    expand to file sets, so a batch may span a legacy ``start`` and a
    cursor ``end`` (pinned by
    tests/test_colf_streaming.py::test_stream_offsets_upgrade_from_legacy).

    ``maxFilesPerTrigger`` (0 = unlimited) caps how many new files each
    ``latestOffset`` call admits; ``maxBytesPerTrigger`` is the byte
    form (Delta's soft cap: the crossing file is included, and one
    file always admits so an over-cap file still makes progress) —
    both caps compose.  Caveats, pinned by
    tests/test_colf_streaming.py:

    - ``Trigger.AvailableNow`` snapshots ONE end offset at query start
      (Spark wraps sources lacking admission control in
      ``AvailableNowDataStreamWrapper``), so combining it with a cap
      stops after the first N files — a rate-limited drain needs a
      processingTime trigger.  A warning is emitted on construction.
    - Exactly-once holds structurally: a batch delivers exactly
      ``end − start``, and every ``partitions``/``commit`` call folds
      its offsets back into the reader's baseline.  On RESTART the
      first ``latestOffset`` runs before any baseline exists, so a
      capped offset can sit "behind" the checkpoint; that only yields
      one empty catch-up batch (``end − start = ∅``) — never
      re-delivery, because the baseline rehydrates from ``start``
      before any later offset is produced.
    """

    def __init__(self, options, schema: StructType):
        self.path = _local_path(options.get("path"))
        if not self.path:
            raise ColfFormatError("colf stream reader requires a path")
        self.schema = schema
        self.max_files = int(options.get("maxFilesPerTrigger", "0"))
        # maxBytesPerTrigger (Delta's soft byte cap): admit files until
        # the batch's cumulative size reaches the cap — the crossing
        # file is included, and the first file always admits so a
        # single over-cap file still makes progress. Composes with
        # maxFilesPerTrigger (both caps enforced).
        self.max_bytes = int(options.get("maxBytesPerTrigger", "0"))
        if self.max_files > 0 or self.max_bytes > 0:
            import warnings

            warnings.warn(
                "colf maxFilesPerTrigger/maxBytesPerTrigger rate-limit "
                "each micro-batch; Trigger.AvailableNow snapshots a "
                "single capped end offset and will NOT drain the "
                "backlog — use a processingTime trigger for "
                "rate-limited drains",
                stacklevel=2,
            )
        # merge-on-read deletes cannot be retracted through a
        # file-granularity stream (an already-emitted row has no
        # "unsend"), so a dataset whose PUBLISHED head carries live
        # position/equality deletes refuses to start streaming unless
        # the consumer explicitly opts in — Delta's ignoreDeletes
        # contract, word for word. compact() materializes the masks
        # and clears the lists, after which streams start cleanly.
        self._ignore_deletes = (
            options.get("ignoreDeletes", "false").lower() == "true")
        self._changelog = (
            options.get("readChangeFeed", "false").lower() == "true")
        # changelog mode: per-COMMIT offsets {"cv": version}; the
        # stream emits each published commit's row-level changes (see
        # plan_changelog_partitions). startingVersion=N skips history
        # up to and including N (default 0 = replay from the first
        # commit — a consumer reconstructing state wants the inserts).
        self._cdc_start = int(options.get("startingVersion", "0"))
        self._skip_change = (
            options.get("skipChangeCommits", "false").lower() == "true")
        if self._changelog and (self.max_files > 0 or self.max_bytes > 0):
            raise ColfFormatError(
                "maxFilesPerTrigger/maxBytesPerTrigger are not "
                "supported with readChangeFeed: changelog offsets are "
                "per commit, and splitting a commit would tear its "
                "atomicity. Use maxCommitsPerTrigger to bound "
                "changelog micro-batches at commit granularity.")
        # changelog rate limit (round-10 verdict item #6): admit at
        # most N PUBLISHED commits per trigger — the commit is the
        # atomicity unit a change feed cannot split, so this is the
        # finest legal cap. 0 = unlimited (head every trigger).
        self._max_commits = int(options.get("maxCommitsPerTrigger", "0"))
        if self._max_commits < 0:
            raise ColfFormatError(
                f"maxCommitsPerTrigger must be >= 1 (0/unset = "
                f"unlimited), got {self._max_commits}")
        if self._max_commits > 0 and not self._changelog:
            raise ColfFormatError(
                "maxCommitsPerTrigger applies to readChangeFeed "
                "streams only; plain streams rate-limit with "
                "maxFilesPerTrigger/maxBytesPerTrigger")
        if self._max_commits > 0:
            import warnings

            warnings.warn(
                "colf maxCommitsPerTrigger rate-limits each "
                "micro-batch; Trigger.AvailableNow snapshots a single "
                "capped end offset and will NOT drain the backlog — "
                "use a processingTime trigger for rate-limited drains",
                stacklevel=2,
            )
        self._cdc_cursor = self._cdc_start
        self._refuse_live_deletes()
        self._seen: set[str] = set()   # legacy-offset baseline (no-log dirs)
        self._cursor: tuple[int, int] = (0, 0)  # log-cursor baseline

    def _refuse_live_deletes(self) -> None:
        """Raise when the PUBLISHED head carries live merge-on-read
        deletes and the consumer has not opted in. Called at stream
        START and again at every ``latestOffset`` — a MoR delete
        committed mid-stream must fail the stream at the offending
        commit (Delta's contract), not be silently ignored by
        mask-blind batches planned after it. ``readChangeFeed`` streams
        are exempt: the changelog REPRESENTS deletes as retraction
        rows instead of refusing them."""
        if self._ignore_deletes or self._changelog:
            return
        head = published_head(self.path) if os.path.isdir(self.path) else None
        if head and (head.get("deletes") or head.get("eq_deletes")):
            raise ColfFormatError(
                f"dataset {self.path} carries live merge-on-read "
                f"deletes; a stream cannot retract already-emitted "
                f"rows, and newly streamed files would ignore the "
                f"masks. Materialize them first — compact(retain=True) "
                f"then vacuum() so the log's replayable lineage is "
                f"mask-free — or opt in to mask-blind streaming with "
                f"option('ignoreDeletes', 'true').")

    # -- offset plumbing ---------------------------------------------------

    def _log_entries(self) -> list[tuple[int, list[str]]]:
        """(version, sorted NEW basenames of that commit) per PUBLISHED
        log entry — the deterministic expansion basis for cursor
        offsets. Staged (WAP) and branch commits are excluded: their
        files must reach a streaming consumer only when the publishing
        / fast-forward commit lands them on the published lineage —
        the same isolation batch reads get.

        This runs on EVERY latestOffset poll (processingTime triggers
        poll continuously), so it folds the raw deltas incrementally —
        O(commits + files) per poll instead of the full O(commits x
        files) history materialization. Published delta entries'
        ``base`` is the previous published version by construction, so
        ``files_add`` IS the new-file set."""
        raw, _ = _read_log_raw_cached(self.path)
        out = []
        prev: set[str] = set()
        for v in sorted(raw):
            e = raw[v]
            if e.get("staged") or e.get("branch") is not None:
                continue
            had_prev = bool(prev)
            if "files" in e:  # self-contained (replay basis)
                cur = set(e["files"])
                new = sorted(cur - prev)
                prev = cur
            else:
                new = sorted(e.get("files_add") or [])
                prev.difference_update(e.get("files_remove") or ())
                prev.update(new)
            if e.get("data_change") is False and had_prev:
                # a marked rewrite (compact(retain)/rewrite_delete_
                # files): its "new" files are reorganizations of rows
                # already delivered — a tailing stream must NOT
                # re-deliver them (Delta's dataChange=false skip). The
                # baseline exception (prev empty): when vacuum pruned
                # the log down to such a commit, it IS the replay
                # basis, so a fresh stream takes its full set.
                new = []
            out.append((v, new))
        return out

    def _offset_files(self, off: dict) -> set[str]:
        """Expand either offset form to its concrete basename set."""
        if "files" in off:  # legacy list offset
            return set(off["files"])
        v, k = off["v"], off["k"]
        files: set[str] = set()
        for ver, new in self._log_entries():
            if ver < v:
                files.update(new)
            elif ver == v:
                files.update(new[:k])
        return files

    def _fold(self, off: dict) -> None:
        """Fold an engine-provided offset into the reader's baseline —
        checkpoint replay calls partitions()/commit() before the first
        latestOffset, which is what keeps capped offsets from ever
        re-admitting already-consumed files."""
        if "cv" in off:
            # changelog baseline: only consulted by the
            # maxCommitsPerTrigger cap (uncapped changelog offsets
            # remain stateless — latestOffset is just the head)
            self._cdc_cursor = max(self._cdc_cursor, off["cv"])
            return
        if "files" in off:
            self._seen |= set(off["files"])
        else:
            self._cursor = max(self._cursor, (off["v"], off["k"]))

    def initialOffset(self) -> dict:
        if self._changelog:
            return {"cv": self._cdc_start}
        return {"v": 0, "k": 0}

    def _published_versions(self) -> list[int]:
        """Ascending PUBLISHED version numbers only — the changelog
        latestOffset poll needs nothing else, so it answers from the
        cached raw entries (staged/branch are verbatim raw keys)
        instead of materializing the whole O(commits x files) history
        on every trigger."""
        raw, _ = _read_log_raw_cached(self.path)
        return [v for v in sorted(raw)
                if not raw[v].get("staged") and raw[v].get("branch") is None]

    def latestOffset(self) -> dict:
        if self._changelog:
            pub = self._published_versions()
            head_v = pub[-1] if pub else 0
            base = max(self._cdc_start, self._cdc_cursor)
            if self._max_commits > 0:
                pending = [v for v in pub if v > base]
                if len(pending) > self._max_commits:
                    end = pending[self._max_commits - 1]
                else:
                    end = head_v
                self._cdc_cursor = max(base, end)
                return {"cv": max(base, end)}
            return {"cv": max(base, head_v)}
        self._refuse_live_deletes()  # fail AT a mid-stream MoR commit
        entries = self._log_entries()
        if not entries:
            # no metadata log: legacy listing mode, list offsets
            now = {os.path.basename(f) for f in dataset_files(self.path)}
            new = sorted(now - self._seen)
            if self.max_files > 0:
                new = new[: self.max_files]
            if self.max_bytes > 0:
                capped, done = [], 0
                for f in new:
                    if capped and done >= self.max_bytes:
                        break
                    capped.append(f)
                    done += os.path.getsize(os.path.join(self.path, f))
                new = capped
            self._seen |= set(new)
            return {"files": sorted(self._seen)}
        v, k = self._cursor
        admitted = 0
        admitted_bytes = 0
        for ver, new in entries:
            if ver < v:
                continue
            i = k if ver == v else 0
            while i < len(new):
                f = new[i]
                if f not in self._seen:  # legacy-consumed files advance free
                    if ((self.max_files > 0 and admitted >= self.max_files)
                            or (self.max_bytes > 0 and admitted > 0
                                and admitted_bytes >= self.max_bytes)):
                        self._cursor = (ver, i)
                        return {"v": ver, "k": i}
                    admitted += 1
                    if self.max_bytes > 0:
                        admitted_bytes += os.path.getsize(
                            os.path.join(self.path, f))
                i += 1
            v, k = ver, len(new)
        self._cursor = (v, k)
        return {"v": v, "k": k}

    def partitions(self, start: dict, end: dict):
        if "cv" in start:
            self._fold(start)
            self._fold(end)
            parts = plan_changelog_partitions(
                self.path, start["cv"], end["cv"], self._skip_change)
            return parts or [ColfInputPartition(None)]
        prev = self._offset_files(start)
        batch = sorted(self._offset_files(end) - prev)
        self._fold(start)
        self._fold(end)
        # v3 striped files expand to one partition per STRIPE (same
        # planning as the batch reader, from the manifest when
        # available) — a micro-batch delivering one big striped file
        # decodes on every core instead of one task
        manifest = load_manifest(self.path)
        evo = None
        meta = current_table_schema(self.path)
        if meta is not None:
            evo = (tuple((f["id"], f["name"], f["type"])
                         for f in meta["fields"]),
                   tuple(meta["name_mapping"].items()))
        parts: list[ColfInputPartition] = []
        for b in batch:
            full = os.path.join(self.path, b)
            entry = manifest.get(b)
            stripes = entry.get("stripes") if entry else None
            if stripes is None and entry is None                     and file_version(full) == VERSION_V3:
                stripes = [{"num_rows": n} for n in read_stripes_info(full)]
            if stripes is None:
                parts.append(ColfInputPartition(full, evo=evo))
            else:
                parts.extend(ColfInputPartition(full, si, evo=evo)
                             for si in range(len(stripes)))
        return parts

    def read(self, partition: ColfInputPartition):
        # executor-side: one Arrow RecordBatch per file/stripe, zero
        # row pivot
        import pyarrow as pa

        if isinstance(partition, ColfChangePartition):
            yield from read_change_partition(partition, self.schema)
            return
        if partition.file is None:
            return                      # empty changelog micro-batch
        names = [f.name for f in self.schema.fields]
        data, _ = _read_file_columns(partition.file, names,
                                     partition.stripe, self.schema,
                                     partition.evo)
        yield pa.RecordBatch.from_arrays([data[n] for n in names], names=names)

    def commit(self, end: dict) -> None:
        # source files are immutable — nothing to clean up; just keep
        # the baseline current on commit-first restart paths.
        self._fold(end)


class ColfStreamArrowWriter(DataSourceStreamArrowWriter):
    """Micro-batch sink: one .colf part file per task per batch (the
    batch writer's layout, applied incrementally), zone-map manifest
    extended on every commit. abort() removes the batch's files, so a
    retried micro-batch cannot double-append."""

    def __init__(self, options, schema: StructType, overwrite: bool):
        self.path = _local_path(options.get("path"))
        if not self.path:
            raise ColfFormatError("colf stream writer requires a path")
        self.schema = schema
        self.version = _write_version(options)
        self.stripe_rows = _stripe_rows_opt(options)
        self.colf_columns = spark_to_colf_columns(schema)
        self.bloom_cols, self.bloom_fpp = _bloom_opts(options, self.colf_columns)
        self.partition_cols = _partition_opts(options, self.colf_columns)
        self.partition_tuple_cap = _partition_tuple_cap(options)
        # a stream restarted onto an existing dataset must match it
        _check_append_schema(self.path, self.colf_columns)
        # streaming sinks are appends: same spec contract as the batch
        # writer (inherit / match / evolve-with-option)
        self.partition_cols, self.commit_spec = _resolve_append_spec(
            options, self.path, self.partition_cols, self.colf_columns)
        self.sort_cols, self.commit_sort = _resolve_sort_order(
            options, self.path, self.colf_columns, overwrite=False)
        self.ndv_cols, self.ndv_k = _ndv_opts(options, self.colf_columns)
        # field-ID embedding, same contract as the batch writer: a
        # micro-batch append to a schema-evolved dataset must carry
        # the table's ids or its renamed columns would silently decode
        # as NULL through the frozen bootstrap name mapping. A stream
        # that ADDS columns extends the recorded schema in its first
        # commit, exactly like a batch append.
        self.commit_table_schema = _assign_field_ids(
            options, self.path, self.colf_columns, overwrite=False,
            staged=False)
        # streaming micro-batches honor table CHECK constraints like
        # any append (Delta's sink behavior): a violating micro-batch
        # fails before its files land, and abort() owes nothing
        self.constraints = load_constraints(self.path)
        if (options.get("wap", "false").lower() == "true"
                or options.get("branch") is not None):
            # staged lineages are a batch-writer surface; silently
            # committing a stream's micro-batches to the published
            # table under a wap/branch option would violate the
            # isolation the caller asked for — refuse loudly
            raise ColfFormatError(
                "wap/branch staging is not supported on the streaming "
                "sink; land micro-batches normally or stage via "
                "foreachBatch with the batch writer")

    def write(self, iterator):
        from pyspark import TaskContext

        batches = list(iterator)
        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        num_rows = sum(b.num_rows for b in batches)
        if num_rows == 0:
            return ColfCommitMessage(file=None)
        if self.constraints:
            _check_constraint_batches(batches, self.constraints)
        chunks = {
            col.name: [b.column(i) for b in batches]
            for i, col in enumerate(self.colf_columns)
        }
        chunks = _sort_chunks(chunks, self.colf_columns, self.sort_cols)
        if self.partition_cols:
            # partition-aware CDC sink: each micro-batch task lands
            # one value-homogeneous file per tuple it holds
            return ColfCommitMessage(file=None, parts=_split_write_files(
                self.path, self.colf_columns, chunks, self.partition_cols,
                self.version, self.stripe_rows, self.bloom_cols,
                self.bloom_fpp, f"part-s{pid:05d}",
                self.partition_tuple_cap, self.ndv_cols, self.ndv_k))
        os.makedirs(self.path, exist_ok=True)
        fname = f"part-s{pid:05d}-{uuid.uuid4().hex[:8]}.colf"
        target = os.path.join(self.path, fname)
        tmp = target + ".tmp"
        stats = _write_part_file(tmp, ColfSchema(num_rows, self.colf_columns),
                                 chunks, self.version, self.stripe_rows)
        kmv = _build_kmv(chunks, self.colf_columns, self.ndv_cols,
                         self.ndv_k)
        if kmv:
            stats["kmv"] = kmv
        blooms = _build_bloom_entry(chunks, self.colf_columns,
                                    self.bloom_cols, self.bloom_fpp,
                                    num_rows, self.version, self.stripe_rows)
        os.rename(tmp, target)
        return ColfCommitMessage(file=target, stats=stats, blooms=blooms)

    def commit(self, messages, batchId: int) -> None:
        batch_files = []
        changed = False
        for file, stats, _b in _iter_commit_parts(messages):
            batch_files.append(file)
            if stats:
                changed = True
        if changed:
            _merge_manifest_sidecar(self.path, messages)
            _merge_bloom_sidecar(self.path, messages)
            # every micro-batch is a metadata-log commit too, so batch
            # readers can time-travel across stream appends; the CAS
            # parent makes a concurrent batch writer fail loudly.
            # Metadata view only — a per-micro-batch full history
            # fold would make sink latency grow with table age.
            meta = load_snapshots_meta(self.path)
            parent = meta[-1]["version"] if meta else 0
            commit_snapshot(self.path, [
                os.path.basename(f) for f in live_files(self.path)
            ] + [os.path.basename(f) for f in batch_files],
                expected_parent=parent, spec=self.commit_spec,
                sort=self.commit_sort,
                # one layout slot: a recorded sort clears clustering
                cluster=([] if self.commit_sort is not None
                         and current_clustering(self.path) else None),
                table_schema=self.commit_table_schema)
            self.commit_spec = None  # record a spec/sort change once
            self.commit_sort = None
            self.commit_table_schema = None

    def abort(self, messages, batchId: int) -> None:
        for file, _s, _b in _iter_commit_parts(messages):
            if os.path.exists(file):
                os.remove(file)


class ColfDataSource(DataSource):
    """``spark.dataSource.register(ColfDataSource)`` then
    ``spark.read.format("colf").load(path)`` /
    ``df.write.format("colf").save(path)``."""

    @classmethod
    def name(cls) -> str:
        return "colf"

    def schema(self):
        path = _local_path(self.options.get("path"))
        if not path:
            raise ColfFormatError("colf source requires a path")
        # The dataset schema comes from the files the READ will
        # actually plan: the named snapshot/ref when time-traveling,
        # else the PUBLISHED live set when a metadata log exists — a
        # staged (WAP) or branch append that adds a column must not
        # leak that column into published reads as all-NULL before
        # publish (staged-isolation contract). The raw directory
        # listing remains the logless-dataset fallback, and the
        # fallback of last resort when the published set is empty
        # (first-ever write was staged: reads plan zero batches, but
        # the API still needs a schema).
        snap_opt = self.options.get("snapshot")
        ref_opt = self.options.get("ref")
        if ref_opt is not None and snap_opt is None:
            refs = load_refs(path)
            if ref_opt in refs:
                snap_opt = refs[ref_opt]["version"]
        ts_opt = self.options.get("timestampAsOf")
        if ts_opt is not None and snap_opt is None:
            # same resolution the reader will do — schema() must see
            # the SAME era, or a timestampAsOf read of an evolved
            # dataset would declare head columns that the asOf-era
            # files resolve to all-NULL (the ref path above exists for
            # the identical reason)
            snap_opt = _resolve_timestamp_as_of(path, ts_opt)
        if snap_opt is not None:
            # materialize only the named version (bounded chain walk);
            # a missing version keeps the reader's own not-found error
            vs = {s["version"] for s in load_snapshots_meta(path)}
            snap = (materialize_log_versions(
                path, [int(snap_opt)])[int(snap_opt)]
                if int(snap_opt) in vs else None)
            files = ([os.path.join(path, b) for b in snap["files"]]
                     if snap else [])
        else:
            files = live_files(path)
        files = [f for f in files if os.path.exists(f)] or dataset_files(path)
        if not files:
            raise ColfFormatError(f"No .colf files found at {path}")
        # field-ID schema evolution: a RECORDED table schema (resolved
        # at the read's snapshot, so time travel sees the schema of its
        # era) is authoritative — renames show the new name, drops hide
        # the column, widening shows the promoted type. Otherwise the
        # dataset schema is the UNION of the live files' columns
        # (additive evolution) — one header read unless the manifest
        # shows files carrying extra columns
        meta = current_table_schema(
            path, at_version=int(snap_opt) if snap_opt is not None
            else None)
        if meta is not None:
            file_schema = ColfSchema(0, [
                ColfColumn(f["name"], f["type"], True, None, f["id"])
                for f in meta["fields"]])
        else:
            file_schema = ColfSchema(0, dataset_union_columns(path, files))
        cols_opt = self.options.get("columns")
        with_file = self.options.get("withFileColumn", "false").lower() == "true"
        with_pos = self.options.get("withPosColumn", "false").lower() == "true"
        if cols_opt:
            wanted = [c.strip() for c in cols_opt.split(",") if c.strip()]
            index = {c.name: c for c in file_schema.columns}
            # the virtual file/pos columns are legal here (metadata-only
            # projections like per-file row counts select ONLY them)
            missing = [c for c in wanted if c not in index
                       and not (with_file and c == FILE_COLUMN)
                       and not (with_pos and c == POS_COLUMN)]
            if missing:
                raise KeyError(f"Column not found: {missing[0]}")
            file_schema = ColfSchema(file_schema.num_rows,
                                     [index[c] for c in wanted if c in index])
        # Dataset-level schema is always NULLABLE (like Spark's own
        # parquet source): the header only describes the FIRST file,
        # and a later appended file may legally carry nulls in a
        # column the first file declared non-null — advertising that
        # file's non-null flag would make Spark trust a guarantee the
        # dataset can't keep (observed as a codegen-level
        # "Value at index is null" crash). Per-FILE nullability stays
        # exact in the COLF headers.
        base = colf_to_spark_schema(file_schema)
        fields = [StructField(f.name, f.dataType, True) for f in base.fields]
        if self.options.get("readChangeFeed", "false").lower() == "true":
            from pyspark.sql.types import LongType, TimestampType

            if cols_opt or with_file or with_pos:
                raise ColfFormatError(
                    "readChangeFeed is incompatible with columns/"
                    "withFileColumn/withPosColumn options")
            fields.append(StructField(CHANGE_TYPE_COLUMN, StringType(),
                                      False))
            fields.append(StructField(COMMIT_VERSION_COLUMN, LongType(),
                                      False))
            fields.append(StructField(COMMIT_TS_COLUMN, TimestampType(),
                                      True))
            return StructType(fields)
        if with_file:
            fields.append(StructField(FILE_COLUMN, StringType(), False))
        if with_pos:
            from pyspark.sql.types import LongType

            fields.append(StructField(POS_COLUMN, LongType(), False))
        return StructType(fields)

    def reader(self, schema: StructType) -> DataSourceReader:
        return ColfReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool):
        return ColfWriter(self.options, schema, overwrite)

    def streamReader(self, schema: StructType):
        return ColfStreamReader(self.options, schema)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return ColfStreamArrowWriter(self.options, schema, overwrite)


def register(spark) -> None:
    """Register the source AND enable Python-source filter pushdown.

    PySpark 4.1 hard-fails reader initialization when a Python
    DataSourceReader defines ``pushFilters()`` while
    ``spark.sql.python.filterPushdown.enabled`` is false
    ([DATA_SOURCE_PUSHDOWN_DISABLED]) — and the conf defaults to
    false. Setting it here (it is runtime-settable) means ANY session
    that registers the source can read COLF, not just sessions built
    by this package's ``get_spark()`` factory. Pinned by
    tests/test_vanilla_session_compat.py, which runs COLF queries in a
    bare subprocess SparkSession exactly like an external driver.

    KNOWN UPSTREAM HAZARD (PySpark 4.1.2): the Scala TableProvider
    behind Python data sources caches ONE planned scan per
    ``spark.read...load()`` call, and a filtered query's pushdown
    OVERWRITES it — so on the SAME DataFrame object, an unfiltered
    action after a filtered action replays the filtered scan (wrong
    rows). Filtered→filtered reuse re-plans and is safe; fresh loads
    are always safe (one load per logical query is this package's
    internal rule). If you must reuse one DataFrame across filtered
    AND unfiltered actions — or in ONE plan with multiple scan
    subtrees over the same load — make its scans filter-neutral with
    ``option("pruning", "off").option("rowFilter", "off")``, or load
    once per subtree. Pinned — with a canary that fails when an
    upgrade fixes it — in tests/test_pushdown_scan_reuse.py.

    MULTI-THREADED DRIVERS: PySpark 4 pins each Python thread to its
    own JVM thread, whose thread-local active session starts unset —
    and Python data source lookup resolves through the active session,
    so a child thread's first ``format("colf")`` access dies with
    DATA_SOURCE_NOT_FOUND (any Python source, not just COLF). Bind the
    session once per thread:
    ``spark._jvm.org.apache.spark.sql.classic.SparkSession
    .setActiveSession(spark._jsparkSession)``
    (exercised by tests/test_colf_concurrency.py).
    """
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ColfDataSource)


def register_table(spark, name: str, path: str, **options):
    """SQL surface for a COLF dataset: register it under ``name`` so
    ``spark.sql`` queries it like any table — filters push down into
    the zone-map/Bloom planning identically to the DataFrame API, and
    every read option (snapshot/ref time travel, readChangeFeed,
    columns, ...) is accepted as a keyword.

    Implemented as a temp view over the DataFrame read, NOT a catalog
    table: ``CREATE TABLE ... USING colf OPTIONS (path ...)`` CREATES
    fine (schema inference receives the options), but upstream PySpark
    4.1.2 does not plumb catalog-table options into Python data source
    SCANS — the reader is constructed with an empty options map, so
    the first SELECT fails with "requires a path". The gap is pinned
    with an upgrade canary in tests/test_colf_sql.py (same practice as
    the pushdown scan-reuse hazard); when a Spark upgrade starts
    passing table options through, switch this to a real catalog
    table. Returns the registered DataFrame.

    ``metadata="files"|"snapshots"|"refs"`` registers the named
    METADATA table instead (Iceberg's ``table$files`` SQL surface) —
    see maintenance.metadata_table.

    SQL TIME TRAVEL (the ``VERSION AS OF`` / ``FOR SYSTEM_VERSION AS
    OF`` role, via the view pattern since the catalog gap blocks real
    table options): register one view per era under the documented
    naming convention ``<name>__v<N>`` (version pin) or
    ``<name>__<ref>`` (tag/branch pin)::

        register_table(spark, "orders", path)                 # head
        register_table(spark, "orders__v3", path, snapshot=3)  # pinned
        register_table(spark, "orders__audit", path, ref="audit")
        spark.sql("SELECT ... FROM orders o JOIN orders__v3 h "
                  "ON o.k = h.k")      -- cross-era diff in pure SQL

    Each pinned view resolves its own era's schema (renames/drops
    show era-correct names) and plans from that snapshot's live set —
    q203 exercises the convention end-to-end."""
    meta_kind = options.pop("metadata", None)
    if meta_kind is not None:
        from .maintenance import metadata_table

        df = metadata_table(spark, path, str(meta_kind))
        df.createOrReplaceTempView(name)
        return df
    r = spark.read.format("colf")
    for k, v in options.items():
        r = r.option(k, str(v))
    df = r.load(path)
    df.createOrReplaceTempView(name)
    return df


def cdf_replay(spark, path: str, starting_version: int = 0,
               ending_version: int | None = None,
               signed: bool = False):
    """Reconstruct table state PURELY from the Change Data Feed — the
    consumer side of ``readChangeFeed``: net multiset of every row's
    insert/delete appearances over ``(starting_version,
    ending_version]``. From version 0 this must equal a direct read of
    ``ending_version`` — the completeness property a downstream CDC
    consumer (sink replica, cache, index) relies on; q212 proves it
    after a full MoR DML history.

    From a LATER ``starting_version`` the net can be NEGATIVE for a
    row (more deletions than insertions relative to the unseen base
    state), and a materialized multiset cannot express that — so a
    nonzero baseline REQUIRES ``signed=True`` (round-10 advice: the
    old behavior silently dropped net deletions from the delta).
    ``signed=True`` returns one row per distinct changed row plus a
    ``_net`` int column (nonzero; negative = apply as deletions to
    the base state) — the honest delta shape.

    Scale: one hash shuffle grouping on the full row — the honest
    cost of exact multiset replay with no key assumption. A KEYED
    table replays cheaper (group on the key, keep the latest image by
    ``_commit_version``), which is what a real sink connector does;
    this helper is the assumption-free referee."""
    from pyspark.sql import functions as F

    if starting_version > 0 and not signed:
        raise ValueError(
            f"cdf_replay from starting_version={starting_version} > 0 "
            f"yields a DELTA that can contain net deletions, which a "
            f"plain multiset cannot express — call with signed=True "
            f"and apply the _net column onto your base state")
    r = (spark.read.format("colf").option("readChangeFeed", "true")
         .option("startingVersion", str(starting_version)))
    if ending_version is not None:
        r = r.option("endingVersion", str(ending_version))
    df = r.load(path)
    cols = [c for c in df.columns if c not in CDC_COLUMNS]
    net = (df.groupBy(*cols)
           .agg(F.sum(F.when(F.col(CHANGE_TYPE_COLUMN) == "insert",
                             F.lit(1)).otherwise(F.lit(-1)))
                .alias("_net")))
    if signed:
        return net.filter(F.col("_net") != 0)
    return (net.filter(F.col("_net") > 0)
            .withColumn("_dup", F.explode(
                F.sequence(F.lit(1), F.col("_net"))))
            .select(*cols))


def read_colf(spark, path: str, columns: list[str] | None = None):
    """Helper mirroring the reference's selective read entry point
    (reader.py:165): only the named blocks are read from disk."""
    r = spark.read.format("colf")
    if columns:
        r = r.option("columns", ",".join(columns))
    return r.load(path)
