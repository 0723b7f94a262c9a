"""Transaction-log parquet table: the minimal Delta/Iceberg-style
commit protocol, answering the durability gap of plain-directory
swaps (upsert.atomic_dir_swap documents its two-rename window; this
module has none).

Layout:

    table/
      _txnlog/00000000.json   one manifest per committed version
      data/<uuid>/...parquet  one immutable directory per commit

Protocol (the load-bearing ideas, same as the published Delta design):

- **Data first, then manifest.** A commit writes its parquet files
  into a fresh uuid directory, then publishes a manifest listing the
  table's full directory set. Readers resolve the latest manifest and
  read exactly the directories it names — an uncommitted or
  half-written data directory is simply invisible. A crash between
  data write and manifest write leaves an orphan directory (garbage,
  reclaimed by ``vacuum``), never a corrupt table.
- **Atomic publication by O_EXCL.** The manifest for version N is
  created with ``open(..., O_CREAT | O_EXCL)`` — atomic on POSIX
  filesystems. Two writers racing to commit version N: exactly one
  wins; the loser re-reads the log and retries against N+1
  (optimistic concurrency). Appends always merge cleanly; for
  read-modify-write ops (overwrite/merge) the loser's snapshot is
  stale, so it raises ``TxnConflict`` — the same semantics as Delta's
  ConcurrentModificationException. ``fold`` is the one loop that
  re-runs a read-modify-write (and a lost create race) on the new head.
  (On S3-like stores this single primitive is replaced by a
  put-if-absent call; everything else is unchanged.)
- **Snapshot isolation / time travel.** Version resolution happens
  once at read time; the returned DataFrame reads a frozen directory
  list, unaffected by later commits. ``read(version=K)`` reads any
  retained historical version.

At 100 TB the win over directory swaps: commits are O(manifest) —
appends and metadata-only operations never rewrite existing data, a
reader mid-scan keeps its snapshot while writers commit, and crash
recovery is "delete orphans", not "restore a backup rename".
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_LOG = "_txnlog"
_DATA = "data"
COMMIT_ATTEMPTS = 10  # lost manifest races one commit rebases through


class TxnConflict(Exception):
    """A concurrent writer committed first and this operation's
    snapshot is stale; re-run the read-modify-write."""


class FenceApplied(Exception):
    """The commit's ``(fence_id, batch_id)`` replay fence is already at
    or beyond ``batch_id`` in the head manifest: a concurrent execution
    of the SAME micro-batch (zombie foreachBatch retry) committed
    first. The write must be SKIPPED, not retried — callers treat this
    as a successful no-op. Raised from inside the commit loop, so the
    check is atomic with manifest publication: whichever execution wins
    the O_EXCL manifest race records the fence, and the loser's rebase
    attempt re-reads it and aborts before double-applying. The loser's
    already-written data directory is an unreferenced orphan that
    ``vacuum`` reclaims."""


def _log_dir(path: str) -> str:
    return os.path.join(path, _LOG)


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:08d}.json")


def _versions(path: str) -> list[int]:
    d = _log_dir(path)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[:-5]) for f in os.listdir(d) if f.endswith(".json") and f[:-5].isdigit()
    )


def current_version(path: str) -> int | None:
    vs = _versions(path)
    return vs[-1] if vs else None


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_path(path, version), encoding="utf-8") as fh:
        return json.load(fh)


def _write_data(df: DataFrame, path: str) -> str:
    """Write one immutable data directory; return its table-relative name."""
    rel = os.path.join(_DATA, uuid.uuid4().hex)
    df.write.mode("errorifexists").parquet(os.path.join(path, rel))
    return rel


def _try_commit(path: str, version: int, manifest: dict) -> bool:
    """Atomically publish ``manifest`` as ``version``; False if a
    concurrent writer already owns that version number."""
    os.makedirs(_log_dir(path), exist_ok=True)
    payload = json.dumps(manifest, sort_keys=True).encode()
    try:
        fd = os.open(_manifest_path(path, version), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return False
    try:
        os.write(fd, payload)
        os.fsync(fd)
    finally:
        os.close(fd)
    # fsync the log DIRECTORY too: the manifest's directory entry is
    # metadata of the parent; without this a power failure after the
    # file fsync can still lose the acknowledged commit (the file's
    # bytes are durable but its name is not).
    dirfd = os.open(_log_dir(path), os.O_RDONLY)
    try:
        os.fsync(dirfd)
    finally:
        os.close(dirfd)
    return True


# ------------------------------------------------------ replay fences
#
# A streaming sink's exactly-once guarantee: every fenced commit stamps
# ``(fence_id, batch_id)`` into the same atomic manifest write as its
# data, so a replayed micro-batch can see that it already landed. The
# manifest holds per-stream fences as the ``stream_fences`` map (Delta's
# txnAppId shape) and the older table-global fence as the scalar
# ``stream_batch_id``. Only this module reads or writes either field.


def _fence_recorded(manifest: dict, fence: tuple[str | None, int]) -> bool:
    """The fence rule. ``fence_id=None`` names the table-global scalar
    fence. A named fence is looked up in the per-stream map; a manifest
    without that map predates per-stream fences, and its scalar fence
    (stamped by the one stream that could write it) answers instead."""
    fence_id, batch_id = fence
    fences = manifest.get("stream_fences")
    if fence_id is None or not isinstance(fences, dict) or not fences:
        return batch_id <= manifest.get("stream_batch_id", -1)
    return batch_id <= fences.get(fence_id, -1)


def fence_extra(fence: tuple[str | None, int] | None, extra: dict | None = None) -> dict:
    """Manifest fields for a commit's ``extra``: ``extra`` plus the
    field that records ``fence`` (a named fence joins any per-stream
    map ``extra`` already carries)."""
    extra = dict(extra or {})
    if fence is not None:
        fence_id, batch_id = fence
        if fence_id is None:
            extra["stream_batch_id"] = batch_id
        else:
            extra["stream_fences"] = {**extra.get("stream_fences", {}), fence_id: batch_id}
    return extra


def fence_applied(
    path: str, fence: tuple[str | None, int] | None, version: int | None = None
) -> bool:
    """Is ``fence=(fence_id, batch_id)`` (that batch or a later one)
    already recorded in the manifest at ``version`` (default: head)?
    False for no fence or no table. A read-only answer: the commit loop
    re-checks it atomically with publication (:func:`_commit_retry`),
    so callers use it to skip work, and pass ``version`` when they will
    commit against that snapshot."""
    if fence is None:
        return False
    v = current_version(path) if version is None else version
    return v is not None and _fence_recorded(_read_manifest(path, v), fence)


def create_table(
    spark: SparkSession, path: str, df: DataFrame, extra: dict | None = None
) -> int:
    """Initialize a txn table at ``path`` with ``df`` as version 0.
    ``extra`` fields (e.g. a stream batch-id fence) ride in the
    manifest."""
    if current_version(path) is not None:
        raise FileExistsError(f"txn table already exists at {path}")
    rel = _write_data(df, path)
    manifest = {
        "version": 0,
        "op": "create",
        "data_dirs": [rel],
        "schema": df.schema.json(),
        "committed_at": time.time(),
        **(extra or {}),
    }
    if not _try_commit(path, 0, manifest):
        raise TxnConflict(f"concurrent create at {path}")
    return 0


def _commit_retry(
    path: str,
    op: str,
    new_dirs_fn,
    base_version: int | None,
    extra: dict | None = None,
    fence: tuple[str, int] | None = None,
) -> int:
    """Commit loop. ``new_dirs_fn(prev_manifest) -> (data_dirs, schema)``
    is re-evaluated per attempt so appends rebase onto the winner's
    version; read-modify-write callers pass ``base_version`` and get
    TxnConflict instead of silent lost updates. ``extra`` fields (e.g.
    per-directory key stats) are merged into the manifest.

    ``fence=(fence_id, batch_id)`` makes replay protection ATOMIC with
    the manifest write for rebasing (base_version=None) commits: every
    attempt re-reads the head manifest, and if it already records
    ``batch_id`` (or later) for ``fence_id`` (:func:`fence_applied`'s
    rule), the loop raises :class:`FenceApplied` instead of rebasing
    the append on top — closing the append/append TOCTOU where two
    zombie executions of the same micro-batch both pass a caller-side
    pre-check and both commit additive rows. (Snapshot-pinned commits get the same
    guarantee from base_version + caller retry; the fence param is for
    blind appends, which otherwise NEVER conflict.)

    Durable manifest fields CARRY FORWARD across commits unless the
    caller overrides them: ``stats`` (pruned to the surviving dirs),
    the streaming ``stream_batch_id`` fence, and the ``evolved`` flag.
    Without this, one unrelated append would silently drop the fence —
    and a replayed micro-batch would double-apply."""
    for _ in range(COMMIT_ATTEMPTS):
        vs = _versions(path)
        if not vs:
            raise FileNotFoundError(f"no txn table at {path}")
        head = vs[-1]
        if base_version is not None and head != base_version:
            raise TxnConflict(
                f"snapshot at v{base_version} is stale (head is v{head}); re-run the operation"
            )
        prev = _read_manifest(path, head)
        if fence is not None and _fence_recorded(prev, fence):
            raise FenceApplied(
                f"batch {fence[1]} for fence {fence[0]!r} already committed at {path}"
            )
        dirs, schema = new_dirs_fn(prev)
        carried: dict = {}
        if isinstance(prev.get("stats"), dict):
            carried["stats"] = {k: v for k, v in prev["stats"].items() if k in set(dirs)}
        for k in ("stream_batch_id", "evolved"):
            if k in prev:
                carried[k] = prev[k]
        # per-app fences (Delta txnAppId shape): carry the whole map
        # and MERGE a committing stream's entry into it, so streams
        # with distinct identities never clobber each other's fence.
        # The merge builds a PER-ATTEMPT dict — rebinding the caller's
        # ``extra`` would bake attempt 1's carried fences in, and a
        # commit retry would then override the freshly-read map with
        # stale values, rolling another stream's fence backward.
        if isinstance(prev.get("stream_fences"), dict):
            carried["stream_fences"] = dict(prev["stream_fences"])
        attempt_extra = dict(extra or {})
        if isinstance(attempt_extra.get("stream_fences"), dict):
            attempt_extra["stream_fences"] = {
                **carried.get("stream_fences", {}),
                **attempt_extra["stream_fences"],
            }
        manifest = {
            "version": head + 1,
            "op": op,
            "data_dirs": dirs,
            "schema": schema or prev["schema"],
            "committed_at": time.time(),
            **carried,
            **attempt_extra,
        }
        if _try_commit(path, head + 1, manifest):
            return head + 1
    raise TxnConflict(f"gave up after {COMMIT_ATTEMPTS} commit attempts at {path}")


def _merged_schema(prev_json: str, new_schema: StructType) -> str:
    """Union of the table schema and an appended frame's schema
    (Delta ``mergeSchema`` semantics): new columns are added; an
    existing column with a different type is a conflict."""
    prev = StructType.fromJson(json.loads(prev_json))
    by_name = {f.name: f for f in prev.fields}
    out = list(prev.fields)
    for f in new_schema.fields:
        have = by_name.get(f.name)
        if have is None:
            out.append(f)
        elif have.dataType != f.dataType:
            raise ValueError(
                f"schema conflict on column {f.name!r}: table has "
                f"{have.dataType.simpleString()}, append has {f.dataType.simpleString()}"
            )
    return StructType(out).json()


def append(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    merge_schema: bool = False,
    extra: dict | None = None,
    fence: tuple[str, int] | None = None,
    base_version: int | None = None,
) -> int:
    """Blind append: concurrency-safe without conflicts (set-union of
    directories commutes, like Delta's AddFile-only commits). An append
    whose rows were DERIVED from a snapshot read (the dedup index's
    survivors) passes that snapshot's ``base_version`` and gets
    TxnConflict when another commit landed since, like ``overwrite``.

    ``merge_schema=True`` permits an evolved frame (extra columns):
    the committed table schema becomes the union, and snapshot reads
    return NULL for the new columns in pre-evolution rows — metadata-
    only evolution, no existing file is rewritten. Without it, a
    mismatched schema raises (Delta's default posture).

    ``extra`` fields (e.g. per-directory stats) ride the same atomic
    manifest write as the data-dir addition. ``fence=(fence_id,
    batch_id)`` additionally records the replay fence in
    ``stream_fences`` AND enforces it inside the commit loop
    (:func:`_commit_retry`): a concurrent execution of the same batch
    that wins the manifest race makes this call raise
    :class:`FenceApplied` instead of rebasing a double-apply on top —
    the atomicity plain caller-side pre-checks cannot give a blind
    append."""
    rel = _write_data(df, path)
    # the evolved flag makes snapshot reads pay footer schema-merging
    # only on tables where an evolution actually happened
    merged_extra = fence_extra(
        fence, {**({"evolved": True} if merge_schema else {}), **(extra or {})}
    )
    return _commit_retry(
        path,
        "append",
        _append_dirs_fn(rel, df.schema, merge_schema),
        base_version,
        extra=merged_extra or None,
        fence=fence,
    )


def _append_dirs_fn(rel: str, schema: StructType, merge_schema: bool):
    """Shared commit logic for append and publish_staged: add one data
    directory to the manifest, enforcing (or evolving) the schema."""

    def dirs_fn(prev: dict):
        if rel in prev["data_dirs"]:
            raise ValueError(f"data dir {rel!r} is already published")
        if not merge_schema:
            prev_s = StructType.fromJson(json.loads(prev["schema"]))
            # names+types only: nullability differs freely between
            # createDataFrame frames and parquet round-trips
            if [(f.name, f.dataType) for f in schema.fields] != [
                (f.name, f.dataType) for f in prev_s.fields
            ]:
                raise ValueError(
                    "append schema differs from table schema; pass "
                    "merge_schema=True to evolve"
                )
            return prev["data_dirs"] + [rel], None
        return prev["data_dirs"] + [rel], _merged_schema(prev["schema"], schema)

    return dirs_fn


def stage(spark: SparkSession, path: str, df: DataFrame) -> str:
    """Write an UNCOMMITTED immutable data directory — the Write step
    of write-audit-publish (operators/wap.py). Invisible to every
    reader until ``publish_staged`` commits it; if the audit fails and
    nobody publishes, the directory is an orphan that ``vacuum``
    reclaims after its in-flight grace window."""
    return _write_data(df, path)


def read_staged(spark: SparkSession, path: str, rel: str) -> DataFrame:
    """Read back a staged (uncommitted) directory — audit THE FILES
    that would be published, not the frame the caller thinks it
    wrote."""
    return spark.read.parquet(os.path.join(path, rel))


def publish_staged(
    spark: SparkSession,
    path: str,
    rel: str,
    merge_schema: bool = False,
    schema: StructType | None = None,
    extra: dict | None = None,
    fence: tuple[str, int] | None = None,
) -> int:
    """Metadata-only commit of a previously staged directory — the
    Publish step of write-audit-publish. No data moves; the manifest
    gains one directory reference, with the same schema enforcement as
    ``append``. Double-publishing the same directory raises. Pass
    ``schema`` when the caller already holds the staged frame's schema
    (wap.py does) to skip re-opening the parquet footers; ``extra``
    rides the same atomic manifest write. ``fence`` records AND
    atomically enforces a ``(fence_id, batch_id)`` replay fence exactly
    like :func:`append` — raising :class:`FenceApplied` when a
    concurrent execution of the same batch published first."""
    if schema is None:
        schema = spark.read.parquet(os.path.join(path, rel)).schema
    merged_extra = fence_extra(fence, extra)
    if merge_schema:
        merged_extra["evolved"] = True
    return _commit_retry(
        path,
        "publish",
        _append_dirs_fn(rel, schema, merge_schema),
        None,
        extra=merged_extra or None,
        fence=fence,
    )


def overwrite(spark: SparkSession, path: str, df: DataFrame, base_version: int | None = None) -> int:
    """Replace table contents. Pass the ``base_version`` your data was
    derived from to get conflict detection (read-modify-write)."""
    rel = _write_data(df, path)
    return _commit_retry(
        path, "overwrite", lambda prev: ([rel], df.schema.json()), base_version
    )


def read(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Snapshot read of the given (default: latest) version. Rows from
    files predating a schema evolution surface NULL for the columns
    they lack; output columns always follow the manifest schema."""
    v = current_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no txn table at {path}")
    m = _read_manifest(path, v)
    return _read_aligned(spark, path, m, m["data_dirs"])


def _read_aligned(
    spark: SparkSession, path: str, manifest: dict, rels: list[str]
) -> DataFrame:
    """Read ``rels`` aligned to the manifest schema. Non-evolved tables
    (the common case) take the plain single-footer read; evolved tables
    pay mergeSchema and NULL-fill the pre-evolution files."""
    target = StructType.fromJson(json.loads(manifest["schema"]))
    dirs = [os.path.join(path, rel) for rel in rels]
    if not dirs:
        return spark.createDataFrame([], target)
    reader = spark.read
    if manifest.get("evolved"):
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(*dirs)
    if [f.name for f in df.schema.fields] == [f.name for f in target.fields]:
        return df
    cols = [
        F.col(f.name) if f.name in df.columns else F.lit(None).cast(f.dataType).alias(f.name)
        for f in target.fields
    ]
    return df.select(*cols)


def diff_versions(
    spark: SparkSession, path: str, v_old: int, v_new: int | None = None
) -> DataFrame:
    """Change-data-feed between two snapshots: full rows tagged
    ``_change_type`` ('insert' | 'delete'); an updated row appears as
    its delete + its insert (multiset semantics via ``exceptAll``, so
    duplicate rows diff correctly). Derived purely from the two frozen
    snapshots — no per-commit change files needed, any retained
    version pair works. An evolved column reads as NULL on the old
    side, so evolution alone does not spuriously diff."""
    new_df = read(spark, path, v_new)
    old_df = read(spark, path, v_old)
    # align the old snapshot to the new schema (evolution-safe diff)
    cols = [
        F.col(f.name) if f.name in old_df.columns else F.lit(None).cast(f.dataType).alias(f.name)
        for f in new_df.schema.fields
    ]
    old_df = old_df.select(*cols)
    inserted = new_df.exceptAll(old_df).withColumn("_change_type", F.lit("insert"))
    deleted = old_df.exceptAll(new_df).withColumn("_change_type", F.lit("delete"))
    return inserted.unionByName(deleted)


def merge_upsert(spark: SparkSession, path: str, new_rows: DataFrame, key: str) -> int:
    """Keep-first MERGE (existing wins — reference io_utils.py:34
    semantics) as a :func:`fold`: with no table, create it from the
    in-batch-deduplicated rows; otherwise snapshot-read, anti-join and
    overwrite the union pinned to that snapshot. A concurrent commit
    re-runs the fold on the new head instead of dropping the other
    writer's rows. Returns the committed version."""
    from data_ingestion_project_spark.operators.upsert import upsert_keep_first

    def update(base: int) -> int:
        merged = upsert_keep_first(read(spark, path, base), new_rows, key)
        return overwrite(spark, path, merged, base_version=base)

    return fold(spark, path, lambda: upsert_keep_first(None, new_rows, key), update)


def history(path: str) -> list[dict]:
    return [_read_manifest(path, v) for v in _versions(path)]


#: Delta-VACUUM grace window shared by every orphan sweep: an
#: unreferenced directory younger than this is indistinguishable from
#: an in-flight writer's output, so no sweep reclaims it.
ORPHAN_GRACE_SECONDS = 3600.0


def reclaim_orphans(
    root: str,
    is_orphan: Callable[[str], bool],
    min_age_seconds: float = ORPHAN_GRACE_SECONDS,
) -> list[str]:
    """Delete the directories directly under ``root`` whose name
    ``is_orphan`` selects and whose mtime is at least
    ``min_age_seconds`` old; return their names. An entry another
    sweep removes first is skipped, not an error. The one orphan rule
    behind ``vacuum``, ``materialize.ensure_materialized`` and
    ``incremental.refresh_agg``."""
    if not os.path.isdir(root):
        return []
    removed = []
    now = time.time()
    for name in os.listdir(root):
        full = os.path.join(root, name)
        if not is_orphan(name) or not os.path.isdir(full):
            continue
        try:
            if now - os.path.getmtime(full) < min_age_seconds:
                continue  # possible in-flight writer — not yet an orphan
            shutil.rmtree(full)
        except OSError:  # raced with another sweep
            continue
        removed.append(name)
    return removed


def vacuum(
    path: str, keep_versions: int = 1, min_age_seconds: float = ORPHAN_GRACE_SECONDS
) -> list[str]:
    """Reclaim space: drop manifests older than the newest
    ``keep_versions`` and delete data directories no retained manifest
    references (including orphans from crashed commits). Returns the
    deleted directory names. Never touches the current version.

    ``min_age_seconds`` is the Delta-VACUUM-style grace window: an
    unreferenced data directory younger than it is SKIPPED, because it
    is indistinguishable from an in-flight commit whose manifest has
    not been published yet — deleting it would corrupt the table the
    moment that writer commits. Pass 0 only when no writer can be
    running."""
    vs = _versions(path)
    if not vs:
        return []
    keep = vs[-max(keep_versions, 1):]
    for v in vs:
        if v not in keep:
            os.remove(_manifest_path(path, v))
    referenced = {rel for v in keep for rel in _read_manifest(path, v)["data_dirs"]}
    orphans = reclaim_orphans(
        os.path.join(path, _DATA),
        lambda name: os.path.join(_DATA, name) not in referenced,
        min_age_seconds,
    )
    return [os.path.join(_DATA, name) for name in orphans]


def _dir_bytes(path: str, rel: str) -> int:
    d = os.path.join(path, rel)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )


def compact(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    small_threshold_bytes: int | None = None,
) -> int | None:
    """Bin-pack small data directories into ~``target_bytes`` files —
    the OPTIMIZE/compaction half of the small-file problem that every
    frequently-appended table develops (streaming foreachBatch commits,
    per-batch dedup appends: thousands of KB-scale files whose
    per-file open/footer/task overhead eventually dwarfs the data).

    Semantics: data-identical rewrite. Directories smaller than
    ``small_threshold_bytes`` (default: ``target_bytes``) are read
    through the schema-aligned snapshot path, rewritten as
    ``ceil(total/target_bytes)`` coalesced files in ONE new directory,
    and committed as op="compact" against the SNAPSHOT VERSION the
    plan was built from — a concurrent writer raises TxnConflict
    rather than losing its commit (Delta gives OPTIMIZE the same
    read-modify-write posture). Large directories are carried forward
    byte-identical; readers of old versions are untouched (the
    rewritten small dirs stay on disk until ``vacuum``).

    Manifest stats: if EVERY compacted directory carries stats for the
    same key, the new directory's range is their [min(lo), max(hi)] —
    merged metadata-only, no rescan — so compaction never degrades
    merge's file pruning. Returns the new version, or None when fewer
    than two directories qualify (nothing to gain; no empty commit).
    """
    base = current_version(path)
    if base is None:
        raise FileNotFoundError(f"no txn table at {path}")
    m = _read_manifest(path, base)
    threshold = small_threshold_bytes if small_threshold_bytes is not None else target_bytes
    sizes = {rel: _dir_bytes(path, rel) for rel in m["data_dirs"]}
    small = [rel for rel in m["data_dirs"] if sizes[rel] < threshold]
    if len(small) < 2:
        return None
    keep = [rel for rel in m["data_dirs"] if rel not in set(small)]

    df = _read_aligned(spark, path, m, small)
    total = sum(sizes[rel] for rel in small)
    n_out = max(1, -(-total // target_bytes))  # ceil div
    new_rel = _write_data(df.coalesce(n_out), path)

    prev_stats = m.get("stats") or {}
    new_stats = {k: v for k, v in prev_stats.items() if k in set(keep)}
    merged = [prev_stats.get(rel) for rel in small]
    if (
        prev_stats
        and all(s is not None for s in merged)
        and len({s["key"] for s in merged}) == 1
        and all(s["lo"] is not None and s["hi"] is not None for s in merged)
    ):
        new_stats[new_rel] = {
            "key": merged[0]["key"],
            "lo": min(s["lo"] for s in merged),
            "hi": max(s["hi"] for s in merged),
        }

    def dirs_fn(prev: dict):
        return keep + [new_rel], None

    return _commit_retry(
        path,
        "compact",
        dirs_fn,
        base,
        extra={"stats": new_stats} if new_stats else None,
    )


# --------------------------------------------------------------- MERGE
#
# The full read-modify-write MERGE (WHEN MATCHED UPDATE/DELETE, WHEN
# NOT MATCHED INSERT) that `merge_upsert` (insert-only, whole-table
# rewrite) is not. The 100 TB property is REWRITE PROPORTIONALITY:
# cost scales with the data directories that actually contain matched
# keys, not with table size — the same file-pruning design as Delta's
# MERGE (find touched files via a join against the source keys,
# rewrite only those, carry every other file forward in the manifest
# untouched).


def analyze(spark: SparkSession, path: str, key: str) -> int:
    """Stamp per-directory [min, max] stats of ``key`` into a
    metadata-only commit. ``merge`` uses them to drop directories whose
    key range cannot overlap the source WITHOUT reading any data (the
    manifest-side analog of parquet row-group min/max). One narrow
    column scan per directory, once; merge-rewritten directories get
    their stats stamped at write time, so a table analyzed once stays
    analyzed."""
    base = current_version(path)
    if base is None:
        raise FileNotFoundError(f"no txn table at {path}")
    m = _read_manifest(path, base)
    stats = dict(m.get("stats") or {})
    for rel in m["data_dirs"]:
        if rel in stats:
            continue
        row = (
            spark.read.parquet(os.path.join(path, rel))
            .agg(F.min(key).alias("lo"), F.max(key).alias("hi"))
            .collect()[0]
        )
        stats[rel] = {"key": key, "lo": _stat_value(row["lo"]), "hi": _stat_value(row["hi"])}

    def dirs_fn(prev: dict):
        return prev["data_dirs"], None

    return _commit_retry(path, "analyze", dirs_fn, base, extra={"stats": stats})


def _stat_value(v):
    """Encode a min/max key value for the JSON manifest so that
    comparisons between encodings preserve the column's order:
    numbers and strings pass through, dates/timestamps become ISO
    strings (lexicographic == chronological). Anything else encodes to
    None — which disables pruning for that directory (always scanned:
    safe, just not pruned)."""
    import datetime as _dt

    if v is None or isinstance(v, (bool, int, float, str)):
        return v if not isinstance(v, bool) else int(v)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    return None


def merge(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key: str,
    *,
    when_matched: str = "update",
    insert_not_matched: bool = True,
    update_expr: dict[str, str] | None = None,
    extra: dict | None = None,
    base_version: int | None = None,
) -> dict:
    """MERGE ``source`` into the table on equality of ``key``.

    - ``when_matched="update"``: a matched target row is REPLACED by
      its source row (full-row update; ``source`` must carry the table
      schema), or — when ``update_expr`` is given — rewritten
      column-wise: ``{"n": "t.n + s.n"}`` is Delta's
      ``WHEN MATCHED UPDATE SET n = t.n + s.n`` (``t`` = target row,
      ``s`` = matching source row; unlisted columns keep ``t``'s
      value). ``"delete"``: matched target rows are removed.
    - ``insert_not_matched``: source rows matching no target row are
      appended (with ``update_expr`` the source must still carry the
      table schema so inserts are well-formed).

    Precondition (same as Delta): at most one source row per key —
    duplicate source keys would make the update ambiguous. Enforced
    with one cheap aggregate on the (small) source. Duplicate-key
    TARGET rows are fine and keep their multiplicity: both update
    forms rewrite each matched target row (Delta MERGE semantics), so
    N same-key target rows yield N updated rows. NULL-key source
    rows never match (SQL equality) — they are inserts if
    ``insert_not_matched``, ignored otherwise.

    Plan, in order of what it costs:
    1. **Stats pruning (no I/O):** directories whose stamped
       [lo, hi] key range cannot intersect the source's [min, max] are
       carried forward untouched. Manifest-side arithmetic only.
    2. **Exact touch detection (one narrow scan of survivors):** the
       surviving directories are scanned ONCE — key column only,
       semi-joined against the broadcast source keys, aggregated to
       the distinct set of directories that truly contain a match
       (``input_file_name`` → directory). O(survivor bytes), fully
       distributed, no driver loop.
    3. **Rewrite (touched dirs only):** matched-dir rows are
       anti-joined (update/delete) / unioned with the replacement and
       insert rows, written as ONE new immutable directory with stats
       stamped. Every untouched directory's files are never opened.

    Commits against the snapshot version it read (TxnConflict on a
    concurrent write — lost updates are impossible). Callers that
    DERIVED ``source`` from a snapshot read (read-fold-merge, e.g. the
    quantile-sketch stream sink) must pass that snapshot's
    ``base_version``: merge re-reads the head internally, so without it
    a commit landing between the caller's read and this call would be
    silently overwritten for overlapping keys instead of raising
    TxnConflict. The entry check (head == base_version) chains with
    ``_commit_retry``'s commit-time check (head == merge's own read),
    closing the whole window. Returns
    ``{"version", "n_dirs", "pruned_by_stats", "touched_dirs"}``.
    """
    if when_matched not in ("update", "delete"):
        raise ValueError(f"when_matched must be 'update' or 'delete', got {when_matched!r}")
    base = current_version(path)
    if base is None:
        raise FileNotFoundError(f"no txn table at {path}")
    if base_version is not None and base != base_version:
        raise TxnConflict(
            f"snapshot at v{base_version} is stale (head is v{base}); re-run the operation"
        )
    m = _read_manifest(path, base)
    all_dirs = list(m["data_dirs"])
    stats = m.get("stats") or {}
    table_fields = StructType.fromJson(json.loads(m["schema"])).fields
    if (when_matched == "update" and update_expr is None) or insert_not_matched:
        # source rows land in the table verbatim (full-row update /
        # insert), so they must be well-formed table rows; a pure
        # update_expr merge without inserts may use a slim source
        src_shape = [(f.name, f.dataType) for f in source.schema.fields]
        tbl_shape = [(f.name, f.dataType) for f in table_fields]
        if sorted(src_shape, key=str) != sorted(tbl_shape, key=str):
            raise ValueError(
                f"MERGE source schema {src_shape} does not match table schema "
                f"{tbl_shape}; evolve the table first (append merge_schema=True)"
            )

    source = source.cache()
    try:
        agg = source.agg(
            F.min(key).alias("lo"),
            F.max(key).alias("hi"),
            F.count(F.lit(1)).alias("n"),
            F.count(F.col(key)).alias("nn"),  # non-NULL keys only —
            F.count_distinct(F.col(key)).alias("nk"),  # so NULLs don't false-positive
        ).collect()[0]
        if agg["nn"] != agg["nk"]:
            raise ValueError(
                f"MERGE source has duplicate keys ({agg['nn']} non-null rows, "
                f"{agg['nk']} distinct {key!r})"
            )
        src_keys = source.select(key).filter(F.col(key).isNotNull())
        src_lo, src_hi = _stat_value(agg["lo"]), _stat_value(agg["hi"])

        # 1. manifest-side stats pruning
        survivors = []
        pruned = 0
        for rel in all_dirs:
            st = stats.get(rel)
            if (
                st
                and st.get("key") == key
                and st["lo"] is not None
                and src_lo is not None
                and (st["hi"] < src_lo or st["lo"] > src_hi)
            ):
                pruned += 1
            else:
                survivors.append(rel)

        # 2. one distributed pass over survivors: which dirs hold a match
        touched: list[str] = []
        if survivors and agg["nn"] > 0:
            scan = _read_aligned(spark, path, m, survivors)
            # anchor to the file's own parent dir (…/data/<hex>/part-…)
            # — a bare search would match a data/<hex> segment in the
            # TABLE's parent path for nested layouts
            hit_files = (
                scan.select(F.col(key), F.input_file_name().alias("__f"))
                .join(F.broadcast(src_keys), key, "left_semi")
                .select(
                    F.regexp_extract("__f", rf"({_DATA}/[0-9a-f]{{32}})/[^/]+$", 1).alias("__d")
                )
                .distinct()
                .collect()
            )
            touched = sorted(r["__d"] for r in hit_files)

        untouched = [rel for rel in all_dirs if rel not in set(touched)]
        new_stats = {rel: stats[rel] for rel in untouched if rel in stats}

        # 3. rewrite only the touched directories
        new_dirs = list(untouched)
        out_parts = []
        keys_in_touched = None
        if touched:
            t = _read_aligned(spark, path, m, touched)
            keys_in_touched = t.select(key).distinct()
            out_parts.append(t.join(F.broadcast(src_keys), key, "left_anti"))
            if when_matched == "update" and update_expr is not None:
                bad = set(update_expr) - {f.name for f in table_fields}
                if bad:
                    raise ValueError(f"update_expr references unknown columns: {sorted(bad)}")
                tt, ss = t.alias("t"), source.alias("s")
                matched = tt.join(
                    F.broadcast(ss), F.col(f"t.{key}") == F.col(f"s.{key}"), "inner"
                )
                out_parts.append(
                    matched.select(
                        *[
                            F.expr(update_expr[f.name]).cast(f.dataType).alias(f.name)
                            if f.name in update_expr
                            else F.col(f"t.{f.name}")
                            for f in table_fields
                        ]
                    )
                )
            elif when_matched == "update":
                # Full-row update via t⋈s projection of the SOURCE row —
                # one output row per MATCHED TARGET row, so duplicate-key
                # target rows keep their multiplicity, consistent with the
                # update_expr path above and with Delta MERGE semantics
                # (the left_semi-from-source form would silently collapse
                # N same-key target rows into 1).  Source keys are already
                # enforced unique, so the join cannot fan out.
                tt, ss = t.alias("t"), source.alias("s")
                matched = tt.join(
                    F.broadcast(ss), F.col(f"t.{key}") == F.col(f"s.{key}"), "inner"
                )
                out_parts.append(
                    matched.select(*[F.col(f"s.{f.name}").alias(f.name) for f in table_fields])
                )
        if insert_not_matched:
            if keys_in_touched is not None:
                out_parts.append(source.join(F.broadcast(keys_in_touched), key, "left_anti"))
            else:
                out_parts.append(source)
        if out_parts:
            out = out_parts[0].select(*[f.name for f in table_fields])
            for p in out_parts[1:]:
                out = out.unionByName(p.select(*[f.name for f in table_fields]))
            out = out.cache()
            try:
                row = out.agg(
                    F.min(key).alias("lo"),
                    F.max(key).alias("hi"),
                    F.count(F.lit(1)).alias("n"),
                ).collect()[0]
                if row["n"] > 0:  # an all-deletes merge writes nothing
                    rel = _write_data(out, path)
                    new_stats[rel] = {
                        "key": key,
                        "lo": _stat_value(row["lo"]),
                        "hi": _stat_value(row["hi"]),
                    }
                    new_dirs.append(rel)
            finally:
                out.unpersist()

        def dirs_fn(prev: dict):
            return new_dirs, None

        v = _commit_retry(
            path, "merge", dirs_fn, base, extra={"stats": new_stats, **(extra or {})}
        )
        return {
            "version": v,
            "n_dirs": len(all_dirs),
            "pruned_by_stats": pruned,
            "touched_dirs": len(touched),
        }
    finally:
        source.unpersist()


# ------------------------------------------------------ the fold loop

FOLD_ATTEMPTS = 20  # contended commits a fold absorbs before giving up


def fold(
    spark: SparkSession,
    path: str,
    create,
    update,
    fence: tuple[str | None, int] | None = None,
):
    """The one optimistic-concurrency loop (the Delta rule): read a
    snapshot, commit pinned to it, and on a conflict or a lost create
    race re-read and re-run.

    ``create()`` returns the rows of version 0 when there is no table
    yet; ``fence=(fence_id, batch_id)`` is stamped on that create.
    ``update(base)`` builds from snapshot ``base`` and commits pinned
    to it (``base_version=base``), or blind where the commit is a
    set-semantics append that rebases on its own. The loop does the
    rest: a lost create race rebases onto the winner, a fence the
    snapshot already records (or a :class:`FenceApplied` from
    ``update``) makes the call a no-op, and a :class:`TxnConflict` from
    ``update`` re-runs it at the new head. Gives up with TxnConflict
    after ``FOLD_ATTEMPTS`` contended attempts.

    Returns the create's version (0), what ``update`` returned, or None
    for a no-op."""
    for _ in range(FOLD_ATTEMPTS):
        base = current_version(path)
        if base is None:
            try:
                return create_table(spark, path, create(), extra=fence_extra(fence))
            except (FileExistsError, TxnConflict):
                continue  # lost the create race: rebase onto the winner
        if fence_applied(path, fence, base):
            return None  # replayed batch: already committed
        try:
            return update(base)
        except FenceApplied:
            return None  # a concurrent execution of this batch committed first
        except TxnConflict:
            continue  # concurrent writer: re-read head and fence
    raise TxnConflict(f"fold gave up after {FOLD_ATTEMPTS} contended commits at {path}")


def fold_merge(
    spark: SparkSession,
    path: str,
    rows: DataFrame,
    key: str,
    update_expr: dict[str, str],
    fence: tuple[str | None, int] | None = None,
) -> None:
    """Fold ``rows`` into the standing table at ``path`` with one keyed
    additive MERGE (``update_expr`` such as ``{"n": "t.n + s.n"}``),
    creating the table from ``rows`` when it does not exist yet. The
    shared maintenance step of every mergeable summary asset (CMS
    cells, covariance and keyed moments, document frequencies, running
    counts).

    An additive merge is not idempotent, so a replayed batch would
    double-count: ``fence=(fence_id, batch_id)`` rides the same
    manifest commit as the cells, and :func:`fold` makes a batch the
    snapshot already records a no-op. The merge is pinned to that
    snapshot, so a concurrent commit re-reads head and fence instead
    of double-applying."""
    extra = fence_extra(fence)
    fold(
        spark,
        path,
        lambda: rows,
        lambda base: merge(
            spark, path, rows, key=key, update_expr=update_expr, extra=extra, base_version=base
        ),
        fence,
    )
