"""Snapshot expiration + orphan-file sweep.

Snapshot expiry is the table-format analog of the reference's cache
clear/replace lifecycle (clear = drop data + reset ledger,
/root/reference/src/client/mod.rs:683-714; replace-wholesale cache
update, /root/reference/src/client/indexing/mod.rs:632-640): old table
states stop being reachable, and any physical file no longer referenced
by a live state is deleted.

The orphan sweep also reclaims files staged by crashed jobs that never
committed (write-then-commit means a crash leaks data files, never
corrupts a snapshot) — the GC half of the dirty-flag protocol.

Concurrent-writer safety: the engine supports concurrent writers
(merge_with_retry), which write data files and manifests BEFORE their
snapshot commit.  A sweep that deletes ANY unreferenced file would race
them: the writer's later commit would reference deleted files — a
corrupted table.  Hence everything younger than ``min_age_s`` (default
3 days, like Iceberg's ``older_than``) is protected, and so are outputs
recorded in active checkpoint ledgers (``engine.checkpoint``).  Pass
``min_age_s=0`` only when no writer can be in flight (tests, single
sequential job).

All operations are metadata-sized on the driver except the final
file-listing diff, which is O(#files) name comparisons (at real scale
this listing would itself be distributed; the set algebra is identical).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from ..tablefmt import SnapshotNotFound, Table

# Iceberg's expire_snapshots older_than default is 5 days; 3 days here.
DEFAULT_MIN_AGE_S = 3 * 24 * 3600


@dataclass
class ExpireResult:
    expired_snapshots: list[int]
    retained_snapshots: list[int]
    orphans_deleted: int
    bytes_reclaimed: int
    manifests_deleted: int


def _ledger_protected_files(table: Table) -> set[str]:
    """Root-relative output paths referenced by LIVE checkpoint-ledger
    units — an in-flight resumable job's outputs must survive a sweep
    even when no snapshot references them yet.

    Units that validate STALE are a dead job's leftovers: resume will
    discard their outputs anyway (units_to_redo), so protecting them
    forever just leaked the disk (ADVICE r2).  Read-only: ledger GC
    itself lives in ``_gc_dead_ledgers`` (called from
    ``sweep_orphan_files``) — ADVICE r3 flagged the unlink side effect
    this getter used to have."""
    import glob as _glob

    from ..checkpoint import Ledger, Validation

    now = time.time()
    protected: set[str] = set()
    for path in _glob.glob(os.path.join(table.root, "checkpoints", "*.json")):
        job_id = os.path.splitext(os.path.basename(path))[0]
        led = Ledger.open(table.root, job_id)
        for uid, u in led.units.items():
            if led.validate(uid, table.root, now) == Validation.STALE:
                continue  # dead unit: outputs are reclaimable orphans
            protected.update(u.outputs)
    return protected


def _gc_dead_ledgers(table: Table, min_age_s: float) -> int:
    """Delete checkpoint ledgers whose units ALL validate STALE/CORRUPT
    and whose file is older than max(STALE_AFTER_S, min_age_s) — the
    sweep's grace period also bounds ledger deletion (ADVICE r3: a live
    job idle past the fixed 2 h horizon used to lose its ledger and
    redo every unit on resume).  A deleted ledger only means a resume
    re-registers every unit and redoes it, which is exactly what resume
    would do with an all-stale ledger anyway."""
    import glob as _glob

    from ..checkpoint import STALE_AFTER_S, Ledger, Validation

    horizon = max(STALE_AFTER_S, min_age_s)
    now = time.time()
    deleted = 0
    for path in _glob.glob(os.path.join(table.root, "checkpoints", "*.json")):
        job_id = os.path.splitext(os.path.basename(path))[0]
        led = Ledger.open(table.root, job_id)
        verdicts = [led.validate(uid, table.root, now) for uid in led.units]
        dead = bool(verdicts) and all(
            v in (Validation.STALE, Validation.CORRUPT) for v in verdicts
        )
        if dead and now - os.path.getmtime(path) > horizon:
            os.unlink(path)
            deleted += 1
    return deleted


def expire_snapshots(
    table: Table,
    retain_last: int | None = None,
    retain_ids: list[int] | None = None,
    sweep_orphans: bool = True,
    min_age_s: float = DEFAULT_MIN_AGE_S,
    spark=None,
) -> ExpireResult:
    """Expire all snapshots except the retained set (default: keep the
    current one).  Reads of an expired snapshot raise SnapshotNotFound;
    retained snapshots remain byte-identical (asserted by tests).

    ``min_age_s`` guards the orphan sweep (not snapshot expiry itself —
    expiring an explicitly-named snapshot is intentional): uncommitted
    files younger than the cutoff are presumed in-flight and kept.
    """
    all_ids = table.snapshot_ids()
    if retain_ids is not None:
        retained = sorted(set(retain_ids) | {table.current_snapshot_id})
    else:
        k = retain_last if retain_last is not None else 1
        retained = all_ids[-k:]
    expired = [s for s in all_ids if s not in retained]

    keep_files = table.referenced_files(retained)
    keep_manifests: set[str] = set()
    for sid in retained:
        keep_manifests.update(table.snapshot(sid).manifests)

    now = time.time()
    # drop expired snapshot logs + their now-unreferenced manifests.
    # Manifests younger than the cutoff may belong to an uncommitted
    # concurrent writer (manifests are written before the snapshot) —
    # keep them; a later sweep reclaims them once aged.
    manifests_deleted = 0
    for sid in expired:
        os.unlink(os.path.join(table.meta_dir, f"v{sid}.json"))
    for name in os.listdir(table.meta_dir):
        if name.startswith("manifest-") and name not in keep_manifests:
            p = os.path.join(table.meta_dir, name)
            if now - os.path.getmtime(p) < min_age_s:
                continue  # possibly an in-flight writer's manifest
            os.unlink(p)
            manifests_deleted += 1

    orphans = 0
    bytes_reclaimed = 0
    if sweep_orphans:
        orphans, bytes_reclaimed = sweep_orphan_files(
            table, keep_files, min_age_s=min_age_s, spark=spark
        )

    return ExpireResult(expired, retained, orphans, bytes_reclaimed, manifests_deleted)


def sweep_orphan_files(
    table: Table,
    keep_files: set[str] | None = None,
    min_age_s: float = DEFAULT_MIN_AGE_S,
    spark=None,
    distributed_threshold: int = 4096,
) -> tuple[int, int]:
    """Delete data files not referenced by any live snapshot (includes
    leftovers of crashed, never-committed writes).

    Skips files/stage dirs younger than ``min_age_s`` (mtime cutoff) and
    outputs recorded in active checkpoint ledgers — both may belong to a
    concurrent writer that has not committed its snapshot yet.

    Above ``distributed_threshold`` listed files (same 4,096 cutoff as
    tablefmt's footer stats), and when a ``spark`` session is supplied,
    the set-diff + stat + delete runs on executors via mapInPandas: the
    driver holds only file NAMES (the listing itself — on HDFS/S3 a
    paginated list call — is the irreducible driver metadata), while the
    per-file getmtime/getsize/unlink syscalls, the O(#files) part that
    dominates at 10^8-file scale, fan out.  Below the threshold the
    driver loop is cheaper than a Spark job.
    """
    if keep_files is None:
        keep_files = table.referenced_files()
    _gc_dead_ledgers(table, min_age_s)
    keep_files = keep_files | _ledger_protected_files(table)
    now = time.time()
    n = 0
    reclaimed = 0
    listing = os.listdir(table.data_dir)
    candidates = [
        name for name in listing if os.path.join("data", name) not in keep_files
    ]
    if (
        spark is not None
        and len(listing) > distributed_threshold
        and _executors_share_driver_fs(spark)
    ):
        n, reclaimed = _sweep_distributed(
            spark, table.data_dir, candidates, min_age_s, now
        )
        if n == 0 and candidates:
            import logging

            logging.getLogger(__name__).warning(
                "distributed orphan sweep deleted 0 of %d candidates — "
                "verify executors can reach %s (all may also simply be "
                "younger than min_age_s=%s)",
                len(candidates), table.data_dir, min_age_s,
            )
    else:
        for name in candidates:
            p = os.path.join(table.data_dir, name)
            if now - os.path.getmtime(p) < min_age_s:
                continue  # too fresh: may be an uncommitted writer's file
            reclaimed += os.path.getsize(p)
            os.unlink(p)
            n += 1
    # stale stage dirs from crashed writers
    for name in os.listdir(table.root):
        if name.startswith("_stage-"):
            import shutil

            d = os.path.join(table.root, name)
            if now - os.path.getmtime(d) < min_age_s:
                continue
            # cluster/compact stages nest part files under zbin=*/ and
            # bin_id=*/ partition dirs: count the files, not the dirs
            for dirpath, _, files in os.walk(d):
                for f in files:
                    reclaimed += os.path.getsize(os.path.join(dirpath, f))
                    n += 1
            shutil.rmtree(d, ignore_errors=True)
    return n, reclaimed


def _executors_share_driver_fs(spark) -> bool:
    """True when executor-side os.stat/os.unlink against driver-local
    paths is meaningful: local / local-cluster masters (same box), or an
    explicit ``spark.engine.sharedFilesystem=true`` (NFS/Lustre-style
    shared mount; on object stores the sweep would go through the
    FileSystem API instead).  Without this guard a real multi-node
    cluster would FileNotFoundError every stat and silently report 0
    deletions while orphans accumulate (ADVICE r3)."""
    master = spark.sparkContext.master or ""
    if master.startswith("local"):
        return True
    return (
        spark.conf.get("spark.engine.sharedFilesystem", "false").lower() == "true"
    )


def _sweep_distributed(
    spark, data_dir: str, candidate_names: list[str], min_age_s: float, now: float
) -> tuple[int, int]:
    """Executor-side stat+age-check+delete for large orphan candidate
    sets.  Each partition returns (deleted, bytes) counts; only two
    longs per partition come back to the driver."""
    import pandas as pd

    def delete_batch(iterator):
        for pdf in iterator:
            deleted = 0
            nbytes = 0
            for name in pdf["name"]:
                p = os.path.join(data_dir, name)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue  # another sweeper won the race
                if now - st.st_mtime < min_age_s:
                    continue
                try:
                    os.unlink(p)
                except FileNotFoundError:
                    continue
                deleted += 1
                nbytes += st.st_size
            yield pd.DataFrame({"deleted": [deleted], "bytes": [nbytes]})

    if not candidate_names:
        return 0, 0
    df = spark.createDataFrame(
        [(c,) for c in candidate_names], "name string"
    ).repartition(min(len(candidate_names), spark.sparkContext.defaultParallelism))
    rows = df.mapInPandas(delete_batch, "deleted long, bytes long").collect()
    return sum(r["deleted"] for r in rows), sum(r["bytes"] for r in rows)
