"""Snapshot expiry + orphan sweep + the FIXTURES.md §7 isolation chain."""

import os

import pytest
from pyspark.sql import functions as F

from engine import corpus, tablefmt
from engine.ops.compact import compact
from engine.ops.expire import expire_snapshots, sweep_orphan_files
from engine.ops.manifest import rewrite_manifests
from engine.ops.merge import merge_into
from engine.tablefmt import SnapshotNotFound, Table


def test_expire_chain_s0_s3(spark, tmp_path):
    """S0 create -> S1 append -> S2 merge(mixed) -> S3 compact ->
    expire retaining S3(+current): S3 byte-identical before/after,
    S1/S2 reads raise."""
    t = Table.create(str(tmp_path / "t"))  # S0
    base = corpus.generate_corpus(spark, n_files=150, n_repos=4, partitions=4, version_col=True)
    tablefmt.append(spark, t, base, num_files=6)  # S1

    mod = corpus.bump_versions(base.limit(10))
    merge_into(spark, t, mod)  # S2
    compact(spark, t, target_bytes=256 * 1024 * 1024)  # S3
    s3 = t.current_snapshot_id
    digest_s3 = corpus.corpus_digest(t.scan(spark, as_of=s3))

    n_data_before = len(os.listdir(t.data_dir))
    r = expire_snapshots(t, retain_last=1, min_age_s=0)
    assert r.retained_snapshots == [s3]
    assert 1 in r.expired_snapshots and 2 in r.expired_snapshots
    assert r.orphans_deleted > 0
    assert len(os.listdir(t.data_dir)) < n_data_before

    # retained snapshot is byte-identical after expiry
    assert corpus.corpus_digest(t.scan(spark, as_of=s3)) == digest_s3
    # expired snapshots raise
    with pytest.raises(SnapshotNotFound):
        t.scan(spark, as_of=1)
    with pytest.raises(SnapshotNotFound):
        t.snapshot(2)


def test_orphan_sweep_reclaims_uncommitted(spark, tmp_path):
    """Files written but never committed (crashed writer) are swept."""
    t = Table.create(str(tmp_path / "t"))
    df = corpus.generate_corpus(spark, n_files=50, n_repos=2, partitions=2)
    tablefmt.append(spark, t, df, num_files=1)
    # a crashed writer: data files staged+moved, no commit
    t.write_data_files(spark, df, num_files=2)
    assert len(os.listdir(t.data_dir)) == 3
    # default grace period protects fresh (possibly in-flight) files
    n0, _ = sweep_orphan_files(t)
    assert n0 == 0 and len(os.listdir(t.data_dir)) == 3
    # min_age_s=0: caller asserts no writer is in flight -> swept
    n, reclaimed = sweep_orphan_files(t, min_age_s=0)
    assert n == 2 and reclaimed > 0
    assert len(os.listdir(t.data_dir)) == 1
    assert t.scan(spark).count() == 50


def test_orphan_sweep_counts_partitioned_stage_files(tmp_path):
    """A crashed cluster/compact stage nests its part files under
    partition dirs (zbin=*/, bin_id=*/): the sweep reports the files
    and their bytes, not the directory entries at the stage's top."""
    t = Table.create(str(tmp_path / "t"))
    stage = os.path.join(t.root, "_stage-crashed")
    os.makedirs(os.path.join(stage, "zbin=0"))
    with open(os.path.join(stage, "zbin=0", "part-00000.parquet"), "wb") as f:
        f.write(b"\0" * 10_000)
    open(os.path.join(stage, "_SUCCESS"), "wb").close()
    assert sweep_orphan_files(t, min_age_s=0) == (2, 10_000)
    assert not os.path.exists(stage)


def test_sweep_protects_ledger_outputs(spark, tmp_path):
    """Outputs recorded in an active checkpoint ledger survive a sweep
    even with min_age_s=0 — an in-flight resumable job's files must not
    be reclaimed between its write and its commit (ADVICE round 1)."""
    from engine.checkpoint import Ledger

    t = Table.create(str(tmp_path / "t"))
    df = corpus.generate_corpus(spark, n_files=50, n_repos=2, partitions=2)
    tablefmt.append(spark, t, df, num_files=1)
    files = t.write_data_files(spark, df, num_files=2)  # uncommitted
    led = Ledger.open(t.root, "job-inflight")
    led.register("u0", expected_outputs=len(files))
    led.mark_dirty("u0", expected_paths=[f.path for f in files])
    n, _ = sweep_orphan_files(t, min_age_s=0)
    assert n == 0 and len(os.listdir(t.data_dir)) == 3
    # once the ledger is gone, the same sweep reclaims them
    led.delete()
    n, _ = sweep_orphan_files(t, min_age_s=0)
    assert n == 2


def test_rewrite_manifests_preserves_scan(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"))
    df = corpus.generate_corpus(spark, n_files=200, n_repos=5, partitions=4)
    for r in ["repo_0000", "repo_0001", "repo_0002", "repo_0003", "repo_0004"]:
        files = t.write_data_files(
            spark, df.filter(F.col("repo") == r), partition=r, num_files=2
        )
        t.commit("append", files)
    digest = corpus.corpus_digest(t.scan(spark))
    snap_before = t.snapshot()
    r = rewrite_manifests(t, group_by="partition")
    assert r.manifests_after == 5  # one per repo partition
    assert corpus.corpus_digest(t.scan(spark)) == digest
    # data files untouched
    assert {e.path for e in t.files()} == {
        e.path for e in t.files(snap_before.snapshot_id)
    }
    # pruning still works at manifest level
    assert len(t.files(pred=[("repo", "==", "repo_0003")])) == 2


def test_sweep_reclaims_stale_ledger_outputs(spark, tmp_path):
    """A dead job's STALE dirty units no longer protect their outputs
    (ADVICE r2): resume would discard them anyway, so the sweep may
    reclaim.  An all-stale ledger past the stale horizon is GC'd."""
    import time as _time

    from engine.checkpoint import STALE_AFTER_S, Ledger

    t = Table.create(str(tmp_path / "t"))
    df = corpus.generate_corpus(spark, n_files=50, n_repos=2, partitions=2)
    tablefmt.append(spark, t, df, num_files=1)
    files = t.write_data_files(spark, df, num_files=2)  # uncommitted
    led = Ledger.open(t.root, "job-dead")
    led.register("u0", expected_outputs=len(files))
    led.mark_dirty("u0", expected_paths=[f.path for f in files])
    # age the unit past the stale horizon (validate() -> STALE)
    led.units["u0"].dirty_ts = _time.time() - STALE_AFTER_S - 60
    led.save()
    ledger_path = os.path.join(t.root, "checkpoints", "job-dead.json")
    # backdate the ledger file so the dead-job GC horizon passes too
    old = _time.time() - STALE_AFTER_S - 60
    os.utime(ledger_path, (old, old))

    n, _ = sweep_orphan_files(t, min_age_s=0)
    assert n == 2  # stale outputs reclaimed
    assert not os.path.exists(ledger_path)  # dead ledger GC'd
    assert t.scan(spark).count() == 50


def test_sweep_distributed_path(spark, tmp_path):
    """Above the threshold the sweep fans stat+delete out to executors;
    results identical to the driver loop (age guard + keep set)."""
    t = Table.create(str(tmp_path / "t"))
    df = corpus.generate_corpus(spark, n_files=50, n_repos=2, partitions=2)
    tablefmt.append(spark, t, df, num_files=3)
    t.write_data_files(spark, df, num_files=5)  # 5 uncommitted orphans
    assert len(os.listdir(t.data_dir)) == 8
    # grace period still honored on the distributed path
    n0, _ = sweep_orphan_files(t, spark=spark, distributed_threshold=1)
    assert n0 == 0
    n, reclaimed = sweep_orphan_files(
        t, min_age_s=0, spark=spark, distributed_threshold=1
    )
    assert n == 5 and reclaimed > 0
    assert len(os.listdir(t.data_dir)) == 3
    assert t.scan(spark).count() == 50


def test_ledger_gc_respects_sweep_grace(spark, tmp_path):
    """ADVICE r3: ledger GC is gated on max(STALE_AFTER_S, min_age_s) —
    a sweep run with a generous grace period must not delete an idle
    (all-stale) job's ledger that a large min_age_s still protects,
    and computing the protected set must never unlink anything."""
    import time as _time

    from engine.checkpoint import STALE_AFTER_S, Ledger

    t = Table.create(str(tmp_path / "t"))
    df = corpus.generate_corpus(spark, n_files=20, n_repos=2, partitions=2)
    tablefmt.append(spark, t, df, num_files=1)
    files = t.write_data_files(spark, df, num_files=1)
    led = Ledger.open(t.root, "job-idle")
    led.register("u0", expected_outputs=len(files))
    led.mark_dirty("u0", expected_paths=[f.path for f in files])
    led.units["u0"].dirty_ts = _time.time() - STALE_AFTER_S - 60
    led.save()
    ledger_path = os.path.join(t.root, "checkpoints", "job-idle.json")
    old = _time.time() - STALE_AFTER_S - 60
    os.utime(ledger_path, (old, old))

    # grace larger than the ledger's age: ledger must survive the sweep
    sweep_orphan_files(t, min_age_s=STALE_AFTER_S + 7 * 24 * 3600)
    assert os.path.exists(ledger_path)

    # pure getter: no side effects on the ledger file
    from engine.ops.expire import _ledger_protected_files

    _ledger_protected_files(t)
    assert os.path.exists(ledger_path)
