"""Clustering: curve math, content preservation, pruning improvement."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from engine import corpus, tablefmt
from engine.ops.cluster import (
    _hilbert_d_np,
    _interleave_bits_np,
    _sample_boundaries_pairs,
    cluster,
    plan_cluster_groups,
)
from engine.tablefmt import Table


def _hilbert_xy2d_scalar(order: int, x: int, y: int) -> int:
    """Brute-force scalar reference (classic Wikipedia xy2d)."""
    d = 0
    s = order // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_morton_interleave():
    x = np.array([0, 1, 0b1111, 0b1010], dtype=np.uint64)
    y = np.array([0, 0, 0b0000, 0b0101], dtype=np.uint64)
    z = _interleave_bits_np(x, y, 16)
    assert z[0] == 0
    assert z[1] == 0b10
    assert z[2] == 0b10101010
    assert z[3] == 0b10011001 + 0  # bits of x at odd, y at even positions
    # locality sanity: adjacent x differ less than distant x
    za = _interleave_bits_np(np.array([5]), np.array([5]), 16)[0]
    zb = _interleave_bits_np(np.array([6]), np.array([5]), 16)[0]
    zc = _interleave_bits_np(np.array([5000]), np.array([5]), 16)[0]
    assert abs(int(za) - int(zb)) < abs(int(za) - int(zc))


def test_hilbert_matches_bruteforce():
    bits = 6
    n = 1 << bits
    rng = np.random.default_rng(42)
    xs = rng.integers(0, n, 300)
    ys = rng.integers(0, n, 300)
    got = _hilbert_d_np(xs, ys, bits)
    want = np.array([_hilbert_xy2d_scalar(n, int(x), int(y)) for x, y in zip(xs, ys)])
    assert (got.astype(np.int64) == want).all()


def test_hilbert_is_bijective_small():
    bits = 4
    n = 1 << bits
    xs, ys = np.meshgrid(np.arange(n), np.arange(n))
    d = _hilbert_d_np(xs.ravel(), ys.ravel(), bits)
    assert len(set(d.tolist())) == n * n  # perfect space-filling


@pytest.mark.parametrize("curve", ["zorder", "hilbert"])
def test_cluster_preserves_content(spark, tmp_path, curve):
    t = Table.create(str(tmp_path / curve))
    df = corpus.generate_corpus(spark, n_files=400, n_repos=8, partitions=4)
    tablefmt.append(spark, t, df, num_files=8)
    digest = corpus.corpus_digest(t.scan(spark))
    r = cluster(spark, t, curve=curve, num_files=8)
    assert r.snapshot_id == t.current_snapshot_id
    assert r.files_out >= 1
    assert corpus.corpus_digest(t.scan(spark)) == digest


def test_cluster_improves_pruning(spark, tmp_path):
    """After Z-ordering, a repo-equality scan touches fewer files."""
    t = Table.create(str(tmp_path / "t"))
    df = corpus.generate_corpus(spark, n_files=1000, n_repos=10, partitions=8)
    # append round-robin so every file contains every repo (worst layout)
    tablefmt.append(spark, t, df.repartition(10), num_files=10)
    pred = [("repo", "==", "repo_0003")]
    before = len(t.files(pred=pred))
    assert before == 10  # no pruning possible
    cluster(spark, t, curve="zorder", num_files=10)
    after = len(t.files(pred=pred))
    assert after < before
    # correctness unaffected
    assert t.scan(spark, pred=pred).count() == df.filter("repo = 'repo_0003'").count()


def test_sample_boundaries_order(spark):
    df = corpus.generate_corpus(spark, n_files=300, n_repos=6, partitions=4)
    b = _sample_boundaries_pairs(df, ["repo"], bits=3)[0]["repo"]
    assert b == sorted(b)
    assert len(b) <= 7


def test_zbin_routing_scales_to_many_files(spark):
    """Output-file routing must hold at 100-TB boundary counts (~10^5-
    10^6 output files).  The fused UDF's np.searchsorted is O(log B) per
    row; assert exact agreement with the routing contract
    (zbin = #boundaries <= zkey) at 10k+ boundaries, including values
    below the first / above the last boundary and exact boundary hits."""
    from engine.ops.cluster import _zkey_udf

    rng = np.random.default_rng(7)
    boundaries = np.unique(rng.integers(0, 2**31, size=10_000)).tolist()
    # the fused UDF's zbin must equal the reference count semantics
    keyf = _zkey_udf("zorder", ["b", "d"], ["m", "t"], zbin_boundaries=boundaries)
    df = spark.createDataFrame(
        [(chr(97 + i % 5), f"p{i}") for i in range(2000)], "repo string, path string"
    )
    out = (
        df.withColumn("_zk", keyf(F.col("repo"), F.col("path")))
        .select("repo", "path", "_zk.zkey", "_zk.zbin")
        .collect()
    )
    b = np.asarray(boundaries)
    for r in out:
        assert r["zbin"] == int(np.sum(b <= r["zkey"])), (r["zkey"], r["zbin"])
    # boundary-hit exactness on crafted values
    zb = np.asarray([10, 20, 20, 30], dtype=np.int64)
    hits = np.searchsorted(zb, np.asarray([5, 10, 19, 20, 30, 31]), side="right")
    assert hits.tolist() == [0, 1, 1, 3, 4, 4]


def test_cluster_grouped_preserves_content_and_bounds_groups(spark, tmp_path):
    """Grouped rewrite: content digest unchanged, every group's input
    bytes bounded, per-group commits land (snapshot count grows by
    #groups), and pruning improves like the single-shot path."""
    t = Table.create(str(tmp_path / "t"))
    df = corpus.generate_corpus(spark, n_files=1200, n_repos=10, partitions=8)
    tablefmt.append(spark, t, df.repartition(12), num_files=12)
    digest = corpus.corpus_digest(t.scan(spark))
    entries = t.files()
    total = sum(e.bytes for e in entries)
    cap = total // 3  # force ~4 groups
    groups = plan_cluster_groups(entries, cap)
    assert len(groups) >= 3
    assert all(sum(e.bytes for e in g) <= cap or len(g) == 1 for g in groups)
    snaps_before = len(t.snapshot_ids())
    r = cluster(
        spark, t, curve="zorder", max_group_bytes=cap,
        num_files=round(total / (256 * 1024)),
    )
    assert corpus.corpus_digest(t.scan(spark)) == digest
    assert len(t.snapshot_ids()) == snaps_before + len(groups)
    assert r.files_in == len(entries)
    pred = [("repo", "==", "repo_0003")]
    assert len(t.files(pred=pred)) < len(t.files())


def test_cluster_grouped_resumes_after_crash(spark, tmp_path):
    """Crash after the first group: completed groups' commits survive;
    resuming the same job_id finishes only the remaining groups and the
    final content digest is intact."""
    t = Table.create(str(tmp_path / "t"))
    df = corpus.generate_corpus(spark, n_files=900, n_repos=6, partitions=6)
    tablefmt.append(spark, t, df.repartition(9), num_files=9)
    digest = corpus.corpus_digest(t.scan(spark))
    total = sum(e.bytes for e in t.files())
    cap = total // 3
    with pytest.raises(RuntimeError, match="simulated crash"):
        cluster(
            spark, t, max_group_bytes=cap, num_files=round(total / (256 * 1024)),
            job_id="job-crash", fail_after_groups=1,
        )
    # partial progress is durable and readable
    assert corpus.corpus_digest(t.scan(spark)) == digest
    mid_snaps = len(t.snapshot_ids())
    r = cluster(
        spark, t, max_group_bytes=cap, num_files=round(total / (256 * 1024)),
        job_id="job-crash",
    )
    assert corpus.corpus_digest(t.scan(spark)) == digest
    assert len(t.snapshot_ids()) > mid_snaps
    assert r.files_in > 0
    # ledger cleaned up on completion
    assert not os.path.exists(
        os.path.join(t.root, "checkpoints", "job-crash.json")
    )


def test_cluster_grouped_clean_without_infos_redoes_not_empty_commit(
    spark, tmp_path
):
    """The r4 hazard (ADVICE r4 #1): a unit that is clean but has NO
    file_infos recorded (crash inside the old two-save window) must be
    REDONE on resume, never committed as an empty file list against live
    inputs — that would remove the group's rows with nothing added."""
    from engine.checkpoint import Ledger

    t = Table.create(str(tmp_path / "t"))
    df = corpus.generate_corpus(spark, n_files=600, n_repos=4, partitions=4)
    tablefmt.append(spark, t, df.repartition(6), num_files=6)
    digest = corpus.corpus_digest(t.scan(spark))
    total = sum(e.bytes for e in t.files())
    cap = total // 3
    with pytest.raises(RuntimeError, match="simulated crash"):
        cluster(
            spark, t, max_group_bytes=cap, num_files=round(total / (256 * 1024)),
            job_id="job-hazard", fail_after_groups=1,
        )
    # forge the hazard state: first PENDING unit becomes clean with live
    # inputs and no recovery record
    led = Ledger.open(t.root, "job-hazard")
    pending = [u for u in led.units.values() if u.state == "pending"]
    assert pending
    forged = pending[0]
    forged.state = "clean"
    forged.meta.pop("file_infos", None)
    led.save()
    r = cluster(
        spark, t, max_group_bytes=cap, num_files=round(total / (256 * 1024)),
        job_id="job-hazard",
    )
    assert corpus.corpus_digest(t.scan(spark)) == digest  # no rows lost
    assert r.files_in > 0


def test_cluster_grouped_resume_does_not_rewrite_committed_groups(
    spark, tmp_path
):
    """Resume reuses the persisted plan: output files of groups committed
    before the crash survive untouched (no proportional redo), and the
    returned counters cover committed + resumed groups."""
    t = Table.create(str(tmp_path / "t"))
    df = corpus.generate_corpus(spark, n_files=900, n_repos=6, partitions=6)
    tablefmt.append(spark, t, df.repartition(9), num_files=9)
    digest = corpus.corpus_digest(t.scan(spark))
    n_inputs = len(t.files())
    total = sum(e.bytes for e in t.files())
    cap = total // 3
    with pytest.raises(RuntimeError, match="simulated crash"):
        cluster(
            spark, t, max_group_bytes=cap, num_files=round(total / (256 * 1024)),
            job_id="job-keep", fail_after_groups=1,
        )
    after_crash = {e.path for e in t.files()}
    r = cluster(
        spark, t, max_group_bytes=cap, num_files=round(total / (256 * 1024)),
        job_id="job-keep",
    )
    final = {e.path for e in t.files()}
    # every file written by the pre-crash committed group is still live
    # (it was not regrouped/rewritten by the resume)
    pre_crash_outputs = {p for p in after_crash if p in final}
    assert pre_crash_outputs, "committed group's outputs were rewritten on resume"
    assert corpus.corpus_digest(t.scan(spark)) == digest
    assert r.files_in == n_inputs  # counters fold committed + resumed


def _merged_fixture(spark, tmp_path):
    """600 rows in 6 files, with the version column merge deltas need."""
    t = Table.create(str(tmp_path / "t"))
    base = corpus.generate_corpus(
        spark, n_files=600, n_repos=4, partitions=4, version_col=True
    )
    tablefmt.append(spark, t, base.repartition(6), num_files=6)
    return t, base


def _assert_one_row_per_key(spark, t, n):
    df = t.scan(spark)
    assert df.count() == n
    assert df.select("repo", "path").distinct().count() == n


def test_cluster_group_commit_conflicts_with_concurrent_merge(
    spark, tmp_path, monkeypatch
):
    """A merge that lands while the first of 3 groups is being rewritten
    makes that group's commit raise CommitConflict.  Committing anyway
    would put the merged file's old rows back next to the merge's
    rewrite of them (700 rows for 600 keys)."""
    from engine.ops import cluster as cluster_mod
    from engine.ops.merge import merge_into
    from engine.tablefmt import CommitConflict

    t, base = _merged_fixture(spark, tmp_path)
    cap = sum(e.bytes for e in t.files()) * 2 // 5  # 2 of the 6 files
    assert len(plan_cluster_groups(t.files(), cap)) == 3
    real_rewrite = cluster_mod._rewrite_clustered
    merged = []

    def rewrite_with_concurrent_merge(spark_, table, df, *args):
        out = real_rewrite(spark_, table, df, *args)
        if not merged:
            k = df.select("repo", "path").orderBy("repo", "path").first()
            row = base.filter((F.col("repo") == k.repo) & (F.col("path") == k.path))
            merged.append(merge_into(spark, Table.load(t.root), corpus.bump_versions(row)))
        return out

    monkeypatch.setattr(cluster_mod, "_rewrite_clustered", rewrite_with_concurrent_merge)
    with pytest.raises(CommitConflict):
        cluster(spark, t, max_group_bytes=cap, num_files=6)
    assert merged[0].rows_updated == 1
    _assert_one_row_per_key(spark, t, 600)


def test_cluster_resume_redoes_group_whose_inputs_changed(
    spark, tmp_path, monkeypatch
):
    """Crash between a group's mark_clean and its commit, then a merge
    rewrites one of the group's input files: resume must redo the group
    from its live inputs, not commit the recorded outputs, which still
    hold the merged key's old row."""
    from engine.checkpoint import Ledger
    from engine.ops.merge import merge_into

    t, base = _merged_fixture(spark, tmp_path)
    real_commit = Table.commit
    crashed = []

    def commit_crashing_once(self, operation, *args, **kwargs):
        if operation == "cluster" and not crashed:
            crashed.append(operation)
            raise RuntimeError("simulated crash before the group commit")
        return real_commit(self, operation, *args, **kwargs)

    monkeypatch.setattr(Table, "commit", commit_crashing_once)
    with pytest.raises(RuntimeError, match="before the group commit"):
        cluster(spark, t, num_files=3, job_id="job-stale")
    assert [u.state for u in Ledger.open(t.root, "job-stale").units.values()] == [
        "clean"
    ]
    delta = corpus.bump_versions(base.orderBy("repo", "path").limit(1))
    assert merge_into(spark, t, delta).rows_updated == 1
    cluster(spark, t, num_files=3, job_id="job-stale")
    _assert_one_row_per_key(spark, t, 600)
    expected = base.join(delta.select("repo", "path"), ["repo", "path"], "left_anti")
    assert corpus.corpus_digest(t.scan(spark)) == corpus.corpus_digest(
        expected.unionByName(delta)
    )
