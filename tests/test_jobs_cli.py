"""spark-submit entrypoint: op dispatch end-to-end on a tmp table."""

import json

from pyspark.sql import functions as F

from engine import corpus
from engine.jobs.maintain import main
from engine.tablefmt import Table


def test_maintain_cli_pipeline(spark, tmp_path, capsys):
    root = str(tmp_path / "t")
    src = str(tmp_path / "src")
    corpus.generate_corpus(spark, n_files=120, n_repos=4, partitions=4).write.parquet(src)

    assert main(["--table", root, "--op", "create"]) == 0
    assert main(["--table", root, "--op", "append", "--input", src, "--num-files", "6"]) == 0
    assert main(["--table", root, "--op", "compact", "--target-mb", "64"]) == 0
    assert main(["--table", root, "--op", "cluster", "--curve", "hilbert"]) == 0
    assert main(["--table", root, "--op", "rewrite-manifests"]) == 0
    assert main(["--table", root, "--op", "expire", "--retain-last", "1"]) == 0
    assert main(["--table", root, "--op", "verify"]) == 0

    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    by_op = {d["op"]: d for d in lines}
    assert by_op["append"]["added_rows"] == 120
    assert by_op["compact"]["files_in"] == 6 and by_op["compact"]["files_out"] == 1
    assert by_op["verify"]["rows"] == 120
    assert Table.load(root).total_rows() == 120
    # merge a delta through the CLI
    delta_dir = str(tmp_path / "delta")
    base = corpus.generate_corpus(spark, n_files=120, n_repos=4, partitions=4, version_col=True)
    corpus.bump_versions(base.limit(3)).drop("version").write.parquet(delta_dir)
    assert main(["--table", root, "--op", "merge", "--input", delta_dir]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows_updated"] == 3 and out["rows_inserted"] == 0


def test_maintain_cli_grouped_cluster(spark, tmp_path, capsys):
    """--op cluster --max-group-mb: one commit per bounded file group,
    content unchanged (verify's digest before == after)."""
    from engine.ops.cluster import plan_cluster_groups

    root = str(tmp_path / "t")
    src = str(tmp_path / "src")
    corpus.generate_corpus(spark, n_files=3000, n_repos=4, partitions=4).write.parquet(src)
    assert main(["--table", root, "--op", "create"]) == 0
    assert main(["--table", root, "--op", "append", "--input", src, "--num-files", "8"]) == 0
    assert main(["--table", root, "--op", "verify"]) == 0
    t = Table.load(root)
    n_groups = len(plan_cluster_groups(t.files(), 1024 * 1024))
    assert n_groups > 1
    snaps_before = len(t.snapshot_ids())
    assert main(["--table", root, "--op", "cluster", "--max-group-mb", "1",
                 "--target-mb", "1"]) == 0
    assert main(["--table", root, "--op", "verify"]) == 0

    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    before, after = lines[2], lines[4]
    assert lines[3]["op"] == "cluster" and lines[3]["files_in"] == 8
    assert (after["rows"], after["content_digest"]) == (3000, before["content_digest"])
    assert len(t.snapshot_ids()) == snaps_before + n_groups


def test_dedup_sweep_cli(spark, tmp_path, capsys):
    """dedup_sweep end-to-end: exact star-pairs, drops, keep, and the
    minhash path, through the spark-submit main()."""
    from engine.jobs.dedup_sweep import main as sweep_main

    src = str(tmp_path / "docs")
    text_a = "the quick brown fox jumps over the lazy dog " * 6
    text_b = "pack my box with five dozen liquor jugs today " * 6
    rows = [(1, text_a), (2, text_a), (3, text_a), (4, text_b), (5, text_b),
            (6, "unique words " + " ".join(f"u{i}" for i in range(40)))]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(src)

    out_pairs = str(tmp_path / "pairs")
    assert sweep_main(["--input", src, "--method", "exact",
                       "--output", out_pairs, "--emit", "pairs"]) == 0
    pairs = {(r["doc_a"], r["doc_b"])
             for r in spark.read.parquet(out_pairs).collect()}
    # star pairs to each group's min id, not the quadratic explode
    assert pairs == {(1, 2), (1, 3), (4, 5)}

    out_drops = str(tmp_path / "drops")
    assert sweep_main(["--input", src, "--method", "exact",
                       "--output", out_drops, "--emit", "drops"]) == 0
    drops = {r["doc_id"] for r in spark.read.parquet(out_drops).collect()}
    assert drops == {2, 3, 5}

    out_keep = str(tmp_path / "keep")
    assert sweep_main(["--input", src, "--method", "exact",
                       "--output", out_keep, "--emit", "keep"]) == 0
    kept = spark.read.parquet(out_keep)
    assert {r["doc_id"] for r in kept.collect()} == {1, 4, 6}
    assert set(kept.columns) == {"doc_id", "text"}

    out_mh = str(tmp_path / "mh_pairs")
    assert sweep_main(["--input", src, "--method", "minhash",
                       "--threshold", "0.9",
                       "--output", out_mh, "--emit", "pairs"]) == 0
    mh = {(r["doc_a"], r["doc_b"])
          for r in spark.read.parquet(out_mh).collect()}
    assert mh == {(1, 2), (1, 3), (2, 3), (4, 5)}

    summaries = [json.loads(l)
                 for l in capsys.readouterr().out.strip().splitlines()]
    assert all(s["op"] == "dedup-sweep" for s in summaries)
    assert summaries[0]["rows"] == 3


def test_dedup_sweep_cli_table_source(spark, tmp_path, capsys):
    """--table scans the engine table and synthesizes the row identity
    from (repo, path, commit) when --id-col is absent."""
    from engine.jobs.dedup_sweep import main as sweep_main

    root = str(tmp_path / "t")
    df = corpus.generate_corpus(spark, n_files=60, n_repos=3, partitions=2)
    # plant one exact duplicate under a different path
    dup = (df.limit(1).withColumn("path", F.lit("src/dup/planted.rs"))
           .withColumn("repo", F.lit("repo_0001")))
    Table.create(root)
    from engine.tablefmt import append as tbl_append
    tbl_append(spark, Table.load(root), df.unionByName(dup), num_files=2)

    out = str(tmp_path / "tdrops")
    assert sweep_main(["--table", root, "--method", "exact",
                       "--output", out, "--emit", "drops"]) == 0
    drops = spark.read.parquet(out).collect()
    assert len(drops) == 1


def test_dedup_sweep_cli_verify_exact(spark, tmp_path):
    """--verify-exact re-scores the minhash shortlist with EXACT
    shingle-set Jaccard: a borderline pair the 1/8-granular estimate
    cannot place is admitted or rejected by the true value."""
    from engine.jobs.dedup_sweep import main as sweep_main

    base = [f"tok{i}" for i in range(40)]
    near = list(base)
    near[5] = "CHANGED"  # kills 3 of 38 shingles -> jaccard = 35/41
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, " ".join(base)), (2, " ".join(near)),
         (3, " ".join(f"z{i}" for i in range(40)))],
        ["doc_id", "text"],
    ).write.parquet(src)

    out_lo = str(tmp_path / "lo")
    assert sweep_main(["--input", src, "--method", "minhash",
                       "--verify-exact", "--threshold", "0.8",
                       "--output", out_lo, "--emit", "pairs"]) == 0
    got = {(r["doc_a"], r["doc_b"]): r["score"]
           for r in spark.read.parquet(out_lo).collect()}
    assert set(got) == {(1, 2)} and abs(got[(1, 2)] - 35 / 41) < 1e-9

    out_hi = str(tmp_path / "hi")
    assert sweep_main(["--input", src, "--method", "minhash",
                       "--verify-exact", "--threshold", "0.9",
                       "--output", out_hi, "--emit", "pairs"]) == 0
    assert spark.read.parquet(out_hi).count() == 0


def test_dedup_sweep_cli_components_policy(spark, tmp_path):
    """--drop-policy components keeps one row per component even when
    the pair graph is a star through the largest id (greedy would keep
    two)."""
    from engine.jobs.dedup_sweep import main as sweep_main

    src = str(tmp_path / "docs")
    shared = "common shared sentence repeated for the dedup star test " * 5
    rows = [(1, "prefix one " + shared), (2, "prefix two " + shared),
            (3, shared + " suffix three"),
            (4, "isolated " + " ".join(f"q{i}" for i in range(50)))]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(src)

    out_g = str(tmp_path / "keep_greedy")
    out_c = str(tmp_path / "keep_comp")
    assert sweep_main(["--input", src, "--method", "minhash",
                       "--threshold", "0.25", "--output", out_g,
                       "--emit", "keep"]) == 0
    assert sweep_main(["--input", src, "--method", "minhash",
                       "--threshold", "0.25", "--output", out_c,
                       "--emit", "keep", "--drop-policy", "components"]) == 0
    kept_c = {r["doc_id"] for r in spark.read.parquet(out_c).collect()}
    kept_g = {r["doc_id"] for r in spark.read.parquet(out_g).collect()}
    # components keeps exactly one survivor per near-dup group
    assert 4 in kept_c and len(kept_c) >= 2
    assert kept_c <= kept_g  # exact policy never keeps more than greedy


def test_dedup_sweep_cli_simhash_collapse(spark, tmp_path):
    """--method simhash through the CLI, with and without
    --collapse-fps: identical-text groups surface as hamming-0 pairs
    and the two candidate shapes emit identical relations."""
    from engine.jobs.dedup_sweep import main as sweep_main

    text_a = "the quick brown fox jumps over the lazy dog " * 6
    text_b = "pack my box with five dozen liquor jugs today " * 6
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, text_a), (2, text_a), (3, text_a), (4, text_b), (5, text_b),
         (6, "unique words " + " ".join(f"u{i}" for i in range(40)))],
        ["doc_id", "text"],
    ).write.parquet(src)

    out_d = str(tmp_path / "sh_direct")
    assert sweep_main(["--input", src, "--method", "simhash",
                       "--output", out_d, "--emit", "pairs"]) == 0
    direct = {(r["doc_a"], r["doc_b"], r["score"])
              for r in spark.read.parquet(out_d).collect()}
    assert {(a, b) for a, b, _ in direct} >= {(1, 2), (1, 3), (2, 3), (4, 5)}
    assert all(s == 0.0 for a, b, s in direct
               if (a, b) in {(1, 2), (1, 3), (2, 3), (4, 5)})

    out_c = str(tmp_path / "sh_collapse")
    assert sweep_main(["--input", src, "--method", "simhash",
                       "--collapse-fps",
                       "--output", out_c, "--emit", "pairs"]) == 0
    collapsed = {(r["doc_a"], r["doc_b"], r["score"])
                 for r in spark.read.parquet(out_c).collect()}
    assert collapsed == direct


def test_dedup_sweep_cli_incremental(spark, tmp_path, capsys):
    """--emit signatures then --against: the index is built once, the
    batch sweeps against it without re-reading corpus text, and
    drops/keep apply to the batch side only."""
    from engine.jobs.dedup_sweep import main as sweep_main

    text_a = "the quick brown fox jumps over the lazy dog " * 6
    corpus_src = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, text_a),
         (2, "indexed words " + " ".join(f"w{i}" for i in range(40)))],
        ["doc_id", "text"],
    ).write.parquet(corpus_src)

    sigs = str(tmp_path / "sigs")
    assert sweep_main(["--input", corpus_src, "--method", "minhash",
                       "--output", sigs, "--emit", "signatures"]) == 0
    sig_df = spark.read.parquet(sigs)
    assert set(sig_df.columns) == {"doc_id", "fp"}
    assert sig_df.count() == 2

    batch_src = str(tmp_path / "batch")
    spark.createDataFrame(
        [(101, text_a),  # exact dup of indexed 1
         (102, "fresh words " + " ".join(f"n{i}" for i in range(40)))],
        ["doc_id", "text"],
    ).write.parquet(batch_src)

    out_pairs = str(tmp_path / "inc_pairs")
    assert sweep_main(["--input", batch_src, "--method", "minhash",
                       "--against", sigs,
                       "--output", out_pairs, "--emit", "pairs"]) == 0
    pairs = {(r["doc_a"], r["doc_b"], r["score"])
             for r in spark.read.parquet(out_pairs).collect()}
    assert pairs == {(1, 101, 1.0)}

    out_keep = str(tmp_path / "inc_keep")
    assert sweep_main(["--input", batch_src, "--method", "minhash",
                       "--against", sigs,
                       "--output", out_keep, "--emit", "keep"]) == 0
    kept = {r["doc_id"] for r in spark.read.parquet(out_keep).collect()}
    assert kept == {102}

    # simhash twin: scalar fingerprint index, Hamming-0 for the copy
    sh_sigs = str(tmp_path / "sh_sigs")
    assert sweep_main(["--input", corpus_src, "--method", "simhash",
                       "--output", sh_sigs, "--emit", "signatures"]) == 0
    sh_df = spark.read.parquet(sh_sigs)
    assert set(sh_df.columns) == {"doc_id", "fp"}

    out_sh = str(tmp_path / "sh_inc")
    assert sweep_main(["--input", batch_src, "--method", "simhash",
                       "--against", sh_sigs,
                       "--output", out_sh, "--emit", "pairs"]) == 0
    sh_pairs = {(r["doc_a"], r["doc_b"], r["score"])
                for r in spark.read.parquet(out_sh).collect()}
    assert (1, 101, 0.0) in sh_pairs
    assert not any(b == 102 for _, b, _ in sh_pairs)


def test_dedup_sweep_cli_incremental_exact_and_cosine(spark, tmp_path):
    """--emit signatures / --against for the exact (sha index) and
    cosine-lsh (bucketed vector index, banding params stored in the
    index) methods."""
    import numpy as np

    from engine.jobs.dedup_sweep import main as sweep_main

    # exact: sha index
    ta = "some corpus body repeated verbatim " * 5
    src = str(tmp_path / "c"); batch = str(tmp_path / "b")
    spark.createDataFrame([(1, ta), (2, "other " * 20)], ["doc_id", "text"]).write.parquet(src)
    spark.createDataFrame([(9, ta), (10, "fresh " * 20)], ["doc_id", "text"]).write.parquet(batch)
    sg = str(tmp_path / "sha_sigs"); pr = str(tmp_path / "sha_pairs")
    assert sweep_main(["--input", src, "--method", "exact",
                       "--output", sg, "--emit", "signatures"]) == 0
    assert set(spark.read.parquet(sg).columns) == {"doc_id", "sha"}
    assert sweep_main(["--input", batch, "--method", "exact",
                       "--against", sg, "--output", pr]) == 0
    assert {(r["doc_a"], r["doc_b"], r["score"])
            for r in spark.read.parquet(pr).collect()} == {(1, 9, 1.0)}

    # cosine-lsh: bucketed vector index; --against reads the banding
    # params back from the index (deliberately NOT passed again)
    rng = np.random.default_rng(3)
    V = rng.standard_normal((30, 64)); V /= np.linalg.norm(V, axis=1, keepdims=True)
    vsrc = str(tmp_path / "vc"); vbatch = str(tmp_path / "vb")
    spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(30)],
        "doc_id long, embedding array<float>",
    ).write.parquet(vsrc)
    near = V[0] + 0.02 * rng.standard_normal(64); near /= np.linalg.norm(near)
    spark.createDataFrame(
        [(100, [float(x) for x in near]),
         (101, [float(x) for x in (V[1] * -1.0)])],  # antipode: cos -1
        "doc_id long, embedding array<float>",
    ).write.parquet(vbatch)
    vsg = str(tmp_path / "v_sigs"); vpr = str(tmp_path / "v_pairs")
    assert sweep_main(["--input", vsrc, "--method", "cosine-lsh",
                       "--lsh-tables", "8", "--lsh-planes", "8",
                       "--output", vsg, "--emit", "signatures"]) == 0
    assert sweep_main(["--input", vbatch, "--method", "cosine-lsh",
                       "--against", vsg, "--threshold", "0.9",
                       "--output", vpr]) == 0
    got = {(r["doc_a"], r["doc_b"]) for r in spark.read.parquet(vpr).collect()}
    assert got == {(0, 100)}


def test_dedup_sweep_cli_rejects_bad_combos(tmp_path):
    """Argument guards fire before a session is created."""
    import pytest

    from engine.jobs.dedup_sweep import main as sweep_main

    with pytest.raises(SystemExit):
        sweep_main(["--input", "x", "--method", "minhash", "--output", "o",
                    "--against", "sigs", "--verify-exact"])
    with pytest.raises(SystemExit):
        sweep_main(["--input", "x", "--method", "minhash", "--output", "o",
                    "--against", "sigs", "--drop-policy", "components"])
    with pytest.raises(SystemExit):
        sweep_main(["--input", "x", "--method", "minhash", "--output", "o",
                    "--against", "sigs", "--emit", "signatures"])


def test_dedup_sweep_against_overlap_and_empty_index(spark, tmp_path):
    """An id present in both index and batch must not self-pair, and an
    EMPTY cosine index yields no pairs instead of crashing on the
    missing stored banding params."""
    import numpy as np

    from engine.jobs.dedup_sweep import main as sweep_main

    ta = "overlapping document body repeated " * 6
    src = str(tmp_path / "c")
    spark.createDataFrame([(1, ta), (2, "other " * 30)],
                          ["doc_id", "text"]).write.parquet(src)
    sigs = str(tmp_path / "sigs")
    assert sweep_main(["--input", src, "--method", "exact",
                       "--output", sigs, "--emit", "signatures"]) == 0
    # batch = the index itself: every doc matches its own signature
    out = str(tmp_path / "self_pairs")
    assert sweep_main(["--input", src, "--method", "exact",
                       "--against", sigs, "--output", out]) == 0
    assert spark.read.parquet(out).count() == 0  # no degenerate (x, x)

    # empty cosine index: params row absent -> CLI falls back to flags
    empty_src = str(tmp_path / "ve")
    spark.createDataFrame([], "doc_id long, embedding array<float>").write.parquet(empty_src)
    esigs = str(tmp_path / "esigs")
    assert sweep_main(["--input", empty_src, "--method", "cosine-lsh",
                       "--output", esigs, "--emit", "signatures"]) == 0
    rng = np.random.default_rng(1)
    v = rng.standard_normal(64); v /= np.linalg.norm(v)
    vb = str(tmp_path / "vb")
    spark.createDataFrame([(5, [float(x) for x in v])],
                          "doc_id long, embedding array<float>").write.parquet(vb)
    ep = str(tmp_path / "epairs")
    assert sweep_main(["--input", vb, "--method", "cosine-lsh",
                       "--against", esigs, "--output", ep]) == 0
    assert spark.read.parquet(ep).count() == 0
