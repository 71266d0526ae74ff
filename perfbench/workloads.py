"""The two closed-loop workloads, driven through the engine's public API.

One client issues each operation after the previous one returns.  A
workload builds its table in ``setup``, makes one untimed call of every
operation its loop uses in ``warmup``, then repeats ``step`` until the
time is up and at least ``GATE_STEPS`` steps are done; ``finish`` runs
the end-of-run output checks.  Why each workload exists and what it
measures is in ``perfbench/README.md``.
"""

from __future__ import annotations

import hashlib
import io
import os
import random
import shutil
import statistics
from contextlib import contextmanager, redirect_stdout
from types import SimpleNamespace

from pyspark.sql import functions as F
from pyspark.sql import types as T

from engine import corpus, tablefmt
from engine.jobs import dedup_sweep
from engine.ops.cluster import cluster
from engine.ops.compact import compact
from engine.ops.delete import delete_where
from engine.ops.expire import expire_snapshots
from engine.ops.manifest import rewrite_manifests
from engine.ops.merge import merge_into
from engine.tablefmt import Table

from . import codegen
from .tracing import percentile_tail, vm_hwm_mb

KEY_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in ("repo", "path", "lang")]
    + [T.StructField("version", T.IntegerType())]
)


def local_frame(spark, rows: list[tuple], schema: T.StructType):
    """Generated input rows as a DataFrame.  Built from pandas, so the
    rows reach the JVM through Arrow on the driver: a plain list would be
    pickled and decoded by Python workers inside the engine call that
    first scans it, and charged to that call."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(rows, columns=schema.fieldNames()), schema)


def raw_bytes(df) -> int:
    """UTF-8 bytes of the user rows in ``df`` (the write-amp base)."""
    n = sum(F.octet_length(c) for c in ("repo", "path", "commit", "lang", "content"))
    return int(df.agg(F.sum(n)).collect()[0][0] or 0)


def rows_raw_bytes(rows: list[tuple]) -> int:
    return sum(len("".join(r).encode()) for r in rows)


def row_id(row: tuple) -> str:
    """The sweep's synthesized row identity (``tablefmt.ROW_IDENTITY_SQL``)."""
    return "\x1f".join(row[:3])


def digest_parts(df) -> tuple[int, int, int, int]:
    """``(rows, sum, xor, bad)`` over ``df``: the components of
    ``engine.corpus.corpus_digest`` (they combine across unions, so an
    expected value can follow the rows appended), plus the number of
    rows whose ``commit`` is not ``sha256(content)[:40]``."""
    h = F.xxhash64("repo", "path", "commit", F.sha2("content", 256))
    sha = F.sha2("content", 256)
    r = df.select(
        F.count("*").alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("s"),
        F.bit_xor(h).alias("x"),
        F.sum((F.substring(sha, 1, 40) != F.col("commit")).cast("int")).alias("bad"),
    ).collect()[0]
    return int(r["n"]), int(r["s"] or 0), int(r["x"] or 0), int(r["bad"] or 0)


def add_parts(a: tuple, b: tuple) -> tuple:
    return (a[0] + b[0], a[1] + b[1], a[2] ^ b[2], a[3] + b[3])


class Bench:
    """State of one run: session, tracer, op counters, checks, samples."""

    def __init__(self, spark, tracer, work_dir: str, seed: int, log):
        self.spark = spark
        self.tracer = tracer
        self.work_dir = work_dir
        self.seed = seed
        self.log = log
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.counts: dict[str, list[float]] = {}
        self.user_bytes = 0
        self.bytes_written = 0
        self.live_files = 0
        self.gate: dict[str, float] = {}
        self._seen: set[str] = set()

    @contextmanager
    def op(self, name: str):
        """One attempted engine operation, timed as a top-level span."""
        self.attempted += 1
        try:
            with self.tracer.span(name) as rec:
                yield rec
        except Exception:
            self.failed += 1
            raise

    def bench_span(self, what: str):
        """Benchmark-side work between operations (input preparation,
        output checks), so that traced steps account for all their time."""
        return self.tracer.span(f"bench.{what}")

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.errors.append(what)
            self.log(f"CHECK FAILED: {what}")

    def count(self, name: str, value: float) -> None:
        self.counts.setdefault(name, []).append(value)

    def sample(self, name: str, value: float) -> None:
        """A latency/throughput sample, kept apart for traced steps."""
        self.count(name + ("@traced" if self.tracer.detailed else ""), value)

    def samples(self, name: str, traced: bool = False) -> list[float]:
        return self.counts.get(name + ("@traced" if traced else ""), [])

    def mark_gate(self) -> None:
        """Close the gated prefix of the loop: record how many samples
        and bytes the steps so far produced, and the peak RSS so far of
        the driver JVM plus this process."""
        self.gate = {k: len(v) for k, v in self.counts.items()}
        self.gate.update(bytes_written=self.bytes_written, user_bytes=self.user_bytes,
                         peak_rss_mb=vm_hwm_mb(self.tracer.jvm_pid) + vm_hwm_mb("self"))

    def gated(self, name: str) -> list[float]:
        """The untraced samples of ``name`` from the gated prefix."""
        return self.samples(name)[: self.gate.get(name, 0)]

    def account(self, table: Table) -> dict[str, int]:
        """Add the bytes of data files new since the last call to
        ``bytes_written``; returns the live files.  There is one client,
        so every committed write is live right after its operation."""
        cur = {e.path: e.bytes for e in table.files()}
        self.bytes_written += sum(b for p, b in cur.items() if p not in self._seen)
        self._seen.update(cur)
        self.live_files = len(cur)
        self.count("tablefmt.manifests_per_snapshot", len(table.snapshot().manifests))
        return cur

    def reset(self, table: Table) -> None:
        """Forget setup and warm-up: the measured loop starts here."""
        self.account(table)
        self.tracer.reset()
        self.counts = {}
        self.gate = {}
        self.user_bytes = self.bytes_written = 0

    def lookup(self, table: Table, repo: str, path: str, expect: int) -> None:
        """Point read of one ``(repo, path)`` and its checks: ``expect``
        rows, each with a content-addressed commit."""
        pred = [("repo", "==", repo), ("path", "==", path)]
        with self.op("tablefmt.lookup") as rec:
            rows = table.scan(self.spark, pred=pred).collect()
        with self.bench_span("check"):
            self.sample("lookup_s", rec["wall_s"])
            self.check(len(rows) == expect, f"lookup {repo}/{path}: {len(rows)} rows, expected {expect}")
            for r in rows:
                sha = hashlib.sha256(r["content"].encode()).hexdigest()[:40]
                self.check(sha == r["commit"], f"lookup {repo}/{path}: commit is not sha256(content)")
            opened = len(table.files(pred=pred))
            self.count("tablefmt.lookup.files_opened", opened)
            self.count("tablefmt.Table.files.prune_ratio", 1 - opened / max(1, self.live_files))

    def sweep(self, table: Table, method: str, emit: str, out: str) -> float:
        """One ``dedup_sweep`` job, in-process, over the table."""
        argv = ["--table", table.root, "--output", out, "--method", method, "--emit", emit]
        if emit == "drops":
            argv += ["--drop-policy", "components"]
        with self.op(f"jobs.dedup_sweep.{method}") as rec, redirect_stdout(io.StringIO()):
            rc = dedup_sweep.main(argv)
        self.check(rc == 0, f"dedup_sweep {method} exited {rc}")
        return rec["wall_s"]


def append_fragments(b: Bench, table: Table, df, n: int, num_files: int) -> None:
    """Append ``df`` as ``n`` hash-split fragments, as ``bench.py`` does."""
    for i in range(n):
        frag = df.filter(F.pmod(F.xxhash64("path"), F.lit(n)) == i)
        tablefmt.append(b.spark, table, frag, num_files=num_files)


# ---------------------------------------------------------------------------


class Reindex:
    """Incremental re-index: repo pushes merged into a fragmented table,
    each followed by point reads.  No maintenance runs."""

    name = "reindex"
    N_FILES, N_REPOS = 10_000, 50
    UPDATES, INSERTS, DELETES = 20, 5, 5
    FULL_EVERY = 10  # one push in ten is a full listing (delete_missing)
    GATE_STEPS = 10  # pushes 0-9 of the schedule give the gated figures

    def __init__(self, b: Bench, scale: float = 1.0):
        self.b = b
        self.n_files = int(self.N_FILES * scale)
        self.rng = random.Random(b.seed)
        self.table = Table.create(os.path.join(b.work_dir, self.name))
        # Zipf(1) over repo ranks; rank 0 is the hot repo_0000 (30% of
        # the files).  The rank schedule is a constant of the workload,
        # so runs with different seeds push the same mix of hot and cold
        # repos; the seed picks the repo behind each cold rank, the files
        # and their content.
        weights = [1 / (r + 1) for r in range(self.N_REPOS)]
        self.schedule = random.Random(1234).choices(range(self.N_REPOS), weights, k=1000)
        cold = [f"repo_{i:04d}" for i in range(1, self.N_REPOS)]
        self.rng.shuffle(cold)
        self.rank_repo = ["repo_0000"] + cold
        self.state: dict[tuple[str, str], list] = {}  # (repo, path) -> [lang, version]
        self.new_id = 0

    def setup(self) -> None:
        b = self.b
        base = corpus.generate_corpus(
            b.spark, self.n_files, n_repos=self.N_REPOS, seed=b.seed, skew=True, version_col=True
        ).persist()
        for r in base.select("repo", "path", "lang").collect():
            self.state[(r["repo"], r["path"])] = [r["lang"], 1]
        append_fragments(b, self.table, base, 4, 16)
        base.unpersist()

    def _frame(self, rows):
        df = local_frame(self.b.spark, rows, KEY_SCHEMA)
        return corpus.with_content(df, self.b.seed).select(
            "repo", "path", "commit", "lang", "content", "version"
        )

    def push(self, i: int) -> None:
        b, st = self.b, self.state
        repo = self.rank_repo[self.schedule[i % len(self.schedule)]]
        full = i % self.FULL_EVERY == 2
        with b.bench_span("prepare"):
            keys = sorted(k for k in st if k[0] == repo)
            upd = self.rng.sample(keys, min(self.UPDATES, len(keys)))
            rest = sorted(set(keys) - set(upd))
            dels = self.rng.sample(rest, min(self.DELETES, len(rest))) if full else []
            ins = []
            for _ in range(self.INSERTS):
                self.new_id += 1
                ext, lang = self.rng.choice(corpus.EXT_LANG)
                ins.append((repo, f"src/push/new_{self.new_id}.{ext}", lang, 1))
            changed = [(r, p, st[(r, p)][0], st[(r, p)][1] + 1) for r, p in upd] + ins
            gone = [(r, p, *st[(r, p)]) for r, p in dels]
            rows = changed + (
                [(r, p, *st[(r, p)]) for r, p in sorted(set(rest) - set(dels))] if full else []
            )
            b.user_bytes += raw_bytes(self._frame(changed + gone))
            src = self._frame(rows)
            before = {e.path: e.rows for e in self.table.files()}
        with b.op("ops.merge.merge_into") as rec:
            res = merge_into(b.spark, self.table, src, delete_missing=full)
        with b.bench_span("check"):
            b.sample("write_s", rec["wall_s"])
            want = (len(ins), len(upd), len(dels))
            b.check(res.counts == want, f"push {i} to {repo}: merge counts {res.counts}, expected {want}")
            for k in upd:
                st[k][1] += 1
            for r, p, lang, v in ins:
                st[(r, p)] = [lang, v]
            for k in dels:
                del st[k]
            live = b.account(self.table)
            b.count("merge_rewritten_rows", sum(n for p, n in before.items() if p not in live))
            b.count("merge_changed_rows", len(upd) + len(dels))
            b.count("ops.merge.merge_into.files_rewritten", res.files_rewritten)
            reads = [(upd[0], 1), ((ins[0][0], ins[0][1]), 1)]
            reads.append((dels[0], 0) if dels else (self.rng.choice(sorted(st)), 1))
        for (r, p), expect in reads:
            b.lookup(self.table, r, p, expect)

    def warmup(self) -> None:
        self.push(2)  # a full listing: every classify branch runs

    def step(self, i: int) -> None:
        self.push(i)

    def finish(self) -> None:
        b = self.b
        expected = self._frame([(r, p, *lv) for (r, p), lv in sorted(self.state.items())])
        got = corpus.corpus_digest(self.table.scan(b.spark))
        b.check(got == corpus.corpus_digest(expected),
                "reindex: table digest differs from the last-writer-wins expectation")

    def report(self) -> dict:
        w = self.b.samples("write_s")
        return {"merge_p50_s": (statistics.median(w), "s", len(w)),
                "merge_tail_s": (percentile_tail(w), "s", len(w))}

    def layer_counts(self) -> dict:
        c = self.b.counts
        return {"ops.merge.merge_into.rewrite_useful_ratio":
                sum(c.get("merge_changed_rows", [])) / max(1, sum(c.get("merge_rewritten_rows", [])))}


# ---------------------------------------------------------------------------


class Maintain:
    """A maintenance pass over a fragmented code table: fragment ingest
    (fresh files plus planted near-duplicates), the near-duplicate stage
    (``dedup_sweep --emit drops`` -> ``delete_where(keys=...)``, with a
    SimHash pair sweep recorded beside it), then compact, Z-order
    cluster, manifest rewrite, expire + orphan sweep, and finally point
    reads and a full sha256 scan."""

    name = "maintain"
    N_FILES, N_REPOS = 1_000, 20
    TARGET_FILES = 24  # the table spans tens of target-size files
    APPENDS, FRESH, PLANTED = 3, 20, 7  # per append
    READS = 12
    GATE_STEPS = 2  # the first two passes give the gated figures

    def __init__(self, b: Bench, scale: float = 1.0):
        self.b = b
        self.n_files = int(self.N_FILES * scale)
        self.fresh = max(2, int(self.FRESH * scale))
        self.planted = max(1, int(self.PLANTED * scale))
        self.rng = random.Random(b.seed)
        self.table = Table.create(os.path.join(b.work_dir, self.name))
        self.rows: list[tuple] = []
        self.keys: list[tuple[str, str]] = []
        self.expected = (0, 0, 0, 0)
        self.n_cycle = 0

    def _frame(self, rows):
        return local_frame(self.b.spark, rows, tablefmt.CORPUS_SCHEMA)

    def setup(self) -> None:
        b = self.b
        self.rows = codegen.generate(b.seed, self.n_files, self.N_REPOS)
        self.keys = [r[:2] for r in self.rows]
        base = self._frame(self.rows).persist()
        self.expected = digest_parts(base)
        append_fragments(b, self.table, base, 4, 8)
        base.unpersist()
        self.target = max(32 * 1024, self.table.total_bytes() // self.TARGET_FILES)

    def _ingest(self) -> list[tuple[tuple, tuple]]:
        """Fragment appends: fresh files and planted copies; returns the
        ``(original, copy)`` pairs planted."""
        b, t = self.b, self.table
        ingested, planted = [], []
        for k in range(self.APPENDS):
            with b.bench_span("prepare"):
                tag = f"c{self.n_cycle}a{k}"
                fresh = codegen.generate(b.seed * 1_000_003 + self.n_cycle * 31 + k,
                                         self.fresh, self.N_REPOS, prefix=tag)
                pairs = codegen.plant(b.seed * 7919 + self.n_cycle * 31 + k,
                                      self.rows, self.planted, tag)
                copies = [c for _, c in pairs]
                frag = self._frame(fresh + copies)
                # the copies are appended and then deleted
                b.user_bytes += rows_raw_bytes(fresh) + 2 * rows_raw_bytes(copies)
            with b.op("tablefmt.append") as rec:
                tablefmt.append(b.spark, t, frag, num_files=1)
            with b.bench_span("check"):
                b.sample("append_s", rec["wall_s"])
                self.keys += [r[:2] for r in fresh]
                ingested += fresh
                planted += pairs
                b.account(t)
        with b.bench_span("check"):
            self.expected = add_parts(self.expected, digest_parts(self._frame(ingested)))
        return planted

    def _dedup(self, pairs: list[tuple[tuple, tuple]]) -> float:
        """The near-duplicate stage; returns the wall time of its calls."""
        b, t = self.b, self.table
        out = os.path.join(b.work_dir, f"sweep-{self.n_cycle}")
        wall = b.sweep(t, "minhash", "drops", os.path.join(out, "drops"))
        # The SimHash pairs are recorded, not applied; the sweep runs
        # while the planted copies are present so that its precision
        # against them can be measured.
        wall += b.sweep(t, "simhash", "pairs", os.path.join(out, "pairs"))
        drops = b.spark.read.parquet(os.path.join(out, "drops"))
        with b.op("ops.delete.delete_where") as rec:
            dr = delete_where(b.spark, t, keys=drops)
        with b.bench_span("check"):
            ids = {row_id(c) for _, c in pairs}
            dropped = {r["doc_id"] for r in drops.collect()}
            b.count("jobs.dedup_sweep.planted_recall", len(dropped & ids) / len(ids))
            emitted = {(r["doc_a"], r["doc_b"]) for r in
                       b.spark.read.parquet(os.path.join(out, "pairs")).collect()}
            hits = emitted & {(row_id(o), row_id(c)) for o, c in pairs}
            b.count("jobs.dedup_sweep.useful_ratio", len(hits) / max(1, len(emitted)))
            b.check(dropped == ids, f"cycle {self.n_cycle}: minhash dropped {len(dropped)} ids, "
                    f"{len(dropped & ids)} of the {len(ids)} planted")
            b.check(dr.rows_deleted == len(ids), f"cycle {self.n_cycle}: deleted {dr.rows_deleted} rows")
            b.account(t)
            shutil.rmtree(out, ignore_errors=True)
        return wall + rec["wall_s"]

    def cycle(self) -> None:
        b, t = self.b, self.table
        self.n_cycle += 1
        pairs = self._ingest()
        dedup_s = self._dedup(pairs)
        n_files = b.live_files
        # the pass's latency is the sum of its calls, without the checks
        # the benchmark makes between them
        with b.op("ops.compact.compact") as r1:
            cr = compact(b.spark, t, target_bytes=self.target)
        with b.op("ops.cluster.cluster") as r2:
            zr = cluster(b.spark, t, curve="zorder",
                         num_files=max(1, t.total_bytes() // self.target))
        with b.op("ops.manifest.rewrite_manifests") as r3:
            rewrite_manifests(t)
        with b.op("ops.expire.expire_snapshots") as r4:
            er = expire_snapshots(t, retain_last=1, min_age_s=0, spark=b.spark)
        maint_s = sum(r["wall_s"] for r in (r1, r2, r3, r4))
        with b.bench_span("check"):
            b.sample("write_s", dedup_s + maint_s)
            b.sample("dedup_s", dedup_s)
            b.sample("maintain_files_per_s", n_files / maint_s)
            b.sample("rewrite_mb_per_s", (cr.bytes_out + zr.bytes_out) / 1e6 / maint_s)
            b.account(t)
            b.count("ops.compact.compact.files_in", cr.files_in)
            b.count("ops.compact.compact.files_out", cr.files_out)
            for k in ("sample", "quantiles", "write", "stats", "commit"):
                b.count(f"ops.cluster.cluster.{k}_s", (zr.timings or {}).get(k, 0.0))
            b.count("ops.expire.expire_snapshots.orphans_deleted", er.orphans_deleted)
            b.count("ops.expire.expire_snapshots.bytes_reclaimed_mb", er.bytes_reclaimed / 1e6)
            on_disk = sum(os.path.getsize(os.path.join(t.data_dir, f)) for f in os.listdir(t.data_dir))
            b.check(on_disk == t.total_bytes(),
                    f"after the sweep: {on_disk} bytes under data/, {t.total_bytes()} referenced")
            reads = [(c[:2], 0) for _, c in pairs[:2]]
            reads += [(k, 1) for k in self.rng.sample(self.keys, self.READS - len(reads))]
        for (r, p), expect in reads:
            b.lookup(t, r, p, expect)
        with b.op("tablefmt.full_scan") as rec:
            got = digest_parts(t.scan(b.spark))
        with b.bench_span("check"):
            b.sample("full_scan_s", rec["wall_s"])
            b.check(got[3] == 0, f"full scan: {got[3]} rows with commit != sha256(content)")
            b.check(got == self.expected,
                    "after the pass the table digest is not that of the rows ingested, less the planted copies")

    def warmup(self) -> None:
        self.cycle()

    def step(self, i: int) -> None:
        self.cycle()

    def finish(self) -> None:
        pass

    def report(self) -> dict:
        s = self.b.samples
        return {name: (statistics.median(s(key)), unit, len(s(key))) for name, key, unit in (
            ("append_p50_s", "append_s", "s"),
            ("dedup_pass_p50_s", "dedup_s", "s"),
            ("maintain_files_per_s", "maintain_files_per_s", "files/s"),
            ("rewrite_mb_per_s", "rewrite_mb_per_s", "MB/s"),
            ("full_scan_s", "full_scan_s", "s"),
        )}

    def layer_counts(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (Reindex, Maintain)}
TOUR_SCALE = 0.1


def tour(b: Bench, exclude: str) -> SimpleNamespace:
    """For a traced run: one traced step of each other workload, scaled
    down, on a side table, so that every per-layer metric is measured on
    every workload.  The step runs cold: its figures show the operation
    at work, not a steady cost.  The loop's records stay in ``b.tracer``;
    the tour's are returned."""
    side = Bench(b.spark, b.tracer, os.path.join(b.work_dir, "tour"), b.seed, b.log)
    loop_calls, loop_nested = b.tracer.calls, b.tracer.nested
    b.tracer.reset()
    counts: dict = {}
    try:
        for cls in WORKLOADS.values():
            if cls.name == exclude:
                continue
            w = cls(side, scale=TOUR_SCALE)
            w.setup()
            b.tracer.detailed = True
            try:
                w.step(0)
            finally:
                b.tracer.detailed = False
            counts.update(side.counts)
            counts.update({k: [v] for k, v in w.layer_counts().items()})
    finally:
        store = SimpleNamespace(calls=b.tracer.calls, nested=b.tracer.nested, counts=counts)
        b.tracer.calls, b.tracer.nested = loop_calls, loop_nested
        b.attempted += side.attempted
        b.failed += side.failed
        b.errors += side.errors
    return store
