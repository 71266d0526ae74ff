"""Minimal Iceberg-style table format: snapshots + manifests + parquet.

No Iceberg/Delta jars exist in this sandbox, so the table layer is
implemented from scratch on plain PySpark + Parquet + JSON metadata —
which also makes manifest rewrite / snapshot expiry first-class features
of this engine rather than library calls.  The catalog API is shaped so
a real Iceberg backend could be swapped in.

Layout::

    <root>/
      table.json                    # schema + partition spec
      data/<uuid>.parquet           # immutable data files
      metadata/v<N>.json            # snapshot N (O_EXCL-created => atomic commit)
      metadata/manifest-<uuid>.json # file-entry groups w/ aggregate stats
      checkpoints/<job>.json        # engine.checkpoint ledgers

Commit protocol (the reference's flock analog,
/root/reference/src/client/fs_lock.rs:29-94): a snapshot commit creates
``metadata/v{N}.json`` with ``open(..., "x")`` — atomic first-writer-wins;
the loser gets :class:`CommitConflict` and must re-plan against the new
current snapshot.  Mirrors "only one writer per root; losers wait/retry"
(/root/reference/src/client/mod.rs:329-423).

Scan planning: manifests carry per-file and per-manifest min/max stats
for the key columns; :meth:`Table.scan` prunes first at manifest level,
then at file level, before handing Catalyst only the surviving parquet
files (plus the residual filter for exactness).  This extends Catalyst's
built-in parquet pushdown with the manifest pruning the reference
approximates via per-root indexes
(/root/reference/src/vector_db/lance_client/mod.rs:76-128).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Columns whose min/max are tracked in manifests (pruning keys).
STATS_COLS = ("repo", "path", "commit", "lang")

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)

# The canonical synthesized row identity of a corpus row (SQL form) —
# single-sourced: the dedup_sweep/prepare_corpus CLIs, delete-by-keys,
# and the streaming dedup sink must all derive the SAME identity for
# their key relations to compose.  \x1f-joined so no path component can
# collide with the separator.
ROW_IDENTITY_SQL = "concat_ws('\x1f', repo, path, commit)"


class CommitConflict(Exception):
    """Another writer committed this version first (lost the race)."""


class SnapshotNotFound(Exception):
    """Requested snapshot id does not exist (never existed or expired)."""


@dataclass
class DataFile:
    path: str  # relative to table root
    rows: int
    bytes: int
    partition: str = ""
    stats: dict[str, list[Any]] = field(default_factory=dict)  # col -> [min, max]

    def to_json(self) -> dict:
        return {
            "path": self.path,
            "rows": self.rows,
            "bytes": self.bytes,
            "partition": self.partition,
            "stats": self.stats,
        }

    @staticmethod
    def from_json(d: dict) -> "DataFile":
        return DataFile(d["path"], d["rows"], d["bytes"], d.get("partition", ""), d.get("stats", {}))


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    operation: str
    manifests: list[str]
    summary: dict[str, Any]
    timestamp_ms: int


# --------------------------------------------------------------------------
# predicate spec: list of (col, op, value) conjuncts; op in {==,<,<=,>,>=,in,prefix}
Predicate = list[tuple[str, str, Any]]


def _stats_may_match(stats: dict[str, list[Any]], pred: Predicate) -> bool:
    """Can a file/manifest with these min/max stats contain a matching row?

    Conservative: missing stats => True.  This is the manifest-level
    analog of parquet row-group pruning.
    """
    for col, op, val in pred:
        rng = stats.get(col)
        if not rng or rng[0] is None or rng[1] is None:
            continue
        lo, hi = rng
        if op == "==":
            if not (lo <= val <= hi):
                return False
        elif op in ("<", "<="):
            if not (lo < val if op == "<" else lo <= val):
                return False
        elif op in (">", ">="):
            if not (hi > val if op == ">" else hi >= val):
                return False
        elif op == "in":
            if not any(lo <= v <= hi for v in val):
                return False
        elif op == "prefix":
            # path-prefix pruning: a row with prefix `val` can exist iff
            # hi >= val and lo's first len(val) codepoints don't already
            # exceed val.  (A U+FFFF sentinel wrongly pruned files whose
            # min contains astral-plane codepoints — ADVICE round 1.)
            if not (lo[: len(val)] <= val <= hi):
                return False
    return True


def _pred_to_expr(pred: Predicate):
    """Conjunctive predicate spec -> Spark Column (residual exact filter)."""
    expr = None
    for col, op, val in pred:
        c = F.col(col)
        if op == "==":
            e = c == F.lit(val)
        elif op == "<":
            e = c < F.lit(val)
        elif op == "<=":
            e = c <= F.lit(val)
        elif op == ">":
            e = c > F.lit(val)
        elif op == ">=":
            e = c >= F.lit(val)
        elif op == "in":
            e = c.isin(list(val))
        elif op == "prefix":
            e = c.startswith(val)
        else:
            raise ValueError(f"unsupported op {op}")
        expr = e if expr is None else (expr & e)
    return expr


# --------------------------------------------------------------------------


def _atomic_write_json(path: str, obj: Any, exclusive: bool = False) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    if exclusive:
        try:
            # link(2) fails with EEXIST if target exists -> atomic create-if-absent
            os.link(tmp, path)
        except FileExistsError:
            raise CommitConflict(path)
        finally:
            os.unlink(tmp)
    else:
        os.replace(tmp, path)


def _footer_stats_one(p: str, cols: list[str]) -> dict:
    import pyarrow.parquet as pq

    md = pq.ParquetFile(p).metadata
    st: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema
            if name not in cols or c.statistics is None:
                continue
            s = c.statistics
            if not s.has_min_max:
                continue
            mn, mx = s.min, s.max
            if isinstance(mn, bytes):
                mn = mn.decode("utf-8", "replace")
            if isinstance(mx, bytes):
                mx = mx.decode("utf-8", "replace")
            if name in st:
                st[name] = [min(st[name][0], mn), max(st[name][1], mx)]
            else:
                st[name] = [mn, mx]
    return {"path": p, "rows": md.num_rows, "bytes": os.path.getsize(p), "stats": st}


# Above this many files per write, stats collection moves to executors.
DISTRIBUTED_STATS_THRESHOLD = 4096


def _collect_file_stats(
    spark: SparkSession, abs_paths: list[str], stats_cols: Iterable[str] = STATS_COLS
) -> list[dict]:
    """Footer-only stats for each parquet file (no data scan).

    Small batches (the per-commit common case): a driver thread pool —
    footers are KB-sized, so this is pure metadata IO and costs the same
    at every executor count.  Large batches (backfills/bulk rewrites):
    distributed over executors via mapInPandas, which is the only
    tenable shape at 10^12-file scale.
    Returns [{path, rows, bytes, stats:{col: [min,max]}}] aligned to input.
    """
    cols = list(stats_cols)
    n = len(abs_paths)
    if n == 0:
        return []

    if n <= DISTRIBUTED_STATS_THRESHOLD:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, n)) as pool:
            return list(pool.map(lambda p: _footer_stats_one(p, cols), abs_paths))

    schema = "path string, rows long, bytes long, stats string"

    def footer_stats(iterator):
        import pandas as pd

        for pdf in iterator:
            out = []
            for p in pdf["path"]:
                r = _footer_stats_one(p, cols)
                r["stats"] = json.dumps(r["stats"])
                out.append(r)
            yield pd.DataFrame(out)

    paths_df = spark.createDataFrame(
        [(p,) for p in abs_paths], "path string"
    ).repartition(min(n, spark.sparkContext.defaultParallelism))
    rows = paths_df.mapInPandas(footer_stats, schema).collect()
    by_path = {r["path"]: r for r in rows}
    return [
        {
            "path": p,
            "rows": by_path[p]["rows"],
            "bytes": by_path[p]["bytes"],
            "stats": json.loads(by_path[p]["stats"]),
        }
        for p in abs_paths
    ]


class Table:
    """A table instance bound to a directory. Cheap to construct; metadata
    is re-read per call (multiple writers may advance the log)."""

    def __init__(self, root: str):
        self.root = root
        self.meta_dir = os.path.join(root, "metadata")
        self.data_dir = os.path.join(root, "data")

    # -- lifecycle ----------------------------------------------------------
    @staticmethod
    def create(root: str, schema: T.StructType = CORPUS_SCHEMA) -> "Table":
        os.makedirs(os.path.join(root, "metadata"))
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "checkpoints"), exist_ok=True)
        _atomic_write_json(
            os.path.join(root, "table.json"), {"schema": schema.jsonValue()}
        )
        t = Table(root)
        t._commit_snapshot(0, None, "create", [], {})
        return t

    @staticmethod
    def load(root: str) -> "Table":
        if not os.path.exists(os.path.join(root, "table.json")):
            raise FileNotFoundError(f"not a table: {root}")
        return Table(root)

    @property
    def schema(self) -> T.StructType:
        with open(os.path.join(self.root, "table.json")) as f:
            return T.StructType.fromJson(json.load(f)["schema"])

    # -- snapshot log -------------------------------------------------------
    def snapshot_ids(self) -> list[int]:
        ids = []
        for name in os.listdir(self.meta_dir):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    ids.append(int(name[1:-5]))
                except ValueError:
                    pass
        return sorted(ids)

    @property
    def current_snapshot_id(self) -> int:
        ids = self.snapshot_ids()
        if not ids:
            raise SnapshotNotFound("table has no snapshots")
        return ids[-1]

    def snapshot(self, snapshot_id: int | None = None) -> Snapshot:
        sid = self.current_snapshot_id if snapshot_id is None else snapshot_id
        p = os.path.join(self.meta_dir, f"v{sid}.json")
        if not os.path.exists(p):
            raise SnapshotNotFound(f"snapshot {sid} does not exist (expired?)")
        with open(p) as f:
            d = json.load(f)
        return Snapshot(
            d["snapshot_id"], d["parent_id"], d["operation"], d["manifests"],
            d["summary"], d["timestamp_ms"],
        )

    def read_manifest(self, name: str) -> dict:
        with open(os.path.join(self.meta_dir, name)) as f:
            return json.load(f)

    def files(
        self, snapshot_id: int | None = None, pred: Predicate | None = None
    ) -> list[DataFile]:
        """File entries of a snapshot, with two-level min/max pruning."""
        snap = self.snapshot(snapshot_id)
        out: list[DataFile] = []
        for mname in snap.manifests:
            m = self.read_manifest(mname)
            if pred and not _stats_may_match(m.get("stats", {}), pred):
                continue  # whole manifest pruned
            for e in m["entries"]:
                df_ = DataFile.from_json(e)
                if pred and not _stats_may_match(df_.stats, pred):
                    continue  # file pruned
                out.append(df_)
        return out

    # -- write path ---------------------------------------------------------
    def write_data_files(
        self,
        spark: SparkSession,
        df: DataFrame,
        partition: str = "",
        num_files: int | None = None,
    ) -> list[DataFile]:
        """Materialize df as immutable parquet data files (no commit yet).

        One output file per Spark partition; callers control layout via
        ``num_files``/upstream repartitioning.  Stats are footer-reads on
        executors.  Uncommitted files are reclaimed by the orphan sweep.
        """
        cols = [f.name for f in self.schema.fields]
        df = df.select(*cols)
        if num_files is not None:
            df = df.repartition(num_files)
        stage = os.path.join(self.root, f"_stage-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(stage)
        parts = sorted(
            f for f in os.listdir(stage) if f.endswith(".parquet") and f.startswith("part-")
        )
        moved: list[str] = []
        for p in parts:
            dst = os.path.join(self.data_dir, f"{uuid.uuid4().hex}.parquet")
            os.rename(os.path.join(stage, p), dst)
            moved.append(dst)
        # clear stage dir remnants (_SUCCESS etc.)
        for leftover in os.listdir(stage):
            os.unlink(os.path.join(stage, leftover))
        os.rmdir(stage)
        infos = _collect_file_stats(spark, moved)
        out = []
        for info in infos:
            if info["rows"] == 0:
                os.unlink(info["path"])  # drop empty files
                continue
            out.append(
                DataFile(
                    path=os.path.relpath(info["path"], self.root),
                    rows=info["rows"],
                    bytes=info["bytes"],
                    partition=partition,
                    stats=info["stats"],
                )
            )
        return out

    def _write_manifest(self, entries: list[DataFile], partition: str = "") -> str:
        agg: dict[str, list[Any]] = {}
        rows = 0
        nbytes = 0
        for e in entries:
            rows += e.rows
            nbytes += e.bytes
            for col, (mn, mx) in e.stats.items():
                if col in agg:
                    agg[col] = [min(agg[col][0], mn), max(agg[col][1], mx)]
                else:
                    agg[col] = [mn, mx]
        name = f"manifest-{uuid.uuid4().hex}.json"
        _atomic_write_json(
            os.path.join(self.meta_dir, name),
            {
                "entries": [e.to_json() for e in entries],
                "stats": agg,
                "rows": rows,
                "bytes": nbytes,
                "partition": partition,
            },
        )
        return name

    def _commit_snapshot(
        self,
        sid: int,
        parent: int | None,
        operation: str,
        manifests: list[str],
        summary: dict,
    ) -> Snapshot:
        import time

        snap = {
            "snapshot_id": sid,
            "parent_id": parent,
            "operation": operation,
            "manifests": manifests,
            "summary": summary,
            "timestamp_ms": int(time.time() * 1000),
        }
        _atomic_write_json(
            os.path.join(self.meta_dir, f"v{sid}.json"), snap, exclusive=True
        )
        return Snapshot(sid, parent, operation, manifests, summary, snap["timestamp_ms"])

    def commit(
        self,
        operation: str,
        added: list[DataFile],
        removed_paths: set[str] | None = None,
        summary: dict | None = None,
        expected_parent: int | None = None,
    ) -> Snapshot:
        """Optimistic snapshot commit: keep surviving manifests as-is
        (manifest reuse, like Iceberg), drop removed entries, add new
        manifests for added files.  Raises CommitConflict if another
        writer got there first."""
        parent = self.current_snapshot_id
        if expected_parent is not None and parent != expected_parent:
            raise CommitConflict(
                f"expected parent {expected_parent}, current is {parent}"
            )
        removed_paths = removed_paths or set()
        prev = self.snapshot(parent)
        manifests: list[str] = []
        for mname in prev.manifests:
            m = self.read_manifest(mname)
            kept = [e for e in m["entries"] if e["path"] not in removed_paths]
            if len(kept) == len(m["entries"]):
                manifests.append(mname)  # untouched manifest reused verbatim
            elif kept:
                manifests.append(
                    self._write_manifest(
                        [DataFile.from_json(e) for e in kept], m.get("partition", "")
                    )
                )
            # else: manifest fully removed
        by_part: dict[str, list[DataFile]] = {}
        for e in added:
            by_part.setdefault(e.partition, []).append(e)
        for part, entries in sorted(by_part.items()):
            manifests.append(self._write_manifest(entries, part))
        return self._commit_snapshot(
            parent + 1, parent, operation, manifests, summary or {}
        )

    # -- read path ----------------------------------------------------------
    def scan(
        self,
        spark: SparkSession,
        as_of: int | None = None,
        pred: Predicate | None = None,
        columns: list[str] | None = None,
        with_file_path: bool = False,
    ) -> DataFrame:
        """Planned read: manifest+file pruning -> parquet scan -> residual
        filter (exact) -> column projection.  Catalyst still pushes the
        residual into the parquet reader for row-group pruning."""
        entries = self.files(as_of, pred)
        schema = self.schema
        if not entries:
            empty = spark.createDataFrame([], schema)
            if with_file_path:
                empty = empty.withColumn("_file", F.lit(None).cast("string"))
            if columns:
                empty = empty.select(*columns)
            return empty
        paths = [os.path.join(self.root, e.path) for e in entries]
        df = spark.read.schema(schema).parquet(*paths)
        if with_file_path:
            # _metadata.file_path, NOT input_file_name(): the latter is
            # nondeterministic, so Catalyst refuses to push filters past
            # its projection — a with_file_path scan (merge
            # classification, delete detection) lost ALL parquet
            # pushdown.  The metadata column is deterministic and keeps
            # PushedFilters intact; same file: URI shape either way.
            df = df.withColumn("_file", F.col("_metadata.file_path"))
        if pred:
            df = df.filter(_pred_to_expr(pred))
        if columns:
            df = df.select(*columns)
        return df

    def total_rows(self, snapshot_id: int | None = None) -> int:
        return sum(e.rows for e in self.files(snapshot_id))

    def total_bytes(self, snapshot_id: int | None = None) -> int:
        return sum(e.bytes for e in self.files(snapshot_id))

    # -- helpers ------------------------------------------------------------
    def referenced_files(self, snapshot_ids: Iterable[int] | None = None) -> set[str]:
        """Relative data-file paths referenced by the given (default: all
        live) snapshots."""
        sids = list(snapshot_ids) if snapshot_ids is not None else self.snapshot_ids()
        refs: set[str] = set()
        for sid in sids:
            for e in self.files(sid):
                refs.add(e.path)
        return refs


def append(
    spark: SparkSession,
    table: Table,
    df: DataFrame,
    num_files: int | None = None,
    partition: str = "",
) -> Snapshot:
    """Append df as a new snapshot (the reference's store_embeddings
    fragment-append, /root/reference/src/vector_db/lance_client/mod.rs:308-371
    — each call adds files; compaction repacks them later)."""
    files = table.write_data_files(spark, df, partition=partition, num_files=num_files)
    return table.commit(
        "append",
        files,
        summary={
            "added_files": len(files),
            "added_rows": sum(f.rows for f in files),
            "added_bytes": sum(f.bytes for f in files),
        },
    )
