"""spark-submit entrypoint for table maintenance.

Deployment shape per the target metric: one zip of the ``engine``
package shipped with ``--py-files`` and this module as the driver::

    zip -r engine.zip engine/
    spark-submit --py-files engine.zip engine/jobs/maintain.py \
        --table /data/corpus --op compact --target-mb 128 \
        --job-id nightly-compact-2026-08-16

Ops: append (from parquet input), merge (from parquet delta), delete
(row-level COW DELETE by --where predicate or --input keys parquet,
e.g. a dedup_sweep drop set), update (row-level COW UPDATE --set
COL=EXPR --where), compact, cluster (zorder|hilbert),
rewrite-manifests, expire, sweep, verify, rollback
(restore an earlier snapshot's file set, metadata-only),
reconcile-sigs (drop signature-index rows orphaned by corpus
deletes/rollbacks; --sigs-table names the index), changes (CDC
changelog between two snapshots — --from-snapshot/--to-snapshot,
optional --output parquet; feeds dedup_sweep --against and other
incremental consumers).
Every op prints a one-line JSON result; compaction is resumable by
re-submitting with the same --job-id after a crash.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="lakehouse maintenance job")
    p.add_argument("--table", required=True, help="table root directory")
    p.add_argument(
        "--op",
        required=True,
        choices=[
            "create", "append", "merge", "delete", "update", "compact",
            "cluster", "rewrite-manifests", "expire", "sweep", "verify",
            "rollback", "reconcile-sigs", "changes",
        ],
    )
    p.add_argument("--sigs-table", default=None,
                   help="signature-index table root (reconcile-sigs)")
    p.add_argument("--from-snapshot", type=int, default=None,
                   help="changes: range start (exclusive snapshot)")
    p.add_argument("--to-snapshot", type=int, default=None,
                   help="changes: range end (default: current)")
    p.add_argument("--output", default=None,
                   help="changes: parquet path for the changelog rows")
    p.add_argument("--snapshot-id", type=int, default=None,
                   help="rollback: target snapshot to restore")
    p.add_argument("--input", help="parquet path (append/merge source; "
                   "delete: the drop-set keys parquet)")
    p.add_argument("--delete-missing", action="store_true")
    p.add_argument("--where", default=None,
                   help="delete: SQL boolean predicate over the table's "
                        "columns (rows where it is TRUE are deleted; "
                        "NULL survives, as in SQL DELETE)")
    p.add_argument("--key-expr", default=None,
                   help="delete with --input: SQL expression computing "
                        "the table-side row identity (default: the "
                        "dedup_sweep synthesized key)")
    p.add_argument("--key-col", default="doc_id",
                   help="delete with --input: identity column in the "
                        "keys parquet")
    p.add_argument("--set", action="append", default=[],
                   metavar="COL=EXPR",
                   help="update: column assignment (repeatable); EXPR "
                        "is SQL over the pre-update row")
    p.add_argument("--target-mb", type=int, default=128)
    p.add_argument("--curve", choices=["zorder", "hilbert"], default="zorder")
    p.add_argument("--retain-last", type=int, default=2)
    p.add_argument(
        "--min-age-hours",
        type=float,
        default=72.0,
        help="orphan-sweep grace period: unreferenced files younger than "
        "this are kept (in-flight concurrent writers); 0 = sweep everything",
    )
    p.add_argument("--job-id", default=None, help="checkpoint/resume identity")
    p.add_argument(
        "--max-group-mb", type=int, default=None,
        help="cluster: bound each rewrite job to this many MB of input "
             "files (Iceberg max-file-group-size-bytes analog) with a "
             "partial-progress commit per group; omit to rewrite the "
             "whole table as one group in one shuffle (output file "
             "count: --num-files, else table size / --target-mb)",
    )
    p.add_argument("--num-files", type=int, default=None)
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from ..checkpoint import assert_clean
    from ..session import get_spark
    from ..tablefmt import Table, append as tbl_append

    spark = get_spark(app_name=f"maintain-{args.op}", master=args.master)

    if args.op == "create":
        Table.create(args.table)
        print(json.dumps({"op": "create", "table": args.table}))
        return 0

    table = Table.load(args.table)
    out: dict = {"op": args.op, "table": args.table}

    if args.op == "append":
        snap = tbl_append(
            spark, table, spark.read.parquet(args.input), num_files=args.num_files
        )
        out.update(snap.summary, snapshot_id=snap.snapshot_id)
    elif args.op == "merge":
        from ..ops.merge import merge_with_retry

        r = merge_with_retry(
            spark,
            table,
            spark.read.parquet(args.input),
            delete_missing=args.delete_missing,
            num_files=args.num_files,
        )
        out.update(
            rows_inserted=r.rows_inserted,
            rows_updated=r.rows_updated,
            rows_deleted=r.rows_deleted,
            files_rewritten=r.files_rewritten,
            snapshot_id=r.snapshot_id,
        )
    elif args.op == "delete":
        if bool(args.where) == bool(args.input):
            p.error("--op delete requires exactly one of --where / "
                    "--input (a keys parquet, e.g. dedup_sweep --emit "
                    "drops)")
        from ..ops.delete import delete_where

        r = delete_where(
            spark, table, predicate=args.where, num_files=args.num_files,
            keys=spark.read.parquet(args.input) if args.input else None,
            key_expr=args.key_expr, key_col=args.key_col,
        )
        out.update(
            rows_deleted=r.rows_deleted,
            files_rewritten=r.files_rewritten,
            files_added=r.files_added,
            snapshot_id=r.snapshot_id,
            seconds=round(r.duration_s, 2),
        )
    elif args.op == "update":
        if not args.where or not args.set:
            p.error("--op update requires --where and at least one --set")
        bad = [s for s in args.set if "=" not in s]
        if bad:
            p.error(f"--set expects COL=EXPR, got: {bad}")
        from ..ops.delete import update_where

        sets = dict(s.split("=", 1) for s in args.set)
        r = update_where(
            spark, table, sets, args.where, num_files=args.num_files
        )
        out.update(
            rows_updated=r.rows_deleted,
            files_rewritten=r.files_rewritten,
            files_added=r.files_added,
            snapshot_id=r.snapshot_id,
            seconds=round(r.duration_s, 2),
        )
    elif args.op == "rollback":
        if args.snapshot_id is None:
            p.error("--op rollback requires --snapshot-id")
        from ..ops.rollback import rollback_to

        r = rollback_to(table, args.snapshot_id)
        out.update(
            rollback_to=r.target_snapshot_id,
            files_removed=r.files_removed,
            files_restored=r.files_restored,
            snapshot_id=r.snapshot_id,
        )
    elif args.op == "compact":
        from ..ops.compact import compact

        r = compact(
            spark,
            table,
            target_bytes=args.target_mb * 1024 * 1024,
            job_id=args.job_id,
        )
        out.update(
            files_in=r.files_in, files_out=r.files_out, bytes_in=r.bytes_in,
            bytes_out=r.bytes_out, rows_rewritten=r.rows_rewritten,
            snapshot_id=r.snapshot_id, seconds=round(r.duration_s, 2),
            files_per_s=round(r.files_per_s, 1),
        )
    elif args.op == "cluster":
        from ..ops.cluster import cluster

        r = cluster(
            spark, table, curve=args.curve,
            num_files=args.num_files or max(
                1, round(table.total_bytes() / (args.target_mb * 1024 * 1024))
            ),
            max_group_bytes=(
                args.max_group_mb * 1024 * 1024 if args.max_group_mb else None
            ),
            job_id=args.job_id,
        )
        out.update(
            curve=r.curve, files_in=r.files_in, files_out=r.files_out,
            rows=r.rows, snapshot_id=r.snapshot_id, seconds=round(r.duration_s, 2),
        )
    elif args.op == "rewrite-manifests":
        from ..ops.manifest import rewrite_manifests

        r = rewrite_manifests(table)
        out.update(
            manifests_before=r.manifests_before, manifests_after=r.manifests_after,
            snapshot_id=r.snapshot_id,
        )
    elif args.op == "expire":
        from ..ops.expire import expire_snapshots

        r = expire_snapshots(
            table,
            retain_last=args.retain_last,
            min_age_s=args.min_age_hours * 3600,
            spark=spark,
        )
        out.update(
            expired=r.expired_snapshots, retained=r.retained_snapshots,
            orphans_deleted=r.orphans_deleted, bytes_reclaimed=r.bytes_reclaimed,
        )
    elif args.op == "sweep":
        from ..ops.expire import sweep_orphan_files

        n, b = sweep_orphan_files(
            table, min_age_s=args.min_age_hours * 3600, spark=spark
        )
        out.update(orphans_deleted=n, bytes_reclaimed=b)
    elif args.op == "changes":
        from pyspark.sql import functions as F

        from ..ops.changes import CHANGE_TYPE_COL, scan_changes

        if args.from_snapshot is None:
            p.error("--op changes requires --from-snapshot")
        # resolve the range end ONCE and pass it explicitly: a
        # concurrent commit between the scan and the report would
        # otherwise make the reported to_snapshot claim changes the
        # changelog does not contain — and a consumer checkpointing it
        # as its next --from-snapshot would skip that commit forever
        to_sid = (
            args.to_snapshot
            if args.to_snapshot is not None
            else table.current_snapshot_id
        )
        ch = scan_changes(spark, table, args.from_snapshot, to_sid)
        if args.output:
            ch.write.mode("overwrite").parquet(args.output)
            ch = spark.read.parquet(args.output)
        counts = {
            r[CHANGE_TYPE_COL]: r["n"]
            for r in ch.groupBy(CHANGE_TYPE_COL)
            .agg(F.count("*").alias("n"))
            .collect()
        }
        out.update(
            from_snapshot=args.from_snapshot,
            to_snapshot=to_sid,
            inserts=counts.get("insert", 0),
            deletes=counts.get("delete", 0),
            output=args.output,
        )
    elif args.op == "reconcile-sigs":
        from ..streaming import reconcile_signature_index

        assert args.sigs_table, "--sigs-table required for reconcile-sigs"
        d = reconcile_signature_index(
            spark, table, Table.load(args.sigs_table)
        )
        out.update(sigs_removed=d.rows_deleted,
                   files_rewritten=d.files_rewritten,
                   snapshot_id=d.snapshot_id)
    elif args.op == "verify":
        from pyspark.sql import functions as F

        assert_clean(table.root)
        row = (
            table.scan(spark)
            .agg(
                F.count("*").alias("rows"),
                F.bit_xor(
                    F.xxhash64("repo", "path", "commit", F.sha2("content", 256))
                ).alias("content_digest"),
            )
            .collect()[0]
        )
        out.update(rows=row["rows"], content_digest=row["content_digest"],
                   snapshot_id=table.current_snapshot_id)

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
