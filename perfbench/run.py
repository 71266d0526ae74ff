"""Maintenance benchmark for the lakehouse engine.

    python3 perfbench/run.py --workload reindex --seed 1 --seconds 10 --trace 0

Runs one closed-loop workload (``reindex`` or ``maintain``)
for ``--seconds`` on ``local[$(nproc)]`` with one client, checks the
engine's outputs, and prints the workload's metrics by name and unit,
then, as the last line, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports the
end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` reports the
per-layer metrics instead, with the tracing overhead.  Exits 1 when an
output check fails and 2 when the engine is not found.  See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

TOP_SPANS = [
    "tablefmt.append", "tablefmt.lookup", "tablefmt.full_scan",
    "ops.merge.merge_into", "ops.compact.compact", "ops.cluster.cluster",
    "ops.manifest.rewrite_manifests", "ops.expire.expire_snapshots",
    "ops.delete.delete_where", "jobs.dedup_sweep.minhash",
    "jobs.dedup_sweep.simhash",
]
# (module path, owner attribute path, span name)
NESTED_SPANS = [
    ("engine.tablefmt", "Table.files", "tablefmt.Table.files"),
    ("engine.tablefmt", "Table.read_manifest", "tablefmt.Table.read_manifest"),
    ("engine.tablefmt", "Table.write_data_files", "tablefmt.Table.write_data_files"),
    ("engine.tablefmt", "Table.commit", "tablefmt.Table.commit"),
    ("engine.checkpoint", "Ledger.save", "checkpoint.Ledger.save"),
    ("engine.ops.expire", "sweep_orphan_files", "ops.expire.sweep_orphan_files"),
    ("engine.dedup", "connected_components", "dedup.connected_components"),
]
COUNTS = [
    ("ops.merge.merge_into.files_rewritten", "count"),
    ("ops.merge.merge_into.rewrite_useful_ratio", "ratio"),
    ("tablefmt.lookup.files_opened", "count"),
    ("tablefmt.Table.files.prune_ratio", "ratio"),
    ("tablefmt.manifests_per_snapshot", "count"),
    ("ops.compact.compact.files_in", "count"),
    ("ops.compact.compact.files_out", "count"),
    *[(f"ops.cluster.cluster.{k}_s", "s") for k in ("sample", "quantiles", "write", "stats", "commit")],
    ("ops.expire.expire_snapshots.orphans_deleted", "count"),
    ("ops.expire.expire_snapshots.bytes_reclaimed_mb", "MB"),
    ("jobs.dedup_sweep.planted_recall", "ratio"),
    ("jobs.dedup_sweep.useful_ratio", "ratio"),
]
# Traced steps must account for this share of their wall time in spans.
SPAN_COVERAGE_MIN = 0.98


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def process_age_s() -> float:
    """Seconds since this process started (``/proc``, 10 ms ticks)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    return uptime - start / os.sysconf("SC_CLK_TCK")


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if ref.startswith("ref: "):
        p = os.path.join(ROOT, ".git", ref[5:])
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return f.read().strip()
    return ref


def median(xs):
    return statistics.median(xs) if xs else None


def prepare_env(work: str, nproc: int) -> None:
    """Set ``SPARK_GRAFT_CPUS``; keep temporary files under ``work``;
    let Python workers import ``engine`` from the checkout whatever their
    cwd.  ``spark.local.dir`` (shuffle and spill) keeps the session's
    default, which is tmpfs when ``/dev/shm`` exists; only when that
    default cannot be written does it move under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    shm = "/dev/shm"
    if (os.path.isdir(shm) and not os.access(shm, os.W_OK)
            and "SPARK_GRAFT_LOCAL_DIR" not in os.environ):
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = None


def calibrate() -> float:
    """Seconds for a fixed pure-Python loop: the machine's speed at the
    time, recorded beside the figures so that runs made in a slow period
    can be told apart."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x = (x + i * i) % 1_000_003
    return time.perf_counter() - t0


def start_session(work: str, trace: bool):
    from engine.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and its Python workers) exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def resolved_config(spark, args, nproc: int) -> dict:
    import pyspark

    c = spark.sparkContext.getConf()
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "master": spark.sparkContext.master,
        "driver_memory": c.get("spark.driver.memory", None),
        "spark_local_dir": c.get("spark.local.dir", None),
        "gc_options": c.get("spark.driver.extraJavaOptions", None),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark": pyspark.__version__, "git_commit": git_commit(),
    }


def run_loop(w, bench, seconds: float, trace: bool) -> dict:
    """Closed loop: steps back to back until ``seconds`` have passed and
    at least ``w.GATE_STEPS`` steps are done; in a traced run every other
    step is traced.  The gated figures come from the first
    ``GATE_STEPS`` steps only (:meth:`Bench.mark_gate`), so that they do
    not depend on how many steps fit in the run: the same schedule
    prefix is measured whatever the engine's speed."""
    tracer = bench.tracer
    cov = {"engine": 0.0, "bench": 0.0, "wall": 0.0}
    steps = traced = 0
    deadline = time.perf_counter() + seconds
    while steps < w.GATE_STEPS or time.perf_counter() < deadline:
        tracer.detailed = trace and steps % 2 == 1
        e0, b0 = tracer.span_total, tracer.bench_total
        t0 = time.perf_counter()
        w.step(steps)
        dt = time.perf_counter() - t0
        if tracer.detailed:
            cov["engine"] += tracer.span_total - e0
            cov["bench"] += tracer.bench_total - b0
            cov["wall"] += dt
            traced += 1
        tracer.detailed = False
        steps += 1
        if steps == w.GATE_STEPS:
            bench.mark_gate()
    wall = cov["wall"]
    return {"steps": steps, "gate_steps": w.GATE_STEPS, "traced_steps": traced,
            "span_coverage": cov["engine"] / wall if wall else None,
            "bench_share": cov["bench"] / wall if wall else None}


def per_layer(bench, w, loop: dict, tour) -> tuple[dict, list[str]]:
    """Per-layer metrics: traced loop calls, or, for an operation the
    loop never calls, the traced side-table tour (``tour``).  Returns the
    metrics and the names of those taken from the tour: one cold call at
    the side table's size, not the workload's steady cost."""
    from perfbench.tracing import TOP_STATS, shuffle_mb_by_group

    tr = bench.tracer
    shuffle = shuffle_mb_by_group(os.path.join(bench.work_dir, "events"))
    out: dict[str, tuple[float, str]] = {}
    cold: list[str] = []
    for name in TOP_SPANS:
        recs = [r for r in tr.calls.get(name, []) if r["traced"]]
        if not recs:
            recs = [r for r in tour.calls.get(name, []) if r["traced"]]
            cold += [f"{name}.{st}" for st in TOP_STATS]
        for st in TOP_STATS:
            if st == "shuffle_mb":
                vals = [shuffle.get(r["group"], 0.0) for r in recs]
                unit = "MB"
            else:
                vals = [r[st] for r in recs]
                unit = "s"
            out[f"{name}.{st}"] = (statistics.mean(vals) if vals else 0.0, unit)
    for _mod, _attr, name in NESTED_SPANS:
        # per traced step; the tour is one step
        walls, per = tr.nested.get(name), loop["traced_steps"]
        if not walls:
            walls, per = tour.nested.get(name, []), 1
            cold += [f"{name}.calls", f"{name}.wall_s"]
        out[f"{name}.calls"] = (len(walls) / max(1, per), "count")
        out[f"{name}.wall_s"] = (sum(walls) / max(1, per), "s")
    counts = {**bench.counts, **{k: [v] for k, v in w.layer_counts().items()}}
    for name, unit in COUNTS:
        v = counts.get(name)
        if not v:
            v = tour.counts.get(name) or [0.0]
            cold.append(name)
        out[name] = (statistics.mean(v), unit)
    for key in ("write_s", "lookup_s"):
        plain, traced = median(bench.samples(key)), median(bench.samples(key, traced=True))
        over = traced - plain if plain is not None and traced is not None else 0.0
        out[f"trace.overhead.{key[:-2]}_p50_s"] = (over, "s")
    out["trace.span_coverage"] = (loop["span_coverage"] or 0.0, "ratio")
    out["trace.bench_share"] = (loop["bench_share"] or 0.0, "ratio")
    return out, cold


def run(args, work: str, nproc: int, t_start: float) -> dict:
    from perfbench.tracing import Tracer, percentile_tail
    from perfbench.workloads import WORKLOADS, Bench, tour

    spark = start_session(work, bool(args.trace))
    try:
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        tracer = Tracer(spark, jvm_pid)
        if args.trace:
            import importlib

            tracer.enable_detail()
            for mod, attr, name in NESTED_SPANS:
                owner = importlib.import_module(mod)
                *path, leaf = attr.split(".")
                for p in path:
                    owner = getattr(owner, p)
                tracer.wrap(owner, leaf, name)
        config = resolved_config(spark, args, nproc)
        bench = Bench(spark, tracer, work, args.seed, log)
        w = WORKLOADS[args.workload](bench)
        log(f"session up at {time.monotonic() - t_start:.1f} s; setup {args.workload}")
        w.setup()
        log(f"table built at {time.monotonic() - t_start:.1f} s")
        w.warmup()
        bench.reset(w.table)
        setup_s = time.monotonic() - t_start
        log(f"setup done in {setup_s:.1f} s; loop for {args.seconds} s")
        config["calibrate_start_s"] = calibrate()
        loop = run_loop(w, bench, args.seconds, bool(args.trace))
        config["calibrate_end_s"] = calibrate()
        on_disk = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(w.table.root) for f in fs
        )
        space_amp = on_disk / w.table.total_bytes()
        log(f"loop done: {loop['steps']} steps; final checks")
        w.finish()
        tour_store = None
        if args.trace:
            log("side-table tour of the operations the loop does not call")
            tour_store = tour(bench, args.workload)
        if args.trace and loop["span_coverage"] is not None:
            covered = loop["span_coverage"] + loop["bench_share"]
            bench.check(covered >= SPAN_COVERAGE_MIN,
                        f"engine spans ({loop['span_coverage']:.3f}) and benchmark spans "
                        f"({loop['bench_share']:.3f}) cover {covered:.3f} of the traced steps' wall")
        lookups = bench.samples("lookup_s")
        writes = bench.gated("write_s")
        gl = bench.gated("lookup_s")
        e2e = {
            "setup_s": (setup_s, "s", 1),
            "write_p50_s": (median(writes), "s", len(writes)),
            "lookup_p50_s": (median(gl), "s", len(gl)),
            "lookup_tail_s": (percentile_tail(lookups), "s", len(lookups)),
            "write_amp": (bench.gate["bytes_written"] / max(1, bench.gate["user_bytes"]),
                          "ratio", w.GATE_STEPS),
            "space_amp": (space_amp, "ratio", 1),
            "failed_op_ratio": (bench.failed / max(1, bench.attempted), "ratio", bench.attempted),
            "peak_rss_mb": (bench.gate["peak_rss_mb"], "MB", 1),
            **w.report(),
        }
        result = {"attempted": bench.attempted, "failed": bench.failed,
                  "errors": bench.errors, "config": config, "loop": loop,
                  "end_to_end": e2e}
    finally:
        stop_session(spark)
    if args.trace:  # the event log is complete once the session stopped
        result["per_layer"], result["loop"]["cold_from_tour"] = per_layer(bench, w, loop, tour_store)
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["reindex", "maintain"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    t_start = time.monotonic() - process_age_s()
    if not os.path.isfile(os.path.join(ROOT, "engine", "tablefmt.py")):
        print(f"perfbench: no engine/ under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    nproc = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_run")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        prepare_env(work, nproc)
        res = run(args, work, nproc, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)

    print(json.dumps({"config": res["config"], "loop": res["loop"], "errors": res["errors"]}))
    for name, (v, unit, n) in res["end_to_end"].items():
        print(f"{name:24s} {'n/a' if v is None else f'{v:.6g}':>12s} {unit:8s} n={n}")
    if args.trace:
        for k, (v, u) in res["per_layer"].items():
            cold = " (cold, side-table tour)" if k in res["loop"]["cold_from_tour"] else ""
            print(f"{k:48s} {v:12.6g} {u:8s}{cold}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in res["per_layer"].items()}
    else:
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            names = [m["name"] for m in json.load(f)["end_to_end"]]
        metrics = {k: {"value": res["end_to_end"][k][0], "unit": res["end_to_end"][k][1]} for k in names}
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
