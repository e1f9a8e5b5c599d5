"""Benchmark runner for interference_spark.

    python3 perfbench/run.py --workload oltp --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. One run starts Spark (local[N],
N = min(4, cores), 2 GB driver heap, 4 shuffle partitions) in a fresh
working directory under ``.perfbench/``, sets up and warms the workload,
executes its fixed seed-generated op sequence, checks the outputs, stops
every process it started and removes the working directory. The last
stdout line is the JSON result; the host context, per-op-type latencies
and check results go to stderr and to ``.perfbench/out/runs.jsonl``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` wraps the
package's public functions to record spans and counters and reports the
per-layer metrics instead (spans are written to ``.perfbench/out/``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

_NOW = time.perf_counter
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile (statistics.quantiles, inclusive)."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q) - 1]


def _spark(work: str):
    from interference_spark import build_spark

    cores = min(4, len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    return build_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=4,
        extra_conf={
            "spark.driver.memory": "2g",
            # a fixed heap and young generation: the JVM's resident size no
            # longer depends on how far G1 happened to grow them in this run
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                             "-Xms2g -Xmn512m",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_spark(spark) -> None:
    """Stop Spark if it came up, close the JVM's stdin (the gateway exits on
    EOF) and wait for the JVM and every Python worker it forked; a JVM that
    was still starting is stopped by signal."""
    from pyspark import SparkContext

    from perfbench.host import descendants, stop_tree

    procs = descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                proc.wait(timeout=60)
        stop_tree(procs)


def _layer_metrics(wl, tr, n_ops: int, wall: float, gc_ms: float, cpu_s: float,
                   progress: dict | None) -> dict[str, tuple[float, str]]:
    """Per-layer metrics: mean inclusive ms per call of each wrapped entry
    point (0 when the workload never calls it) plus counters per op."""
    summ = tr.summary()
    c = tr.counters

    def ms(name: str) -> float:
        d = summ.get(name)
        return 1000 * d["incl_s"] / d["calls"] if d else 0.0

    m = {
        "session.find_ms": (ms("session.find"), "ms"),
        "session.commit_ms": (ms("session.commit"), "ms"),
        "session.execute_ms": (ms("session.execute"), "ms"),
        "dialect.parse_ms": (ms("dialect.parse"), "ms"),
        "dialect.compile_ms": (ms("dialect.compile"), "ms"),
        "engine.read_table_ms": (ms("engine.read_table"), "ms"),
        "dml.store.read_managed_ms": (ms("dml.store.read_managed"), "ms"),
        "dml.store.files_listed": (c.get("dml.store.files_listed", 0) / n_ops, "count"),
        "dml.store.upsert_ms": (ms("dml.store.upsert"), "ms"),
        "dml.store.compact_calls": (c.get("dml.store.compact_calls", 0), "count"),
        "dml.store.compact_ms": (ms("dml.store.compact"), "ms"),
        "dml.store.write_amp": (
            c.get("dml.store.merge_bytes", 0) / c["dml.store.staged_bytes"]
            if c.get("dml.store.staged_bytes") else 0.0, "x"),
        "dml.store.space_amp": (wl.extra.get("dml.store.space_amp", 0.0), "x"),
        "dml.store.append_rows_ms": (ms("dml.store.append_rows"), "ms"),
    }
    for kind in ("filter", "tumbling", "sliding"):
        m[f"streaming.drain_{kind}_ms"] = (ms(f"streaming.drain.{kind}"), "ms")
    drains = sum(d["calls"] for k, d in summ.items() if k.startswith("streaming.drain."))
    p = progress or {"batches": 0, "trigger_ms": 0.0, "state_bytes": 0}
    m["streaming.batches_per_drain"] = (p["batches"] / drains if drains else 0.0, "count")
    m["streaming.trigger_ms"] = (p["trigger_ms"] / p["batches"] if p["batches"] else 0.0, "ms")
    m["streaming.state_bytes"] = (float(p["state_bytes"]), "B")
    from perfbench.workloads import Curation

    for s in Curation.STAGES:
        m[f"pipeline.{s}_ms"] = (ms(f"pipeline.{s}"), "ms")
    m["pipeline.minhash_pairs"] = (float(wl.extra.get("pipeline.minhash_pairs", 0)), "count")
    exec_s = summ.get("spark.exec", {}).get("incl_s", 0.0)
    m["spark.exec_ms"] = (1000 * exec_s / n_ops, "ms")
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}_per_op"] = (c.get(f"spark.{k}", 0) / n_ops, "count")
    m["jvm.gc_ms"] = (gc_ms, "ms")
    m["driver.cpu_s"] = (cpu_s, "s")
    m["trace.items_per_s"] = (wl.items / wall, "1/s")
    m["trace.overhead_pct"] = (100 * tr.overhead_s / wall, "%")
    return m


def run(args) -> dict:
    t_start = _NOW()
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    # every temp file of this process, the JVM and the Python workers
    # stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONHASHSEED"] = "0"
    import tempfile

    tempfile.tempdir = None

    from perfbench.host import RssSampler, host_context
    from perfbench.tracing import Tracer, jvm_gc_ms
    from perfbench.workloads import WORKLOADS

    host = host_context()
    record: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "started": time.time(), "host_before": host}
    live: dict = {}
    # cleanup runs in reverse order and every step runs even if one fails
    with contextlib.ExitStack() as cleanup:
        cleanup.callback(shutil.rmtree, work, ignore_errors=True)
        sampler = RssSampler().start()
        cleanup.callback(sampler.stop)
        cleanup.callback(lambda: _stop_spark(live.get("spark")))
        cleanup.callback(lambda: live["wl"].close() if "wl" in live else None)
        from interference_spark import Engine

        spark = live["spark"] = _spark(work)
        engine = Engine(spark=spark, warehouse=os.path.join(work, "warehouse"))
        wl = live["wl"] = WORKLOADS[args.workload](engine, args.seed, args.seconds, work)
        wl.setup()
        warm_ms = []
        for op in wl.warm_ops():
            t0 = _NOW()
            out = op.fn(op.arg)
            warm_ms.append((op.kind, round(1000 * (_NOW() - t0))))
            if not wl.verify(op, out):
                raise RuntimeError(f"warm-up op {op.kind} returned a wrong result")
        record["warm_ms"] = warm_ms
        wl.items = 0
        seq = wl.ops()
        setup_s = _NOW() - t_start

        tr = Tracer(spark) if args.trace else None
        since = wl.last_batches()
        dirs, groups = wl.table_dirs(), wl.stream_groups()
        if tr:
            tr.install(wl.trace_points(), groups)
        gc0 = jvm_gc_ms(spark)
        ru0 = os.times()
        lat: dict[str, list[float]] = {}
        trail: list[tuple[str, int]] = []
        failed = 0
        t_loop = _NOW()
        for i, op in enumerate(seq):
            if tr:
                tr.before_op(i, dirs)
            t0 = _NOW()
            try:
                out = op.fn(op.arg)
                err = None
            except Exception:  # an op failure is counted, the run goes on
                out, err = None, traceback.format_exc()
            dt = _NOW() - t0
            if tr:
                tr.after_op(groups)
            if err is None:
                for kind, x in wl.latencies(op, out, dt):
                    lat.setdefault(kind, []).append(x)
                    trail.append((kind, round(1000 * x)))
                ok = wl.verify(op, out)
            else:
                ok = False
                print(err, file=sys.stderr)
            failed += not ok
        wall = _NOW() - t_loop
        ru1 = os.times()
        gc_ms = jvm_gc_ms(spark) - gc0
        if tr:
            tr.uninstall()
        progress = wl.stream_progress(since)
        checks = wl.check()
        for name, ok in checks.items():
            if not ok:
                print(f"check failed: {name}", file=sys.stderr)
        attempted = len(seq) + len(checks)
        failed += sum(not ok for ok in checks.values())

    samples = [x for xs in lat.values() for x in xs]
    if not samples:
        raise RuntimeError("no op completed")
    if tr:
        metrics = _layer_metrics(wl, tr, len(seq), wall, gc_ms,
                                 (ru1.user - ru0.user) + (ru1.system - ru0.system), progress)
        tr.write(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        record["self_ms"] = {k: round(1000 * v["self_s"], 3) for k, v in tr.summary().items()}
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "items_per_s": (wl.items / wall, "1/s"),
            "p50_ms": (1000 * percentile(samples, 50), "ms"),
            "p90_ms": (1000 * percentile(samples, 90), "ms"),
            "peak_rss_mb": (sampler.peak / 2**20, "MB"),
        }
    record.update(
        ops=len(seq), samples=len(samples), wall_s=wall, latencies_ms=trail,
        per_kind_p50_ms={k: 1000 * statistics.median(v) for k, v in lat.items()},
        checks=checks, peak_rss_by_process_mb=sampler.peak_parts, host_after=host_context(),
    )
    print(json.dumps(record), file=sys.stderr)
    with open(os.path.join(out_dir, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _watchdog(limit: float) -> threading.Timer:
    """Stop the JVM and its workers and exit non-zero if the run hangs."""

    def fire():
        from perfbench.host import descendants, stop_tree

        print(f"run exceeded {limit:.0f} s, stopping", file=sys.stderr, flush=True)
        stop_tree(descendants(os.getpid()), timeout=5)
        os._exit(3)

    t = threading.Timer(limit, fire)
    t.daemon = True
    t.start()
    return t


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("oltp", "analytics", "cep", "curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "interference_spark", "__init__.py")):
        print(f"interference_spark sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # SIGTERM unwinds through run()'s cleanup, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    watchdog = _watchdog(150)
    result = run(args)
    watchdog.cancel()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
