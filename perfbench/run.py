#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload curate|maintain --seed N \
        --seconds S --trace 0|1

Runs one workload in this process against one fresh JVM at
``local[nproc]`` with a single closed-loop client, checks every op's
output, prints every metric by name with its unit and sample count, and
ends with one JSON line: ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer ones (see README.md). Everything the run writes — inputs,
stores, Spark scratch, temp files, the event log — goes under
``.perfbench_run/`` in the repository root, wiped at start.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

sys.dont_write_bytecode = True  # the run leaves nothing behind in the checkout

from spans import Tracer, catalyst_phases_ms, io_totals, read_event_log, self_times, spark_per_op
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "nlp_with_pyspark_spark"


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# -- process tree memory -------------------------------------------------------
class RssSampler(threading.Thread):
    """Samples the RSS of the driver process tree — this Python process
    and its JVM — every 0.1 s and keeps the peak of their sum. Python
    workers the JVM forks share most of their pages with each other and
    are left out; :meth:`tree` still lists them, so the run can wait for
    them to end."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak = 0
        self.seen: set[int] = set()
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def tree(self) -> list[int]:
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            try:
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/children") as fh:
                        todo.extend(int(c) for c in fh.read().split())
            except OSError:
                continue
        return out

    def sample(self) -> None:
        me, total = os.getpid(), 0
        for pid in self.tree():
            self.seen.add(pid)
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    driver = pid == me or fh.read().strip() == "java"
                if driver:
                    with open(f"/proc/{pid}/statm") as fh:
                        total += int(fh.read().split()[1]) * self._page
            except OSError:
                continue
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._halt.wait(0.1):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()


# -- statistics ---------------------------------------------------------------
def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest of p50/p75/p90/p95/p99 that has
    at least ten samples beyond it; (100, max) when none has."""
    xs = sorted(samples)
    n = len(xs)
    for p in (99, 95, 90, 75, 50):
        idx = math.ceil(p / 100 * n) - 1
        if n - 1 - idx >= 10:
            return p, xs[idx]
    return 100, xs[-1]


class Ctx:
    def __init__(self, spark, root: str, seed: int, tracer) -> None:
        self.spark, self.root, self.seed, self.tracer = spark, root, seed, tracer


def start_session(root: str, trace: bool):
    from nlp_with_pyspark_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.local.dir": os.path.join(root, "local"),
        "spark.ui.showConsoleProgress": "false",
        # a heap fixed at its 1 GiB cap from the start: the driver's RSS then
        # tracks the pages the run touches, not when G1 decides to grow
        "spark.driver.extraJavaOptions": "-Xms1g",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(root, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark


def stop_session(spark, rss: RssSampler) -> None:
    """Stop Spark, close the JVM's stdin (its exit signal) and wait for
    every process this run started to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    others = rss.seen - {os.getpid()}
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in others):
        time.sleep(0.1)


# -- the run ------------------------------------------------------------------
def run_op(ctx, wl, op, snapshot: bool) -> dict:
    """Time one op; then, untimed, check it and account store bytes."""
    tracer = ctx.tracer
    before = wl.store_snapshot() if snapshot and op.group == "write" else None
    ctx.spark.sparkContext.setJobGroup(f"perfbench-op-{len(tracer.ops)}", op.kind)
    rec = tracer.begin_op(op.kind)
    out, err = None, None
    try:
        out = op.run()
    except Exception:
        err = traceback.format_exc()
    rec.update(group=op.group, seconds=tracer.end_op(rec), user_bytes=op.user_bytes)
    ctx.spark.sparkContext.setJobGroup(f"perfbench-op-{rec['i']}-check", f"{op.kind} output check")
    if err is None:
        try:
            err = op.check(out)
        except Exception:
            err = "check raised:\n" + traceback.format_exc()
    rec["error"] = err
    if err is not None:
        print(f"perfbench: {op.kind} failed: {err}", file=sys.stderr)
    if before is not None:
        after = wl.store_snapshot()
        new = {p: sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt)}
        # a directory none of whose old files survived was rewritten whole
        rewritten = {os.path.dirname(p) for p in before} - {os.path.dirname(p) for p in after if p in before}
        rec["bytes_written"] = sum(new.values())
        rec["bytes_rewritten"] = sum(sz for p, sz in new.items() if os.path.dirname(p) in rewritten)
        rec["store_files"] = len(after)
    df = rec.pop("df", None)
    if tracer.active and df is not None:
        rec["catalyst"] = catalyst_phases_ms(df)
    return rec


def measure(ctx, wl, seconds: float, snapshot: bool) -> list[dict]:
    """Whole passes until ``seconds`` of op time have passed (at least one)."""
    ops: list[dict] = []
    i = 0
    while i == 0 or sum(r["seconds"] for r in ops) < seconds:
        for op in wl.cycle(i):
            ops.append(dict(run_op(ctx, wl, op, snapshot), cycle=i))
        i += 1
    return ops


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        die(f"engine package {PKG}/ not found next to perfbench/ (in {ROOT})")
    sys.path.insert(0, ROOT)

    t_start = time.perf_counter()
    root = os.path.join(ROOT, ".perfbench_run")
    shutil.rmtree(root, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(root, sub))
    cpus = str(len(os.sched_getaffinity(0)))
    # the session reads these; the benchmark fixes them (and drops the
    # conf and master overrides) so every run measures the same setup
    os.environ.update(
        TMPDIR=os.path.join(root, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(root, "local"),
        SPARK_GRAFT_CPUS=cpus,
        SPARK_DRIVER_MEMORY="1g",
        PYSPARK_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",  # Python workers too
        # every JVM the run starts (spark-submit's launcher too): temp files
        # under the run root, no hsperfdata file in the system temp dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(root, 'tmp')} -XX:-UsePerfData",
    )
    for var in ("SPARK_GRAFT_CONF", "SPARK_MASTER"):
        os.environ.pop(var, None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    import nlp_with_pyspark_spark

    if not os.path.abspath(nlp_with_pyspark_spark.__file__).startswith(os.path.join(ROOT, PKG)):
        die(f"imported {PKG} from {nlp_with_pyspark_spark.__file__}, not from {ROOT}")
    tracer = Tracer()
    if args.trace:
        tracer.install()
    rss = RssSampler()
    rss.start()

    t0 = time.perf_counter()
    spark = start_session(root, bool(args.trace))
    session_s = time.perf_counter() - t0
    ctx = Ctx(spark, root, args.seed, tracer)
    wl = WORKLOADS[args.workload](ctx)
    try:
        t1 = time.perf_counter()
        wl.setup()
        setup_s = time.perf_counter() - t_start
        parts = {"session": session_s, "inputs_and_stores": time.perf_counter() - t1}
        tracer.active = bool(args.trace)
        ops = measure(ctx, wl, args.seconds, snapshot=hasattr(wl, "store_snapshot"))
        final = {}
        if hasattr(wl, "store_snapshot"):
            snap = wl.store_snapshot()
            final = {"store_bytes": sum(sz for sz, _ in snap.values()), "live_bytes": wl.live_user_bytes()}
        # tracing overhead, on two warm passes: traced first, so a pass
        # that is still warming up overstates the overhead, never hides it
        overhead = []
        if args.trace:
            overhead = [measure(ctx, wl, 0, False)]
            tracer.active = False
            overhead.append(measure(ctx, wl, 0, False))
    finally:
        stop_session(spark, rss)
        rss.stop()

    checked = ops + [r for p in overhead for r in p]
    attempted = len(checked)
    failed = sum(1 for r in checked if r["error"] is not None)
    if args.trace:
        log = read_event_log(os.path.join(root, "eventlog"))
        metrics = per_layer(tracer, ops, overhead, log, int(cpus), session_s)
    else:
        metrics = end_to_end(ops, setup_s, rss.peak, final)
        for k, v in parts.items():
            metrics[f"setup_s.{k}"] = (v, "s", "(n=1)", False)
    report(args, metrics, attempted, failed)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items() if v[3]},
            }
        )
    )
    shutil.rmtree(root, ignore_errors=True)


def report(args, metrics: dict, attempted: int, failed: int) -> None:
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} host_cpus={len(os.sched_getaffinity(0))}")
    for name, (value, unit, note, _) in metrics.items():
        print(f"  {name:<40} {value:>14.6g} {unit:<6} {note}")
    print(f"  {'fail_ratio':<40} {failed / max(attempted, 1):>14.6g} ratio  (n={attempted})")


def _cycle_walls(ops: list[dict]) -> list[float]:
    walls: dict[int, float] = {}
    for r in ops:
        walls[r["cycle"]] = walls.get(r["cycle"], 0.0) + r["seconds"]
    return list(walls.values())


def end_to_end(ops: list[dict], setup_s: float, peak_rss: int, final: dict) -> dict:
    """name → (value, unit, note, in_contract)."""
    walls = _cycle_walls(ops)
    total = sum(r["seconds"] for r in ops)
    m = {
        "setup_s": (setup_s, "s", "(n=1)", True),
        "wall_s": (statistics.median(walls), "s", f"(median of n={len(walls)} passes)", True),
        "ops_per_s": (len(ops) / total, "1/s", f"(n={len(ops)} ops, closed loop, 1 client)", True),
        "peak_rss_mb": (peak_rss / 2**20, "MB", "(driver process tree)", True),
    }
    for group in ("read", "write", "query"):
        xs = [r["seconds"] * 1000 for r in ops if r["group"] == group]
        if xs:
            p, v = tail(xs)
            m[f"{group}_p50_ms"] = (statistics.median(xs), "ms", f"(n={len(xs)})", False)
            m[f"{group}_tail_ms"] = (v, "ms", f"(p{p}, n={len(xs)})", False)
    for kind in sorted({r["kind"] for r in ops}):
        xs = [r["seconds"] for r in ops if r["kind"] == kind]
        m[f"op_s.{kind}"] = (statistics.median(xs), "s", f"(median, n={len(xs)})", False)
    if final:
        written = sum(r.get("bytes_written", 0) for r in ops)
        user = sum(r["user_bytes"] for r in ops)
        m["store_bytes_per_live_byte"] = (final["store_bytes"] / final["live_bytes"], "ratio", "(at end)", False)
        m["write_amp"] = (written / max(user, 1), "ratio", f"(n={sum(r['group'] == 'write' for r in ops)} writes)", False)
    return m


def per_layer(tracer, ops, overhead, log, cores: int, session_s: float) -> dict:
    """Per-op means of each layer's numbers over the measured (traced)
    ops, plus the tracing overhead from the two extra warm passes.

    The JSON carries the metrics every workload exercises, so none reads
    a constant zero; layers only one workload reaches (one operator
    module, the store ops, the sinks) are report lines."""
    selfs = self_times(tracer)
    spark = spark_per_op(tracer, log, cores)
    io = io_totals(tracer)
    n = len(ops)
    m: dict = {}

    def mean(f, pred=lambda r: True) -> float:
        xs = [f(r) for r in ops if pred(r)]
        return sum(xs) / len(xs) if xs else 0.0

    def layer_s(r, layer: str) -> float:
        return selfs[r["i"]].get(layer, 0.0)

    def put(name, value, unit, note="", in_json=True):
        m[name] = (float(value), unit, note, in_json)

    put("queries.build_s", mean(lambda r: r["seconds"] - r.get("materialize_s", 0.0)), "s",
        "(engine call before materialization: query body or store op)")
    put("queries.materialize_s", mean(lambda r: r.get("materialize_s", 0.0)), "s", "(toPandas of the op's result)")
    put("queries.eager_jobs", mean(lambda r: spark[r["i"]]["eager_jobs"]), "count", "(jobs before materialization)")
    operators = [layer for layer in {k for sel in selfs.values() for k in sel} if layer.startswith("operators.")]
    put("operators.self_s", mean(lambda r: sum(layer_s(r, x) for x in operators)), "s")
    for layer in ("functions", "bench"):
        put(f"{layer}.self_s", mean(lambda r, layer=layer: layer_s(r, layer)), "s")
    for kind in ("read", "write", "compact"):
        put(f"sources.io.{kind}_calls", io[f"{kind}_calls"] / n, "count")
    put("sources.io.read_s", io["read_s"] / n, "s")
    put("sources.io.bytes_written", mean(lambda r: r.get("bytes_written", 0)), "bytes")
    put("sources.io.bytes_rewritten", mean(lambda r: r.get("bytes_rewritten", 0)), "bytes")
    put("sources.io.store_files", max((r.get("store_files", 0) for r in ops), default=0), "count")
    put("functions.expr.memo_calls", tracer.memo[0] / n, "count")
    put("functions.expr.memo_hit_ratio", tracer.memo[1] / tracer.memo[0] if tracer.memo[0] else 0.0, "ratio")
    put("session.start_s", session_s, "s")
    for k in ("jobs", "stages", "tasks", "sql_executions"):
        put(f"spark.{k}", mean(lambda r, k=k: spark[r["i"]][k]), "count")
    for k, name in (("job_s", "job_s"), ("driver_gap_s", "driver_gap_s"), ("run_s", "task_run_s"),
                    ("cpu_s", "task_cpu_s"), ("gc_s", "task_gc_s")):
        put(f"spark.{name}", mean(lambda r, k=k: spark[r["i"]][k]), "s")
    busy = sum(spark[r["i"]]["busy_denominator"] for r in ops)
    put("spark.executor_busy_ratio", sum(spark[r["i"]]["run_s"] for r in ops) / busy if busy else 0.0, "ratio")
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        put(f"spark.{k}", mean(lambda r, k=k: spark[r["i"]][k]), "bytes")
    cat = [r["catalyst"] for r in ops if r.get("catalyst")]
    for ph in ("analysis", "optimization", "planning"):
        put(f"catalyst.{ph}_ms", sum(c[ph] for c in cat) / len(cat) if cat else 0.0, "ms", f"(n={len(cat)})")
    put("py4j.roundtrips", mean(lambda r: r.get("py4j_roundtrips", 0)), "count")
    put("py4j.blocked_s", mean(lambda r: r.get("py4j_blocked_s", 0.0)), "s")
    traced, plain = (sum(r["seconds"] for r in p) for p in overhead)
    put("trace.overhead_ratio", traced / plain, "ratio", f"(a warm pass traced / the next one untraced, {len(overhead[0])} ops each)")
    errs = [abs(sum(selfs[r["i"]].values()) - r["seconds"]) / r["seconds"] for r in ops]
    put("trace.reconcile_error", max(errs), "ratio", "(max over ops of |sum of layer self-times - wall| / wall)")

    # report lines: layers and op kinds only one workload reaches
    for layer in sorted({k for sel in selfs.values() for k in sel} - {"functions", "bench"}):
        put(f"{layer}.self_s", mean(lambda r, layer=layer: layer_s(r, layer)), "s", "(report)", False)
    for group, sub in (("read", "search"), ("read", "vector_store"), ("write", "search"), ("write", "vector_store")):
        value = 1000 * mean(lambda r, sub=sub: layer_s(r, f"operators.{sub}"), lambda r, g=group: r["group"] == g)
        put(f"operators.{sub}.{group}_ms", value, "ms", f"(per {group} op, report)", False)
    for kind in ("write", "compact"):
        put(f"sources.io.{kind}_s", io[f"{kind}_s"] / n, "s", "(report)", False)
    for kind in sorted({r["kind"] for r in ops}):
        put(f"op_s.{kind}", mean(lambda r: r["seconds"], lambda r, k=kind: r["kind"] == k), "s", "(report)", False)
    return m


if __name__ == "__main__":
    main()
