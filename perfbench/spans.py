"""Benchmark-side tracing: spans around the engine's public functions,
a py4j round-trip counter, Catalyst phase times and Spark's event log.

Nothing here changes the engine. :meth:`Tracer.install` replaces the
public functions of the engine's layer modules with span-recording
wrappers and rebinds every module-level reference to them, so a call
made through ``from .x import f`` is traced as well. Spans stay in
memory; run.py folds them into per-op layer numbers at the end of the
run.

Only spans on the client thread form the self-time tree, so an op's
layer self-times add up to its wall time. Calls the engine makes from
its own worker threads are counted, and their time stays with the
caller that waits for them.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import os
import pkgutil
import threading
import time
from collections import defaultdict

PKG = "nlp_with_pyspark_spark"


def layer_of(module: str) -> str:
    """Engine module name → layer name used in the metrics."""
    rel = module[len(PKG) + 1 :] if module.startswith(PKG + ".") else module
    if rel.startswith("operators."):
        return rel
    if rel == "sources.io":
        return "sources.io"
    if rel.startswith("functions."):
        return "functions"
    if rel.startswith("streaming."):
        return "streaming"
    if rel == "queries":
        return "queries"
    return "other"


def io_kind(fn_name: str) -> str:
    """sources.io function → read / write / compact / other."""
    if fn_name.startswith(("read_", "parquet_", "table_bucket_spec")):
        return "read"
    if fn_name.startswith(("compact_", "recover_compact")):
        return "compact"
    if fn_name.startswith(("write_", "append_", "register_")):
        return "write"
    return "other"


class Tracer:
    """In-memory span recorder. ``active`` gates recording, so the same
    process can time ops with and without tracing."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[list] = []  # [name, layer, t0, t1, parent, op, main]
        self.ops: list[dict] = []
        self.memo = [0, 0]  # [calls, hits]
        self._tls = threading.local()
        self._lock = threading.Lock()  # counters are bumped from engine threads too
        self._main = threading.get_ident()
        self._op: dict | None = None

    @property
    def current(self) -> dict | None:
        """The op being timed, if any."""
        return self._op

    # -- spans -------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """Record one span under the current op (no-op when inactive)."""
        if not self.active or self._op is None:
            yield
            return
        st = self._stack()
        main = threading.get_ident() == self._main
        rec = [name, layer, time.perf_counter(), None, st[-1] if st else None, self._op["i"], main]
        self.spans.append(rec)
        st.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[3] = time.perf_counter()
            st.pop()

    def wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active or tracer._op is None:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        traced.__perfbench_original__ = fn
        return traced

    # -- ops ----------------------------------------------------------
    def begin_op(self, kind: str) -> dict:
        op = {"i": len(self.ops), "kind": kind, "traced": self.active}
        self.ops.append(op)
        self._op = op
        if self.active:
            st = self._stack()
            op["root"] = len(self.spans)
            self.spans.append([kind, "bench", None, None, None, op["i"], True])
            st.append(op["root"])
        op["epoch0"] = time.time()
        op["t0"] = time.perf_counter()
        if self.active:
            self.spans[op["root"]][2] = op["t0"]
        return op

    def end_op(self, op: dict) -> float:
        op["t1"] = time.perf_counter()
        op["epoch1"] = time.time()
        if op["traced"]:
            self.spans[op["root"]][3] = op["t1"]
            self._stack().pop()
        self._op = None
        return op["t1"] - op["t0"]

    # -- installation -------------------------------------------------
    def install(self) -> None:
        """Wrap every public function of the engine's layer modules and
        the registered queries, then rebind module-level references."""
        pkg = importlib.import_module(PKG)
        mods = [PKG + ".queries"]
        for info in pkgutil.walk_packages(pkg.__path__, PKG + "."):
            mods.append(info.name)
        loaded = {m: importlib.import_module(m) for m in sorted(set(mods))}
        swap: dict[int, object] = {}
        for name, mod in loaded.items():
            layer = layer_of(name)
            if layer in ("other", "queries"):
                continue
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(obj) or obj.__module__ != name:
                    continue
                short = attr if layer != "sources.io" else f"{io_kind(attr)}:{attr}"
                if name.endswith("functions.expr") and attr == "memo_col":
                    w = self._wrap_memo(obj)
                else:
                    w = self.wrap(obj, short, layer)
                swap[id(obj)] = w
        queries = loaded[PKG + ".queries"]
        for qname, fn in list(queries.QUERIES.items()):
            w = swap.get(id(fn)) or self.wrap(fn, qname, "queries")
            swap[id(fn)] = w
            queries.QUERIES[qname] = w
        for mod in loaded.values():
            for attr, obj in list(vars(mod).items()):
                w = swap.get(id(obj))
                if w is not None and getattr(w, "__perfbench_original__", None) is obj:
                    setattr(mod, attr, w)
        self._install_py4j()

    def _wrap_memo(self, fn):
        traced = self.wrap(fn, "memo_col", "functions")
        tracer = self

        @functools.wraps(fn)
        def memo(key, build):
            if not tracer.active or tracer._op is None:
                return fn(key, build)
            built = []

            def counted_build():
                built.append(1)
                return build()

            out = traced(key, counted_build)
            with tracer._lock:
                tracer.memo[0] += 1
                tracer.memo[1] += 0 if built else 1
            return out

        memo.__perfbench_original__ = fn
        return memo

    def _install_py4j(self) -> None:
        import py4j.clientserver
        import py4j.java_gateway

        tracer = self
        for cls in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, *a, __orig=orig, **kw):
                op = tracer._op
                if not tracer.active or op is None:
                    return __orig(conn, command, *a, **kw)
                t0 = time.perf_counter()
                try:
                    return __orig(conn, command, *a, **kw)
                finally:
                    with tracer._lock:
                        op["py4j_roundtrips"] = op.get("py4j_roundtrips", 0) + 1
                    if threading.get_ident() == tracer._main:
                        op["py4j_blocked_s"] = op.get("py4j_blocked_s", 0.0) + time.perf_counter() - t0

            cls.send_command = send_command


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis / optimization / planning times of ``df``'s own
    QueryExecution (planning is forced first, outside any timed op)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[ph] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def _span_self_s(tracer: Tracer) -> list[float | None]:
    """Each span's self time (s): its duration minus its children's.
    None for spans off the client thread, which are not in the tree."""
    child: dict[int, float] = defaultdict(float)
    for rec in tracer.spans:
        if rec[6] and rec[4] is not None and rec[3] is not None:
            child[rec[4]] += rec[3] - rec[2]
    return [
        (rec[3] - rec[2]) - child[i] if rec[6] and rec[3] is not None else None
        for i, rec in enumerate(tracer.spans)
    ]


def self_times(tracer: Tracer) -> dict[int, dict[str, float]]:
    """Per traced op: layer → self time (s) over the client-thread tree."""
    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for rec, own in zip(tracer.spans, _span_self_s(tracer)):
        if own is not None:
            out[rec[5]][rec[1]] += own
    return out


def io_totals(tracer: Tracer) -> dict[str, float]:
    """``sources.io`` calls (all threads) and client-thread self time,
    by kind (read / write / compact / other)."""
    out: dict[str, float] = defaultdict(float)
    for rec, own in zip(tracer.spans, _span_self_s(tracer)):
        if rec[1] != "sources.io":
            continue
        kind = rec[0].split(":", 1)[0]
        out[f"{kind}_calls"] += 1
        out[f"{kind}_s"] += own or 0.0
    return out


def read_event_log(log_dir: str) -> dict:
    """Parse the uncompressed, non-rolling event log: jobs (submit, end,
    stages), per-stage task totals, SQL execution start times."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    sql: list[float] = []
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": ev.get("Stage IDs", []),
                }
                for sid in jobs[jid]["stages"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                t = tasks[ev["Stage ID"]]
                t["tasks"] += 1
                t["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql.append(ev["time"] / 1000.0)
    return {"jobs": jobs, "stage_job": stage_job, "tasks": tasks, "sql": sql}


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_per_op(tracer: Tracer, log: dict, cores: int) -> dict[int, dict[str, float]]:
    """Attribute event-log jobs to traced ops by submission time inside
    the op's window, and total their stages, tasks and task metrics per
    op. The job group only labels jobs in the log: jobs the engine
    submits from its own thread pools do not carry it."""
    ops = [op for op in tracer.ops if op["traced"]]
    job_op: dict[int, dict] = {}
    for jid, job in log["jobs"].items():
        op = next((o for o in ops if o["epoch0"] <= job["submit"] <= o["epoch1"]), None)
        if op is not None:
            job_op[jid] = op
    out: dict[int, dict[str, float]] = {op["i"]: defaultdict(float) for op in ops}
    intervals: dict[int, list] = defaultdict(list)
    for jid, op in job_op.items():
        job = log["jobs"][jid]
        m = out[op["i"]]
        m["jobs"] += 1
        end = job["end"] if job["end"] is not None else op["epoch1"]
        s, e = max(job["submit"], op["epoch0"]), min(end, op["epoch1"])
        if e > s:
            intervals[op["i"]].append((s, e))
        if job["submit"] < op.get("materialize_epoch", op["epoch1"]):
            m["eager_jobs"] += 1
    for sid, jid in log["stage_job"].items():
        op = job_op.get(jid)
        if op is None or sid not in log["tasks"]:
            continue
        m = out[op["i"]]
        m["stages"] += 1
        for k, v in log["tasks"][sid].items():
            m[k] += v
    for op in ops:
        m = out[op["i"]]
        wall = op["epoch1"] - op["epoch0"]
        m["job_s"] = _union_len(intervals[op["i"]])
        m["driver_gap_s"] = max(0.0, wall - m["job_s"])
        m["sql_executions"] = sum(1 for t in log["sql"] if op["epoch0"] <= t <= op["epoch1"])
        m["busy_denominator"] = m["job_s"] * cores
    return out
