"""Layer tracing from outside the program.

`Tracer.install()` replaces the public functions and methods the layers
call through module or class attributes with wrappers that record one
span per call: name, layer, start, end, parent span, op id and the
number of Spark jobs started while it ran. Spans stay in memory; the
benchmark writes them out at the end of a traced run.

Job counts use the DAG scheduler's job counter, which counts jobs of
every job group (pgwire connections run in their own `pgwire-<pid>`
group). With one client in a closed loop only one op is in flight, so
the jobs started inside a span belong to it.

Self time is a span's duration minus the durations of its children.
Children of one span run one after another (the code is synchronous and
a closed loop has one op in flight), so the sum equals the time they
cover. A span opened on a thread with no open span (a pgwire or Flight
handler thread) is parented to the current op's root span.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time

from py4j.protocol import Py4JError

# Boundaries that cannot be wrapped from outside the program, and why.
UNWRAPPABLE = {
    "sql.rewriter._Rewriter internals": (
        "`_inject_auto_prefilters` and `_table_ref` are private methods; "
        "their cost shows as rewriter self time and their event scans as "
        "`TableStore.events` calls"),
    "pgwire statement parse/dispatch": (
        "`_Conn._dispatch` and socket reads outside `_run` are not "
        "separated; they fall into the client root span's remainder"),
    "catalyst phases": (
        "taken from QueryPlanningTracker of the DataFrames the op "
        "materializes; analysis done inside `SparkSession.sql` also "
        "shows as that span's time"),
    "queries/operators/pipeline": (
        "the catalog heads read the fixed TPC-H test data of TESTDATA.md, "
        "which lives outside the checkout, so no workload runs them"),
}


def layer_targets():
    """(owner, attribute, layer) for every wrapped boundary."""
    from pyspark.sql import readwriter, session as pysession
    from pyspark.sql.classic import dataframe as cdf

    from xtdb_spark import bitemporal, flight, pgwire, session
    from xtdb_spark.sql import constructs, decorr, dml, rewriter
    from xtdb_spark.tx import TableStore

    out = [
        (pgwire._Conn, "_run", "pgwire"),
        (pgwire._Conn, "_send_rows", "pgwire"),
        (session.XtdbSession, "sql", "session"),
        (rewriter, "rewrite_with_args", "sql.rewriter"),
        (constructs, "translate", "sql.constructs"),
        (decorr, "decorrelate_join_on", "sql.decorr"),
        (dml, "execute_dml", "sql.dml"),
        (dml, "record_dml_ops", "sql.dml"),
        (TableStore, "events", "tx.read"),
        (TableStore, "scan", "tx.read"),
        (TableStore, "lookup", "tx.read"),
        (TableStore, "put", "tx.write"),
        (TableStore, "delete", "tx.write"),
        (TableStore, "submit_tx", "tx.write"),
        (TableStore, "compact", "compactor"),
        (pysession.SparkSession, "sql", "catalyst"),
        (cdf.DataFrame, "collect", "spark.exec"),
        (cdf.DataFrame, "toArrow", "spark.exec"),
        (cdf.DataFrame, "count", "spark.exec"),
        (cdf.DataFrame, "localCheckpoint", "spark.exec"),
        (readwriter.DataFrameWriter, "parquet", "spark.exec"),
    ]
    for fn in BITEMPORAL_FNS:
        out.append((bitemporal, fn, "bitemporal"))
    if getattr(flight, "_HAVE_FLIGHT", False):
        out.append((flight.XtdbFlightServer, "do_get", "flight"))
    return out


BITEMPORAL_FNS = ("resolve_asof", "valid_history", "polygon_history",
                  "polygon_history_streamed", "resolve_valid_range",
                  "resolve_system_range", "with_system_to", "drop_erased")


class Tracer:
    def __init__(self, spark):
        self._scala_sc = spark.sparkContext._jsc.sc()
        self._dag = self._scala_sc.dagScheduler()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        self.spans: list[dict] = []
        self.enabled = False
        self.op_id: int | None = None
        self.op_root: int | None = None
        self.frames: list = []          # DataFrames the current op ran
        self.cost_s = 0.0
        self._next_id = 0

    # ---- counters

    def jobs_started(self) -> int:
        return self._dag.numTotalJobs()

    # ---- spans

    def _new_id(self) -> int:
        with self._lock:
            self._next_id += 1
            return self._next_id

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """Record one span; the bookkeeping before `t0` and after `t1` is
        added to `cost_s`, the time tracing itself adds to the ops."""
        if not self.enabled or self.op_id is None:
            yield None
            return
        enter = time.perf_counter()
        stack = self._stack()
        rec = {"id": self._new_id(), "name": name, "layer": layer,
               "op": self.op_id,
               "parent": stack[-1]["id"] if stack else self.op_root,
               "thread": threading.current_thread().name,
               "jobs0": self.jobs_started()}
        stack.append(rec)
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            rec["jobs"] = self.jobs_started() - rec.pop("jobs0")
            stack.pop()
            with self._lock:
                self.spans.append(rec)
                self.cost_s += (rec["t0"] - enter
                                + time.perf_counter() - rec["t1"])

    def begin_op(self, op_id: int, cls: str) -> dict:
        """Open the client-side root span of one op."""
        self.op_id = op_id
        self.frames = []
        rec = {"id": self._new_id(), "name": f"op.{cls}", "layer": "client",
               "op": op_id, "parent": None,
               "thread": threading.current_thread().name,
               "jobs0": self.jobs_started(), "t0": time.perf_counter()}
        self.op_root = rec["id"]
        self._stack().append(rec)
        return rec

    def end_op(self, rec: dict) -> None:
        rec["t1"] = time.perf_counter()
        rec["jobs"] = self.jobs_started() - rec.pop("jobs0")
        self._stack().pop()
        with self._lock:
            self.spans.append(rec)
        self.op_id = self.op_root = None

    # ---- wrapping

    def install(self) -> None:
        for owner, attr, layer in layer_targets():
            orig = owner.__dict__[attr]
            name = f"{owner.__name__.rsplit('.', 1)[-1]}.{attr}"
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name, layer))
        from pyspark.sql.classic import dataframe as cdf

        orig = cdf.DataFrame.__dict__["toLocalIterator"]
        self._saved.append((cdf.DataFrame, "toLocalIterator", orig))
        cdf.DataFrame.toLocalIterator = self._wrap_iterator(orig)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def _wrap(self, fn, name: str, layer: str):
        tracer = self
        # DataFrames whose own plan runs (count and localCheckpoint
        # execute a derived plan, so theirs carries no metrics)
        is_frame_action = name in ("DataFrame.collect", "DataFrame.toArrow")

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled or tracer.op_id is None:
                return fn(*args, **kwargs)
            if is_frame_action:
                tracer.frames.append(args[0])
            with tracer.span(name, layer):
                return fn(*args, **kwargs)
        return wrapper

    def _wrap_iterator(self, fn):
        """`toLocalIterator` returns at once and runs one job per result
        partition while the caller iterates, so the span is the call
        plus the time spent inside `next()`; the encoding work between
        `next()` calls stays in the caller's self time."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(df, *args, **kwargs):
            if not tracer.enabled or tracer.op_id is None:
                return fn(df, *args, **kwargs)
            tracer.frames.append(df)
            stack = tracer._stack()
            parent = stack[-1]["id"] if stack else tracer.op_root
            op_id = tracer.op_id
            t0 = time.perf_counter()
            jobs0 = tracer.jobs_started()
            it = fn(df, *args, **kwargs)
            busy = time.perf_counter() - t0

            def gen():
                nonlocal busy
                try:
                    while True:
                        s = time.perf_counter()
                        try:
                            row = next(it)
                        except StopIteration:
                            busy += time.perf_counter() - s
                            return
                        busy += time.perf_counter() - s
                        yield row
                finally:
                    rec = {"id": tracer._new_id(),
                           "name": "DataFrame.toLocalIterator",
                           "layer": "spark.exec", "op": op_id,
                           "parent": parent,
                           "thread": threading.current_thread().name,
                           "t0": t0, "t1": t0 + busy,
                           "jobs": tracer.jobs_started() - jobs0}
                    with tracer._lock:
                        tracer.spans.append(rec)
            return gen()
        return wrapper

    # ---- Spark-side facts of one op (read after the op is timed)

    def spark_facts(self, jobs_from: int, jobs_to: int) -> dict:
        """Stages, tasks, shuffle and spill of the jobs in [from, to),
        read from the status store, plus rows, exchanges and Catalyst
        phase times from the executed plans of the op's DataFrames."""
        # job and stage records arrive through the listener bus
        self._scala_sc.listenerBus().waitUntilEmpty()
        store = self._scala_sc.statusStore()
        stages: set[int] = set()
        tasks = 0
        for j in range(jobs_from, jobs_to):
            try:
                jd = store.job(j)
            except Py4JError:       # evicted from the status store
                continue
            tasks += jd.numTasks()
            ids = jd.stageIds()
            for i in range(ids.size()):
                stages.add(ids.apply(i))
        facts = {"jobs": jobs_to - jobs_from, "stages": len(stages),
                 "tasks": tasks, "exchanges": 0, "shuffle_bytes": 0,
                 "spill_bytes": 0, "scan_rows": 0, "files_read": 0,
                 "analysis_ms": 0.0,
                 "optimization_ms": 0.0, "planning_ms": 0.0}
        for df in self.frames:
            qe = df._jdf.queryExecution()
            phases = qe.tracker().phases()
            it = phases.iterator()
            while it.hasNext():
                e = it.next()
                key = f"{e._1()}_ms"
                if key in facts:
                    facts[key] += e._2().endTimeMs() - e._2().startTimeMs()
            plan = qe.executedPlan()
            if plan.nodeName() == "AdaptiveSparkPlan":
                plan = plan.finalPhysicalPlan()
            _walk_plan(plan, facts)
        self.frames = []
        return facts


def _walk_plan(node, facts: dict) -> None:
    """Sum plan metrics the way `plans.explain.explain_analyze` walks
    them: every node, descending into AQE query stages."""
    name = node.nodeName()
    m = node.metrics()

    def metric(key):
        return m.apply(key).value() if m.contains(key) else 0

    if "Exchange" in name and "Reused" not in name:
        facts["exchanges"] += 1
    if name == "Exchange":      # a shuffle, not a broadcast
        facts["shuffle_bytes"] += metric("shuffleBytesWritten")
    if "Scan" in name:
        facts["scan_rows"] += metric("numOutputRows")
        facts["files_read"] += metric("numFiles")
    facts["spill_bytes"] += metric("spillSize")
    if name.endswith("QueryStage"):     # the stage's executed sub-plan
        _walk_plan(node.plan(), facts)
    ch = node.children().iterator()
    while ch.hasNext():
        _walk_plan(ch.next(), facts)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → self seconds (duration minus children's durations)."""
    child_sum: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_sum[s["parent"]] = child_sum.get(s["parent"], 0.0) + (
                s["t1"] - s["t0"])
    return {s["id"]: max(0.0, s["t1"] - s["t0"] - child_sum.get(s["id"], 0.0))
            for s in spans}

