"""End-to-end and per-layer benchmark of the xtdb_spark product path.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Runs one seeded workload (see perfbench/spec.json) as a closed loop from
one process with one client per surface, checks every result against the
workload's model, and prints one JSON object as the last (and only) line
of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, timed with no
wrapper installed. With `--trace 1` the layer boundaries are wrapped
(perfbench/tracer.py), half of the ops are traced, and the metrics are
the per-layer ones. A full record (environment floor, sizes,
per-class samples, layer accounting, and the spans of a traced run) goes
to perfbench/out/.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import envprobe
from pg import PgClient
from tracer import UNWRAPPABLE, Tracer, self_times
from workloads import TABLE, WORKLOADS, Clients

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

END_TO_END = {"setup_s": "s", "read_p50_ms": "ms", "pass_s": "s"}

BITEMPORAL_COUNTED = ("resolve_asof", "valid_history", "polygon_history",
                      "resolve_valid_range", "resolve_system_range")

OP_CLASSES = ("point", "asof_system", "asof_valid", "history", "group",
              "flight_export", "insert", "update", "delete", "txn",
              "submit_tx", "fresh_read", "compact")

PER_LAYER = {
    "pgwire.self_ms": "ms", "pgwire.send_rows_ms": "ms",
    "pgwire.rows_per_s": "1/s", "pgwire.jobs": "count",
    "flight.do_get_ms": "ms", "flight.self_ms": "ms", "flight.jobs": "count",
    "session.sql_ms": "ms", "session.self_ms": "ms",
    "sql.rewriter.ms": "ms", "sql.rewriter.self_ms": "ms",
    "sql.rewriter.jobs": "count", "sql.rewriter.translate_ms": "ms",
    "sql.decorr.ms": "ms",
    "sql.dml.ms": "ms", "sql.dml.jobs": "count",
    "tx.events_calls": "count", "tx.events_ms": "ms",
    "tx.events_jobs": "count", "tx.files_read": "count",
    "tx.rows_scanned_per_result": "ratio",
    "tx.commit_ms": "ms", "tx.commit_jobs": "count",
    "tx.write_amp": "ratio", "tx.l0_files": "count",
    "tx.space_amp": "ratio",
    "compactor.ms": "ms", "compactor.jobs": "count",
    "compactor.bytes_rewritten": "bytes", "compactor.files_in": "count",
    "compactor.files_out": "count",
    "bitemporal.build_ms": "ms",
    **{f"bitemporal.calls.{f}": "count" for f in BITEMPORAL_COUNTED},
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.sql_ms": "ms",
    "spark.exec.ms": "ms", "spark.exec.jobs": "count",
    "spark.exec.stages": "count", "spark.exec.tasks": "count",
    "spark.exec.exchanges": "count", "spark.exec.shuffle_bytes": "bytes",
    "spark.exec.spill_bytes": "bytes",
    "env.job_floor_ms": "ms", "env.py4j_rtt_ms": "ms", "env.steal_pct": "%",
    "trace.overhead_pct": "%", "trace.ab_pct": "%",
    "trace.unattributed_ms": "ms",
    **{f"op.{c}.jobs": "count" for c in OP_CLASSES},
    **{f"op.{c}.ms": "ms" for c in OP_CLASSES},
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true",
                    help="toy sizes from spec.json (self-test only)")
    return ap.parse_args(argv)


# ---- Spark lifetime


def start_spark():
    n = envprobe.cpu_count()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(n))
    local = os.path.join(OUT, "spark-local")
    tmp = os.path.join(OUT, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    # keep every scratch file inside the checkout; HotSpot would write
    # its perf-data file to /tmp whatever java.io.tmpdir says
    no_perf_data = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = no_perf_data
    tempfile.tempdir = tmp

    from xtdb_spark.session import build_spark

    spark = build_spark("perfbench", master=f"local[{n}]", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(OUT, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} {no_perf_data}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = collections.defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids[ppid].append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the session launched and every
    process under it, and wait for them to end."""
    import signal

    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if proc is None:
        return
    stragglers = _descendants(proc.pid)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in stragglers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# ---- one store: seeded warehouse, servers and clients


class Store:
    def __init__(self, spark, wl, warehouse: str, flight_needed: bool):
        from xtdb_spark.session import XtdbSession

        self.warehouse = warehouse
        shutil.rmtree(warehouse, ignore_errors=True)
        xt = XtdbSession(spark, warehouse)
        wl.seed_store(xt)
        self.pg_server = xt.serve_pgwire(port=0)
        self.flight_server = None
        fl = None
        if flight_needed:
            from pyarrow import flight

            self.flight_server = xt.serve_flight()
            fl = flight.connect(f"grpc://127.0.0.1:{self.flight_server.port}")
        self.clients = Clients(xt, PgClient(self.pg_server.port), fl)

    def close(self) -> None:
        c = self.clients
        c.pg.close()
        if c.flight is not None:
            c.flight.close()
        self.pg_server.stop()
        if self.flight_server is not None:
            self.flight_server.shutdown()
        shutil.rmtree(self.warehouse, ignore_errors=True)

    def table_dir(self) -> str:
        return self.clients.xt.store._path(TABLE)


def parquet_bytes(root: str) -> tuple[int, int]:
    """(files, bytes) of the parquet files under `root`."""
    n = b = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                b += os.path.getsize(os.path.join(d, f))
    return n, b


def l0_count(table_dir: str) -> int:
    from xtdb_spark import compactor

    return len(compactor.live_files(table_dir)[0])


def live_files(table_dir: str) -> dict[str, int]:
    from xtdb_spark import compactor

    l0, entries = compactor.live_files(table_dir)
    out = {p: os.path.getsize(p) for p in l0}
    for e in entries:
        p = compactor.entry_path(table_dir, e)
        out[p] = os.path.getsize(p)
    return out


# ---- the closed loop


def run_op(op) -> tuple[object, str | None]:
    """Run one op; (result, None) if it succeeded and was right, else
    (result, why not)."""
    try:
        res = op.run()
    except Exception as e:  # noqa: BLE001 - an op failure is a result
        return None, f"{op.cls}: {type(e).__name__}: {e}"[:500]
    return res, op.check(res)


def closed_loop(wl, store: Store, seconds: float, tracer) -> list[dict]:
    """Run the workload's op sequence until `seconds` have passed and at
    least one full pass of its mix has run. With a tracer, the first pass
    warms every query shape, then whole passes alternate untraced and
    traced (at least one each), so the two arms run the same ops warm."""
    gen = wl.ops(store.clients)
    n = len(wl.mix)
    min_ops = 3 * n if tracer is not None else n
    samples: list[dict] = []
    t_end = time.perf_counter() + seconds
    i = 0
    while True:
        op = next(gen)
        warmup = tracer is not None and i < n
        traced = tracer is not None and (i // n) % 2 == 0 and not warmup
        rec = {"i": i, "cls": op.cls, "traced": traced, "warmup": warmup}
        if traced:
            before = live_files(store.table_dir())
            root = tracer.begin_op(i, op.cls)
            jobs0 = tracer.jobs_started()
            tracer.enabled = True
        t0 = time.perf_counter()
        res, err = run_op(op)
        rec["ms"] = (time.perf_counter() - t0) * 1e3
        if traced:
            tracer.enabled = False
            tracer.end_op(root)
            rec["root"] = root["id"]
            rec["facts"] = tracer.spark_facts(jobs0, tracer.jobs_started())
            after = live_files(store.table_dir())
            rec["bytes_added"] = sum(s for p, s in after.items()
                                     if p not in before)
            rec["files_in"] = sum(1 for p in before if p not in after)
            rec["files_out"] = sum(1 for p in after if p not in before)
            rec["payload"] = op.payload_bytes
        if err is None:
            op.apply()
            if hasattr(res, "num_rows"):
                rec["rows"] = res.num_rows
            elif isinstance(res, list):
                rec["rows"] = len(res)
        rec["error"] = err
        samples.append(rec)
        i += 1
        if i >= min_ops and time.perf_counter() >= t_end:
            return samples


# ---- metrics


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def class_summary(samples) -> dict:
    out = {}
    for cls in dict.fromkeys(s["cls"] for s in samples):
        ms = sorted(s["ms"] for s in samples if s["cls"] == cls)
        out[cls] = {"n": len(ms), "p50_ms": _median(ms),
                    "min_ms": ms[0], "max_ms": ms[-1],
                    "failed": sum(1 for s in samples
                                  if s["cls"] == cls and s["error"])}
    return out


def end_to_end(wl, samples, setups) -> dict:
    by = collections.defaultdict(list)
    for s in samples:
        by[s["cls"]].append(s["ms"])
    return {
        "setup_s": _median(setups),
        "read_p50_ms": _median(by[wl.read_class]),
        # one pass of the fixed mix, from the per-class medians, so a
        # partial last pass cannot shift the op proportions
        "pass_s": sum(_median(by[c]) for c in wl.mix) / 1e3,
    }


def _mean(total, n):
    return total / n if n else 0.0


def layer_metrics(tracer, samples, env: dict, store: Store,
                  payload: int) -> tuple[dict, dict]:
    """Per-layer metrics (each a per-call, per-query or per-op mean over
    the traced ops) and the per-class accounting of traced wall time."""
    spans = tracer.spans
    st = self_times(spans)
    traced = [s for s in samples if s["traced"]]
    by_name = collections.defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)

    def calls(*names):
        return sum(len(by_name[n]) for n in names)

    def incl_ms(*names):        # inclusive time of the named spans
        return sum(s["t1"] - s["t0"] for n in names
                   for s in by_name[n]) * 1e3

    def incl_jobs(*names):
        return sum(s["jobs"] for n in names for s in by_name[n])

    def self_ms(layer):
        return sum(st[s["id"]] for s in spans if s["layer"] == layer) * 1e3

    def per_op(key):            # Spark facts of the traced ops
        return _mean(sum(s["facts"][key] for s in traced), len(traced))

    def per_compact(key):
        mine = [s[key] for s in traced if s["cls"] == "compact"]
        return _mean(sum(mine), len(mine))

    run, send = "_Conn._run", "_Conn._send_rows"
    do_get, sql = "XtdbFlightServer.do_get", "XtdbSession.sql"
    rw, events = "rewriter.rewrite_with_args", "TableStore.events"
    dml = ("dml.execute_dml", "dml.record_dml_ops")
    bt = [f"bitemporal.{f}" for f in BITEMPORAL_COUNTED]
    parent = {s["id"]: s for s in spans}
    commits = [s for s in spans if s["layer"] == "tx.write" and parent.get(
        s["parent"], {}).get("layer") != "tx.write"]
    writes = [s for s in traced if s.get("payload")]
    pg_rows = sum(s.get("rows", 0) for s in traced
                  if s["cls"] not in ("flight_export", "submit_tx", "compact"))
    m = {
        "pgwire.self_ms": _mean(self_ms("pgwire"), calls(run)),
        "pgwire.send_rows_ms": _mean(incl_ms(send), calls(send)),
        "pgwire.rows_per_s": _mean(pg_rows, incl_ms(send) / 1e3),
        "pgwire.jobs": _mean(incl_jobs(send), calls(send)),
        "flight.do_get_ms": _mean(incl_ms(do_get), calls(do_get)),
        "flight.self_ms": _mean(self_ms("flight"), calls(do_get)),
        "flight.jobs": _mean(incl_jobs(do_get), calls(do_get)),
        "session.sql_ms": _mean(incl_ms(sql), calls(sql)),
        "session.self_ms": _mean(self_ms("session"), calls(sql)),
        "sql.rewriter.ms": _mean(incl_ms(rw), calls(rw)),
        "sql.rewriter.self_ms": _mean(self_ms("sql.rewriter"), calls(rw)),
        "sql.rewriter.jobs": _mean(incl_jobs(rw), calls(rw)),
        "sql.rewriter.translate_ms": _mean(incl_ms("constructs.translate"),
                                           calls(rw)),
        "sql.decorr.ms": _mean(incl_ms("decorr.decorrelate_join_on"),
                               calls(rw)),
        "sql.dml.ms": _mean(incl_ms(*dml), calls(*dml)),
        "sql.dml.jobs": _mean(incl_jobs(*dml), calls(*dml)),
        "tx.events_calls": _mean(calls(events), calls(sql)),
        "tx.events_ms": _mean(incl_ms(events), calls(events)),
        "tx.events_jobs": _mean(incl_jobs(events), calls(events)),
        "tx.files_read": per_op("files_read"),
        "tx.rows_scanned_per_result": _mean(
            sum(s["facts"]["scan_rows"] for s in traced),
            sum(s.get("rows", 0) for s in traced)),
        "tx.commit_ms": _mean(sum(s["t1"] - s["t0"] for s in commits) * 1e3,
                              len(commits)),
        "tx.commit_jobs": _mean(sum(s["jobs"] for s in commits), len(commits)),
        "tx.write_amp": _mean(sum(s["bytes_added"] for s in writes),
                              sum(s["payload"] for s in writes)),
        "tx.space_amp": _mean(parquet_bytes(store.table_dir())[1], payload),
        "tx.l0_files": l0_count(store.table_dir()),
        "compactor.ms": _mean(incl_ms("TableStore.compact"),
                              calls("TableStore.compact")),
        "compactor.jobs": _mean(incl_jobs("TableStore.compact"),
                                calls("TableStore.compact")),
        "compactor.bytes_rewritten": per_compact("bytes_added"),
        "compactor.files_in": per_compact("files_in"),
        "compactor.files_out": per_compact("files_out"),
        "bitemporal.build_ms": _mean(self_ms("bitemporal"), calls(sql)),
        **{f"bitemporal.calls.{f}": _mean(calls(n), calls(sql))
           for f, n in zip(BITEMPORAL_COUNTED, bt)},
        "catalyst.analysis_ms": per_op("analysis_ms"),
        "catalyst.optimization_ms": per_op("optimization_ms"),
        "catalyst.planning_ms": per_op("planning_ms"),
        "catalyst.sql_ms": _mean(self_ms("catalyst"), len(traced)),
        "spark.exec.ms": _mean(self_ms("spark.exec"), len(traced)),
        **{f"spark.exec.{k}": per_op(k) for k in (
            "jobs", "stages", "tasks", "exchanges", "shuffle_bytes",
            "spill_bytes")},
        "env.job_floor_ms": env["job_floor_ms"],
        "env.py4j_rtt_ms": env["py4j_rtt_ms"],
        "env.steal_pct": env["steal_pct"],
        "trace.overhead_pct": _mean(
            tracer.cost_s * 100,
            sum(s["ms"] for s in traced) / 1e3 - tracer.cost_s),
        "trace.ab_pct": ab_pct(samples),
        "trace.unattributed_ms": _mean(
            sum(st[s["root"]] for s in traced) * 1e3, len(traced)),
    }
    for c in OP_CLASSES:
        mine = [s for s in traced if s["cls"] == c]
        m[f"op.{c}.jobs"] = _mean(sum(s["facts"]["jobs"] for s in mine),
                                  len(mine))
        m[f"op.{c}.ms"] = _median([s["ms"] for s in mine])
    return m, accounting(spans, st, traced)


def ab_pct(samples) -> float:
    """Traced vs untraced medians, summed over the classes run both ways
    in this process. The traced pass runs after the untraced one, so
    JIT warm-up still under way biases this toward the traced arm."""
    t = u = 0.0
    timed = [s for s in samples if not s["warmup"]]
    for cls in dict.fromkeys(s["cls"] for s in timed):
        on = [s["ms"] for s in timed if s["cls"] == cls and s["traced"]]
        off = [s["ms"] for s in timed if s["cls"] == cls and not s["traced"]]
        if on and off:
            t += _median(on)
            u += _median(off)
    return (t / u - 1) * 100 if u else 0.0


def accounting(spans, st, traced) -> dict:
    """Per op class: mean traced wall, mean self time per layer, and the
    remainder no layer claims (the client root span's self time)."""
    by_op = collections.defaultdict(list)
    by_id = {}
    for s in spans:
        by_op[s["op"]].append(s)
        by_id[s["id"]] = s
    out = {}
    for cls in dict.fromkeys(s["cls"] for s in traced):
        mine = [s for s in traced if s["cls"] == cls]
        layers = collections.Counter()
        for s in mine:
            for sp in by_op[s["i"]]:
                if sp["id"] != s["root"]:
                    layers[sp["layer"]] += st[sp["id"]] * 1e3
        k = len(mine)
        root_wall = sum(by_id[s["root"]]["t1"] - by_id[s["root"]]["t0"]
                        for s in mine) * 1e3 / k
        unattributed = sum(st[s["root"]] for s in mine) * 1e3 / k
        self_ms = {ly: v / k for ly, v in sorted(layers.items())}
        out[cls] = {"ops": k, "wall_ms": root_wall, "layer_self_ms": self_ms,
                    "unattributed_ms": unattributed,
                    "sum_ms": sum(self_ms.values()) + unattributed}
    return out


# ---- one run


def bench(args) -> dict:
    sys.path.insert(0, ROOT)
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from "
                         f"{sorted(spec['workloads'])}")
    wspec = spec["workloads"][args.workload]
    params = dict(wspec["params"], **(wspec["toy"] if args.toy else {}))

    import xtdb_spark

    if os.path.dirname(os.path.abspath(xtdb_spark.__file__)) != os.path.join(
            ROOT, "xtdb_spark"):
        raise RuntimeError("xtdb_spark is not the checkout's own copy: "
                           f"{xtdb_spark.__file__}")

    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    t_start = time.perf_counter()
    spark = start_spark()
    store = None
    try:
        jvm_s = time.perf_counter() - t_start
        env = envprobe.probe(spark, ROOT)
        wl = WORKLOADS[args.workload](params, args.seed)
        setups, setup_errors = [], []
        flight_needed = "flight_export" in wl.mix
        for rep in range(spec["setup_reps"]):
            if store is not None:
                store.close()
            t0 = time.perf_counter()
            store = Store(spark, wl, os.path.join(OUT, f"wh-{tag}-{rep}"),
                          flight_needed)
            _, err = run_op(wl.first_op(store.clients))
            setups.append(time.perf_counter() - t0)
            if err:
                setup_errors.append(err)
        sizes = dict(wl.sizes(), **dict(zip(
            ("files", "bytes"), parquet_bytes(store.table_dir()))))

        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            tracer.install()
        ticks = envprobe.cpu_ticks()
        try:
            samples = closed_loop(wl, store, args.seconds, tracer)
        finally:
            if tracer is not None:
                tracer.uninstall()
        env["steal_pct"] = envprobe.steal_pct(ticks, envprobe.cpu_ticks())
        checked, bad = wl.final_check(spark, store.warehouse)
        files, nbytes = parquet_bytes(store.table_dir())
        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "toy": args.toy,
            "loop": wspec["loop"], "clients": wspec["clients"],
            "mix": wl.mix,
            "jvm_start_s": jvm_s, "env": env, "setup_s": setups,
            "sizes_at_start": sizes,
            "sizes_at_end": {"files": files, "mb": nbytes / 2**20,
                             "l0_files": l0_count(store.table_dir())},
            "classes": class_summary(samples),
            "ops": [[s["cls"], round(s["ms"], 1), s["traced"]]
                    for s in samples],
            "errors": setup_errors + [s["error"] for s in samples
                                     if s["error"]][:20] + bad[:20],
        }
        failed = (len(setup_errors) + sum(1 for s in samples if s["error"])
                  + len(bad))
        attempted = len(setups) + len(samples) + checked
        if args.trace:
            metrics, acct = layer_metrics(tracer, samples, env, store,
                                          wl.payload)
            units = PER_LAYER
            record["accounting"] = acct
            record["unwrappable"] = UNWRAPPABLE
            with open(os.path.join(OUT, f"{tag}.spans.jsonl"), "w") as f:
                for s in tracer.spans:
                    f.write(json.dumps(s) + "\n")
        else:
            metrics = end_to_end(wl, samples, setups)
            units = END_TO_END
        record["metrics"] = metrics
        with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
        summarize(record)
        return {"correct": failed == 0, "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u}
                            for k, u in units.items()}}
    finally:
        if store is not None:
            store.close()
        stop_spark(spark)


def summarize(record: dict) -> None:
    """Human-readable digest on standard error."""
    p = lambda *a: print(*a, file=sys.stderr)  # noqa: E731
    env = record["env"]
    p(f"[perfbench] {record['workload']} seed={record['seed']} "
      f"trace={record['trace']} jvm={record['jvm_start_s']:.1f}s "
      f"setups={[round(s, 2) for s in record['setup_s']]} "
      f"floor={env['job_floor_ms']:.1f}ms rtt={env['py4j_rtt_ms']:.3f}ms "
      f"steal={env['steal_pct']:.1f}% load={env['loadavg'][0]:.2f}")
    for cls, c in record["classes"].items():
        p(f"  {cls:14s} n={c['n']:3d} p50={c['p50_ms']:9.1f}ms "
          f"min={c['min_ms']:9.1f} max={c['max_ms']:9.1f} "
          f"failed={c['failed']}")
    for cls, a in record.get("accounting", {}).items():
        layers = " ".join(f"{k}={v:.0f}"
                          for k, v in a["layer_self_ms"].items())
        p(f"  acct {cls:14s} wall={a['wall_ms']:.0f} sum={a['sum_ms']:.0f} "
          f"unattributed={a['unattributed_ms']:.0f} | {layers}")
    for e in record["errors"][:5]:
        p(f"  error: {e}")


def main(argv=None) -> int:
    args = parse_args(argv)
    # stdout carries only the result: route fd 1 (the JVM inherits it)
    # to stderr and keep a private handle for the final line
    result_fd = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    try:
        result = bench(args)
    except Exception:  # noqa: BLE001 - report, then fail the run
        traceback.print_exc()
        return 1
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
