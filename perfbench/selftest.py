"""Self-test of the benchmark at toy sizes.

    python3 perfbench/selftest.py            # ~4 minutes at 4 cores

Checks that
- every workload runs, traced and untraced, and prints every metric
  BENCHMARK.json names, with its unit, as the only line on stdout;
- the checkers reject a deliberately wrong expected value (run on fake
  clients, no Spark needed);
- outside a checkout (only BENCHMARK.json and perfbench/ present) the
  benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from datetime import datetime, timedelta

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


class FakeXt:
    """Stands in for XtdbSession.put: hands out increasing system times."""

    def __init__(self):
        self.t = datetime(2026, 1, 1)

    def put(self, table, rows):
        self.t += timedelta(milliseconds=3)
        return self.t


class FakePg:
    """A pgwire client whose server answers `respond(sql)`."""

    def __init__(self, respond):
        self.respond = respond

    def query(self, sql):
        return [], self.respond(sql), "SELECT"


def _asof_rows(wl, sql: str, nudge: float) -> list[tuple]:
    k = int(sql.rsplit("= ", 1)[1])
    t = datetime.fromisoformat(sql.split("TIMESTAMP '")[1].split("'")[0])
    want = [r for st, r in wl.versions[k] if st <= t][-1]
    return [(want["name"], repr(want["score"] + nudge))]


def _agg_rows(wl, nudge: int) -> list[tuple]:
    agg = {}
    for r in wl.current.values():
        n, s = agg.get(r["grp"], (0, 0.0))
        agg[r["grp"]] = (n + 1, s + r["score"])
    rows = [(str(g), str(n), repr(s)) for g, (n, s) in sorted(agg.items())]
    rows[0] = (rows[0][0], str(int(rows[0][1]) + nudge), rows[0][2])
    return rows


def check_rejects_wrong_values() -> None:
    """Each checker accepts the model's answer and rejects one wrong
    value in it."""
    from workloads import Clients, Ingest, Serve

    wl = Serve({"entities": 50, "update_txs": 4, "rows_per_update_tx": 3}, 7)
    wl.seed_store(FakeXt())
    for nudge, ok in ((0, True), (0.25, False)):
        cur = wl.current[3]
        c = Clients(None, FakePg(lambda sql: [
            (cur["name"], repr(cur["score"] + nudge))]))
        op = wl._point(c, 3)
        assert (op.check(op.run()) is None) == ok, ("point", nudge)
        for cls in ("asof_system", "asof_valid"):
            c = Clients(None, FakePg(lambda sql: _asof_rows(wl, sql, nudge)))
            op = wl._asof(c, cls)
            assert (op.check(op.run()) is None) == ok, (cls, nudge)
        c = Clients(None, FakePg(lambda sql: _agg_rows(wl, int(nudge * 4))))
        op = wl._group(c)
        assert (op.check(op.run()) is None) == ok, ("group", nudge)

    ing = Ingest({"entities": 20, "submit_batch": 4}, 7)
    ing.seed_store(FakeXt())
    r = ing.current[5]
    op = ing._read(Clients(None, None), 5)
    assert op.check([(r["name"], repr(r["score"]))]) is None
    assert op.check([(r["name"] + "x", repr(r["score"]))]) is not None
    ing._drop(5)
    op = ing._read(Clients(None, None), 5)
    assert op.check([]) is None
    assert op.check([(r["name"], repr(r["score"]))]) is not None


def run(args: list[str], cwd: str) -> tuple[int, str]:
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench",
                                                     "run.py")] + args,
                       cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=600)
    return p.returncode, p.stdout


def check_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            rc, out = run(["--workload", w["name"], "--seed", "1",
                           "--seconds", "1", "--trace", str(trace),
                           "--toy"], ROOT)
            assert rc == 0, (w["name"], trace, rc)
            lines = out.splitlines()
            assert len(lines) == 1, f"stdout is not just the result: {out!r}"
            res = json.loads(lines[0])
            assert sorted(res) == ["attempted", "correct", "failed", "metrics"]
            assert res["correct"] and res["failed"] == 0, res
            want = {m["name"]: m["unit"] for m in bench[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (w["name"], trace, set(got) ^ set(want))
            print(f"ok: {w['name']} trace={trace} "
                  f"({res['attempted']} ops)", flush=True)


def check_outside_checkout() -> None:
    bare = os.path.join(HERE, "out", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    rc, out = run(["--workload", "serve", "--seed", "1", "--seconds", "1",
                   "--trace", "0"], bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert rc != 0 and not out.strip(), (rc, out)
    print("ok: exits", rc, "without a result outside a checkout")


def main() -> int:
    check_rejects_wrong_values()
    print("ok: checkers reject wrong expected values", flush=True)
    check_outside_checkout()
    check_runs()
    return 0


if __name__ == "__main__":
    sys.exit(main())
