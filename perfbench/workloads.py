"""The benchmark's workloads: seeded data, a fixed op mix, and a model of
what each op must return.

A workload object owns its generator and its model. `seed_store` writes
the generated rows through the library and records the system time of
every transaction; `ops()` yields the closed-loop op sequence, one op at
a time, so that ops chosen later can depend on writes made earlier. The
program under test only ever sees the generated rows and SQL text.
"""

from __future__ import annotations

import collections
import json
import random
from dataclasses import dataclass
from datetime import datetime
from typing import Callable

TABLE = "users"


@dataclass
class Op:
    cls: str
    run: Callable[[], object]
    check: Callable[[object], str | None]   # None = correct, else why not
    apply: Callable[[], None] = lambda: None  # model update once acknowledged
    payload_bytes: int = 0                  # user bytes a write carries


@dataclass
class Clients:
    xt: object                  # XtdbSession (library caller)
    pg: object                  # PgClient (one pgwire connection)
    flight: object | None = None  # pyarrow.flight client


def _row(rng: random.Random, _id: int, grp: int | None = None) -> dict:
    # fixed column types across seed and every write: BIGINT, VARCHAR,
    # DOUBLE, BIGINT (a type change sends reads through failing
    # schema-merge jobs, which is a finding, not this benchmark's load)
    return {"_id": _id, "name": f"n{rng.randrange(1 << 30):x}",
            "score": rng.randrange(4_000_000) / 4,
            "grp": rng.randrange(20) if grp is None else grp}


def _payload(row: dict) -> int:
    return 24 + len(row["name"])


def _ts(text: str) -> datetime:
    """pgwire timestamptz text (`2026-01-02 03:04:05.1+00`) → naive UTC."""
    return datetime.fromisoformat(text.replace("+00", ""))


def _same_row(got: tuple, want: dict) -> bool:
    return got[0] == want["name"] and float(got[1]) == want["score"]


def _dbl(x: float) -> str:
    return f"{x!r}E0"            # a DOUBLE literal, never a DECIMAL


def flight_export(c: Clients, current: dict, rng: random.Random) -> Op:
    """Flight `do_get` of one group's rows (~1/20 of the live entities)."""
    from pyarrow import flight

    g = rng.randrange(20)
    want = {i: r["score"] for i, r in current.items()
            if r is not None and r["grp"] == g}
    ticket = flight.Ticket(json.dumps({
        "sql": f"SELECT _id, score FROM {TABLE} WHERE grp = {g}",
        "args": []}).encode())

    def check(tbl):
        got = dict(zip(tbl.column("_id").to_pylist(),
                       tbl.column("score").to_pylist()))
        return None if got == want else (
            f"flight export grp={g}: {len(got)} rows, want {len(want)}")
    return Op("flight_export", lambda: c.flight.do_get(ticket).read_all(),
              check)


class Serve:
    """Point-read traffic over pgwire on a store left with many L0
    files: one bulk put plus small update transactions, no compaction.
    As-of and history reads target entities an update touched."""

    name = "serve"
    read_class = "point"
    mix = ("point", "asof_system", "point", "asof_valid", "point",
           "history", "group")

    def __init__(self, params: dict, seed: int):
        rng = random.Random(seed)
        n = params["entities"]
        self.rows = [_row(rng, i) for i in range(n)]
        self.update_txs = []
        for _ in range(params["update_txs"]):
            ids = [rng.randrange(n)
                   for _ in range(params["rows_per_update_tx"])]
            # an update keeps the entity's group
            self.update_txs.append([_row(rng, k, self.rows[k]["grp"])
                                    for k in ids])
        self.op_rng = random.Random(seed * 7919 + 1)

    def seed_store(self, xt) -> None:
        self.versions: dict[int, list[tuple[datetime, dict]]] = {}
        st = xt.put(TABLE, self.rows)
        self.tx_times = [st]
        for r in self.rows:
            self.versions[r["_id"]] = [(st, r)]
        for tx in self.update_txs:
            st = xt.put(TABLE, tx)
            self.tx_times.append(st)
            latest = {}
            for r in tx:            # within a tx the last put of an id wins
                latest[r["_id"]] = r
            for r in latest.values():
                self.versions[r["_id"]].append((st, r))
        self.current = {i: v[-1][1] for i, v in self.versions.items()}
        self.payload = sum(_payload(r) for v in self.versions.values()
                           for _, r in v)

    def sizes(self) -> dict:
        return {"entities": len(self.rows),
                "events": sum(len(v) for v in self.versions.values()),
                "txs": len(self.tx_times)}

    def first_op(self, c: Clients) -> Op:
        return self._point(c, 0)

    # ---- ops

    def _pg_rows(self, c: Clients, sql: str):
        return lambda: c.pg.query(sql)[1]

    def _point(self, c: Clients, k: int) -> Op:
        want = self.current[k]
        return Op("point",
                  self._pg_rows(c, f"SELECT name, score FROM {TABLE} "
                                   f"WHERE _id = {k}"),
                  lambda rows: None if len(rows) == 1
                  and _same_row(rows[0], want) else f"point {k}: {rows}")

    def _asof(self, c: Clients, cls: str) -> Op:
        # one of the last 8 update txs: enough files are visible at that
        # time to keep the listing (and job count) of every as-of read
        # the same; earlier times would prune below the listing threshold
        j = self.op_rng.randrange(max(1, len(self.tx_times) - 8),
                                  len(self.tx_times))
        k = self.op_rng.choice(self.update_txs[j - 1])["_id"]
        lo = self.tx_times[j]
        hi = self.tx_times[j + 1] if j + 1 < len(self.tx_times) else None
        t = lo + (hi - lo) / 2 if hi else lo
        want = [r for st, r in self.versions[k] if st <= t][-1]
        axis = "SYSTEM_TIME" if cls == "asof_system" else "VALID_TIME"
        sql = (f"SELECT name, score FROM {TABLE} FOR {axis} AS OF "
               f"TIMESTAMP '{t.isoformat(sep=' ')}' WHERE _id = {k}")
        return Op(cls, self._pg_rows(c, sql),
                  lambda rows: None if len(rows) == 1
                  and _same_row(rows[0], want) else f"{cls} {k}@{t}: {rows}")

    def _history(self, c: Clients) -> Op:
        tx = self.update_txs[self.op_rng.randrange(len(self.update_txs))]
        k = self.op_rng.choice(tx)["_id"]
        want = sorted((st, r["name"], r["score"])
                      for st, r in self.versions[k])
        sql = (f"SELECT name, score, _system_from FROM {TABLE} "
               f"FOR ALL SYSTEM_TIME WHERE _id = {k}")

        def check(rows):
            got = sorted((_ts(s), n, float(v)) for n, v, s in rows)
            return None if got == want else f"history {k}: {got} != {want}"
        return Op("history", self._pg_rows(c, sql), check)

    def _group(self, c: Clients) -> Op:
        want = collections.defaultdict(lambda: [0, 0.0])
        for r in self.current.values():
            want[r["grp"]][0] += 1
            want[r["grp"]][1] += r["score"]
        sql = (f"SELECT grp, count(*) AS c, sum(score) AS s FROM {TABLE} "
               "GROUP BY grp")

        def check(rows):
            got = {int(g): [int(n), float(s)] for g, n, s in rows}
            return None if got == dict(want) else "group: aggregates differ"
        return Op("group", self._pg_rows(c, sql), check)

    def ops(self, c: Clients):
        n = len(self.rows)
        while True:
            for cls in self.mix:
                if cls == "point":
                    yield self._point(c, self.op_rng.randrange(n))
                elif cls in ("asof_system", "asof_valid"):
                    yield self._asof(c, cls)
                elif cls == "history":
                    yield self._history(c)
                else:
                    yield self._group(c)

    def final_check(self, spark, warehouse: str) -> tuple[int, list[str]]:
        return 0, []                # read-only: every op checked itself


class Ingest:
    """Writes beside reads over pgwire, library batches, a Flight export
    and a compaction per cycle, on a small store."""

    name = "ingest"
    read_class = "fresh_read"
    mix = ("insert", "fresh_read", "update", "fresh_read", "delete",
           "fresh_read", "txn", "fresh_read", "submit_tx", "fresh_read",
           "flight_export", "compact")

    def __init__(self, params: dict, seed: int):
        self.batch = params["submit_batch"]
        rng = random.Random(seed)
        self.rows = [_row(rng, i) for i in range(params["entities"])]
        self.seed = seed

    def seed_store(self, xt) -> None:
        # every set-up replays the same op sequence from a fresh rng
        self.op_rng = random.Random(self.seed * 7919 + 1)
        xt.put(TABLE, self.rows)
        self.current: dict[int, dict | None] = {r["_id"]: r
                                                for r in self.rows}
        self.live = list(self.current)
        self.live_pos = {k: i for i, k in enumerate(self.live)}
        self.next_id = len(self.rows)
        self.payload = sum(_payload(r) for r in self.rows)

    def sizes(self) -> dict:
        return {"entities": len(self.rows), "events": len(self.rows),
                "txs": 1}

    def first_op(self, c: Clients) -> Op:
        return self._read(c, 0)

    # ---- model helpers

    def _new_row(self) -> dict:
        r = _row(self.op_rng, self.next_id)
        self.next_id += 1
        return r

    def _pick_live(self) -> int:
        return self.live[self.op_rng.randrange(len(self.live))]

    def _set(self, rows: list[dict]) -> None:
        for r in rows:
            if self.current.get(r["_id"]) is None:
                self.live_pos[r["_id"]] = len(self.live)
                self.live.append(r["_id"])
            self.current[r["_id"]] = r
            self.payload += _payload(r)

    def _drop(self, k: int) -> None:
        self.current[k] = None
        i = self.live_pos.pop(k)
        last = self.live.pop()
        if last != k:
            self.live[i] = last
            self.live_pos[last] = i

    # ---- ops

    def _insert_sql(self, r: dict) -> str:
        return (f"INSERT INTO {TABLE} (_id, name, score, grp) VALUES "
                f"({r['_id']}, '{r['name']}', {_dbl(r['score'])}, {r['grp']})")

    def _update_sql(self, r: dict) -> str:
        return (f"UPDATE {TABLE} SET name = '{r['name']}', "
                f"score = {_dbl(r['score'])} WHERE _id = {r['_id']}")

    def _write(self, cls: str, c: Clients, stmts: list[str],
               rows: list[dict], drop: int | None = None) -> Op:
        def run():
            try:
                for s in stmts:
                    c.pg.query(s)
            except Exception:
                if len(stmts) > 1:      # leave no open block behind
                    c.pg.query("ROLLBACK")
                raise

        def apply():
            self._set(rows)
            if drop is not None:
                self._drop(drop)
        return Op(cls, run, lambda _: None, apply,
                  sum(_payload(r) for r in rows)
                  + (8 if drop is not None else 0))

    def _read(self, c: Clients, k: int) -> Op:
        want = self.current.get(k)
        sql = f"SELECT name, score FROM {TABLE} WHERE _id = {k}"

        def check(rows):
            if want is None:
                return None if not rows else f"read {k}: deleted, got {rows}"
            return None if len(rows) == 1 and _same_row(rows[0], want) \
                else f"read {k}: {rows} != {want}"
        return Op("fresh_read", lambda: c.pg.query(sql)[1], check)

    def ops(self, c: Clients):
        batch = self.batch
        last = 0
        while True:
            for cls in self.mix:
                if cls == "fresh_read":
                    op = self._read(c, last)
                elif cls == "insert":
                    r = self._new_row()
                    last = r["_id"]
                    op = self._write(cls, c, [self._insert_sql(r)], [r])
                elif cls == "update":
                    last = self._pick_live()
                    r = _row(self.op_rng, last, self.current[last]["grp"])
                    op = self._write(cls, c, [self._update_sql(r)], [r])
                elif cls == "delete":
                    last = self._pick_live()
                    op = self._write(
                        cls, c, [f"DELETE FROM {TABLE} WHERE _id = {last}"],
                        [], drop=last)
                elif cls == "txn":
                    r = self._new_row()
                    k = self._pick_live()
                    u = _row(self.op_rng, k, self.current[k]["grp"])
                    last = r["_id"]
                    op = self._write(cls, c, [
                        "BEGIN READ WRITE", self._insert_sql(r),
                        self._update_sql(u), "COMMIT"], [r, u])
                elif cls == "submit_tx":
                    rows = [self._new_row() for _ in range(batch // 2)]
                    for _ in range(batch - len(rows)):
                        k = self._pick_live()
                        rows.append(_row(self.op_rng, k,
                                         self.current[k]["grp"]))
                    rows = list({r["_id"]: r for r in rows}.values())
                    last = rows[0]["_id"]
                    op = Op(cls, (lambda rs=rows: c.xt.submit_tx(
                        [("put", TABLE, rs)])), lambda _: None,
                        (lambda rs=rows: self._set(rs)),
                        sum(_payload(r) for r in rows))
                elif cls == "flight_export":
                    op = flight_export(c, self.current, self.op_rng)
                else:
                    op = Op("compact", lambda: c.xt.store.compact(TABLE),
                            lambda _: None)
                yield op

    def final_check(self, spark, warehouse: str) -> tuple[int, list[str]]:
        """Reopen the warehouse with a fresh store and confirm every
        acknowledged write is visible and every delete took effect.
        Returns (ids checked, mismatches)."""
        from xtdb_spark.session import XtdbSession

        tbl = XtdbSession(spark, warehouse).scan(TABLE).select(
            "_id", "name", "score", "grp").toArrow()
        got = {i: (n, s, g) for i, n, s, g in zip(
            *(tbl.column(x).to_pylist() for x in ("_id", "name", "score",
                                                  "grp")))}
        bad = []
        for k, r in self.current.items():
            have = got.pop(k, None)
            want = None if r is None else (r["name"], r["score"], r["grp"])
            if have != want:
                bad.append(f"id {k}: stored {have}, acknowledged {want}")
        bad.extend(f"id {k}: stored {v}, never written"
                   for k, v in got.items())
        return len(self.current), bad


WORKLOADS = {"serve": Serve, "ingest": Ingest}
