"""Operations of the three serving workloads, their independent checks, and
the closed-loop runner that drives them.

An operation is one request plus the check of its answer. Answers are
checked against the generated parquet as pyarrow holds it, never against
a saved copy of earlier output. Every client thread runs whole rounds (a
fixed list of operations), so each run attempts the same mix.
"""

from __future__ import annotations

import math
import statistics
import threading
import time
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field
from urllib.parse import urlencode

import numpy as np
import pyarrow as pa

from perfbench.clients import FlightSql, Http, Pg
from perfbench.inputs import N_CUSTOMER, N_ORDERS, N_STOCK, Stock


class CheckFailed(AssertionError):
    """The server answered, but not with what the inputs say it must."""


@dataclass
class Op:
    kind: str
    role: str  # "read": counts in latency/throughput; "refresh": a writer cycle; "check": neither
    # runs the request and its check; returns (rows received, seconds from
    # sending the request to its last byte)
    fn: Callable[[], tuple[int, float]]


# -- independent expectations -------------------------------------------------


def _norm(v):
    """One spelling per value across JSON, Arrow and Postgres text cells."""
    if isinstance(v, (float, np.floating)):
        return float(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    return str(v)


class Oracle:
    """Row lookups and range checksums over the generated tables."""

    ORDER_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                  "o_orderdate", "o_orderpriority")
    CUSTOMER_COLS = ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")

    def __init__(self, tables: dict[str, pa.Table]) -> None:
        o, c = tables["orders"], tables["customer"]
        self.orders = {k: o[k].to_numpy() for k in self.ORDER_COLS if k != "o_orderdate"}
        self.orders["o_orderdate"] = o["o_orderdate"].to_numpy().astype("datetime64[D]").astype(str)
        self.customer = {k: c[k].to_numpy() for k in self.CUSTOMER_COLS}

    def check_row(self, table: str, got: dict, key: int) -> None:
        cols = self.orders if table == "orders" else self.customer
        for name, value in got.items():
            want = _norm(cols[name][key])
            have = value
            if name == "o_orderdate":  # JSON, Arrow and pg spell timestamps differently
                have = str(value)[:10]
            elif isinstance(want, float):
                have = float(value)
            elif isinstance(want, int):
                have = int(value)
            if have != want:
                raise CheckFailed(f"{table}[{key}].{name}: got {value!r}, want {want!r}")

    def check_one(self, table: str, rows: list[dict], key: int,
                  cols: tuple[str, ...] | None = None) -> int:
        """Exactly one row, holding exactly the columns ``cols`` (every
        column of the table when None), each equal to the generated row."""
        if len(rows) != 1:
            raise CheckFailed(f"{table} key {key}: {len(rows)} rows, want 1")
        want = cols or (self.ORDER_COLS if table == "orders" else self.CUSTOMER_COLS)
        if set(rows[0]) != set(want):
            raise CheckFailed(f"{table} key {key}: columns {sorted(rows[0])}, want {sorted(want)}")
        self.check_row(table, rows[0], key)
        return 1

    def check_range(self, rows: list[dict], lo: int, n: int) -> int:
        """Row count plus a checksum per column of ``orders[lo:lo+n]``."""
        if len(rows) != n:
            raise CheckFailed(f"orders[{lo}:{lo + n}]: {len(rows)} rows, want {n}")
        want_cols = set(self.ORDER_COLS)
        if any(r.keys() != want_cols for r in rows):
            raise CheckFailed(f"orders[{lo}:{lo + n}]: a row without exactly the orders columns")
        o = self.orders
        sl = slice(lo, lo + n)
        got_keys = [r["o_orderkey"] for r in rows]
        checks = {
            "o_orderkey": (sum(got_keys), min(got_keys), max(got_keys)),
            "o_custkey": sum(r["o_custkey"] for r in rows),
            "o_totalprice": math.fsum(r["o_totalprice"] for r in rows),
            "o_orderstatus": Counter(r["o_orderstatus"] for r in rows),
            "o_orderpriority": Counter(r["o_orderpriority"] for r in rows),
            "o_orderdate": Counter(r["o_orderdate"][:7] for r in rows),
        }
        want = {
            "o_orderkey": (n * lo + n * (n - 1) // 2, lo, lo + n - 1),
            "o_custkey": int(o["o_custkey"][sl].sum()),
            "o_totalprice": math.fsum(o["o_totalprice"][sl].tolist()),
            "o_orderstatus": Counter(o["o_orderstatus"][sl].tolist()),
            "o_orderpriority": Counter(o["o_orderpriority"][sl].tolist()),
            "o_orderdate": Counter(d[:7] for d in o["o_orderdate"][sl].tolist()),
        }
        for name, w in want.items():
            if checks[name] != w:
                raise CheckFailed(f"orders[{lo}:{lo + n}] checksum of {name} differs")
        return n


# -- connections ----------------------------------------------------------------


class Conns:
    """One client's connections: HTTP per request, one pg session, one
    Flight channel."""

    def __init__(self, ports: dict[str, int], pg: bool = False, flight: bool = False) -> None:
        self.http = Http(ports["http"])
        self.pg = Pg(ports["pg"]) if pg else None
        self.flight = FlightSql(ports["flight"]) if flight else None

    def close(self) -> None:
        if self.pg:
            self.pg.close()
        if self.flight:
            self.flight.close()


# -- rounds -------------------------------------------------------------------


def point_lookup_round(c: Conns, oracle: Oracle, rng: np.random.Generator,
                       start: int) -> list[Op]:
    """One pass over the five frontends, each a single-key lookup on a key
    that exists. ``start`` staggers the clients so they are not on the same
    frontend at once."""
    ko, kf = (int(k) for k in rng.integers(0, N_ORDERS, 2))
    kc, kg, kp = (int(k) for k in rng.integers(0, N_CUSTOMER, 3))

    def sql():
        rows = c.http.sql(f"SELECT * FROM orders WHERE o_orderkey = {ko}")
        return oracle.check_one("orders", rows, ko), c.http.last_s

    def rest():
        rows = c.http.rest("customer", urlencode({"filter[c_custkey]eq": kc}))
        return oracle.check_one("customer", rows, kc), c.http.last_s

    def graphql():
        cols = ("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        rows = c.http.graphql(
            f"{{ customer(filter: {{c_custkey: {{eq: {kg}}}}}) {{ {' '.join(cols)} }} }}")
        return oracle.check_one("customer", rows, kg, cols), c.http.last_s

    def pg():
        cols = ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        rows = c.pg.query(f"SELECT {', '.join(cols)} FROM customer WHERE c_custkey = {kp}")
        if any(len(r) != len(cols) for r in rows):
            raise CheckFailed(f"customer key {kp}: a pg row without {len(cols)} cells")
        return (oracle.check_one("customer", [dict(zip(cols, r)) for r in rows], kp, cols),
                c.pg.last_s)

    def flight():
        cols = ("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        t = c.flight.query(f"SELECT {', '.join(cols)} FROM orders WHERE o_orderkey = {kf}")
        return oracle.check_one("orders", t.to_pylist(), kf, cols), c.flight.last_s

    ops = [Op("http_sql", "read", sql), Op("rest", "read", rest), Op("graphql", "read", graphql),
           Op("pg", "read", pg), Op("flight", "read", flight)]
    return ops[start:] + ops[:start]


# Every export asks for the same number of rows, at a seeded key range. A
# 10k-150k size mix was tried first: each percentile then fell on one or
# two requests, and their run-to-run spread was 0.24 (p50) and 0.42 (p90).
BULK_ROWS = 40_000
BULK_PER_ROUND = 3


def bulk_round(c: Conns, oracle: Oracle, rng: np.random.Generator) -> list[Op]:
    ops = []
    for lo in rng.integers(0, N_ORDERS - BULK_ROWS + 1, BULK_PER_ROUND):
        lo = int(lo)

        def export(lo=lo):
            rows = c.http.sql(
                f"SELECT * FROM orders WHERE o_orderkey >= {lo} AND o_orderkey < {lo + BULK_ROWS}")
            return oracle.check_range(rows, lo, BULK_ROWS), c.http.last_s

        ops.append(Op("bulk", "read", export))
    return ops


@dataclass
class StockState:
    """What the writer has published, shared with the readers."""

    stock: Stock
    path: str
    published: int = 0


def _check_stock(st: StockState, rows: list[dict], sku: int, at_least: int) -> int:
    """The row must belong to one whole generation, no older than
    ``at_least`` and no newer than the last one published."""
    if len(rows) != 1:
        raise CheckFailed(f"stock sku {sku}: {len(rows)} rows, want 1")
    r = rows[0]
    if set(r) != {"sku", "gen", "qty", "price_cents"} or int(r["sku"]) != sku:
        raise CheckFailed(f"stock sku {sku}: got {r!r}")
    gen = int(r["gen"])
    if not at_least <= gen <= st.published:
        raise CheckFailed(f"stock sku {sku}: generation {gen}, want {at_least}..{st.published}")
    if (int(r["qty"]), int(r["price_cents"])) != st.stock.expected(sku, gen):
        raise CheckFailed(f"stock sku {sku}: row does not match generation {gen}")
    return gen


class Reader:
    """Point lookups (SQL and REST) on the refreshable table and on orders.
    Remembers the newest generation it has seen: a later read may not
    show an older one."""

    def __init__(self, c: Conns, oracle: Oracle, st: StockState) -> None:
        self.c, self.oracle, self.st = c, oracle, st
        self.seen = 0

    def round(self, rng: np.random.Generator) -> list[Op]:
        s1, s2 = (int(k) for k in rng.integers(0, N_STOCK, 2))
        o1, o2 = (int(k) for k in rng.integers(0, N_ORDERS, 2))
        c, oracle = self.c, self.oracle

        def stock_sql():
            rows = c.http.sql(f"SELECT sku, gen, qty, price_cents FROM stock WHERE sku = {s1}")
            self.seen = _check_stock(self.st, rows, s1, self.seen)
            return 1, c.http.last_s

        def stock_rest():
            rows = c.http.rest("stock", urlencode({"filter[sku]eq": s2}))
            self.seen = _check_stock(self.st, rows, s2, self.seen)
            return 1, c.http.last_s

        def orders_sql():
            rows = c.http.sql(f"SELECT * FROM orders WHERE o_orderkey = {o1}")
            return oracle.check_one("orders", rows, o1), c.http.last_s

        def orders_rest():
            rows = c.http.rest("orders", urlencode({"filter[o_orderkey]eq": o2}))
            return oracle.check_one("orders", rows, o2), c.http.last_s

        return [Op("stock_sql", "read", stock_sql), Op("orders_rest", "read", orders_rest),
                Op("stock_rest", "read", stock_rest), Op("orders_sql", "read", orders_sql)]


def writer_round(c: Conns, st: StockState, rng: np.random.Generator) -> list[Op]:
    """Publish the next generation, ask the server to refresh, then read
    back: the first read after the refresh must show exactly that
    generation."""
    sku = int(rng.integers(0, N_STOCK))
    gen = st.published + 1
    st.stock.publish(st.path, gen)  # file write and rename: before the timed refresh
    st.published = gen

    def refresh():
        c.http.refresh("stock")
        return 0, c.http.last_s

    def read_back():
        rows = c.http.sql(f"SELECT sku, gen, qty, price_cents FROM stock WHERE sku = {sku}")
        if _check_stock(st, rows, sku, gen) != gen:
            raise CheckFailed(f"read after refresh saw an older generation than {gen}")
        return 1, c.http.last_s

    return [Op("refresh", "refresh", refresh), Op("read_back", "check", read_back)]


# -- closed-loop runner ---------------------------------------------------------


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0  # errors and wrong answers
    wrong: int = 0  # wrong answers alone
    # measured phase only: (role, kind, start, seconds, rows)
    records: list = field(default_factory=list)
    rounds_s: list = field(default_factory=list)
    errors: list = field(default_factory=list)

    def merge(self, other: Tally) -> None:
        self.attempted += other.attempted
        self.failed += other.failed
        self.wrong += other.wrong
        self.records += other.records
        self.rounds_s += other.rounds_s
        self.errors += other.errors


def run_op(op: Op, tally: Tally) -> tuple[float, float, int] | None:
    tally.attempted += 1
    t0 = time.perf_counter()
    try:
        rows, seconds = op.fn()
    except CheckFailed as exc:
        tally.failed += 1
        tally.wrong += 1
        tally.errors.append(f"{op.kind}: {exc}")
        return None
    except Exception as exc:  # noqa: BLE001 — a failed request is a counted outcome
        tally.failed += 1
        tally.errors.append(f"{op.kind}: {type(exc).__name__}: {exc}")
        return None
    return t0, seconds, rows


@dataclass
class Client:
    """A closed-loop client: ``next_round()`` gives its next list of ops."""

    next_round: Callable[[], list[Op]]
    warm_rounds: int = 0


def _in_threads(clients: list[Client], work: Callable[[Client, Tally], None]) -> Tally:
    """``work(client, tally)`` in one thread per client; the merged tally."""
    tallies = [Tally() for _ in clients]
    threads = [threading.Thread(target=work, args=(cl, t)) for cl, t in zip(clients, tallies)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    out = Tally()
    for t in tallies:
        out.merge(t)
    return out


def warm_up(clients: list[Client]) -> Tally:
    """Untimed rounds before measuring: each client runs its
    ``warm_rounds`` in its own thread, all at once. The JVM's JIT warms by
    work done, so more clients here warm it in less wall time."""

    def work(cl: Client, tally: Tally) -> None:
        for _ in range(cl.warm_rounds):
            for op in cl.next_round():
                run_op(op, tally)

    return _in_threads(clients, work)


def closed_loop(clients: list[Client], seconds: float) -> tuple[Tally, float]:
    """Each client thread runs whole rounds until ``seconds`` have passed
    since the common start. Returns the merged tally and the measured
    window in seconds (start to the end of the last read)."""
    start = time.perf_counter()
    deadline = start + seconds

    def work(cl: Client, tally: Tally) -> None:
        while time.perf_counter() < deadline:
            r0 = time.perf_counter()
            for op in cl.next_round():
                res = run_op(op, tally)
                if res is not None:
                    tally.records.append((op.role, op.kind, res[0], res[1], res[2]))
            tally.rounds_s.append(time.perf_counter() - r0)
            if tally.failed > 100:
                break  # the server is down or broken; stop hammering it

    out = _in_threads(clients, work)
    ends = [r[2] + r[3] for r in out.records if r[0] == "read"]
    return out, (max(ends) - start) if ends else float("nan")


# Warm-up before measuring, from the latency curves in README.md: per
# workload, the rounds each warm-up client runs (all clients at once)
WARM = {"point_lookups": [16] * 4, "bulk_export": [2], "refresh_under_reads": [16] * 3 + [2]}


def make_clients(workload: str, ports: dict[str, int], oracle: Oracle,
                 st: StockState | None, seed: int) -> tuple[list[Client], list[Client], list[Conns]]:
    """The warm-up clients, the measured clients and every connection they
    hold. Each client draws its keys from its own stream of ``seed``:
    measured clients from streams 100+, warm-up clients from 200+."""
    conns: list[Conns] = []

    def conn(**kw) -> Conns:
        conns.append(Conns(ports, **kw))
        return conns[-1]

    def rng(i: int) -> np.random.Generator:
        return np.random.default_rng([seed, i])

    if workload == "point_lookups":
        def lookups(i: int, start: int) -> Client:
            c, r = conn(pg=True, flight=True), rng(i)
            return Client(lambda: point_lookup_round(c, oracle, r, start))

        warm = [lookups(200 + i, i) for i in range(len(WARM[workload]))]
        measured = [lookups(100 + i, 2 * i) for i in range(2)]
    elif workload == "bulk_export":
        def exports(i: int) -> Client:
            c, r = conn(), rng(i)
            return Client(lambda: bulk_round(c, oracle, r))

        warm, measured = [exports(200)], [exports(100)]
    else:
        def reads(i: int) -> Client:
            reader, r = Reader(conn(), oracle, st), rng(i)
            return Client(lambda: reader.round(r))

        wc, wr = conn(), rng(101)
        writer = Client(lambda: writer_round(wc, st, wr))
        warm = [reads(200 + i) for i in range(len(WARM[workload]) - 1)] + [writer]
        measured = [reads(100), writer]
    for cl, n in zip(warm, WARM[workload]):
        cl.warm_rounds = n
    return warm, measured, conns


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile, interpolated between samples (never beyond the
    largest, however few there are)."""
    if len(values) < 2:
        return values[0] if values else float("nan")
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]
