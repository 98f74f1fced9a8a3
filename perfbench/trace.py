"""The traced run (``--trace 1``): per-layer metrics, in-process.

The server's fronts (``ApiServer``, ``PostgresServer``,
``SparkFlightServer``) run in this process on a catalog built from the
same generated config, and one client thread replays the workload's
operations one at a time. Spans are taken around calls into public
functions of each layer; every span and every Spark job of an operation
carries that operation's id (the Spark job group), spans stay in memory,
and Spark's task metrics are read from its event log (switched on through
the config's ``spark:`` map) once the session has stopped.

A layer that the workload's own operations never reach is measured by a
probe run before the workload: one operation of that kind on the
workload's tables or, for the batch layers, a registry query on tables of
its own. README.md lists which metrics are probes on which workload.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

HTTP_KINDS = {"http_sql", "rest", "graphql", "bulk", "stock_sql", "stock_rest", "orders_sql",
              "orders_rest", "read_back", "refresh", "probe_http", "probe_rest",
              "probe_graphql"}
# The batch layers (registry builders, shuffles, Python workers) that no
# serving operation reaches: probed with these registry queries, on tables
# of their own at BATCH_SF. A join with a shuffle, a pandas UDF, and the
# text operators named as optimisation targets in ROADMAP.md.
BATCH_PROBES = ("q3_shipping_priority", "knn_bruteforce_pandas", "text_rolling_fingerprint",
                "dedup_chunk", "dedup_span_rewrite")
BATCH_TABLES = ["customer", "orders", "lineitem", "documents", "embeddings"]
BATCH_SF = 0.01
# Spark's "time to start/initialize Python workers" are left out: on a
# reused worker, "initialize" read 9.2 s for a query that ran 0.5 s
PYTHON_WORKER_METRICS = ("time to run Python workers",)


@dataclass
class Tracer:
    """Spans in memory: (op id, layer, start, end, size). One operation is
    in flight at a time, so server-side spans take the current op id."""

    spans: list = field(default_factory=list)
    op: str = "setup"
    lock: threading.Lock = field(default_factory=threading.Lock)

    def record(self, name: str, t0: float, t1: float, size: int = 0) -> None:
        with self.lock:
            self.spans.append((self.op, name, t0, t1, size))

    def wrap(self, owner, attr: str, name: str, after=None, before=None) -> None:
        """Replace ``owner.attr`` with a version that records a span;
        ``before()`` runs first (outside the span), ``after(result)`` runs
        on the result (outside the span)."""
        inner = getattr(owner, attr)

        def traced(*a, **kw):
            if before:
                before()
            t0 = time.perf_counter()
            out = inner(*a, **kw)
            self.record(name, t0, time.perf_counter(),
                        len(out) if isinstance(out, bytes) else 0)
            if after:
                after(out)
            return out

        setattr(owner, attr, traced)


def instrument(tracer: Tracer, spark, catalog, server) -> dict:
    """Spans at the layer boundaries. Returns the unwrapped encoder and,
    per op id, the last Arrow table the op collected: the client thread
    prices the csv and Arrow encodings of that result without tracing
    itself."""
    import roapi_spark.encoders as enc

    sc = spark.sparkContext
    collected: dict = {}

    def tag_jobs() -> None:
        # the handler thread's Spark jobs join the op's job group
        sc.setJobGroup(tracer.op, tracer.op)

    def optimize(df) -> None:
        t0 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        tracer.record("spark.optimize", t0, time.perf_counter())

    def keep_table(table) -> None:
        collected[tracer.op] = table

    tracer.wrap(server, "handle", "server.handle")
    tracer.wrap(catalog, "query_sql", "catalog.query_sql", after=optimize, before=tag_jobs)
    tracer.wrap(catalog, "query_rest", "query.rest", after=optimize, before=tag_jobs)
    tracer.wrap(catalog, "query_graphql", "query.graphql", after=optimize, before=tag_jobs)
    tracer.wrap(catalog, "refresh_table", "catalog.refresh", before=tag_jobs)
    raw_encode = enc.encode_arrow_table
    # every request the workloads send asks for JSON, the server's default
    tracer.wrap(enc, "encode_arrow_table", "encoders.json")
    frame = type(spark.range(0))  # the session's concrete DataFrame class
    tracer.wrap(frame, "toArrow", "spark.collect", after=keep_table)
    tracer.wrap(frame, "collect", "spark.collect")
    return {"encode": raw_encode, "collected": collected}


# -- Spark event log --------------------------------------------------------------


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, job wall time, executor run/CPU/GC time,
    shuffle and spill bytes, Python-worker time."""
    job_group, job_t0, stage_group = {}, {}, {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[ev["Job ID"]] = g
                    job_t0[ev["Job ID"]] = ev["Submission Time"]
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                    if g:
                        out[g]["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    g = job_group.get(ev["Job ID"])
                    if g:
                        out[g]["job_ms"] += ev["Completion Time"] - job_t0[ev["Job ID"]]
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if not g or not m:
                        continue
                    o = out[g]
                    o["tasks"] += 1
                    o["run_ms"] += m["Executor Run Time"]
                    o["cpu_ms"] += m["Executor CPU Time"] / 1e6
                    o["gc_ms"] += m["JVM GC Time"]
                    o["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
                    o["shuffle_bytes"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                                           + sw["Shuffle Bytes Written"])
                    for acc in ev.get("Task Info", {}).get("Accumulables", []):
                        if acc.get("Name") in PYTHON_WORKER_METRICS:
                            o["python_worker_ms"] += float(acc.get("Update", 0))
    return out


# -- the run ----------------------------------------------------------------------


def traced_run(ctx) -> dict:
    from urllib.parse import urlencode

    from perfbench import inputs
    from perfbench.run import spark_conf
    from perfbench.workloads import (
        Conns, Op, Oracle, StockState, Tally, make_clients, run_op, warm_up,
    )

    wl = ctx.workload
    refresh = wl == "refresh_under_reads"
    tables = inputs.make_tables(ctx.seed, ["orders", "customer"])
    inputs.write_tables(tables, ctx.data_dir)
    batch_dir = os.path.join(ctx.workdir, "batch")
    inputs.write_tables(inputs.make_tables(ctx.seed, BATCH_TABLES, BATCH_SF), batch_dir)
    st = None
    if refresh:
        st = StockState(inputs.make_stock(ctx.seed), os.path.join(ctx.data_dir, "stock.parquet"))
        st.stock.publish(st.path, 0)
    log_dir = os.path.join(ctx.workdir, "eventlog")
    os.makedirs(log_dir)
    conf = dict(spark_conf(ctx.workdir), **{
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    })
    cfg_path = os.path.join(ctx.workdir, "server.yml")
    inputs.server_config(cfg_path, ctx.data_dir, read_only=not refresh, refreshable=refresh,
                         spark_conf=conf)

    import roapi_spark.catalog as catalog_mod
    from roapi_spark.catalog import catalog_from_config
    from roapi_spark.config import load_config_file
    from roapi_spark.plans.registry import load_all
    from roapi_spark.server import ApiServer
    from roapi_spark.server.flight import SparkFlightServer
    from roapi_spark.server.postgres import PostgresServer
    from roapi_spark.session import get_spark

    tracer = Tracer()
    cfg = load_config_file(cfg_path)
    spark = get_spark("perfbench_trace", extra_conf=cfg.spark_conf)
    # the catalog reaches sources.load_table through this module alias;
    # wrapped before the catalog loads its tables
    tracer.wrap(catalog_mod, "_load", "sources.load")
    cat = catalog_from_config(spark, cfg)
    server = ApiServer(cat, default_format=cfg.default_response_format)
    tools = instrument(tracer, spark, cat, server)
    _, http_port = server.start("127.0.0.1", 0)
    pg = PostgresServer(cat, "127.0.0.1", 0)
    pg.start()
    fl = SparkFlightServer(cat, "grpc://127.0.0.1:0")  # serves from construction
    ports = {"http": http_port, "pg": pg.port, "flight": fl.port}
    specs = load_all()
    oracle = Oracle(tables)
    tally = Tally()
    client_spans: list = []  # (op id, kind, seconds)
    counter = iter(range(1 << 30))

    def run(op, phase: str) -> None:
        tracer.op = f"{phase}:{next(counter)}"
        res = run_op(op, tally)
        if res is None:
            return
        client_spans.append((tracer.op, op.kind, res[1]))
        table = tools["collected"].pop(tracer.op, None)
        if table is not None:  # what the other encoders would cost on this result
            for fmt in ("csv", "arrow"):
                t0 = time.perf_counter()
                tools["encode"](table, fmt)
                tracer.record(f"encoders.{fmt}", t0, time.perf_counter())

    def persistent_rdds() -> dict:
        sc = spark.sparkContext
        conv = sc._jvm.scala.collection.JavaConverters
        return dict(conv.mapAsJavaMap(sc._jsc.sc().getPersistentRDDs()))

    def registry_op(name: str) -> Op:
        def go():
            served = set(persistent_rdds())  # the catalog's tables stay cached
            spark.sparkContext.setJobGroup(tracer.op, tracer.op)
            t0 = time.perf_counter()
            df = specs[name].builder(spark, batch_dir)
            t1 = time.perf_counter()
            tracer.record("plans.build", t0, t1)
            df._jdf.queryExecution().executedPlan()
            tracer.record("spark.optimize", t1, time.perf_counter())
            df.write.mode("overwrite").format("noop").save()
            seconds = time.perf_counter() - t0
            for rid, rdd in persistent_rdds().items():
                if rid not in served:  # what the query persisted
                    rdd.unpersist(False)
            return 0, seconds

        return Op(name, "read", go)

    # probes: one op of each kind, on this workload's tables
    conns = Conns(ports, pg=True, flight=True)
    all_conns = [conns]
    probes = [
        Op("probe_http", "read", lambda: (len(conns.http.sql(
            "SELECT * FROM orders WHERE o_orderkey = 0")), conns.http.last_s)),
        Op("probe_rest", "read", lambda: (len(conns.http.rest(
            "customer", urlencode({"filter[c_custkey]eq": 0}))), conns.http.last_s)),
        Op("probe_graphql", "read", lambda: (len(conns.http.graphql(
            "{ customer(filter: {c_custkey: {eq: 0}}) { c_custkey c_name } }")),
            conns.http.last_s)),
        Op("pg", "read", lambda: (len(conns.pg.query(
            "SELECT * FROM customer WHERE c_custkey = 0")), conns.pg.last_s)),
        Op("flight", "read", lambda: (conns.flight.query(
            "SELECT * FROM orders WHERE o_orderkey = 0").num_rows, conns.flight.last_s)),
        Op("probe_refresh", "check", lambda: _timed(lambda: cat.refresh_table("customer"))),
    ]
    batch_probes = [registry_op(name) for name in BATCH_PROBES]
    t_start = time.perf_counter()
    try:
        # a query's first run in the session compiles its code paths and
        # starts the Python workers: run each once untimed, then probe it
        for op in batch_probes:
            run(op, "warm")
        for op in probes + batch_probes:
            run(op, "probe")
        warm, measured, more = make_clients(wl, ports, oracle, st, ctx.seed)
        all_conns += more
        tracer.op = "warm"
        tally.merge(warm_up(warm))
        # the measured clients take turns, one operation in flight at a time
        deadline = time.perf_counter() + ctx.seconds
        while time.perf_counter() < deadline:
            for cl in measured:
                for op in cl.next_round():
                    run(op, "op")
    finally:
        for c in all_conns:
            c.close()
        server.stop()
        pg.stop()
        fl.shutdown()
        spark.stop()  # flushes the event log
    wall = time.perf_counter() - t_start
    jobs = read_event_log(log_dir)
    metrics = layer_metrics(tracer.spans, client_spans, jobs)
    lat = [s for op, k, s in client_spans if op.startswith("op:")]
    print(f"# traced: {len(lat)} ops, latency p50 {statistics.median(lat) * 1000:.1f} ms, "
          f"wall {wall:.1f} s", file=sys.stderr)
    for e in tally.errors[:5]:
        print(f"# {e}", file=sys.stderr)
    return {"correct": tally.wrong == 0 and bool(lat), "attempted": tally.attempted,
            "failed": tally.failed, "metrics": metrics}


def _timed(fn) -> tuple[int, float]:
    t0 = time.perf_counter()
    fn()
    return 0, time.perf_counter() - t0


def layer_metrics(spans, client_spans, jobs) -> dict[str, tuple[float, str]]:
    """Mean per operation of each layer over the workload's own operations
    (ids ``op:N``), or over the probes where none of them reach the layer."""
    by_op: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    sizes: dict[str, list[int]] = defaultdict(list)
    for op, name, t0, t1, size in spans:
        by_op[op][name] += (t1 - t0) * 1000.0
        if name == "encoders.json":
            sizes[op].append(size)

    def phase_ops(pred) -> list[str]:
        ops = [op for op in by_op if op.startswith("op:") and pred(op)]
        return ops or [op for op in by_op if op.startswith("probe:") and pred(op)]

    def span_mean(name: str) -> float:
        ops = phase_ops(lambda op: name in by_op[op])
        return statistics.fmean(by_op[op][name] for op in ops) if ops else 0.0

    def wire_ms(kinds: set[str], inner: tuple[str, ...]) -> float:
        """Round trip minus the in-process time of the same operation."""
        def gaps(phase: str) -> list[float]:
            return [s * 1000.0 - sum(by_op[op][n] for n in inner)
                    for op, k, s in client_spans if k in kinds and op.startswith(phase)]
        vals = gaps("op:") or gaps("probe:")
        return statistics.fmean(vals) if vals else 0.0

    inner_sql = ("catalog.query_sql", "spark.optimize", "spark.collect")
    out = {
        "server.http_ms": wire_ms(HTTP_KINDS, ("server.handle",)),
        "server.pg_ms": wire_ms({"pg"}, inner_sql),
        "server.flight_ms": wire_ms({"flight"}, inner_sql),
        "query.rest_build_ms": span_mean("query.rest"),
        "query.graphql_build_ms": span_mean("query.graphql"),
        "catalog.query_sql_ms": span_mean("catalog.query_sql"),
        "catalog.refresh_ms": span_mean("catalog.refresh"),
        "sources.load_ms": span_mean("sources.load"),
        "spark.optimize_ms": span_mean("spark.optimize"),
        "spark.collect_ms": span_mean("spark.collect"),
        "encoders.json_ms": span_mean("encoders.json"),
        "encoders.csv_ms": span_mean("encoders.csv"),
        "encoders.arrow_ms": span_mean("encoders.arrow"),
        "plans.build_ms": span_mean("plans.build"),
    }
    json_ops = phase_ops(lambda op: bool(sizes.get(op)))
    out["encoders.json_bytes"] = (
        statistics.fmean(sum(sizes[op]) for op in json_ops) if json_ops else 0.0)

    # Spark: per workload op, from the event log
    def job_mean(key: str, need: str | None = None) -> float:
        ops = [op for op in by_op if op.startswith("op:")]
        if need and not any(jobs[op][need] for op in ops if op in jobs):
            ops = [op for op in by_op if op.startswith("probe:") and jobs[op][need]]
        return statistics.fmean(jobs[op][key] if op in jobs else 0.0 for op in ops) if ops else 0.0

    out.update({
        "spark.jobs_per_op": job_mean("jobs"),
        "spark.tasks_per_op": job_mean("tasks"),
        "spark.exec_ms": job_mean("job_ms"),
        "spark.executor_run_ms": job_mean("run_ms"),
        "spark.executor_cpu_ms": job_mean("cpu_ms"),
        "spark.gc_ms": job_mean("gc_ms"),
        "spark.shuffle_bytes": job_mean("shuffle_bytes", need="shuffle_bytes"),
        "spark.spill_bytes": job_mean("spill_bytes", need="spill_bytes"),
        "spark.python_worker_ms": job_mean("python_worker_ms", need="python_worker_ms"),
    })
    units = {"bytes": "bytes", "per_op": "count"}
    return {k: (v, next((u for s, u in units.items() if k.endswith(s)), "ms"))
            for k, v in out.items()}
