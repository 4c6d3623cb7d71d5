"""The benchmark's workloads.

Each workload runs inside one fresh process and one Spark session, drives
the engine only through its public entry points (`CdcBatchProcessor`,
`run_file_stream`, the store classes and `plans.SPECS`), checks the
outputs against DuckDB oracles after the timed window, and returns a
`Result`. With `trace` on, the same run also records spans and Spark
counters for the per-layer metrics.
"""

from __future__ import annotations

import importlib.util
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_cdc_redshift_spark.config import SyncRule
from kafka_cdc_redshift_spark.plans import SPECS
from kafka_cdc_redshift_spark.streaming import (
    CdcBatchProcessor,
    MergeOnReadTargetStore,
    run_file_stream,
)

import gen
from spans import (
    SparkCounters,
    Stopwatch,
    TracedMergeOnReadStore,
    Tracer,
    self_time,
)

ORDERS_SCHEMA = T.StructType([
    T.StructField("o_orderkey", T.LongType()),
    T.StructField("o_custkey", T.LongType()),
    T.StructField("o_orderstatus", T.StringType()),
    T.StructField("o_totalprice", T.DoubleType()),
    T.StructField("o_orderdate", T.TimestampNTZType()),
    T.StructField("o_orderpriority", T.StringType()),
])


@dataclass
class Result:
    """What one run measured. Times are seconds."""

    setup: dict = field(default_factory=dict)  # phase -> seconds
    op_s: list = field(default_factory=list)  # one per batch / pass
    read_s: list = field(default_factory=list)
    window_s: float = 0.0  # timed wall, reads excluded
    records: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    layer: dict = field(default_factory=dict)  # per-layer metrics (trace)
    info: dict = field(default_factory=dict)


# -- mor_fanout -----------------------------------------------------------------
# FANOUT disjoint orders_p{key % FANOUT} tables on the merge-on-read store,
# starting empty. A batch inserts INSERTS keys and carries the reference
# changelog's updates and deletes of earlier keys (see gen.Changelog): 3,224
# records. Batch size and fan-out were set so that a run fits the benchmark's
# time budget on a 4-core host, not from measured traffic.
FANOUT = 8
INSERTS = 2_184
# files per availableNow trigger run, and the maintenance (fold) cadence,
# so the window holds whole fold cycles
CHUNK = 4
# warm-up batches; from the third batch on every batch has the full op mix
WARM_BATCHES = 2
# The window runs whole chunks until it holds at least this many batches and
# has lasted at least --seconds. At the benchmark's run_seconds the batch
# count binds, so every run and every commit measures the same batches
# against the same target state.
MIN_BATCHES = 3 * CHUNK


def _fanout_rules():
    rules = [SyncRule(db="salesdb", table=f"orders_p{i}",
                      primary_key=("o_orderkey",)) for i in range(FANOUT)]
    schemas = {r.target_name: ORDERS_SCHEMA for r in rules}

    def route(keys):  # each key's whole changelog -> one table
        return [f"orders_p{int(k) % FANOUT}" for k in keys]

    return rules, schemas, route


class BatchProxy:
    """Stands in for the processor in `run_file_stream`: times each
    `process_batch`, then runs the fixed read between batches, so the
    stream hands over the next file only after both are done."""

    def __init__(self, proc, reader, root, tracer=None, counters=None):
        self.proc = proc
        self.root = root
        self.reader = reader
        self.tracer = tracer
        self.counters = counters
        self.timed = False
        self.op_s, self.read_s = [], []
        self.per_batch = []  # traced: per-batch counters
        self.errors = []

    def process_batch(self, df, batch_id, **kw):
        seen = len(self.proc.batch_statuses)
        before = _file_sizes(self.root) if self.tracer else None
        with (self.tracer.op("job.process_batch", batch_id) if self.tracer
              else Stopwatch()) as sp:
            try:
                self.proc.process_batch(df, batch_id, **kw)
            except Exception as e:  # noqa: BLE001 - counted, stream goes on
                if len(self.proc.batch_statuses) == seen:
                    self.errors.append(f"batch {batch_id}: {e!r}"[:500])
        self.errors += [
            f"batch {batch_id}: {s}" for b in self.proc.batch_statuses[seen:]
            for s in b if s.status == "error"]
        if self.tracer:
            c = self.counters.take()
            c["span"] = sp.idx
            c["timed"] = self.timed
            c["written_b"] = sum(
                b for p, b in _file_sizes(self.root).items() if p not in before)
            self.per_batch.append(c)
        read_s = self.reader(batch_id)  # in warm-up too, to warm the read path
        if self.timed:
            self.op_s.append(sp.end - sp.start)
            self.read_s.append(read_s)


def _lww_oracle(con, events, where):
    """Live rows after last-writer-wins over the changelog events."""
    con.register("ev_t", events)
    sel = ", ".join(gen.ORDERS_COLS)
    return con.execute(f"""
        WITH w AS (SELECT *, row_number() OVER (
                       PARTITION BY o_orderkey ORDER BY ts_ms DESC) AS rn
                   FROM ev_t {where})
        SELECT {sel} FROM w WHERE rn = 1 AND op != 'd'""").arrow()


def _diff_rows(con, want, got) -> int:
    """Rows in one table and not the other, counting duplicates."""
    con.register("want_t", want)
    con.register("got_t", got)
    return con.execute("""
        SELECT (SELECT count(*) FROM (SELECT * FROM want_t EXCEPT ALL
                                       SELECT * FROM got_t))
             + (SELECT count(*) FROM (SELECT * FROM got_t EXCEPT ALL
                                       SELECT * FROM want_t))""").fetchone()[0]


def run_mor_fanout(spark, seed: int, seconds: float, work: str, trace: bool,
                   res: Result, t_process0: float):
    tracer = Tracer() if trace else None
    counters = SparkCounters(spark) if trace else None
    rules, schemas, route = _fanout_rules()
    cl = gen.Changelog(seed, inserts=INSERTS, route=route)

    root = os.path.join(work, "store")
    store = (TracedMergeOnReadStore(root, tracer) if trace
             else MergeOnReadTargetStore(root))
    proc = CdcBatchProcessor(
        spark, rules, store, payload_schemas=schemas,
        max_workers=os.cpu_count(),
        compact_every_n_batches=CHUNK,
        keep_versions=2, prune_grace_sec=0,
    )
    targets = [r.target_name for r in rules]

    def reader(batch_id):
        """The fixed read after a batch, round robin over the targets."""
        tname = targets[batch_id % len(targets)]
        with (tracer.op("read", None, table=tname) if tracer
              else Stopwatch()) as sp:
            store.read(spark, tname).agg(
                F.count(F.lit(1)), F.sum(F.col("o_totalprice"))).collect()
        if counters:
            counters.take()
        return sp.end - sp.start

    proxy = BatchProxy(proc, reader, root, tracer, counters)
    topic = os.path.join(work, "topic")
    os.makedirs(topic)
    ckpt = os.path.join(work, "ckpt")
    state = {"file": 0, "mtime": time.time() - 100_000, "in_bytes": 0,
             "generate_s": 0.0}

    def deliver(n_files):
        """Write the next files, one per micro-batch, with strictly
        increasing mtimes (the file source orders by mtime), then run one
        availableNow trigger over them; returns its wall time."""
        t = time.perf_counter()
        for _ in range(n_files):
            state["mtime"] += 1.0
            path = os.path.join(topic, f"batch-{state['file']:06d}.json")
            recs, nbytes = cl.write_batch(path, state["mtime"])
            state["file"] += 1
            state["in_bytes"] += nbytes
            if proxy.timed:
                res.records += recs
        state["generate_s"] += time.perf_counter() - t
        t0 = time.perf_counter()
        q = run_file_stream(spark, topic, proxy, ckpt, max_files_per_trigger=1)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return time.perf_counter() - t0

    t = time.perf_counter()
    deliver(WARM_BATCHES)
    res.setup["generate_s"] = state["generate_s"]
    res.setup["warm_s"] = time.perf_counter() - t - state["generate_s"]
    res.setup["total_s"] = time.perf_counter() - t_process0

    # timed window: closed loop, one chunk of files per trigger run
    proxy.timed = True
    in_bytes0 = state["in_bytes"]
    wall = 0.0
    while wall - sum(proxy.read_s) < seconds or len(proxy.op_s) < MIN_BATCHES:
        wall += deliver(CHUNK)
    proxy.timed = False
    res.window_s = wall - sum(proxy.read_s)
    res.op_s, res.read_s = proxy.op_s, proxy.read_s
    res.attempted += len(proxy.op_s) * len(rules) + len(proxy.read_s)
    res.failed += len(proxy.errors)
    res.errors += proxy.errors
    res.info.update(batches=len(proxy.op_s), reads=len(proxy.read_s),
                    records=res.records,
                    records_per_s=res.records / res.window_s)

    if trace:
        _stream_layers(res, tracer, proxy, store, targets,
                       state["in_bytes"] - in_bytes0)
    res.info["store_mb"] = sum(_file_sizes(root).values()) / 1e6

    # output check, outside the timed window
    events = cl.events_table()

    def check(tname):
        where = f"WHERE o_orderkey % {FANOUT} = {tname.rsplit('p', 1)[1]}"
        con = duckdb.connect()
        want = _lww_oracle(con, events, where)
        got = store.read(spark, tname).select(*gen.ORDERS_COLS).toArrow()
        bad = _diff_rows(con, want, got)
        if bad:
            return (f"{tname}: {bad} rows differ from the oracle "
                    f"({got.num_rows} vs {want.num_rows})")
        return None

    res.attempted += len(targets)
    errors = _run_checks(check, targets)
    res.failed += len(errors)
    res.errors += errors


def _run_checks(check, names) -> list[str]:
    """Run `check(name)` for every name concurrently: each check is a few
    small Spark jobs that leave most cores idle. A check returns None or
    a message; one that raises fails with its exception."""
    def one(name):
        try:
            return check(name)
        except Exception as e:  # noqa: BLE001 - a failed check is counted
            return f"{name}: check raised {e!r}"[:500]

    with ThreadPoolExecutor(max_workers=os.cpu_count()) as pool:
        return [m for m in pool.map(one, names) if m]


def _file_sizes(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:  # pruned while walking
                pass
    return out


def _stream_layers(res, tracer, proxy, store, targets, in_bytes):
    timed = [c for c in proxy.per_batch if c["timed"]]
    nb = max(len(timed), 1)
    ops = {tracer.spans[c["span"]].op for c in timed}
    self_s = []
    for c in timed:
        sp = tracer.spans[c["span"]]
        kids = [(k.start, k.end) for k in tracer.children(sp.idx)]
        self_s.append(self_time(sp.start, sp.end, kids))
    t0 = min(tracer.spans[c["span"]].start for c in timed)
    reads = [s for s in tracer.spans if s.name == "store.read" and s.start > t0
             and s.parent is not None and tracer.spans[s.parent].name == "read"]
    written = sum(c["written_b"] for c in timed)
    lay = res.layer
    lay["job.jobs_per_op"] = sum(c["jobs"] for c in timed) / nb
    lay["job.stages_per_op"] = sum(c["stages"] for c in timed) / nb
    lay["job.self_s"] = sum(self_s) / nb
    _spark_layers(lay, timed)
    for name in ("publish", "publish_delta", "fold", "prune"):
        lay[f"store.{name}_s"] = sum(
            s.end - s.start for s in tracer.spans
            if s.name == f"store.{name}" and s.op in ops) / nb
    lay["store.read_s"] = (sum(s.end - s.start for s in reads) / len(reads)
                           if reads else 0.0)
    lay["store.deltas_at_read"] = (
        sum(s.attrs["deltas"] for s in reads) / len(reads) if reads else 0.0)
    lay["store.versions"] = sum(
        len(store.versions_on_disk(t)) for t in targets) / len(targets)
    lay["store.write_mb"] = written / nb / 1e6
    lay["store.write_amp"] = written / max(in_bytes, 1)


def _spark_layers(lay, per_op, n_ops=None):
    n = n_ops or max(len(per_op), 1)
    lay["spark.shuffle_mb_per_op"] = sum(c["shuffle_b"] for c in per_op) / n / 1e6
    lay["spark.spill_mb_per_op"] = sum(c["spill_b"] for c in per_op) / n / 1e6
    lay["spark.task_cpu_s_per_op"] = sum(c["cpu_ns"] for c in per_op) / n / 1e9


# -- catalog workload -----------------------------------------------------------
# One timed operation is one pass over these queries: the most job-heavy
# of the catalog's queries (near-duplicate dedup), and the three envelope
# formats the streaming workload does not parse (DMS, Mongo, Canal).
CATALOG_QUERIES = (
    "dedup_keep_best",
    "cdc_pipeline_dms",
    "cdc_pipeline_mongo",
    "cdc_canal_json",
)
CATALOG_SIZE = {"n_docs": 500, "n_orders": 15_000, "n_customers": 1_500}
# whole passes until --seconds has passed and at least this many are in;
# the first timed pass still runs slower, and a median of 3 passes drops it
MIN_PASSES = 3


def _load_compare():
    """`compare` from the repository's DuckDB twin test, loaded by path so
    the test module stays as it is."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(here, "tests", "test_queries_vs_duckdb.py")
    spec = importlib.util.spec_from_file_location("_twin_queries", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def run_catalog(spark, seed: int, seconds: float, work: str, trace: bool,
                res: Result, t_process0: float):
    tracer = Tracer() if trace else None
    counters = SparkCounters(spark) if trace else None
    sc = spark.sparkContext

    t = time.perf_counter()
    sf = os.path.join(work, "tables")
    gen.catalog_tables(seed, sf, **CATALOG_SIZE)
    res.setup["generate_s"] = time.perf_counter() - t

    t = time.perf_counter()
    for name in CATALOG_QUERIES:  # warm pass: fixtures, JIT, codegen
        SPECS[name].spark(spark, sf).count()
    res.setup["warm_s"] = time.perf_counter() - t
    res.setup["total_s"] = time.perf_counter() - t_process0
    if trace:
        counters.take()

    def span(name, **attrs):
        return tracer.span(name, **attrs) if tracer else Stopwatch()

    # one operation = one pass over the queries, so every sample holds
    # the same mix of plans
    per_query = []  # traced: one entry per query execution
    frames = {}
    passes = 0
    while res.window_s < seconds or passes < MIN_PASSES:
        action_s = 0.0
        with (tracer.op("catalog.pass", passes) if tracer else Stopwatch()) as op:
            for name in CATALOG_QUERIES:
                sc.setJobGroup(f"bench-p{passes}-{name}", name)
                res.attempted += 1
                try:
                    with span("catalog.build", query=name) as b:
                        df = SPECS[name].spark(spark, sf)
                    built = counters.take() if counters else None
                    with span("catalog.action", query=name) as a:
                        df.count()
                except Exception as e:  # noqa: BLE001 - a failed query is counted
                    res.failed += 1
                    res.errors.append(f"{name}: {e!r}"[:500])
                    continue
                action_s += a.end - a.start
                frames[name] = df
                if counters:
                    acted = counters.take()
                    per_query.append({
                        "query": name, "build_s": b.end - b.start,
                        "action_s": a.end - a.start,
                        **{k: built[k] + acted[k] for k in built}})
        res.op_s.append(op.end - op.start)
        res.read_s.append(action_s)
        res.window_s += op.end - op.start
        passes += 1
    sc.setJobGroup("bench-check", "output check")
    res.info.update(passes=passes)

    if trace:
        lay = res.layer
        lay["job.jobs_per_op"] = sum(c["jobs"] for c in per_query) / passes
        lay["job.stages_per_op"] = sum(c["stages"] for c in per_query) / passes
        _spark_layers(lay, per_query, passes)
        lay["catalog.build_s"] = sum(c["build_s"] for c in per_query) / passes
        lay["catalog.action_s"] = sum(c["action_s"] for c in per_query) / passes
        lay["catalog.jobs"] = lay["job.jobs_per_op"]
        lay["catalog.stages"] = lay["job.stages_per_op"]
        for name in CATALOG_QUERIES:
            mine = [c for c in per_query if c["query"] == name] or [
                {"build_s": 0.0, "action_s": 0.0, "jobs": 0}]
            lay[f"catalog.{name}.s"] = sum(
                c["build_s"] + c["action_s"] for c in mine) / len(mine)
            lay[f"catalog.{name}.jobs"] = sum(c["jobs"] for c in mine) / len(mine)

    # output check against each spec's DuckDB oracle, outside the window
    compare = _load_compare()

    def check(name):
        con = duckdb.connect()
        for table in ("orders", "customer", "documents"):
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                        f"'{os.path.join(sf, table)}.parquet'")
        compare(frames[name], con, SPECS[name].oracle, name)  # raises on a miss

    res.attempted += len(frames)
    errors = _run_checks(check, list(frames))
    res.failed += len(errors)
    res.errors += errors
