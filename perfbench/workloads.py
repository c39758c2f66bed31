"""The benchmark's workloads and their output checks.

An operation is one table copy, one incremental cycle or one query. Every
operation is timed whole and then checked; the check is not timed. A failed
operation (it raised, or its output did not match) counts against
``success_rate`` and leaves no latency sample.
"""

from __future__ import annotations

import datetime as dt
import functools
import math
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.tracing import PgCounters, Tracer

# Tables of the cold copy: every catalog table whose key is unique in the
# generated data and whose columns the COPY text encoder handles (see
# README.md for lineitem and embeddings).
COPY_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "events", "documents")
COPY_SF = 0.05
MIX_SF = 0.003
MIX = (
    "q1_pricing_summary", "q18_large_orders", "j3_merge_upsert",
    "j8_scd2_merge", "s2_delta_scan_ts", "t6_sessionization",
    "window_topk_per_group", "profile_column_stats", "graph_triangle_parts",
    "events_rfm_scores", "dedup_keep_best_manifest", "ann_pq_trained_recall",
)
INCR_BASE_ROWS = 100_000
INCR_USERS = 1_500
DELTA_ROWS = 1_000
RESEND_ROWS = DELTA_ROWS // 5
WARMUP_CYCLES = 3
TAIL_PCT = 75

_PG_TYPES = {
    pa.int32(): "integer",
    pa.int64(): "bigint",
    pa.float64(): "double precision",
    pa.string(): "text",
    pa.timestamp("us"): "timestamp",
}


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str
    pg: object = None  # pgwire.EphemeralPostgres
    memory: object = None  # procstat.PeakMemory, stopped when the window ends
    excluded_s: float = 0.0  # generator and oracle time, kept out of setup_s


@dataclass
class Outcome:
    setup_done: float = 0.0  # monotonic time of the first timed operation
    setup_excluded_s: float = 0.0  # generator and oracle time before it
    attempted: int = 0
    failed: int = 0
    times: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    passes: list[float] = field(default_factory=list)
    traced_times: dict[str, list[float]] = field(
        default_factory=lambda: defaultdict(list)
    )
    tracer: Tracer | None = None
    layers: dict[str, float] = field(default_factory=dict)


def _span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


class Recorder:
    """Times operations, checks them and, in the traced phase, wraps each in
    a root span and reads the server's counters around it."""

    def __init__(self, out: Outcome, pg: PgCounters | None = None):
        self.out = out
        self.pg = pg
        self.tracer: Tracer | None = None

    def op(self, name: str, root: str, fn, check) -> float | None:
        """Seconds the operation took, or None if it failed."""
        out, tracer = self.out, self.tracer
        out.attempted += 1
        before = self.pg.snapshot() if tracer is not None and self.pg else None
        t0 = time.perf_counter()
        try:
            with _span(tracer, root) as span:
                result = fn(span)
            seconds = time.perf_counter() - t0
            ok = bool(check(result))
            if not ok:
                print(f"check failed: {name}", file=sys.stderr)
        except Exception:  # noqa: BLE001 - a failing op is counted, not fatal
            traceback.print_exc()
            ok = False
        if not ok:
            out.failed += 1
            return None
        if tracer is None:
            out.times[name].append(seconds)
            return seconds
        out.traced_times[name].append(seconds)
        span.attrs["name"] = name
        tracer.resolve(tracer.op_spans(span.op))
        if before is not None:
            span.attrs["pg"] = self.pg.delta(before, self.pg.snapshot())
        return seconds


def window(ctx: Ctx, out: Outcome, rec: Recorder, one_pass) -> None:
    """Runs passes until ``ctx.seconds`` have gone by. ``one_pass(end)``
    returns the seconds its operations took; given an ``end``, it may stop
    early once that time has passed and return None. A traced run spends
    the first half untraced and the second half traced, so it can report
    the tracing overhead. Each phase completes at least one pass. Peak
    memory covers set-up and the window, not the final checks."""
    out.setup_done = time.monotonic()
    out.setup_excluded_s = ctx.excluded_s
    end = out.setup_done + ctx.seconds
    _passes(out, rec, one_pass, out.setup_done + ctx.seconds / 2 if ctx.trace else end)
    if ctx.trace:
        rec.tracer = out.tracer = Tracer(ctx.spark)
        _passes(out, rec, one_pass, end)
    if ctx.memory is not None:
        ctx.memory.stop()


def _passes(out: Outcome, rec: Recorder, one_pass, until: float) -> None:
    deadline = None  # the first pass always completes
    while True:
        failed = out.failed
        seconds = one_pass(deadline)
        if seconds is not None and out.failed == failed and rec.tracer is None:
            out.passes.append(seconds)
        deadline = until
        if time.monotonic() >= until:
            return


# --- shared helpers -----------------------------------------------------------


def _checksum(rows) -> tuple[int, int]:
    """Order-insensitive (count, checksum) of an iterable of row tuples."""
    n = h = 0
    for r in rows:
        n += 1
        h = (h + hash(r)) & 0xFFFFFFFFFFFFFFFF
    return n, h


def _arrow_rows(table: pa.Table) -> list[tuple]:
    cols = [c.to_pylist() for c in table.columns]
    return list(zip(*cols))


def _pg_rows(connect, table: str, columns) -> list[tuple]:
    con = connect()
    try:
        cur = con.cursor()
        cur.execute(f"SELECT {', '.join(columns)} FROM {table}")
        rows = cur.fetchall()
        con.commit()
        return rows
    finally:
        con.close()


def _pg_exec(connect, *statements: str) -> None:
    con = connect()
    try:
        cur = con.cursor()
        for s in statements:
            cur.execute(s)
        con.commit()
    finally:
        con.close()


def _create_table(connect, name: str, schema: pa.Schema, key: str) -> None:
    cols = ", ".join(f"{f.name} {_PG_TYPES[f.type]}" for f in schema)
    _pg_exec(connect, f"DROP TABLE IF EXISTS {name}",
             f"CREATE TABLE {name} ({cols}, PRIMARY KEY ({key}))")


class CatalogSource:
    """Runner Source over ``catalog.load_table``."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir

    def read(self, spark, table):
        from database_synchronize_tool_spark.catalog import load_table

        return load_table(spark, self.sf_dir, table)


class TracedSource:
    def __init__(self, inner, tracer: Tracer):
        self.inner, self.tracer = inner, tracer

    def read(self, spark, table):
        with self.tracer.span("readers.read"):
            return self.inner.read(spark, table)


class TracedSink:
    """Wraps each Sink call the runner makes in a span of its own."""

    def __init__(self, inner, tracer: Tracer):
        self.inner, self.tracer = inner, tracer

    def read_target(self, spark, table, schema):
        with self.tracer.span("sinks.read_target"):
            return self.inner.read_target(spark, table, schema)

    def target_empty(self, table):
        with self.tracer.span("sinks.target_empty"):
            return self.inner.target_empty(table)

    def write(self, df, table, keys):
        with self.tracer.span("sinks.write") as s:
            s.attrs["rows"] = n = self.inner.write(df, table, keys)
            return n

    def write_copy(self, df, table, keys=()):
        with self.tracer.span("sinks.write_copy") as s:
            s.attrs["rows"] = n = self.inner.write_copy(df, table, keys)
            return n


def _sync(ctx: Ctx, rec: Recorder, cfg, source, sink):
    from database_synchronize_tool_spark.runner import sync_table

    def fn(_span):
        if rec.tracer is not None:
            return sync_table(ctx.spark, cfg, TracedSource(source, rec.tracer),
                              TracedSink(sink, rec.tracer))
        return sync_table(ctx.spark, cfg, source, sink)

    return fn


def _pg_sink(ctx: Ctx, check_columns: dict[str, str]):
    from database_synchronize_tool_spark.sources import pgwire
    from database_synchronize_tool_spark.sources.sinks import PgWireWatermarkTarget

    connect = functools.partial(pgwire.connect, **ctx.pg.connect_kwargs())
    return connect, PgWireWatermarkTarget(connect=connect, check_columns=check_columns)


# --- sync_cold_copy -----------------------------------------------------------


def sync_cold_copy(ctx: Ctx) -> Outcome:
    from database_synchronize_tool_spark.catalog import PRIMARY_KEYS
    from database_synchronize_tool_spark.sources.config import SyncConfig

    out = Outcome()
    data = os.path.join(ctx.work, "data")
    t = time.monotonic()
    paths = gen.generate(data, ctx.seed, COPY_SF)
    # T2 (id watermark coalesced to 0): an empty target copies keys > 0
    expected, schemas = {}, {}
    for name in COPY_TABLES:
        table = pq.read_table(paths[name])
        key = PRIMARY_KEYS[name][0]
        schemas[name] = table.schema
        keep = pa.compute.greater(table[key], 0)
        expected[name] = _checksum(_arrow_rows(table.filter(keep)))
    ctx.excluded_s += time.monotonic() - t

    keys = {name: PRIMARY_KEYS[name][0] for name in COPY_TABLES}
    connect, sink = _pg_sink(ctx, keys)
    for name in COPY_TABLES:
        _create_table(connect, name, schemas[name], keys[name])
    rec = Recorder(out, PgCounters(connect))
    rec.pg.calibrate()
    source = CatalogSource(data)
    configs = {
        name: SyncConfig(table=name, check_column=keys[name], check_type="id",
                         merge_keys=(keys[name],))
        for name in COPY_TABLES
    }

    def check(name):
        def ok(res):
            cols = schemas[name].names
            got = _checksum(_pg_rows(connect, name, cols))
            return res.ok and res.rows_synced == expected[name][0] and got == expected[name]

        return ok

    def one_pass(_end=None) -> float:
        total = 0.0
        for name in COPY_TABLES:
            total += rec.op(name, "runner", _sync(ctx, rec, configs[name], source, sink),
                            check(name)) or 0.0
        if rec.tracer is not None:
            out.layers["pg.bytes_per_row"] = sum(
                rec.pg.relation_bytes(t) for t in COPY_TABLES
            ) / sum(expected[t][0] for t in COPY_TABLES)
        _pg_exec(connect, f"TRUNCATE {', '.join(COPY_TABLES)}")
        return total

    one_pass()  # warm-up: checked and counted, latencies dropped
    out.times.clear()
    window(ctx, out, rec, one_pass)
    return out


# --- sync_incremental ---------------------------------------------------------


class EventFeed:
    """The incremental source: a directory of parquet files that grows by
    one file per cycle. Each new file holds ``DELTA_ROWS`` rows with
    timestamps past every earlier one; ``RESEND_ROWS`` of them re-send
    existing keys, so the sink's update branch runs."""

    def __init__(self, root: str, seed: int):
        self.dir = os.path.join(root, "events.parquet")
        os.makedirs(self.dir, exist_ok=True)
        self.rng = np.random.default_rng(seed)
        self.files = 0
        base = gen.events(self.rng, INCR_BASE_ROWS, INCR_USERS)
        self._write(base)
        self.next_id = INCR_BASE_ROWS
        self.last_us = self._us(base)

    @staticmethod
    def _us(table: pa.Table) -> int:
        epoch = int((gen.EVENTS_START - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
        return pa.compute.max(table["ts"]).value - epoch

    def _write(self, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(self.dir, f"part-{self.files:05d}.parquet"))
        self.files += 1

    def append(self) -> None:
        fresh = DELTA_ROWS - RESEND_ROWS
        batch = gen.events(self.rng, DELTA_ROWS, INCR_USERS, self.next_id,
                           self.last_us + 1, 60_000_000)
        ids = np.concatenate([
            np.arange(self.next_id, self.next_id + fresh),
            self.rng.choice(self.next_id, RESEND_ROWS, replace=False),
        ])
        self.rng.shuffle(ids)
        batch = batch.set_column(0, "event_id", pa.array(ids, pa.int64()))
        self._write(batch)
        self.next_id += fresh
        self.last_us = self._us(batch)

    def latest_by_key(self) -> list[tuple]:
        """The source deduplicated by key, newest ``ts`` kept."""
        latest: dict[int, tuple] = {}
        for i in range(self.files):
            t = pq.read_table(os.path.join(self.dir, f"part-{i:05d}.parquet"))
            for row in _arrow_rows(t):
                old = latest.get(row[0])
                if old is None or row[1] > old[1]:
                    latest[row[0]] = row
        return list(latest.values())


def sync_incremental(ctx: Ctx) -> Outcome:
    from database_synchronize_tool_spark.sources.config import SyncConfig
    from database_synchronize_tool_spark.sources.readers import ParquetSource

    out = Outcome()
    root = os.path.join(ctx.work, "incr")
    t = time.monotonic()
    feed = EventFeed(root, ctx.seed)
    ctx.excluded_s += time.monotonic() - t

    connect, sink = _pg_sink(ctx, {"events": "ts"})
    schema = pq.read_schema(os.path.join(feed.dir, "part-00000.parquet"))
    _create_table(connect, "events", schema, "event_id")
    rec = Recorder(out, PgCounters(connect))
    rec.pg.calibrate()
    source = ParquetSource(root)
    cfg = SyncConfig(table="events", check_column="ts", check_type="timestamp",
                     merge_keys=("event_id",))
    from database_synchronize_tool_spark.runner import sync_table

    res = sync_table(ctx.spark, cfg, source, sink)  # initial full copy
    if not (res.ok and res.rows_synced == INCR_BASE_ROWS):
        raise RuntimeError(f"initial copy failed: {res}")

    def cycle(_end=None) -> float:
        t = time.monotonic()
        feed.append()
        ctx.excluded_s += time.monotonic() - t
        return rec.op("cycle", "runner", _sync(ctx, rec, cfg, source, sink),
                      lambda r: r.ok and r.rows_synced == DELTA_ROWS) or 0.0

    for _ in range(WARMUP_CYCLES):  # checked and counted, latencies dropped
        cycle()
    out.times.clear()
    window(ctx, out, rec, cycle)
    # the final target must equal the source, deduplicated by key
    out.attempted += 1
    if _checksum(_pg_rows(connect, "events", schema.names)) != _checksum(
        feed.latest_by_key()
    ):
        print("check failed: final target differs from the source", file=sys.stderr)
        out.failed += 1
    if out.tracer is not None:
        out.layers["pg.bytes_per_row"] = rec.pg.relation_bytes("events") / (
            feed.next_id
        )
    return out


# --- query_mix ----------------------------------------------------------------


def _oracle(data: str) -> dict[str, tuple[list[str], list[str]]]:
    """Each mix query's DuckDB oracle answer in ``tools/check_oracle.py``'s
    compare form: sorted column names and the sorted row reprs."""
    import duckdb

    from database_synchronize_tool_spark.catalog import TABLES, table_path
    from database_synchronize_tool_spark.plans.registry import get

    canon, rows_key = _oracle_form()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(data, t)}')"
            )
        answers = {}
        for name in MIX:
            cur = con.execute(get(name).oracle)
            cols = [d[0] for d in cur.description]
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            rows = [tuple(canon(r[i]) for i in order) for r in cur.fetchall()]
            answers[name] = (sorted(cols), rows_key(rows))
        return answers
    finally:
        con.close()


@functools.cache
def _oracle_form():
    saved = list(sys.path)
    try:
        from tools.check_oracle import canon, rows_key
    finally:
        sys.path[:] = saved  # the module prepends a path of its own
    return canon, rows_key


def query_mix(ctx: Ctx) -> Outcome:
    from database_synchronize_tool_spark.caching import cache_scope
    from database_synchronize_tool_spark.plans.registry import get

    out = Outcome()
    data = os.path.join(ctx.work, "data")
    t = time.monotonic()
    gen.generate(data, ctx.seed, MIX_SF)
    answers = _oracle(data)
    ctx.excluded_s += time.monotonic() - t
    canon, rows_key = _oracle_form()
    rec = Recorder(out)
    jsc = ctx.spark.sparkContext._jsc

    def run(name):
        def fn(root):
            tracer = rec.tracer
            scope = cache_scope()
            scope.__enter__()
            try:
                with _span(tracer, "plans.build"):
                    df = get(name).builder(ctx.spark, data)
                with _span(tracer, "operators.collect"):
                    rows = df.collect()
                if tracer is not None:
                    root.attrs["persisted"] = jsc.getPersistentRDDs().size()
            finally:
                with _span(tracer, "caching.release"):
                    scope.__exit__(None, None, None)
            return df.columns, rows

        return fn

    def check(name):
        def ok(result):
            columns, rows = result
            cols = sorted(columns)
            got = rows_key([tuple(canon(r[c]) for c in cols) for r in rows])
            return (cols, got) == answers[name]

        return ok

    order = np.random.default_rng(ctx.seed)

    def one_pass(end=None) -> float | None:
        """One pass in a seeded order; None if the window closed first."""
        total = 0.0
        for i in order.permutation(len(MIX)):
            if end is not None and time.monotonic() >= end:
                return None
            total += rec.op(MIX[i], "query", run(MIX[i]), check(MIX[i])) or 0.0
        return total

    one_pass()  # warm-up: checked and counted, latencies dropped
    out.times.clear()
    window(ctx, out, rec, one_pass)
    return out


WORKLOADS = {
    "sync_cold_copy": sync_cold_copy,
    "sync_incremental": sync_incremental,
    "query_mix": query_mix,
}
NEEDS_POSTGRES = {"sync_cold_copy", "sync_incremental"}


# --- metrics ------------------------------------------------------------------


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile."""
    xs = sorted(values)
    k = (len(xs) - 1) * pct / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def _median(values: list[float]) -> float:
    """0 when there is no sample: every operation failed, and ``correct``
    is false already."""
    return statistics.median(values) if values else 0.0


def geomean(values) -> float:
    """0 when there is no sample (see ``_median``)."""
    xs = list(values)
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def geomean_of_medians(times: dict[str, list[float]]) -> float:
    """Geometric mean over operation kinds of each kind's median latency."""
    return geomean(statistics.median(v) for v in times.values() if v)


END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "success_rate": "ratio",
    "pass_s": "s",
    "op_geomean_s": "s",
    "op_p75_s": "s",
}


def end_to_end(out: Outcome, setup_s: float, peak_mb: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb,
        "success_rate": (out.attempted - out.failed) / out.attempted,
        "pass_s": _median(out.passes),
        "op_geomean_s": geomean_of_medians(out.times),
        "op_p75_s": geomean(percentile(v, TAIL_PCT) for v in out.times.values() if v),
    }


# Per-layer metrics of the traced run, each with its unit. Every workload
# prints all of them; a layer a workload does not reach reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "trace.ops": "count",
    "trace.span_s": "s",
    "trace.overhead_s": "s",
    "runner.self_s": "s",
    "runner.jobs": "count",
    "readers.read_s": "s",
    "readers.jobs": "count",
    "sinks.read_target_s": "s",
    "sinks.target_empty_s": "s",
    "sinks.write_s": "s",
    "sinks.write_copy_s": "s",
    "sinks.write_jobs": "count",
    "sinks.write_tasks": "count",
    "sinks.copy_rows_per_s": "1/s",
    "pg.sessions_per_op": "count",
    "pg.xact_per_op": "count",
    "pg.tup_updated": "count",
    "pg.wal_bytes_per_row": "B",
    "pg.bytes_per_row": "B",
    "pg.buffer_hit_ratio": "ratio",
    "bench.query_self_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "operators.collect_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.failed_tasks": "count",
    "caching.persisted_rdds": "count",
    "caching.release_s": "s",
    **{f"q.{q}.{k}": u for q in MIX for k, u in (("s", "s"), ("jobs", "count"))},
}


# self-time metric -> span name
_SELF_TIMES = {
    "runner.self_s": "runner",
    "readers.read_s": "readers.read",
    "sinks.read_target_s": "sinks.read_target",
    "sinks.target_empty_s": "sinks.target_empty",
    "sinks.write_s": "sinks.write",
    "sinks.write_copy_s": "sinks.write_copy",
    "bench.query_self_s": "query",
    "plans.build_s": "plans.build",
    "operators.collect_s": "operators.collect",
    "caching.release_s": "caching.release",
}


def layer_metrics(out: Outcome, session_s: float) -> dict[str, float]:
    """Means per traced operation. Within one operation the self times of
    its spans add up to its root span, so for sync operations
    ``runner.self_s + readers.read_s + sinks.*_s`` equals ``trace.span_s``,
    and for queries ``bench.query_self_s + plans.build_s +
    operators.collect_s + caching.release_s`` does."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(out.layers)
    m["session.start_s"] = session_s
    spans = out.tracer.spans
    roots = [s for s in spans if s.parent is None and "name" in s.attrs]
    by_op: dict[int, list] = defaultdict(list)
    for s in spans:
        by_op[s.op].append(s)

    def mean(values) -> float:
        values = list(values)
        return sum(values) / len(values) if values else 0.0

    def layer(name: str, attr: str = "self_s", ops=roots) -> float:
        return mean(
            sum(getattr(s, attr) for s in by_op[r.op] if s.name == name) for r in ops
        )

    m["trace.ops"] = len(roots)
    m["trace.span_s"] = mean(r.seconds for r in roots)
    m["trace.overhead_s"] = geomean_of_medians(out.traced_times) - geomean_of_medians(
        out.times
    )
    for metric, name in _SELF_TIMES.items():
        m[metric] = layer(name)
    m["runner.jobs"] = layer("runner", "jobs")
    m["readers.jobs"] = layer("readers.read", "jobs")
    m["plans.build_jobs"] = layer("plans.build", "jobs")
    for attr in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"operators.{attr}"] = layer("operators.collect", attr)
    for attr in ("jobs", "tasks"):
        m[f"sinks.write_{attr}"] = layer("sinks.write", attr) + layer(
            "sinks.write_copy", attr
        )
    copies = [s for s in spans if s.name == "sinks.write_copy"]
    if copies:
        m["sinks.copy_rows_per_s"] = sum(s.attrs["rows"] for s in copies) / sum(
            s.seconds for s in copies
        )
    m["caching.persisted_rdds"] = mean(r.attrs.get("persisted", 0) for r in roots)
    for q in MIX:
        ops = [r for r in roots if r.attrs["name"] == q]
        m[f"q.{q}.s"] = mean(r.seconds for r in ops)
        m[f"q.{q}.jobs"] = mean(sum(s.jobs for s in by_op[r.op]) for r in ops)

    pg = [r.attrs["pg"] for r in roots if "pg" in r.attrs]
    if pg:
        rows = sum(
            s.attrs["rows"] for s in spans if s.name in ("sinks.write", "sinks.write_copy")
        )
        m["pg.sessions_per_op"] = mean(d["sessions"] for d in pg)
        m["pg.xact_per_op"] = mean(d["xacts"] for d in pg)
        m["pg.tup_updated"] = mean(d["tup_updated"] for d in pg)
        m["pg.wal_bytes_per_row"] = sum(d["wal_bytes"] for d in pg) / max(rows, 1)
        hit = sum(d["blks_hit"] for d in pg)
        m["pg.buffer_hit_ratio"] = hit / max(hit + sum(d["blks_read"] for d in pg), 1)
    return m
