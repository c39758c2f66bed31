"""Spans for the traced run, and Postgres server counters.

Spans are recorded only from the benchmark's own files, around the calls it
makes into the package's layers. Each span runs under its own Spark job
group, so Spark's status tracker attributes jobs, stages and tasks to the
innermost span that launched them. Spans stay in memory; a span's self time
is its duration minus the durations of its child spans.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    id: int
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    children_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.seconds - self.children_s


class Tracer:
    """Nested spans under per-span Spark job groups."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._stack: list[Span] = []
        self._next_id = 0
        self.spans: list[Span] = []

    def _group(self, span: Span) -> str:
        return f"perfbench-span-{span.id}"

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(self._group(span), span.name)

    @contextmanager
    def span(self, name: str):
        """A span under the innermost open one; a span with no parent is
        the root of a new operation and gives it its id."""
        parent = self._stack[-1] if self._stack else None
        self._next_id += 1
        s = Span(name, self._next_id, parent.id if parent else None,
                 parent.op if parent else self._next_id, time.perf_counter())
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            if parent is not None:
                parent.children_s += s.seconds
            self.spans.append(s)

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def resolve(self, spans: list[Span]) -> None:
        """Fill in job, stage and task counts once the op's jobs are done.
        Waits for Spark's listener bus so the status store has seen every
        job end; call it outside any timed region."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        for s in spans:
            stage_ids: set[int] = set()
            job_ids = tracker.getJobIdsForGroup(self._group(s))
            for j in job_ids:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            s.jobs = len(job_ids)
            for sid in stage_ids:
                st = tracker.getStageInfo(sid)
                # a stage whose shuffle output already existed is skipped:
                # it is listed by the job but runs no task
                if st is not None and st.numCompletedTasks + st.numFailedTasks:
                    s.stages += 1
                    s.tasks += st.numCompletedTasks
                    s.failed_tasks += st.numFailedTasks


# --- Postgres counters --------------------------------------------------------

_OTHER_CLIENTS_SQL = (
    "SELECT count(*) FROM pg_stat_activity WHERE datname = current_database() "
    "AND backend_type = 'client backend' AND pid <> pg_backend_pid()"
)
_SNAPSHOT_SQL = (
    "SELECT d.sessions, d.xact_commit + d.xact_rollback, d.blks_hit, "
    "d.blks_read, d.tup_inserted, d.tup_updated, "
    "pg_wal_lsn_diff(pg_current_wal_lsn(), '0/0')::bigint "
    "FROM pg_stat_database d WHERE d.datname = current_database()"
)
COUNTERS = ("sessions", "xacts", "blks_hit", "blks_read", "tup_inserted",
            "tup_updated", "wal_bytes")


class PgCounters:
    """Reads ``pg_stat_database`` and the WAL position over a fresh probe
    session each time. A session's statistics reach the shared counters
    when it exits, so a snapshot first waits until no other client session
    of the database is alive. Autovacuum is not waited for, and its work
    counts. The probe's own share (one session and transaction
    per snapshot) is measured once by ``calibrate`` and subtracted."""

    def __init__(self, connect):
        self._connect = connect
        self._probe = dict.fromkeys(COUNTERS, 0)

    def snapshot(self, timeout_s: float = 5.0) -> dict[str, int]:
        """One probe session and one transaction, however long it waits;
        ``pg_stat_clear_snapshot`` makes each poll see current values."""
        deadline = time.monotonic() + timeout_s
        con = self._connect()
        try:
            cur = con.cursor()
            while True:
                cur.execute("SELECT pg_stat_clear_snapshot()")
                cur.execute(_OTHER_CLIENTS_SQL)
                if cur.fetchall()[0][0] == 0 or time.monotonic() > deadline:
                    break
                time.sleep(0.01)
            cur.execute("SELECT pg_stat_clear_snapshot()")
            cur.execute(_SNAPSHOT_SQL)
            row = cur.fetchall()[0]
            con.commit()
        finally:
            con.close()
        return dict(zip(COUNTERS, (int(v) for v in row)))

    def calibrate(self, rounds: int = 3) -> None:
        snaps = [self.snapshot() for _ in range(rounds + 1)]
        self._probe = {
            k: min(b[k] - a[k] for a, b in zip(snaps, snaps[1:])) for k in COUNTERS
        }

    def delta(self, before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
        return {k: after[k] - before[k] - self._probe[k] for k in COUNTERS}

    def relation_bytes(self, table: str) -> int:
        con = self._connect()
        try:
            cur = con.cursor()
            cur.execute("SELECT pg_total_relation_size(%s::regclass)", (table,))
            size = int(cur.fetchall()[0][0])
            con.commit()
            return size
        finally:
            con.close()
