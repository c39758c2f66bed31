"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see README.md) against the package in the parent
directory: one driver process, ``local[<cores>]``, the package's own
``session.get_spark()`` settings. Inputs are generated from ``--seed``. The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a traced run with ``--trace 1``.
The line before it describes the run (sample counts, machine load).

Scratch files live under ``.perfbench_work/`` beside this directory and
are removed on exit. The Postgres server of the sync workloads runs as an
unprivileged user and so keeps its data directory under /tmp, as
``pgwire.EphemeralPostgres`` does; it is stopped and removed on every exit
path.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import socket
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _process_start() -> float:
    """The monotonic-clock time at which this process started."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.monotonic() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _log(origin: float, what: str) -> None:
    print(f"[perfbench {time.monotonic() - origin:7.2f}s] {what}", file=sys.stderr,
          flush=True)


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _postmaster_pid(pg) -> int:
    try:
        with open(os.path.join(pg.data, "postmaster.pid")) as f:
            return int(f.readline())
    except (OSError, ValueError, AttributeError):
        return 0


def _stop_postgres(pg) -> None:
    if pg is None:
        return
    pg.stop()
    if getattr(pg, "dir", None):  # stop() skips it when initdb failed
        shutil.rmtree(pg.dir, ignore_errors=True)


def _stop_spark(spark) -> None:
    """Stops the session, then the JVM and its Python workers, and waits
    until each process has ended."""
    from pyspark import SparkContext

    from perfbench.procstat import tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = tree([proc.pid]) if proc is not None else set()
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and any(
        os.path.exists(f"/proc/{p}") for p in pids
    ):
        time.sleep(0.05)
    for p in pids:
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass  # ended since the check


def main(argv: list[str] | None = None) -> int:
    origin = _process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        from database_synchronize_tool_spark.session import get_spark
        from database_synchronize_tool_spark.sources import pgwire

        from perfbench import workloads as W
        from perfbench.procstat import MachineLoad, PeakMemory
    except ImportError as e:
        print(f"cannot import the program under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    # Python workers import the package too, whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_MASTER_URL", None)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spark = pg = None
    roots = lambda: [os.getpid(), _postmaster_pid(pg)]  # noqa: E731
    load = MachineLoad(roots)
    try:
        load.start()
        with PeakMemory(roots) as mem:
            t = time.monotonic()
            spark = get_spark(
                "perfbench",
                extra_conf={
                    # a fixed-size heap keeps peak_rss_mb steady between runs
                    "spark.driver.extraJavaOptions": (
                        f"-Xms1g -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                    ),
                    "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                },
            )
            session_s = time.monotonic() - t
            _log(origin, "session started")
            if args.workload in W.NEEDS_POSTGRES:
                pg = pgwire.EphemeralPostgres(port=_free_port())
                if not pg.available:
                    raise RuntimeError(f"postgres did not start: {pg.error}")
            ctx = W.Ctx(spark, args.seed, args.seconds, bool(args.trace), work, pg,
                        memory=mem)
            _log(origin, "setting up")
            out = W.WORKLOADS[args.workload](ctx)
            _log(origin, "measured")
        machine = load.stop()
    finally:
        # the Postgres directory takes seconds to delete here, so it goes in
        # parallel with the Spark shutdown; both are waited for
        pg_stop = threading.Thread(target=_stop_postgres, args=(pg,))
        pg_stop.start()
        try:
            if spark is not None:
                _stop_spark(spark)
                _log(origin, "spark stopped")
        finally:
            pg_stop.join()
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run still uses it
            _log(origin, "cleaned up")

    if args.trace:
        metrics = W.layer_metrics(out, session_s)
        units = W.PER_LAYER
    else:
        setup_s = out.setup_done - origin - out.setup_excluded_s
        metrics = W.end_to_end(out, setup_s, mem.peak_mb)
        units = W.END_TO_END
    print(json.dumps({
        "run": {
            "workload": args.workload,
            "seed": args.seed,
            "cores": cores,
            "timed_ops": sum(map(len, out.times.values())),
            "traced_ops": sum(map(len, out.traced_times.values())),
            "passes": len(out.passes),
            "excluded_setup_s": round(out.setup_excluded_s, 3),
            **machine,
        }
    }))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
