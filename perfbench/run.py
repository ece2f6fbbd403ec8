"""Benchmark of doc2dataset_spark: the document pipeline and the query surface.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. One client runs one operation at a time
(closed loop). ``--trace 0`` prints the end-to-end metrics, ``--trace 1``
the per-layer ones; the last line of standard output is one JSON object.
Workloads, metrics and the noise fixes are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WARMUP_OPS = 3        # full-size operations before timing, the cold one included
MIN_TIMED_OPS = 4     # op_p50_s never rests on fewer samples
OP_TIMEOUT_S = 60.0   # a longer operation is cancelled and counts as failed
RUN_DEADLINE_S = 110.0  # no new operation starts after this
TRACE_RESERVE_S = 45.0  # a traced run starts its last operation this much sooner


def size_environment(work: str) -> None:
    """Size Spark to this machine through the environment only."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(2048, total_mb // 4)}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM (spark-submit's launcher and Spark's) keeps its temp files
    # in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the package whatever their working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def import_program() -> None:
    """Import the program from this checkout, or exit 2 without a result."""
    sys.path.insert(0, ROOT)
    try:
        import doc2dataset_spark
        import tests.fixtures  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}",
              file=sys.stderr)
        sys.exit(2)
    if not os.path.abspath(doc2dataset_spark.__file__).startswith(ROOT + os.sep):
        print("perfbench: doc2dataset_spark is not the checkout's copy",
              file=sys.stderr)
        sys.exit(2)


class Session:
    """The benchmark's Spark session: started through ``get_spark``, restarted
    inside the same JVM, and shut down with its JVM at the end."""

    def __init__(self, work: str, event_log: str | None = None):
        self.conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
        if event_log:
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                # one plain file per application (rolling is Spark 4's default)
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = None

    def start(self):
        from doc2dataset_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", extra_conf=self.conf)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @staticmethod
    def shutdown_jvm() -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _ended(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def kill_descendants() -> None:
    """SIGKILL every process this one started (the JVM, its Python workers)
    that is still there, and wait until each has ended."""
    from rss import descendants

    pids = descendants(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in pids:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:  # not our child: wait for it to go
            while not _ended(pid):
                time.sleep(0.05)


def timed(fn, spark):
    """Run one operation; (wall seconds, result, error). The operation is
    cancelled if it runs longer than OP_TIMEOUT_S."""
    timer = threading.Timer(OP_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    timer.daemon = True
    timer.start()
    t0 = time.perf_counter()
    try:
        result, error = fn(spark), None
    except Exception as exc:  # noqa: BLE001 — a failed operation is data
        result, error = None, f"{type(exc).__name__}: {exc}"
    finally:
        timer.cancel()
    return time.perf_counter() - t0, result, error


class Tally:
    """Operations attempted and failed (raised, timed out or failed a check)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, label: str, error: str | None) -> None:
        self.attempted += 1
        if error:
            self.failed += 1
            print(f"perfbench: {label} failed: {error}", file=sys.stderr)


def cold_start(session: Session) -> float:
    """Launch the JVM and start the session, up to its first finished job."""
    t0 = time.perf_counter()
    session.start().range(1).count()
    wall = time.perf_counter() - t0
    print(f"perfbench: cold start {wall:.3f}", file=sys.stderr)
    return wall


def one_op(spark, workload, tally: Tally, label: str, rss=None) -> float:
    """Prepare, time and check one operation; returns its wall."""
    workload.prepare(spark)
    if rss is not None:
        rss.begin()
    wall, result, error = timed(workload.op, spark)
    if rss is not None:
        rss.end()
    if error is None:
        error = workload.check(spark, result)
    tally.record(label, error)
    return wall


def warm_up(spark, workload, tally: Tally, deadline: float) -> list[float]:
    """WARMUP_OPS full-size operations, each checked; returns their walls."""
    walls = []
    for i in range(WARMUP_OPS):
        if time.monotonic() >= deadline:
            break
        walls.append(one_op(spark, workload, tally, f"warm-up {i}"))
    print(f"perfbench: warm-up {[round(w, 3) for w in walls]}", file=sys.stderr)
    return walls


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return sum(ticks), ticks[7]


def measure(spark, workload, tally: Tally, seconds: float, deadline: float):
    """Closed loop for ``seconds`` (and at least MIN_TIMED_OPS ops); returns
    (walls, median over the ops of each op's peak process-tree RSS in MB)."""
    from rss import TreeRSS

    walls = []
    ticks0 = cpu_ticks()
    with TreeRSS() as rss:
        end = time.monotonic() + seconds
        # one operation is timed even past the deadline
        while (time.monotonic() < end or len(walls) < MIN_TIMED_OPS) and (
                not walls or time.monotonic() < deadline):
            walls.append(one_op(spark, workload, tally, f"op {len(walls)}", rss))
    (all0, stolen0), (all1, stolen1) = ticks0, cpu_ticks()
    print(f"perfbench: timed {[round(w, 3) for w in walls]}; "
          f"hypervisor steal {(stolen1 - stolen0) / max(all1 - all0, 1):.1%}",
          file=sys.stderr)
    return walls, statistics.median(rss.peaks_mb)


def make_workload(name: str, work: str, seed: int):
    if name == "ingest":
        from ingest import Ingest

        return Ingest(work, seed)
    from curate import Curate

    return Curate()


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run(workload, seconds: float, trace: bool, work: str) -> dict:
    """One benchmark run: the result object printed as the last line, with
    both metric sets (``end_to_end``, and ``per_layer`` when traced)."""
    # the run must end within 180 s; a trace takes 30-45 s
    reserve = TRACE_RESERVE_S if trace else 0.0
    deadline = time.monotonic() + RUN_DEADLINE_S - reserve
    tally = Tally()
    session = Session(work)
    per_layer = None
    try:
        cold_start_s = cold_start(session)
        spark = session.spark
        # set-up ends when the session is warm: JVM launch, session start,
        # then the warm-up operations (input generation is not part of it)
        setup_s = cold_start_s + sum(warm_up(spark, workload, tally, deadline))
        walls, peak_mb = measure(spark, workload, tally, seconds, deadline)
        print(f"perfbench: op_p50_s over n={len(walls)} timed operations",
              file=sys.stderr)
        op_p50_s = statistics.median(walls)
        verify_once = getattr(workload, "verify_once", None)
        if verify_once is not None:
            tally.record("one-off check", verify_once(spark))
        if trace:
            from layers import trace_run

            session.stop()
            per_layer = trace_run(Session, work, workload, tally, op_p50_s,
                                  cold_start_s)
    finally:
        try:
            session.stop()
            Session.shutdown_jvm()
        finally:
            kill_descendants()  # whatever did not stop cleanly
    end_to_end = {
        "setup_s": metric(setup_s, "s"),
        "op_p50_s": metric(op_p50_s, "s"),
        # from the same median as op_p50_s, never from a total wall
        "docs_per_s": metric(workload.docs / op_p50_s, "docs/s"),
        "peak_rss_mb": metric(peak_mb, "MB"),
    }
    return {"correct": tally.failed == 0, "attempted": tally.attempted,
            "failed": tally.failed, "end_to_end": end_to_end,
            "per_layer": per_layer}


def work_dir() -> str:
    return os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")


def remove_work_dir(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run's directory is still there


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    work = work_dir()

    def on_sigterm(*_):
        # a py4j call may be in flight and cannot be unwound cleanly: end
        # the JVM and its workers directly, remove the files and leave
        kill_descendants()
        remove_work_dir(work)
        os._exit(143)

    signal.signal(signal.SIGTERM, on_sigterm)
    try:
        size_environment(work)
        import_program()
        workload = make_workload(args.workload, work, args.seed)
        result = run(workload, args.seconds, bool(args.trace), work)
    finally:
        remove_work_dir(work)
    end_to_end, per_layer = result.pop("end_to_end"), result.pop("per_layer")
    print(json.dumps({**result, "metrics": per_layer if args.trace else end_to_end}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
