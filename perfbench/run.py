"""Lakehouse benchmark: one workload per invocation, in a fresh process.

    python3 perfbench/run.py --workload lakehouse_day --seed 1 --seconds 30 --trace 0

Run from the repository root (the directory holding
``spotify_etl_aws_spark``). Workloads: ``stream_catchup``,
``lakehouse_day`` and ``query_mix`` (see ``workloads.py``). The seed
makes the inputs; ``--seconds`` sets how many units are timed (one per
``workloads.UNIT_NOMINAL_S`` seconds, at least one). The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; progress and the per-layer table go to
standard error.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` wraps the
package's public functions in spans (``spans.py``) and enables Spark's
event log (``eventlog.py``), and prints the per-layer metrics instead.
Everything a run writes goes under ``.perfbench_work/`` in the
repository root and is removed when the run ends.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "spotify_etl_aws_spark"
DRIVER_MEM = "2g"

sys.path.insert(0, HERE)

import layers  # noqa: E402
import workloads  # noqa: E402


def _prepare_env(work: str, cpus: int) -> None:
    """Launch hygiene; must run before pyspark starts the JVM, which
    passes this environment on to the Python workers."""
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the pandas-UDF lanes import the package inside the Python workers
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prior if prior else "")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)


def _start_session(work: str, trace: bool):
    from spotify_etl_aws_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            # a fixed heap size keeps the JVM's footprint from following
            # adaptive resizing, which moved the peak memory figure by 15-20%
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            "-XX:-UsePerfData"
        ),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pids: list[int]) -> int:
    """Summed proportional set size: pages shared between processes,
    such as those the Python workers share with the daemon they fork
    from, count once in total rather than once per process."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb


class PssSampler:
    """Samples the summed PSS of this process, the driver JVM and the
    Python workers every ``interval`` seconds while resumed, that is
    during the timed units, and keeps the largest sample: the peak
    footprint of the whole process tree at one instant."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self.samples = 0
        self._on = threading.Event()
        self._quit = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        while self._on.wait() and not self._quit.is_set():
            kb = _pss_kb([me] + _descendants(me))
            self.peak_kb = max(self.peak_kb, kb)
            self.samples += 1
            self._quit.wait(self.interval)

    def resume(self) -> None:
        self._on.set()

    def pause(self) -> None:
        self._on.clear()

    def close(self) -> float:
        """Stops the thread; returns the peak in MB."""
        self._quit.set()
        self._on.set()
        self._thread.join()
        return self.peak_kb / 1024.0


def _stop(spark, pids: list[int]) -> None:
    """Stop Spark and wait for the JVM and every Python worker to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def run(args, work: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    _prepare_env(work, cpus)
    tracer = None
    if args.trace:
        import spans

        tracer = spans.Tracer()
        spans.install(tracer)
    t_session = time.perf_counter()
    spark = _start_session(work, bool(args.trace))
    session_ready = time.perf_counter()
    r = workloads.Run(
        spark=spark,
        work=work,
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        tracer=tracer,
        sampler=None if args.trace else PssSampler(),
    )
    try:
        workloads.WORKLOADS[args.workload](r)
    finally:
        peak = r.sampler.close() if r.sampler else 0.0
        _stop(spark, _descendants(os.getpid()))
    for e in r.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    out = {
        "correct": r.failed == 0 and bool(r.unit_s),
        "attempted": max(r.attempted, 1),
        "failed": r.failed if r.unit_s else max(r.failed, 1),
    }
    if not r.unit_s:
        out["metrics"] = {}
        return out
    if not args.trace:
        out["metrics"] = end_to_end(r, session_ready - T0 + r.warmup_s, peak)
        print(
            f"perfbench: {args.workload}: {len(r.unit_s)} timed units; op_p50_geomean_s "
            f"over {len(r.op_s)} operation kinds, "
            f"{sum(map(len, r.op_s.values()))} operations; peak_pss_mb over "
            f"{r.sampler.samples} samples",
            file=sys.stderr,
        )
        return out
    table = layers.per_layer(
        tracer,
        r,
        session_start_s=session_ready - t_session,
        eventlog_dir=os.path.join(work, "eventlog"),
        cores=cpus,
    )
    print(layers.render(args.workload, statistics.median(r.unit_s), table), file=sys.stderr)
    out["metrics"] = {name: _m(value, unit) for name, (value, unit) in table.items()}
    return out


def end_to_end(r: "workloads.Run", setup_s: float, peak_pss_mb: float) -> dict:
    """The end-to-end metrics of an untraced run. ``op_p50_geomean_s`` is
    the geometric mean, over operation kinds (each query, each stream,
    the upsert), of each kind's median latency: a plain median over a
    mix of kinds jumps between two kinds' latencies from run to run."""
    run_s = statistics.median(r.unit_s)
    medians = [statistics.median(v) for v in r.op_s.values() if v]
    return {
        "setup_s": _m(setup_s, "s"),
        "run_s": _m(run_s, "s"),
        "op_p50_geomean_s": _m(statistics.geometric_mean(medians) if medians else run_s, "s"),
        "peak_pss_mb": _m(peak_pss_mb, "MB"),
    }


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG} package beside {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
    print(f"perfbench: exit after {time.perf_counter() - T0:.1f}s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
