"""Flow-ETL benchmark: one command, every metric by name and unit.

    python3 perfbench/run.py --workload flow_tick --seed 1 --seconds 10 --trace 0

Workloads: ``flow_tick`` and ``media_tick`` (the two in BENCHMARK.json)
and ``flow_dashboard`` (the read-only query mix, run by hand).

Run from the repository root (any working directory works; the program
is found next to this directory). One process drives one workload as a
closed loop with a single client: the next operation starts when the
last one ends, until ``--seconds`` have passed and a whole round of the
workload's operations (one tick, or the whole query mix) is done, or
the workload's inputs run out. Spark runs at ``local[<cpus>]`` in a
session from the program's own factory (``session.get_spark``), with a
4g driver heap (``DRIVER_MEM``). Inputs
are generated from ``--seed``; every run gets a fresh temp root
(warehouse, state, cursors, sinks, Spark scratch) inside the checkout
and removes it on exit.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is a
separate run that writes Spark's event log, installs timing shims on
alternate rounds and prints the per-layer metrics. The last line
of stdout is the JSON result; everything else goes to stderr.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
import traceback

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PROGRAM = "falcon_metrics_etl_spark"
# The program's factory defaults to a 16g driver heap, sized for large
# hosts; on a 4-core, 15 GB machine it let a media_tick run's process
# tree peak at 11.4 GB resident. 4g holds these inputs.
DRIVER_MEM = "4g"


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants: the
    driver Python, the JVM it launched, and the Python workers."""
    rss: dict[int, int] = {}
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we listed /proc
        rss[int(p)] = int(fields[21]) * os.sysconf("SC_PAGE_SIZE")
        children.setdefault(int(fields[1]), []).append(int(p))
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total


class RssSampler(threading.Thread):
    def __init__(self, every: float = 0.25):
        super().__init__(daemon=True)
        self.every, self.peak = every, 0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            self._stop_evt.wait(self.every)

    def stop(self):
        self._stop_evt.set()
        self.join()


def phase(name: str) -> None:
    """Progress on stderr: seconds since the process started."""
    print(f"[{time.time() - T_START:7.2f} s] {name} done", file=sys.stderr, flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def submit_args(root: str, traced: bool) -> str:
    """spark-submit options of the run's session, handed to the
    program's own factory (``session.get_spark``) through
    ``PYSPARK_SUBMIT_ARGS``: scratch space inside the run root, no
    console progress, and the event log only in a traced run."""
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.local.dir": os.path.join(root, "spark-local"),
    }
    if traced:
        # one plain JSON-lines file: no zstd, no rolling directory
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(root, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    else:
        confs["spark.eventLog.enabled"] = "false"
    java_opts = f"-Djava.io.tmpdir={os.path.join(root, 'tmp')} -XX:-UsePerfData"
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    args += ["--driver-java-options", java_opts, "pyspark-shell"]
    return shlex.join(args)


def become_subreaper() -> None:
    """Have orphaned descendants (the Python workers of a JVM that has
    exited) re-parented to this process, so ``reap_children`` can wait
    for them. Linux only; elsewhere the JVM's own children are left to
    exit on their own."""
    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me, out = os.getpid(), []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                if int(fh.read().rsplit(")", 1)[1].split()[1]) == me:
                    out.append(int(p))
        except OSError:
            continue
    return out


def reap_children(grace: float = 30.0) -> None:
    """Wait until every child of this process has ended, the JVM's
    re-parented workers included; after ``grace`` seconds, kill the
    ones still running and wait for them."""
    deadline = time.time() + grace
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no children left
        if pid:
            continue
        if time.time() > deadline:
            for c in _children():
                try:
                    os.kill(c, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit: ``spark.stop()`` alone leaves the JVM running until this
    process exits (it ends on EOF of its stdin)."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 — the JVM may be gone already
                pass
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def make_session(root: str, traced: bool):
    from falcon_metrics_etl_spark.session import get_spark

    os.environ["PYSPARK_SUBMIT_ARGS"] = submit_args(root, traced)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    spark = get_spark("perfbench", cpus())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def prepare_env(root: str) -> None:
    for sub in ("tmp", "state", "eventlog", "spark-local"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ["FALCON_METRICS_STATE_DIR"] = os.path.join(root, "state")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    # Python workers import the program by name: put the repo on their path
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + prev if prev else "")
    tempfile.tempdir = None  # re-read TMPDIR


def traced_round(r: int) -> bool:
    """Shim-free and traced rounds alternate, starting and (at the
    minimum of three rounds) ending shim-free: each traced round repeats
    the operations of a shim-free one, and a linear drift over the run,
    such as the JIT warming up, cancels in the comparison."""
    return r % 2 == 1


def run(args, root: str) -> dict:
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    traced = bool(args.trace)
    spark = make_session(root, traced)
    try:
        phase("session")
        tracer = Tracer()
        wl = WORKLOADS[args.workload](
            spark, os.path.join(root, "work"), args.seed, tracer
        )
        with tracer.op("setup"):
            wl.setup()
        setup_s = time.time() - T_START
        phase("setup")
        if traced:
            wl.install_shims(tracer)

        lat: list[float] = []
        failed_ops = 0
        ops_traced: list[bool] = []
        deadline = time.time() + args.seconds
        # stop only between whole rounds, so every run measures a balanced
        # mix of the workload's operations; a traced run needs a traced
        # round between two shim-free ones
        min_ops = wl.round_size * (3 if traced else 1)
        i = 0
        while (i % wl.round_size or i < min_ops or time.time() < deadline) and (
            wl.max_ops is None or i < wl.max_ops
        ):
            on = traced and traced_round(i // wl.round_size)
            tracer.active = on
            t = time.time()
            try:
                with tracer.op("op", index=i, traced=on):
                    wl.op(i)
            except Exception:  # noqa: BLE001 — counted, then the loop stops
                traceback.print_exc()
                failed_ops += 1
                lat.append(time.time() - t)
                ops_traced.append(on)
                break
            finally:
                tracer.active = False
            lat.append(time.time() - t)
            ops_traced.append(on)
            i += 1
        tracer.undo()
        extra = {}
        if traced:
            with tracer.op("layer_stats"):
                extra = wl.layer_stats()

        phase("ops")
        with tracer.op("check"):
            bad = wl.check()
        phase("check")
        if bad:
            print(f"check failed: {bad}", file=sys.stderr)
            failed_ops = len(lat)
    finally:
        stop_spark(spark)

    print("op latencies (s): " + " ".join(f"{x:.3f}" for x in lat), file=sys.stderr)
    attempted = len(lat)
    result = {
        "correct": not bad and failed_ops == 0,
        "attempted": attempted,
        "failed": failed_ops,
    }
    if traced:
        from perfbench.layers import layer_metrics

        metrics = layer_metrics(
            wl, tracer, os.path.join(root, "eventlog"), lat, ops_traced,
            failed_ops, cpus(),
        )
        metrics.update(extra)
    else:
        from perfbench.stats import median

        metrics = {
            "op_p50_s": (median(lat), "s"),
            "setup_s": (setup_s, "s"),
        }
    result["metrics"] = {
        k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
    }
    return result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, PROGRAM, "__init__.py")):
        print(f"{PROGRAM} not found next to {HERE}: nothing to benchmark",
              file=sys.stderr)
        return 2
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    root = os.path.join(
        REPO, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    prepare_env(root)
    # on SIGTERM, unwind: stop Spark, wait for its processes and remove
    # the run root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    rss = RssSampler() if args.trace else None
    if rss:
        rss.start()
    try:
        result = run(args, root)
    finally:
        if rss:
            rss.stop()
        reap_children()
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))  # only when no other run is live
        except OSError:
            pass
    if args.trace:
        # a per-layer number: its run-to-run spread exceeds a tenth
        result["metrics"]["peak_rss_mb"] = {"value": rss.peak / 2**20, "unit": "MB"}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
