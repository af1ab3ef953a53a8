#!/usr/bin/env python3
"""Benchmark of the game ETL, the weekly reports and the retrieval
indexes, run from the root of a checkout:

  python3 perfbench/run.py --workload games --seed 1 --seconds 10 --trace 0

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer
metrics (perfbench/tracing.py). The last line of stdout is one JSON
object {"correct", "attempted", "failed", "metrics"}; progress and the
recorded environment go to stderr. Workloads and metrics are described
in BENCHMARK.json and perfbench/RATIONALE.md.

Everything the run writes stays under perfbench/.work of the checkout.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, ".work")
WORKLOADS = ("games", "index_lifecycle")
# pinned environment, the same on every commit. Two Spark cores leave
# the rest of the box to the JVM's own threads and the Python driver;
# on a 4-core box the operations ran faster than at local[4].
CPUS = min(2, len(os.sched_getaffinity(0)))
DRIVER_MEMORY = "2g"


def pin_environment(work: str, trace: bool) -> dict:
    """Set the engine's environment knobs and Spark's scratch paths
    before the JVM starts; returns what was set, for the record."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        # one plain JSON-lines file that tracing.spark_side reads
        confs["spark.eventLog.compress"] = "false"
        confs["spark.eventLog.rolling.enabled"] = "false"
    env = {
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
        + " pyspark-shell",
    }
    os.environ.update(env)
    return env


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far: time a virtual
    machine's CPUs were runnable but held by the host."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def record_environment(env: dict) -> dict:
    import pyspark

    sha = "unknown"
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        pass
    return {
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "SPARK_DRIVER_MEMORY": env["SPARK_DRIVER_MEMORY"],
        "SPARK_LOCAL_DIRS": os.path.relpath(env["SPARK_LOCAL_DIRS"], ROOT),
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "git_sha": sha,
        "loadavg_start": [round(x, 2) for x in os.getloadavg()],
        "steal_start": cpu_steal(),
    }


class MemSampler:
    """Peak proportional set size (PSS) of this process and all its
    descendants (the JVM and its Python workers), sampled from /proc.
    PSS, not RSS: forked Python workers share most of their pages, and
    summing their RSS would count those pages once per worker."""

    def __init__(self, period: float = 0.5) -> None:
        self.peak = 0
        self.period = period
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    @staticmethod
    def _tree_pss() -> int:
        total = 0
        for pid in {os.getpid()} | _descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, ValueError):
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_pss())
            self._stop.wait(self.period)

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / 2**20


class NoHooks:
    """The untraced run: spans are plain calls."""

    @staticmethod
    def span(layer, phase, fn):
        return fn()


def _descendants(pid: int) -> set[int]:
    out, stack = set(), [pid]
    while stack:
        p = stack.pop()
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    kids = [int(c) for c in fh.read().split()]
                out.update(kids)
                stack.extend(kids)
        except (OSError, ValueError):
            continue
    return out


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait until the JVM
    and every Python worker it forked have ended."""
    from pyspark import SparkContext

    children = _descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    for pid in children:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def _alive(pid: int) -> bool:
    """Running, not ended and not a zombie waiting for its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    work = os.path.join(WORK_ROOT, f"run-{args.workload}-{os.getpid()}")
    env = pin_environment(work, bool(args.trace))
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "scripts")]
    mem = MemSampler()
    spark = None
    try:
        import run_etl  # noqa: F401  (the program; absent -> ImportError)
        from chess_pipeline_spark.session import get_spark

        import work as W

        record = record_environment(env)
        inputs = W.Inputs(os.path.join(WORK_ROOT, "inputs"), args.workload, args.seed)
        record["generate_s"] = round(inputs.gen_s, 3)
        W.log(f"environment: {json.dumps(record)}")
        # set-up clock: process start until the first timed operation,
        # less input generation and the benchmark's own reference data
        setup = {"excluded": inputs.gen_s}

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        setup["session_s"] = time.perf_counter() - t0

        if args.trace:
            import tracing as T

            hooks = T.Tracer(spark)
        else:
            hooks = NoHooks()
        wl = W.Workload(args.workload, spark, inputs, work, hooks)
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(sys.stderr):
            wl.warmup()
        setup["warmup_s"] = time.perf_counter() - t0
        if args.workload == "index_lifecycle":
            t0 = time.perf_counter()
            wl.reference()
            setup["excluded"] += time.perf_counter() - t0
        setup_s = time.perf_counter() - PROCESS_START - setup["excluded"]
        W.log(f"setup: {setup_s:.2f} s {json.dumps({k: round(v, 2) for k, v in setup.items()})}")

        with contextlib.redirect_stdout(sys.stderr):
            if args.trace:
                result = T.traced_run(wl, setup)
            else:
                result = timed_loop(wl, args.seconds)
                result["metrics"]["setup_s"] = {"value": setup_s, "unit": "s"}
        stop_spark(spark)
        spark = None
        peak = mem.stop()
        if args.trace:
            T.spark_side(hooks, os.path.join(work, "eventlog"), result["metrics"])
            units = dict(T.PER_LAYER_UNITS)
            result["metrics"] = {
                k: {"value": v, "unit": units[k]} for k, v in sorted(result["metrics"].items())
            }
        else:
            result["metrics"]["peak_pss_mb"] = {"value": peak, "unit": "MB"}
        record["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        steal, total = (b - a for a, b in zip(record.pop("steal_start"), cpu_steal()))
        record["steal_frac"] = round(steal / max(total, 1), 4)
        W.log(f"environment: {json.dumps(record)}")
    except Exception:
        traceback.print_exc()
        if spark is not None:
            try:
                stop_spark(spark)
            except Exception:
                traceback.print_exc()
        mem.stop()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def timed_loop(wl, seconds: float) -> dict:
    """Closed loop of rounds: one, then more until `seconds` have
    passed. Each operation's wall time is recorded under its kind; a
    failed operation ends its round."""
    import work as W

    samples: dict[str, list[float]] = {"rebuild": [], "ingest": [], "read": []}
    attempted = failed = 0
    t_end = time.perf_counter() + seconds

    def timer(kind, fn):
        nonlocal attempted
        attempted += 1
        t0 = time.perf_counter()
        out = fn()
        samples[kind].append(time.perf_counter() - t0)
        return out

    r = 0
    while r == 0 or (wl.rounds_left(r) and time.perf_counter() < t_end):
        try:
            wl.run_round(timer)
        except Exception as e:
            failed += 1
            W.log(f"round {r} failed: {e!r}")
            traceback.print_exc()
        r += 1
    wl.clear()
    W.log(
        "samples: "
        + json.dumps({k: [round(x, 3) for x in v] for k, v in samples.items()})
        + f" recall={wl.recalls}"
    )
    if any(not v for v in samples.values()):
        raise RuntimeError("an operation kind has no successful sample")
    med = statistics.median
    metrics = {
        "rebuild_s": {"value": med(samples["rebuild"]), "unit": "s"},
        "ingest_s": {"value": med(samples["ingest"]), "unit": "s"},
        "read_s": {"value": med(samples["read"]), "unit": "s"},
        "items_per_s": {
            "value": wl.items / (sum(samples["rebuild"]) + sum(samples["ingest"])),
            "unit": "items/s",
        },
        "out_bytes_per_in_byte": {"value": wl.out_bytes / wl.in_bytes, "unit": "ratio"},
    }
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    raise SystemExit(main())
