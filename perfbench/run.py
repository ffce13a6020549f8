"""Seeded end-to-end benchmark of the map_v2_etl_spark engine.

    python3 perfbench/run.py --workload region_build --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: region_build and llm_data
(see workloads.py for what each exercises and why). One process is one
run: it starts its own Spark session sized for the box (local[nproc],
driver heap from SPARK_GRAFT_DRIVER_MEM, default 3g), generates or
reuses the seeded inputs and their expected outputs under
perfbench/.work/, then measures passes until ``--seconds`` of pass time
have elapsed (at least one). Every pass's outputs are checked; a
mismatch counts as a failed operation.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns the
Spark UI status store on, runs one traced and then one untraced pass,
prints the per-layer metrics (six stats per span, the session set-up
time and the tracing overhead) and writes the spans to
perfbench/.work/spans-<workload>-<seed>.jsonl.

The last line of stdout is one JSON object:
{"correct": bool, "attempted": int, "failed": int,
 "metrics": {name: {"value": number, "unit": str}}}
``--size tiny`` runs the same workloads on tiny inputs (smoke mode).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_START = process_start_epoch()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def _kb(path: str, key: str) -> int:
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def resident_mb(jvm_pid: int) -> float:
    """RSS of the JVM plus the proportional set size (PSS) of every
    process under it: the Python workers are forked from one daemon and
    share its pages, which summed RSS would count once per worker.

    A child still running the JVM's own executable is skipped: the JVM
    starts helpers (chmod, rm) with posix_spawn, and until its exec such a
    child shares the JVM's address space, so its PSS is the JVM's again."""
    total = _kb(f"/proc/{jvm_pid}/status", "VmRSS:")
    jvm_exe = _exe(jvm_pid)
    for p in descendants(jvm_pid)[1:]:
        if _exe(p) != jvm_exe:
            total += _kb(f"/proc/{p}/smaps_rollup", "Pss:")
    return total / 1024


class RssSampler(threading.Thread):
    """Peak resident memory of the driver JVM and every process under it
    (the Python workers), sampled every 0.2 s."""

    def __init__(self, jvm_pid: int):
        super().__init__(daemon=True)
        self.jvm_pid = jvm_pid
        self.peak = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, resident_mb(self.jvm_pid))
            self._stop_evt.wait(0.2)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak


def configure_env() -> None:
    """Keep every file the run writes inside the checkout and let the
    Python workers import the package."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    sys.path.insert(0, ROOT)


def start_session(trace: bool):
    from map_v2_etl_spark.plans.registry import all_queries
    from map_v2_etl_spark.session import get_spark

    conf = {
        # -Xms = the driver heap: a heap that starts small is grown by GC
        # at run-to-run varying points, which spread the pass times;
        # -XX:-UsePerfData keeps the JVM's hsperfdata file out of /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
            f" -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
        })
    t = time.monotonic()
    spark = get_spark(
        "perfbench", cpus=len(os.sched_getaffinity(0)), extra_conf=conf
    )
    get_spark_s = time.monotonic() - t
    all_queries()
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, get_spark_s


def stop_session(spark) -> None:
    """Stop Spark, close the JVM's stdin pipe and wait for the JVM and
    its Python workers to exit."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    pids = descendants(proc.pid)
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    for p in pids:
        while os.path.exists(f"/proc/{p}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def measure(spark, args, setup_s: float, get_spark_s: float) -> dict:
    """Run the workload's passes and return the result object."""
    from pyspark import SparkContext

    import workloads

    wl = workloads.WORKLOADS[args.workload](
        spark, WORK, args.seed, args.size, args.corrupt
    )
    wl.prepare()
    sampler = RssSampler(SparkContext._gateway.proc.pid)
    sampler.start()
    attempted = failed = 0
    problems: list[str] = []

    def run_pass(tracer=None):
        nonlocal attempted, failed
        t = time.monotonic()
        try:
            res = wl.run_pass(tracer)
        except Exception:  # an engine error fails the pass, not the run
            traceback.print_exc()
            res = workloads.PassResult(wall_s=time.monotonic() - t)
            res.op(["pass raised"])
        print(f"pass {res.wall_s:.2f}s ops={res.attempted} failed={res.failed}",
              file=sys.stderr)
        attempted += res.attempted
        failed += res.failed
        problems.extend(res.problems)
        return res

    try:
        if args.trace:
            from spans import Tracer

            # the traced pass is the run's first pass, like the measured pass
            # of an untraced run, so its spans carry the same cold-start work;
            # the untraced pass after it is warm, so the reported overhead
            # also holds the JIT warm-up
            tracer = Tracer(spark)
            tracer.pass_id = 1
            with tracer.span("pass"):
                traced = run_pass(tracer)
            untraced = run_pass()
            sampler.stop()
            layer = tracer.layer_metrics(1)
            tracer.write(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
            metrics = {
                k: metric(v, "s" if k.endswith("self_s") else "MB" if k.endswith("_mb")
                          else "ratio" if k.endswith("skew") else "count")
                for k, v in layer.items()
            }
            metrics["session.get_spark.self_s"] = metric(get_spark_s, "s")
            metrics["tracing_overhead_s"] = metric(traced.wall_s - untraced.wall_s, "s")
        else:
            # no warm-up pass: a run has time for one pass, so the measured
            # pass is the process's first (cold JIT), as for a batch job
            measured = []
            while not measured or sum(r.wall_s for r in measured) < args.seconds:
                measured.append(run_pass())
            peak = sampler.stop()
            recall = sum(r.recall_num for r in measured) / max(
                sum(r.recall_den for r in measured), 1)
            metrics = {
                "setup_s": metric(setup_s, "s"),
                "items_per_s": metric(
                    statistics.median(wl.items / r.wall_s for r in measured), "1/s"),
                "peak_rss_mb": metric(peak, "MB"),
                "output_mb": metric(wl.output_bytes() / 1e6, "MB"),
                "success_ratio": metric(1 - failed / attempted, "ratio"),
                "recall": metric(recall, "ratio"),
            }
    finally:
        wl.cleanup()
    for p in problems[:20]:
        print(f"check failed: {p}", file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["region_build", "llm_data"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    # smoke-test hook: corrupt every pass's output before it is checked
    ap.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    configure_env()
    spark, get_spark_s = start_session(bool(args.trace))
    setup_s = time.time() - T_START
    try:
        out = measure(spark, args, setup_s, get_spark_s)
    finally:
        stop_session(spark)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
