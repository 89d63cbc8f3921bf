"""Layered entity-resolution benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload er_resolve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The run is a
single-process closed loop at ``local[nproc]``: it sets up once (session
start, seeded inputs, parquet write, checked warm-up jobs),
then runs the workload's public entry point back to back for
``--seconds`` (at least ``MIN_RUNS`` times), checking every run's output
and that every run released its caches.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` instead runs
the layers one by one in a session with Spark's event log on and prints
the per-layer metrics (see ``layers.py``). Human-readable lines go first;
the last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.

Everything the run writes (parquet inputs, Spark local dirs, event log) is
under ``perfbench/.work/`` in the checkout and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from typing import NamedTuple

from checks import check_released

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "3g"  # sized for a 4-core, 15 GiB machine
# a fixed young generation: G1's adaptive young sizing moved peak RSS by
# about 15% between identical runs; with it fixed, peak RSS follows the
# data the run retains
YOUNG_GEN = "512m"
MIN_RUNS = 3  # timed jobs per run, so one slow job cannot move the median
# checked warm-up jobs in set-up: the cold first job takes about 3x a
# warm one, and the next is still 10-20% slower than the one after it
WARMUP_RUNS = 2
# On a shared VM the hypervisor can take the vCPUs away for a minute or
# more (CPU steal of 10-30% on the 4-vCPU VM this was sized on), and a
# job then runs up to 2x slower. A job with more steal than STEAL_OK is
# kept out of wall_s while calmer jobs can still be had: the timed phase
# runs on until MIN_RUNS jobs are calm or it has lasted MAX_TIMED_S.
STEAL_OK = 0.02
MAX_TIMED_S = 45.0
RSS_INTERVAL_S = 0.5


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    its Python workers), sampled from ``/proc`` on a background thread."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(rss_kb(p) for p in descendants()))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live descendant of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after it are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def start_session(work: str, event_dir: str | None = None):
    from triple_accel_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions":
            f"-Xmn{YOUNG_GEN} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master=f"local[{CORES}]",
                     shuffle_partitions=CORES, extra_conf=conf)


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


class Run(NamedTuple):
    wall: float | None  # None when the run raised
    problems: list
    quality: float | None
    metrics: dict
    steal: float = 0.0  # share of the host's CPU time stolen during the run


def host_ticks() -> tuple[int, int]:
    """``(steal, total)`` CPU ticks of all the host's CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def checked_run(spark, wl, results: list) -> None:
    """One run with its output checks and cache-release check, appended
    to ``results`` as a ``Run``."""
    before = persisted_rdds(spark)
    steal0, total0 = host_ticks()
    try:
        wall, problems, quality, metrics = wl.run_once(spark)
    except Exception:  # a failed run is counted, not fatal
        log(traceback.format_exc())
        results.append(Run(None, ["raised"], None, {}))
        return
    steal1, total1 = host_ticks()
    problems = problems + check_released(before, persisted_rdds(spark))
    for p in problems:
        log(f"  run {len(results) + 1}: {p}")
    steal = (steal1 - steal0) / max(total1 - total0, 1)
    results.append(Run(wall, problems, quality, metrics, steal))


def shut_down(spark) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def setup(name: str, seed: int, work: str, data: str):
    """Start the session (and its JVM), generate the inputs, write them
    to parquet and read them back, then run ``WARMUP_RUNS`` checked
    jobs: the cold job pays for class loading, plan compilation, the JIT
    and starting the Python workers. Returns the session, the workload,
    the warm-up results and the seconds of each phase."""
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = start_session(work)
    t1 = time.perf_counter()
    wl = WORKLOADS[name](seed)
    wl.write(data, CORES)
    t2 = time.perf_counter()
    wl.load(spark, data)
    t3 = time.perf_counter()
    warm: list = []
    for _ in range(WARMUP_RUNS):
        checked_run(spark, wl, warm)
    t4 = time.perf_counter()
    phases = {"session": t1 - t0, "inputs": t2 - t1, "read": t3 - t2,
              "warmup": t4 - t3}
    return spark, wl, warm, phases


def measure(spark, wl, seconds: float) -> tuple[list, float]:
    """Back-to-back checked runs for ``seconds`` (at least ``MIN_RUNS``,
    and on while fewer than ``MIN_RUNS`` ran calm, up to ``MAX_TIMED_S``);
    returns the run results and the peak RSS in MB."""
    results: list = []
    with RssSampler() as rss:
        t0 = time.perf_counter()
        while True:
            checked_run(spark, wl, results)
            walls = [r.wall for r in results if r.wall is not None]
            calm = [r for r in results if r.wall is not None and r.steal <= STEAL_OK]
            elapsed = time.perf_counter() - t0
            next_end = elapsed + (statistics.median(walls) if walls else 0.0)
            if (len(results) >= MIN_RUNS and next_end > seconds
                    and (len(calm) >= MIN_RUNS or next_end > MAX_TIMED_S)):
                break
    return results, rss.peak_kb / 1024


def timed_runs(results: list) -> list:
    """The runs ``wall_s`` is the median of: every calm run when there
    are ``MIN_RUNS`` of them, else the ``MIN_RUNS`` least-stolen."""
    done = [r for r in results if r.wall is not None]
    calm = [r for r in done if r.steal <= STEAL_OK]
    return calm if len(calm) >= MIN_RUNS else sorted(done, key=lambda r: r.steal)[:MIN_RUNS]


def summary(results: list, metrics: dict) -> dict:
    """The result line; ``results`` includes the checked warm-up runs."""
    failed = sum(1 for r in results if r.problems)
    attempted = len(results)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def untraced(args, work: str, data: str) -> dict:
    spark, wl, warm, phases = setup(args.workload, args.seed, work, data)
    setup_s = sum(phases.values())
    try:
        results, peak_mb = measure(spark, wl, args.seconds)
    finally:
        shut_down(spark)
    done = [r for r in results if r.wall is not None]
    if not done:
        raise RuntimeError("no timed run completed")
    timed = timed_runs(results)
    wall = statistics.median(r.wall for r in timed)
    quality = min(r.quality for r in done)
    res = summary(warm + results, {
        "wall_s": {"value": wall, "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "records_per_s": {"value": wl.records / wall, "unit": "1/s"},
        "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        "quality": {"value": quality, "unit": "frac"},
    })
    print(f"workload        {wl.name}  seed {args.seed}  local[{CORES}]")
    print(f"setup_s         {setup_s:.3f} s  ("
          + ", ".join(f"{k} {v:.2f}" for k, v in phases.items()) + ")")
    print(f"wall_s          {wall:.3f} s  (median of {len(timed)} of {len(done)}; "
          "wall s @ CPU steal: "
          + ", ".join(f"{r.wall:.2f} @ {r.steal:.1%}" for r in done) + ")")
    print(f"records_per_s   {wl.records / wall:.1f} 1/s  ({wl.records} records)")
    print(f"peak_rss_mb     {peak_mb:.1f} MB")
    print(f"failed_frac     {res['failed'] / res['attempted']:.3f}  "
          f"({res['failed']} of {res['attempted']} runs)")
    print(f"{wl.quality_name:<15} {quality:.4f} frac  (reported as quality)")
    return res


def traced(args, work: str, data: str) -> dict:
    from eventlog import EventLog
    from layers import Tracer, layer_metrics, run_layers

    event_dir = os.path.join(work, "events")
    os.makedirs(event_dir)
    spark, wl, warm, phases = setup(args.workload, args.seed, work, data)
    plain: list = []
    logged: list = []
    try:
        cross = wl.cross_check(spark)
        for p in cross:
            log(f"  cross-check: {p}")
        checked_run(spark, wl, plain)
        spark.stop()
        spark = start_session(work, event_dir)
        tr = Tracer(spark)
        with tr.layer("sources"):
            for df in wl.load(spark, data):
                df.count()
        # the new session starts new Python workers: warm them up first,
        # so the overhead below is the event log's alone
        checked_run(spark, wl, warm)
        with tr.layer("e2e"):
            checked_run(spark, wl, logged)
        e2e = logged[0].metrics
        outside = run_layers(spark, wl, tr, e2e if "t_score_action" in e2e else None)
    finally:
        shut_down(spark)
    (name,) = os.listdir(event_dir)
    if plain[0].wall is None or logged[0].wall is None:
        raise RuntimeError("an end-to-end job of the traced run raised")
    m = layer_metrics(outside, tr.walls, EventLog.read(os.path.join(event_dir, name)),
                      "e2e")
    m["session.setup_s"] = phases["session"]
    m["trace.untraced_wall_s"] = plain[0].wall
    m["trace.traced_wall_s"] = logged[0].wall
    m["trace.overhead_s"] = m["trace.traced_wall_s"] - m["trace.untraced_wall_s"]
    for key in sorted(m):
        print(f"{key:<32} {m[key]:.6g}")
    units = per_layer_units()
    missing = set(units) - set(m)
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {sorted(missing)}")
    if cross:
        warm[0].problems.extend(cross)
    return summary(warm + plain + logged, {
        k: {"value": float(m[k]), "unit": units[k]} for k in units
    })


def per_layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {x["name"]: x["unit"] for x in json.load(f)["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers are spawned by the JVM: they find the package (and
    # write their temp files) through the environment set here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path[:0] = [ROOT, HERE]
    try:
        import triple_accel_spark  # noqa: F401  (fail early outside a checkout)
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        result = (traced if args.trace else untraced)(args, work, data)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
