"""Benchmark launcher.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Pins the resources Spark runs under through
the environment variables ``session.get_spark`` reads (one local core per
CPU this process may use, a driver heap sized to the machine, scratch
directories inside ``.perfbench_work/``), sets up the workload, warms it up,
then measures passes for ``--seconds`` seconds and checks every pass's
output. With ``--trace 0`` it reports the end-to-end metrics; with
``--trace 1`` it alternates untraced and traced passes and reports the
per-layer metrics. The last line of standard output is the result object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
FIXTURE_DIR = ROOT / "tests" / "fixtures" / "sf0.001"
WORKLOADS = ("ingest_nlp_latency", "ingest_resume_bulk", "catalog_mix")


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    start_ticks = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def pin_resources() -> dict[str, str]:
    cpus = len(os.sched_getaffinity(0))
    mem_kb = next(
        int(line.split()[1]) for line in Path("/proc/meminfo").read_text().splitlines() if line.startswith("MemTotal:")
    )
    driver_mb = max(1024, min(2048, mem_kb // 1024 // 4))
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(WORK / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        # every JVM, the launcher's too: no perf-data file in the system /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}",
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        Path(pinned[key]).mkdir(parents=True, exist_ok=True)
    os.environ.update(pinned)
    return pinned


def cpu_times() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat."""
    return [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def _process_tree() -> list[int]:
    children: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            ppid = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p.name))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def tree_peak_rss_mb() -> float:
    """Sum over this process and its descendants (JVM, Python workers) of
    each one's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in _process_tree():
        try:
            status = Path(f"/proc/{pid}/status").read_text()
        except OSError:
            continue
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
    return total_kb / 1024


def start_spark():
    from annotations_ingester_spark.session import get_spark

    # a fixed, pre-touched heap: how far G1 happens to grow it would
    # otherwise move peak_rss_mb by ~10% from run to run
    heap = os.environ["SPARK_DRIVER_MEM"]
    java_opts = f"-Xms{heap} -XX:+AlwaysPreTouch"
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark, shut the JVM down and wait until every process it
    started (the JVM and its Python workers) has exited; kill what is left
    after a minute."""
    from pyspark import SparkContext

    started = _process_tree()[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    alive = started
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [pid for pid in alive if _running(pid)]
    for pid in alive:
        os.kill(pid, signal.SIGKILL)


def _running(pid: int) -> bool:
    """Whether ``pid`` exists and has not exited (zombies have)."""
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return False
    return stat.rsplit(")", 1)[1].split()[0] != "Z"


def make_workload(name: str, seed: int, spark, cpus: int):
    from perfbench.workloads import CatalogMix, IngestWorkload

    if name == "catalog_mix":
        if not FIXTURE_DIR.is_dir():
            raise FileNotFoundError(f"catalog base tables missing: {FIXTURE_DIR}")
        return CatalogMix(seed, WORK, spark, FIXTURE_DIR)
    return IngestWorkload(name, seed, WORK, spark, cpus)


def measure(wl, seconds: float, trace: bool) -> tuple[dict[str, tuple[float, str]], int, int]:
    """Untraced passes (with ``trace``, alternating with traced ones) until
    ``seconds`` of pass time and at least the workload's ``min_passes``
    (so ``run_s`` is always a median of several); a traced run makes at
    least one of each."""
    from perfbench.trace import Tracer

    samples, traced, tracers, heap_peaks = [], [], [], []
    spent = 0.0
    while spent < seconds or len(samples) + len(traced) < (2 if trace else wl.min_passes):
        if trace and len(samples) > len(traced):
            tr = Tracer()
            traced.append(wl.traced_pass(tr))
            tracers.append(tr)
            spent += tr.spans[0].end - tr.spans[0].start
        else:
            samples.append(wl.run_pass())
            heap_peaks.append(wl.heap_peaks)
            spent += wl.pass_seconds(samples[-1])
    peak_rss = tree_peak_rss_mb()
    attempted, failed = wl.checked()
    run_s = wl.run_s(samples)
    if trace:
        from perfbench.layers import per_layer

        metrics = per_layer(traced, tracers, run_s, heap_peaks)
        metrics["check.failed_frac"] = (failed / attempted, "ratio")
    else:
        metrics = {
            "run_s": (run_s, "s"),
            "ops_per_s": (wl.ops_per_pass / run_s, "1/s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
    return metrics, attempted, failed


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser("perfbench")
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    shutil.rmtree(WORK, ignore_errors=True)
    pinned = pin_resources()
    sys.path.insert(0, str(ROOT))
    import perfbench.workloads  # noqa: F401  (fails fast without the package)

    t0 = time.perf_counter()
    spark = start_spark()
    session_s = time.perf_counter() - t0
    wl = None
    try:
        cpus = int(pinned["SPARK_GRAFT_CPUS"])
        wl = make_workload(args.workload, args.seed, spark, cpus)
        t0 = time.perf_counter()
        wl.setup()
        inputs_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm_up()
        warmup_s = time.perf_counter() - t0
        setup_s = process_age_s()
        cpu0 = cpu_times()
        metrics, attempted, failed = measure(wl, args.seconds, bool(args.trace))
        steal = steal_share(cpu0, cpu_times())
    finally:
        if wl is not None:
            wl.close()
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    if args.trace:
        metrics.update(
            {
                "setup.session_s": (session_s, "s"),
                "setup.inputs_s": (inputs_s, "s"),
                "setup.warmup_s": (warmup_s, "s"),
            }
        )
    else:
        metrics["setup_s"] = (setup_s, "s")
    # provenance, not a metric: what the run was given and how contended
    # the host was while it measured
    print(json.dumps({"resources": pinned, "host_steal_share": round(steal, 4)}))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
