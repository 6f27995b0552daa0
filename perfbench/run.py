"""Benchmark entry point.

    python3 perfbench/run.py --workload llm_kernels --seed 1 --seconds 10 --trace 0

Runs one workload against the engine in this checkout and prints a
human-readable summary (every metric by name, with unit and sample count,
the failed count and the host facts), then, as the last line of standard
output, one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics.

Everything the run writes goes under ``perfbench/.work/`` (removed at exit)
and, for traced runs, the span file under ``perfbench/.out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("llm_kernels", "fanout_live")
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "latency_ms": "ms"}
RUN_LIMIT_S = 150  # an overlong run stops here, leaving time to shut Spark down


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep every file Spark, the engine and the Python workers write inside
    ``work``, and let the workers import the engine from this checkout."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prior if prior else "")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    sys.path.insert(0, ROOT)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == pid:
                out.append(int(entry))
    return out


def _descendants(pid: int) -> list[int]:
    found, stack = [], [pid]
    while stack:
        kids = _children(stack.pop())
        found.extend(kids)
        stack.extend(kids)
    return found


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for ``pids`` to exit; kill any still running after ``timeout``."""
    end = time.time() + timeout
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.time() < end:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and every process under
    it (the Python worker daemon), and wait until all have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
                proc.kill()
                proc.wait()
        _wait_gone(kids, 15.0)
        SparkContext._gateway = None
        SparkContext._jvm = None


def e2e_metrics(res, setup_s: float) -> dict:
    import stats

    s = res.samples
    n = res.notes.get("draw_count", len(s["latency_ms"]))
    return {
        "setup_s": (setup_s, 1),
        "pass_s": (stats.median(s["pass_s"]), len(s["pass_s"])),
        "latency_ms": (stats.median(s["latency_ms"]), n),
    }


def host_facts(spark_version: str) -> str:
    import pyspark

    load = " ".join(f"{x:.2f}" for x in os.getloadavg())
    return (f"nproc={len(os.sched_getaffinity(0))} loadavg={load} "
            f"spark={spark_version} pyspark={pyspark.__version__}")


def print_block(title: str, metrics: dict, units: dict) -> None:
    print(title)
    for name, (value, n) in metrics.items():
        print(f"  {name:<32} {value:>16.6g} {units.get(name, ''):<6} n={n}")


def _overrun(*_) -> None:
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "espkinesis_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 3
    # a terminated or overlong run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    signal.signal(signal.SIGALRM, _overrun)
    signal.alarm(RUN_LIMIT_S)
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args: argparse.Namespace, work: str) -> int:
    configure_env(work)
    import datagen
    import tracing
    import workloads

    t_start = time.perf_counter()
    data_dir = os.path.join(work, "data")
    if args.workload == "llm_kernels":
        datagen.write_tables(data_dir, args.seed)
    event_log = os.path.join(work, "eventlog") if args.trace else None

    t0 = time.perf_counter()
    from espkinesis_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            # zstd-compressed rolling logs are Spark 4's default
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name=f"perfbench_{args.workload}", extra_conf=conf)
    t1 = time.perf_counter()
    try:
        cores = spark.sparkContext.defaultParallelism
        version = spark.version
        if args.workload == "llm_kernels":
            res = workloads.run_llm_kernels(spark, data_dir, args.seed, args.seconds,
                                            bool(args.trace))
        else:
            res = workloads.run_fanout_live(spark, work, args.seconds, bool(args.trace))
        from pyspark import SparkContext

        rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(SparkContext._gateway.proc.pid)
        t3 = time.perf_counter()
    finally:
        stop_spark(spark)
    res.notes["phases_s"] = {
        "datagen": round(t0 - t_start, 2), "session": round(t1 - t0, 2),
        "workload": round(t3 - t1, 2), "teardown": round(time.perf_counter() - t3, 2)}

    e2e = e2e_metrics(res, t1 - t0 + res.warm_s)
    if args.trace:
        log = tracing.read_event_log(event_log)
        if args.workload == "llm_kernels":
            layers = workloads.llm_layers(res, log, cores)
        else:
            layers = workloads.fanout_layers(res, log, cores)
        layers["session.start_s"] = t1 - t0
        layers["session.warm_s"] = res.warm_s
        layers["driver.peak_rss_mb"] = rss
        res.trace["spans"].write(
            os.path.join(HERE, ".out", f"spans_{args.workload}_seed{args.seed}.json"))
        reported = {k: (v, 1) for k, v in sorted(layers.items())}
        units = layer_units()
    else:
        reported, units = e2e, E2E_UNITS

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace}")
    print(f"host: {host_facts(version)}")
    print(f"attempted={res.attempted} failed={res.failed} "
          f"failed_frac={res.failed / max(res.attempted, 1):.4f}")
    for why in res.failures:
        print(f"  failure: {why}")
    if args.trace:
        print_block("end-to-end (untraced half of this run):", e2e, E2E_UNITS)
    else:
        print(f"peak RSS (driver JVM + Python): {rss:.1f} MB")
    print_block("metrics:", reported, units)
    print(f"notes: {json.dumps(res.notes, default=str, sort_keys=True)}")
    out = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, (v, _n) in reported.items()},
    }
    print(json.dumps(out))
    return 0


def layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
