"""Engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the engine. The run generates its inputs
from the seed under `.perfbench_work/`, pins the host settings the engine
reads (SPARK_GRAFT_CPUS, SPARK_DRIVER_MEMORY), sets the engine up, warms it,
measures for `--seconds`, checks the outputs against the engine's DuckDB
oracles, and prints the result as the last line of stdout. With `--trace 1`
Spark's event log is switched on through the benchmark's own SPARK_CONF_DIR
and the per-layer metrics are printed instead of the end-to-end ones.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "stock_market_big_data_project_spark")


def host_settings() -> dict:
    """Host facts the results depend on, and the engine settings pinned to them."""
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    cpus = len(os.sched_getaffinity(0))
    # At most a quarter of RAM and 1.5 GiB: the engine's 16g default is a
    # whole small host, the inputs here fit in far less, and a heap that
    # fills early keeps the resident size steady from run to run.
    driver_mb = max(1024, min(1536, mem_kb // 1024 // 4))
    return {"nproc": cpus, "mem_total_mb": mem_kb // 1024, "driver_memory_mb": driver_mb}


def pin_environment(work: str, trace: bool, host: dict) -> None:
    """Everything the engine and Spark read from the environment. Spark's own
    settings go through a spark-defaults.conf in a conf dir of our own."""
    conf = os.path.join(work, "conf")
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    for d in (conf, local, tmp):
        os.makedirs(d, exist_ok=True)
    lines = [
        f"spark.local.dir {local}",
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    if trace:
        events = os.path.join(work, "eventlog")
        os.makedirs(events, exist_ok=True)
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{events}",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    os.environ.update({
        "SPARK_CONF_DIR": conf,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(host["nproc"]),
        "SPARK_DRIVER_MEMORY": f"{host['driver_memory_mb']}m",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
    })


def descendants(root: int) -> dict[int, int]:
    """Resident size in KiB of every live descendant process of `root`."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        pid = int(name)
        parent[pid] = int(stat.rsplit(")", 1)[1].split()[1])
        rss[pid] = pages * os.sysconf("SC_PAGE_SIZE") // 1024
    out = {}
    for pid in rss:
        p = parent.get(pid)
        while p is not None and p != root and p > 1:
            p = parent.get(p)
        if p == root and pid != root:
            out[pid] = rss[pid]
    return out


def wait_until_gone(pids, timeout: float = 60.0) -> None:
    """Wait for processes that are no longer our children to exit: the
    PySpark daemon and its workers outlive the JVM that forked them by a
    moment."""
    def alive(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + timeout
    while any(alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants: the Spark driver JVM,
    the PySpark daemon and its Python workers."""

    def __init__(self, period: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self._halt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._halt.is_set():
            self.peak_kb = max(self.peak_kb, sum(descendants(me).values()))
            self._halt.wait(self.period)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ENGINE, "session.py")):
        print(f"engine package not found at {ENGINE}; run from a checkout of the engine",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tests"))

    import pyspark

    import engine
    from metrics import END_TO_END, PER_LAYER, per_layer
    from tracing import Spans

    host = host_settings()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work, bool(args.trace), host)

    phases = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = round(now - mark, 3)
        mark = now

    spans = Spans()
    wl = WORKLOADS[args.workload](work, args.seed, None, spans)
    wl.prepare()
    phase("generate")

    spark, s_get, s_plans = engine.setup()
    phase("setup")
    try:
        wl.eng = engine.handles(spark)
        app_id = spark.sparkContext.applicationId
        wl.warmup()
        phase("warmup")
        # Sampling /proc takes the GIL from the client thread, so only the
        # traced run pays for it.
        rss = RssSampler()
        if args.trace:
            rss.start()
        t0_ms = time.time() * 1e3
        since = time.perf_counter()
        measured_s = wl.measure(args.seconds)
        t1_ms = time.time() * 1e3
        if args.trace:
            rss.stop()
        phase("measure")
        if wl.op_ms:
            wl.check()
        phase("check")
    finally:
        children = descendants(os.getpid())
        engine.shutdown(spark)
        wait_until_gone(children)
    phase("shutdown")

    info = {
        "host": host, "pyspark": pyspark.__version__, "workload": args.workload,
        "seed": args.seed, "ops": len(wl.op_ms), "measured_s": measured_s,
        "op_ms": [round(x, 1) for x in wl.op_ms],
        "get_spark_s": s_get, "load_all_plans_s": s_plans, "phases_s": phases, "failures": wl.failures[:5],
    }
    print(json.dumps(info))
    spans.dump(os.path.join(work, "spans.json"))
    if not wl.op_ms:
        print("no operation completed; nothing was measured", file=sys.stderr)
        return 1

    if args.trace:
        log = os.path.join(work, "eventlog", app_id)
        values = per_layer(wl, log, t0_ms, t1_ms, spans, since, s_get, s_plans,
                           rss.peak_kb / 1024)
        units = PER_LAYER
    else:
        values = {
            "setup_s": s_get + s_plans,
            "op_p50_ms": statistics.median(wl.op_ms),
            "work_per_s": wl.items / measured_s,
        }
        units = END_TO_END
    # Inputs, outputs, Spark's scratch and the event log: tens of MB a run.
    # The spans and SQL-metric totals at the top level stay.
    for name in os.listdir(work):
        if os.path.isdir(os.path.join(work, name)):
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    print(json.dumps({
        "correct": wl.failed_ops == 0 and not wl.failures,
        "attempted": wl.attempted,
        "failed": wl.failed_ops,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
