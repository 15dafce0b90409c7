"""Benchmark of the sales ETL engine: pipeline batches and a query mix.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 8 --trace 0

Workloads (closed loop, one client, ``local[<cores / 2>]``):

- ``backfill``: three months of the sales fact in one landing batch, with
  a file per quarantine route; each unit lands a freshly named copy
  into one long-lived ledger, re-delivers a file of the unit before and
  compacts the ledger.
- ``queries``: a fixed mix of registry queries, a cold pass in the
  fresh process, then steady passes.

Inputs are generated from ``--seed`` under ``.perfbench/`` in the
checkout, and so is everything Spark, DuckDB and Python write; the work
directory is removed at the end, the result records stay in
``.perfbench/results``. Output checks run outside the timed regions.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` installs the
tracer and prints the per-layer metrics, alternating untraced and
traced steady units so that their difference is the tracing overhead.
The last line of standard output is the result object.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
PROGRAM = "end_to_end_sales_etl_de_project_spark"
SETUPS = 3  # set-ups per run; setup_s is their median
HEAP = "1g"

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "cold_s": "s",
    "steady_s": "s",
    "peak_rss_mb": "MB",
}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric with its unit; a run reports 0 for the
    layers its workload does not reach."""
    from workloads import LEDGER_CALLS, PIPELINE_CALLS, QUERY_MIX
    from checks import SINKS

    names = {"session.launch_s": "s", "session.start_s": "s", "trace.overhead_s": "s"}
    names.update({f"ledger.{c}_s": "s" for c in LEDGER_CALLS})
    names.update({"ledger.jobs": "count", "ledger.files": "count"})
    names.update({f"{label}_s": "s" for label in PIPELINE_CALLS.values()})
    names.update({"csv_source.files_valid": "count", "csv_source.files_quarantined": "count",
                  "marts.cached_bytes": "bytes", "pipeline.self_s": "s",
                  "pipeline.rows_per_s": "1/s", "writers.files_per_batch": "count",
                  "writers.stored_bytes_ratio": "ratio"})
    writer = {"s": "s", "files": "count", "bytes": "bytes", "tasks": "count",
              "parallelism": "ratio", "shuffle_bytes": "bytes", "spill_bytes": "bytes"}
    for sink in SINKS:
        names.update({f"writers.{sink}.{f}": unit for f, unit in writer.items()})
    for q in QUERY_MIX:
        names.update({f"plans.{q}.cold_s": "s", f"plans.{q}.steady_s": "s",
                      f"plans.{q}.parallelism": "ratio"})
    names.update({"storage.persisted_rdds": "count", "storage.mem_bytes": "bytes",
                  "storage.disk_bytes": "bytes"})
    return names


def median_by_key(rows: list[dict]) -> dict:
    keys = {k for r in rows for k in r}
    return {k: statistics.median(r[k] for r in rows if k in r) for k in keys}


def peak_rss_mb(pid: int) -> float:
    """The kernel's resident-set high-water mark (VmHWM) of ``pid``, in
    MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def tail(values: list[float]) -> dict | None:
    """The highest nearest-rank percentile with at least ten samples
    beyond it, or None when there are too few samples."""
    n = len(values)
    if n < 11:
        return None
    return {"value": sorted(values)[n - 11], "percentile": 100.0 * (n - 10) / n, "n": n}


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measured time of the steady units")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_cores(cores: int) -> int:
    """Task threads for Spark: half the usable cores. The rest is left
    to the JVM's compiler and GC threads and to this Python process; with
    a task thread on every core they queue behind the tasks (on a
    4-vCPU VM, ``backfill`` batches then ran about 20% slower and no
    steadier)."""
    return max(1, cores // 2)


def isolate(work: str, cpus: int) -> dict[str, str]:
    """Keep every file Spark, DuckDB and Python write inside ``work``,
    and run Spark on ``cpus`` task threads; return the extra Spark conf
    that keeps the JVM's files inside ``work`` too."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({"TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp,
                       "SPARK_GRAFT_CPUS": str(cpus), "SPARK_DRIVER_MEMORY": HEAP,
                       # every JVM, spark-submit's launcher too, would
                       # otherwise keep its perf data under /tmp
                       "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData"})
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a heap committed and touched up front: the JVM's resident set
        # then no longer depends on when G1 happened to grow the heap
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -Xms{HEAP} "
                                          "-XX:+AlwaysPreTouch"),
        "spark.ui.showConsoleProgress": "false",
    }


def reset_peak_rss(pid: int) -> None:
    """Reset the kernel's resident high-water mark of ``pid`` to its
    current resident set, so input generation does not count. A kernel
    that refuses leaves the mark, which then includes generation."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def descendants(pid: int) -> list[int]:
    """Pids of the live processes below ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # the process ended while we listed
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def ended(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def stop_jvm() -> None:
    """Stop the gateway JVM this process started, and the Python
    workers it started, and wait until every one has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    started = descendants(os.getpid())
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 10
        while not all(map(ended, started)):
            if time.monotonic() > deadline:
                for pid in filter(lambda p: not ended(p), started):
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            time.sleep(0.05)


def run(args, root: str) -> dict:
    from tracer import Tracer
    from workloads import WORKLOADS

    started = time.perf_counter()
    cores = len(os.sched_getaffinity(0))
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    cpus = spark_cores(cores)
    conf = isolate(work, cpus)
    load_start = loadavg()
    wl = WORKLOADS[args.workload](args.seed, work, cpus)
    try:
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        gc.collect()
        reset_peak_rss(os.getpid())

        from end_to_end_sales_etl_de_project_spark.session import get_spark_session

        setups, starts, spark = [], [], None
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark_session(extra_conf=conf)
            t1 = time.perf_counter()
            wl.register(spark)
            setups.append(time.perf_counter() - t0)
            starts.append(t1 - t0)
        jvm_lang = spark.sparkContext._jvm.java.lang
        jvm = int(jvm_lang.ProcessHandle.current().pid())
        versions = {"spark": spark.version,
                    "java": jvm_lang.System.getProperty("java.version")}

        tracer = Tracer(spark, cpus)
        if args.trace:
            wl.install(tracer)

        def one(k: int, traced: bool) -> float:
            first = len(tracer.spans)
            tracer.enabled = traced
            try:
                return wl.unit(k)
            finally:
                tracer.enabled = False
                for span in tracer.spans[first:]:
                    tracer.stats(span)

        cold_layers, traced_layers = {}, []
        walls = {"cold": [], "warmup": [], "untraced": [], "traced": []}
        stopped = None
        try:
            walls["cold"].append(one(0, bool(args.trace)))
            if args.trace:
                cold_layers = wl.unit_layers(tracer.spans, "cold")
            # a traced run warms up one unit longer, so that its first
            # traced and untraced steady units are equally warm
            warmup = wl.warmup + args.trace
            for k in range(1, warmup):
                walls["warmup"].append(one(k, False))
            k, measured = warmup, 0.0
            while k - warmup < wl.min_steady or measured < args.seconds:
                traced = bool(args.trace) and k % 2 == 1
                w = one(k, traced)
                measured += w
                walls["traced" if traced else "untraced"].append(w)
                if traced:
                    traced_layers.append(wl.unit_layers(tracer.spans, "steady"))
                k += 1
        except Exception:  # recorded by the workload; end the run
            stopped = traceback.format_exc(limit=3)
        peak = {"python": peak_rss_mb(os.getpid()), "jvm": peak_rss_mb(jvm)}
        finish_s = time.perf_counter()
        if stopped is None:
            wl.finish()
        finish_s = time.perf_counter() - finish_s
        load_end = loadavg()
        tracer.dump(os.path.join(results, f"spans-{args.workload}-{args.seed}-{args.trace}.json"),
                    {"walls": walls})
        tracer.unpatch()
        spark.stop()
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    steady = walls["untraced"]
    if not walls["cold"] or not steady:
        raise RuntimeError(f"too few units completed: {walls}\n{stopped or ''}")
    end_to_end = {
        "setup_s": statistics.median(setups),
        "cold_s": walls["cold"][0],
        "steady_s": statistics.median(steady),
        "peak_rss_mb": peak["python"] + peak["jvm"],
    }
    layers = {}
    if args.trace:
        names = per_layer_names()
        layers = dict.fromkeys(names, 0.0)
        layers["session.launch_s"] = starts[0]
        layers["session.start_s"] = statistics.median(starts[1:])
        layers.update(cold_layers)
        layers.update(median_by_key(traced_layers))
        if walls["traced"]:
            layers["trace.overhead_s"] = (statistics.median(walls["traced"])
                                          - statistics.median(steady))
        unknown = set(layers) - set(names)
        if unknown:
            raise RuntimeError(f"unnamed per-layer metrics: {sorted(unknown)}")
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "cores": cores,
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "heap": HEAP,
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "versions": {**versions, "python": sys.version.split()[0]},
        "generate_s": gen_s,
        "finish_s": finish_s,
        "setups_s": setups,
        "peak_rss_mb": peak,
        "units": {k: len(v) for k, v in walls.items()},
        "walls_s": walls,
        "steady_tail": tail(steady),
        "end_to_end": end_to_end,
        "per_layer": layers,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "problems": wl.problems[:20],
        "stopped": stopped,
        "run_s": time.perf_counter() - started,
    }
    with open(os.path.join(results, f"{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    return record


def main(argv=None) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PROGRAM, "pipeline.py")):
        print(f"run from the repository root: {PROGRAM}/ not found in {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    record = run(args, root)
    if args.trace:
        names = per_layer_names()
        metrics = {k: {"value": v, "unit": names[k]} for k, v in record["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in record["end_to_end"].items()}
    print(json.dumps({k: record[k] for k in ("workload", "seed", "trace", "cores",
                                             "loadavg_start", "loadavg_end", "versions",
                                             "units", "steady_tail", "problems")}))
    print(json.dumps({"correct": record["failed"] == 0 and record["stopped"] is None,
                      "attempted": record["attempted"], "failed": record["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
