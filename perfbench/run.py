"""Run one benchmark workload and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload query_relational --seed 1 --seconds 20 --trace 0

Workloads: query_llm and query_relational, which BENCHMARK.json lists,
and scrape_churn, which it leaves out because every one of its scrapes
fails the check at present (see workloads.py).
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones (BENCHMARK.json lists both). Lines before it are JSON too: the host
settings, sample counts, mismatches by kind, and in a traced run the
end-to-end figures of that run and where its span file went.

End-to-end metrics:
- ``setup_s``: process start, ``session.get_spark``,
  ``registry.all_queries`` and one warm-up operation on a small input
  (a scrape of a small tree, or one query on a small fixture). The
  benchmark's own input generation, which includes running the query
  oracles, is not counted.
- ``first_op_s``: on the query workloads the first pass over the
  workload's queries (build plus run of each), which is the first run
  in the process of every query but the warm-up one; on scrape_churn
  the median of the first scrapes, each into a fresh empty table.
- ``op_s``: on query_relational the median of the later, warm passes;
  on scrape_churn the median of the churn scrapes. A query_llm run
  makes one pass, so there ``op_s`` is the same sample as
  ``first_op_s``: a pass takes most of the run length, and a warm
  second pass in some runs only would mix two kinds of sample.
- ``peak_rss_mb``: peak resident memory (VmHWM) of this Python driver,
  of the driver JVM and of every process the JVM started (the Python
  daemon and its workers), summed, read from /proc before Spark stops.
  Workers that exited earlier are not in it; pages shared between
  forked workers count once per worker. The driver's figure holds the
  benchmark's own checks: the collected query results and, on
  scrape_churn, the DuckDB reads of ``external_file``; the query
  oracles run in a child process outside it.

The runner pins the host's settings: ``SPARK_GRAFT_CPUS`` is the number
of cores this process may use; ``SPARK_DRIVER_MEM`` is a quarter of
physical memory, at most 1 GiB (on a 4-core, 15 GB host a 2 GiB heap
gave wider run-to-run spreads of the op times and of ``peak_rss_mb``);
``TZ`` is UTC. It works in a directory of its own under
``.perfbench_work/`` at the checkout root (its cwd, TMPDIR and Spark
local dirs), which it removes at the end, and it stops the JVM and waits
for it and its Python workers to exit.
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


def process_age() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _status_kb(pid: int | str, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
    parent_of = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent_of[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == p]
        out += kids
        frontier += kids
    return out


def host_settings() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    return {
        "cpus": cpus,
        "mem_total_mb": mem_mb,
        "driver_mem_mb": min(1024, mem_mb // 4),
    }


def _prepare_env(work: str, host: dict) -> None:
    for d in ("cwd", "tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "SPARK_GRAFT_CPUS": str(host["cpus"]),
        "SPARK_DRIVER_MEM": f"{host['driver_mem_mb']}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    time.tzset()
    os.chdir(os.path.join(work, "cwd"))
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _stop_spark(spark) -> None:
    """Stop the session, close the JVM and wait for it and every process
    it started (the Python workers) to exit."""
    from pyspark import SparkContext  # noqa: PLC0415

    proc = SparkContext._gateway.proc
    workers = _children(proc.pid)
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 -- any failure to exit: kill it
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{w}") for w in workers):
        time.sleep(0.05)
    for w in workers:
        try:
            os.kill(w, signal.SIGKILL)
        except OSError:
            pass


def _load_metric_names() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    """Set up, run the closed loop, stop Spark; returns the report."""
    import workloads  # noqa: PLC0415
    from tracing import NullTracer, Tracer  # noqa: PLC0415

    tracer = Tracer() if trace else NullTracer()
    wl = workloads.WORKLOADS[workload](work, seed, tracer)
    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0

    with tracer.span("session.get_spark"):
        t0 = time.perf_counter()
        from file_scraper_spark.session import get_spark  # noqa: PLC0415

        spark = get_spark(f"perfbench-{workload}")
        get_spark_s = time.perf_counter() - t0
    try:
        if trace:
            tracer.attach(spark)
        with tracer.span("registry.load"):
            t0 = time.perf_counter()
            from file_scraper_spark import registry  # noqa: PLC0415

            queries = registry.all_queries()
            registry_s = time.perf_counter() - t0
        with tracer.span("warmup"):
            wl.warmup(spark, queries)
        setup_s = process_age() - gen_s
        with tracer.span("measure"):
            samples, attempted, failed = wl.run(spark, queries, seconds)
        from pyspark import SparkContext  # noqa: PLC0415

        jvm_pid = SparkContext._gateway.proc.pid
        workers = _children(jvm_pid)
        rss = {"python_kb": _status_kb("self", "VmHWM"),
               "jvm_kb": _status_kb(jvm_pid, "VmHWM"),
               "jvm_children_kb": sum(_status_kb(p, "VmHWM") for p in workers)}
        wl.details["peak_rss"] = [{**rss, "jvm_children": len(workers)}]
        version = spark.version
    finally:
        _stop_spark(spark)

    e2e = {"setup_s": setup_s, **wl.end_to_end(samples), "peak_rss_mb": sum(rss.values()) / 1024}
    layers = {"session.get_spark_s": get_spark_s, "registry.load_s": registry_s,
              **wl.per_layer()}
    return {
        "spark_version": version, "samples": len(samples),
        "sample_s": samples, "attempted": attempted, "failed": failed,
        "mismatches": wl.mismatches, "input_generation_s": gen_s,
        "details": wl.details,
        "end_to_end": e2e, "per_layer": layers, "tracer": tracer,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("query_llm", "query_relational", "scrape_churn"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="span file of a traced run (default: "
                    ".perfbench_out/spans-<workload>-seed<seed>.json)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "file_scraper_spark", "__init__.py")):
        print("perfbench: file_scraper_spark/ is not next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    e2e_units, layer_units = _load_metric_names()
    host = host_settings()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
    spans = os.path.abspath(args.spans or os.path.join(
        ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.json"))
    _prepare_env(work, host)
    try:
        rep = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass

    print(json.dumps({"host": {**host, "spark_version": rep["spark_version"]}}))
    print(json.dumps({k: rep[k] for k in ("samples", "sample_s", "attempted",
                                          "failed", "mismatches",
                                          "input_generation_s", "details")}))
    import workloads  # noqa: PLC0415

    if args.workload in workloads.NOT_BENCHMARKED:
        print(f"perfbench: {args.workload} is not in BENCHMARK.json: "
              f"{workloads.NOT_BENCHMARKED[args.workload]}", file=sys.stderr)
    if args.trace:
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        rep["tracer"].write(spans)
        print(json.dumps({"traced_end_to_end": rep["end_to_end"], "spans": spans}))
        values, units, declared = rep["per_layer"], layer_units, workloads.PER_LAYER
    else:
        values, units, declared = rep["end_to_end"], e2e_units, workloads.END_TO_END
    if units != declared or not set(values) <= set(declared):
        print("perfbench: metric names or units differ from BENCHMARK.json",
              file=sys.stderr)
        return 3
    # a layer this workload never calls spent no time and did no work
    values = {name: values.get(name, 0.0) for name in units}
    print(json.dumps({
        "correct": rep["failed"] == 0,
        "attempted": rep["attempted"],
        "failed": rep["failed"],
        "metrics": {n: {"value": float(v), "unit": units[n]} for n, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
