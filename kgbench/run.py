"""KG-construction benchmark: one workload, one seed, one driver process.

    python3 kgbench/run.py --workload foxml_bulk --seed 1 --seconds 12 --trace 0

Run from the repository root. The run is a closed loop on ``local[nproc/2]``
(see ``task_slots``): one job at a time, the next only after the previous
one returned and its output was checked. Phases:

1. generate the workload's inputs from ``--seed`` (``gen.py``) and compute
   the expected output without Spark (``expect.py``) -- both excluded from
   ``setup_s`` and reported on their own;
2. set up once -- session start, the untimed first pass over the input
   (codegen, JIT, Python-worker start, cold caches) and, with ``--trace 0``,
   a second untimed pass with the memory sampler on; ``setup_s`` is its
   time;
3. ``--trace 0``: repeat the timed job, at least ``MIN_JOBS`` times, until
   ``--seconds`` of job time have been measured (a job is not cut short),
   checking every output untimed;
   ``--trace 1``: untimed reference jobs before and after the traced run, which
   materializes each layer's output under its own job group and reports
   per-layer metrics and the tracing overhead.

The second-to-last stdout line is a JSON detail record (protocol fields,
planted shares, every sample); the last line is the result:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time
import traceback
from statistics import median

import procstat

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: timed jobs a run at least, so that a burst of host steal in one of them
#: does not move the median
MIN_JOBS = 3


def metric_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json:
    the one list of what a result line reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def task_slots(cores: int) -> int:
    """Spark task slots: half the host's cores. A FOXML task keeps two
    processes busy, the JVM task thread and the Python worker it feeds, and
    the JIT, the collector and this process run beside them. With a slot per
    core, runnable threads outnumber cores and a job's wall time follows how
    the host schedules them: on a 4-core host, five runs of code_kg_bulk on
    each, interleaved, spread 0.30 of their median wall time on ``local[4]``
    and 0.11 on ``local[2]``, at about the same median (5.7 and 6.2 s)."""
    return max(1, cores // 2)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(work: str) -> dict:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    # a 2 GiB heap, small on a shared host, reserved and committed at start
    # (-Xms) so that it is one address range the memory reading can leave
    # out of the resident pages and count by its used bytes instead
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    return {
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData -Xms2g"
            f" -Xlog:gc+heap+coops=debug:file={_heap_log(work)}"),
    }


def _heap_log(work: str) -> str:
    """Where the JVM logs its heap's address at start."""
    return os.path.join(work, "tmp", "heap.log")


def _shutdown(spark) -> None:
    """Stop Spark, end the gateway JVM (it exits at EOF on its stdin) and
    wait until every process this run started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    left = procstat.wait_children_exit()
    if left:
        print(f"killed processes left after shutdown: {left}", file=sys.stderr)


def _gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


class JvmMemory:
    """The driver JVM's memory: its pid and heap address range (from the
    JVM's start-up log, so ``procstat`` can leave the heap's pages out), the
    heap's live bytes, and the heap bytes Spark's memory manager holds."""

    def __init__(self, spark, heap_log: str):
        jvm = spark._jvm
        self.pid = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid()
        with open(heap_log) as fh:
            m = re.search(r"Heap address: (0x[0-9a-f]+), size: ([0-9]+) MB", fh.read())
        lo = int(m.group(1), 16)
        self.heap = (lo, lo + int(m.group(2)) * 2**20)
        self._memory = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self._manager = jvm.org.apache.spark.SparkEnv.get().memoryManager()

    def live_bytes(self) -> int:
        """Heap bytes in use once full collections stop freeing memory.
        What the last job left is released asynchronously (Spark's context
        cleaner drops shuffle and broadcast state after a collection clears
        the references to it), so one collection is not enough."""
        last = None
        for _ in range(20):
            self._memory.gc()
            used = self._memory.getHeapMemoryUsage().getUsed()
            if last is not None and last - used < 2**20:
                break
            last = used
            time.sleep(0.1)
        return used

    def managed_bytes(self) -> int:
        """Execution memory (sort, aggregation and shuffle buffers) plus
        storage memory (cached blocks) in use."""
        return self._manager.executionMemoryUsed() + self._manager.storageMemoryUsed()

    def footprint(self) -> int:
        """This instant's memory beyond the heap's live set: Pss of the
        process tree outside the heap, plus Spark's managed heap memory."""
        return procstat.tree_pss_off_heap(self.pid, self.heap) + self.managed_bytes()


def main(argv=None) -> int:
    args = parse_args(argv)
    # fails (no result line) outside a full checkout: the engine and its
    # workloads are imported before anything is generated or printed
    import gen
    from workloads import WORKLOADS

    import pandas
    import pyarrow
    import pyspark

    from fcrepo3_rdf_extractor_spark.session import build_session

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    end_to_end, per_layer = metric_units()
    cores = gen.nproc()
    slots = task_slots(cores)
    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    results_dir = os.path.join(ROOT, ".kgbench_results")
    os.makedirs(results_dir, exist_ok=True)
    conf = _prepare_env(work)
    wl = WORKLOADS[args.workload](work, args.seed)
    spark = None
    try:
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.expectation()
        expect_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        spark = build_session(f"kgbench-{args.workload}", cores=slots, extra_conf=conf)
        session_s = time.perf_counter() - t0
        wl.prepare(spark)
        wl.run(spark)  # first pass: codegen, JIT, Python-worker start, cold caches
        first_s = time.perf_counter() - t0 - session_s
        if not args.trace:
            jvm = JvmMemory(spark, _heap_log(work))
            memory = _memory_pass(spark, wl, jvm)
        setup_s = time.perf_counter() - t0

        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "protocol": {
                "cores": cores, "master": f"local[{slots}]", "spark": pyspark.__version__,
                "pyarrow": pyarrow.__version__, "pandas": pandas.__version__,
                "python": sys.version.split()[0], "input_rows": wl.input_rows,
                "input_bytes": wl.input_bytes, "dedup": "exact",
                "output_on_tmpfs": procstat.on_tmpfs(work),
                "shuffle_on_tmpfs": procstat.on_tmpfs(conf["spark.local.dir"]),
                "loop": "closed, 1 client",
            },
            "planted": wl.planted, "layers": list(wl.layers),
            "gen_s": gen_s, "expect_s": expect_s, "setup_s": setup_s, "session_s": session_s,
            "first_pass_s": first_s,
        }
        if args.trace:
            result = _traced(spark, wl, args, detail, session_s, results_dir, per_layer)
        else:
            detail["memory_pass"] = memory
            result = _timed(spark, wl, args, detail, setup_s, end_to_end, jvm, memory)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, sort_keys=True, default=str))
    print(json.dumps(result))
    return 0


def _memory_pass(spark, wl, jvm: JvmMemory) -> dict:
    """The second set-up pass, run with the memory sampler on; it gives the
    run's ``peak_rss_mb``. The sampler's ``/proc`` reads cost a job about 15%
    of its wall and CPU time, so no timed job runs with it. The pass also
    moves the timed jobs down the JIT's warm-up curve: a job's wall time
    falls for four to five passes (13.3, 7.6, 6.1, 5.3 s, then about 5 s for
    foxml_bulk on a 4-core host), and a job timed on its steep part follows
    how fast the JIT got there, which host load changes."""
    wl.prepare(spark)
    live, managed = jvm.live_bytes(), jvm.managed_bytes()
    t0 = time.perf_counter()
    with procstat.Peak(jvm.footprint) as peak:
        wl.run(spark)
    # the live set already holds the managed memory in use at the start
    return {"wall_s": time.perf_counter() - t0, "heap_live_mb": live / 2**20,
            "peak_rss_mb": (live - managed + peak.peak) / 2**20}


def _timed(spark, wl, args, detail: dict, setup_s: float, units: dict,
           jvm: JvmMemory, memory: dict) -> dict:
    runs = []
    while len(runs) < MIN_JOBS or sum(r["wall_s"] for r in runs) < args.seconds:
        wl.prepare(spark)
        jvm.live_bytes()  # start every job from a collected heap
        steal0, load0 = procstat.steal_s(), procstat.loadavg()
        cpu0 = procstat.tree_cpu_s()
        t0 = time.perf_counter()
        run: dict = {"ok": False}
        try:
            wl.run(spark)
            run["wall_s"] = time.perf_counter() - t0
            run["cpu_s"] = procstat.tree_cpu_s() - cpu0
            run["steal_s"] = procstat.steal_s() - steal0
            run["loadavg"] = [load0, procstat.loadavg()]
            ok, info = wl.check(spark)
            run.update(ok=ok, check=info)
        except Exception:  # a failed job is counted, and the loop goes on
            traceback.print_exc()
            run.setdefault("wall_s", time.perf_counter() - t0)
        runs.append(run)
    good = [r for r in runs if r["ok"]]
    failed = len(runs) - len(good)
    detail["runs"] = runs
    detail["failed_ratio"] = failed / len(runs)
    if not good:
        return {"correct": False, "attempted": len(runs), "failed": failed, "metrics": {}}
    walls = [r["wall_s"] for r in good]
    detail["wall_s"] = {"n": len(walls), "median": median(walls), "max": max(walls)}
    rows = median(r["check"]["triple_rows"] for r in good)
    values = {
        "wall_s": median(walls),
        "triples_per_s": rows / median(walls),
        "cpu_s": median(r["cpu_s"] for r in good),
        "peak_rss_mb": memory["peak_rss_mb"],
        "table_bytes_per_triple": median(r["check"]["table_bytes"] / r["check"]["triple_rows"]
                                         for r in good),
        "setup_s": setup_s,
    }
    return {"correct": failed == 0, "attempted": len(runs), "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}


def _traced(spark, wl, args, detail: dict, session_s: float, results_dir: str,
            units: dict) -> dict:
    from tracing import Tracer

    def reference() -> tuple[float, bool]:
        wl.prepare(spark)
        t0 = time.perf_counter()
        wl.run(spark)
        wall = time.perf_counter() - t0
        return wall, wl.check(spark)[0]

    # untraced reference jobs on both sides of the traced run, so JIT
    # warm-up does not count as (negative) tracing overhead
    wall0, ok0 = reference()
    tracer = Tracer(spark, f"{args.workload}-{args.seed}-{os.getpid()}")
    steal0, gc0 = procstat.steal_s(), _gc_seconds(spark)
    out = wl.trace(spark, tracer)
    gc_s, steal_s = _gc_seconds(spark) - gc0, procstat.steal_s() - steal0
    wall1, ok1 = reference()
    untraced = (wall0 + wall1) / 2
    m = dict.fromkeys(units, 0.0)
    m.update(out["metrics"])
    m["session.self_s"] = session_s
    m["jvm.gc_s"] = gc_s
    m["host.steal_s"] = steal_s
    # the traced run, first span start to last span end, against the
    # untraced job; and how much of the untraced job the self times cover
    m["trace.total_s"] = out["traced_total_s"]
    m["trace.overhead_ratio"] = out["traced_total_s"] / untraced - 1
    m["trace.accounted_ratio"] = sum(out["self_s"]) / untraced
    tracer.dump(os.path.join(results_dir, f"{args.workload}-{args.seed}-spans.jsonl"))
    checks = [("untraced", ok0, {}), ("untraced_after", ok1, {})] + out["checks"]
    detail["untraced_wall_s"] = [wall0, wall1]
    detail["checks"] = [{"name": n, "ok": ok, **d} for n, ok, d in checks]
    failed = sum(1 for _, ok, _ in checks if not ok)
    return {"correct": failed == 0, "attempted": len(checks), "failed": failed,
            "metrics": {k: {"value": m[k], "unit": u} for k, u in units.items()}}


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
