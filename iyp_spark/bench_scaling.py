"""Scaling-efficiency probe: run the full KG pipeline (parse → link →
materialize, batched mode) on a pre-generated corpus at a given parallelism
and print one JSON line with docs/sec.

This is the sandbox stand-in for the north rule's N vs 4N *executor*
criterion: identical job + identical input at local[8] vs local[32]
(BASELINE.md "Scaling efficiency"). Invoked as a subprocess by bench.py so
each measurement gets a fresh JVM at exactly the requested core count.

Usage: python -m iyp_spark.bench_scaling --cores 8 --corpus /tmp/corpus --lake /tmp/lake8
"""

from __future__ import annotations

import argparse
import json
import shutil
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--corpus", required=True, help="documents parquet dir")
    ap.add_argument("--lake", required=True)
    args = ap.parse_args()

    import os

    from pyspark.sql import functions as F

    from .crawlers import BENCH_CRAWLERS as CRAWLER_ORDER
    from .framework import run_pipeline_batched
    from .session import get_spark
    from .store import GraphStore

    # identical memory at both parallelism levels — only cores vary
    os.environ.setdefault("IYP_SPARK_DRIVER_MEM", "16g")
    shutil.rmtree(args.lake, ignore_errors=True)
    # fixed shuffle partitioning: both runs execute the IDENTICAL plan —
    # only the executor-thread count differs (the N vs 4N criterion).
    # tmpfs for lake + shuffle: the sandbox VM's block device has erratic
    # writeback latency that would otherwise dominate the measurement
    # (on a real cluster this is local NVMe shuffle + object-store output).
    # AQE off for the probe: its per-stage driver re-planning is serial
    # time that is constant across core counts.
    local_dir = os.path.join(os.path.dirname(args.lake) or "/tmp", "spark_local")
    conf = {"spark.local.dir": local_dir,
            "spark.sql.adaptive.enabled": "false",
            # kill the scheduler's 3s locality pause (meaningless in local
            # mode, real tail time at stage boundaries) and split inputs
            # finely: per-crawler parse stages are Arrow-python-heavy, so
            # a coarse 8-task stage leaves cores idle behind its slowest
            # task at 4N while 2N hides the tail under other work
            "spark.locality.wait": "0s",
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.sql.files.openCostInBytes": "1m"}
    conf.update(json.loads(os.environ.get("IYP_SPARK_EXTRA_CONF", "{}")))
    spark = get_spark(f"bench_scaling_{args.cores}", cores=args.cores,
                      shuffle_partitions=64, extra_conf=conf)
    store = GraphStore(spark, args.lake)

    # stage corpus into the lake (not timed: input is identical by design)
    docs = spark.read.parquet(args.corpus)
    store.write_documents(docs)
    n_docs = store.read_documents().count()

    # FULL-PIPELINE warm-up on a ~5% slice (not timed): runs every stage of
    # the identical plan once, so whole-stage-codegen compilation, C2 JIT,
    # shuffle/netty buffers, and the Arrow python workers are all warm
    # before the measured window. Without this the first-run JIT/compile
    # CPU lands inside the measurement and varies run-to-run (observed
    # ±20% tree-CPU variance on the 4N side at steal=0), which is exactly
    # the noise the matched-pair efficiency artifact then inherits.
    warm_lake = args.lake + "_warm"
    shutil.rmtree(warm_lake, ignore_errors=True)
    warm_store = GraphStore(spark, warm_lake)
    warm_store.write_documents(
        docs.filter(F.xxhash64("doc_id") % 20 == 0)
    )
    run_pipeline_batched(warm_store, CRAWLER_ORDER)
    shutil.rmtree(warm_lake, ignore_errors=True)

    clk = os.sysconf("SC_CLK_TCK")
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    def jvm_cpu_seconds() -> float:
        """utime+stime of the local-mode JVM from /proc — the CPU the
        executors+GC+codegen actually burned. Work-conservation check:
        CPU per doc should be ~flat across core counts; a wall-clock
        efficiency dip with flat CPU is host frequency/cache contention,
        not a serialized plan."""
        with open(f"/proc/{jvm_pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
        return (int(rest[11]) + int(rest[12])) / clk

    import threading

    def _tree_snapshot() -> dict[int, float]:
        """own utime+stime per live descendant pid of this process (no
        cutime — the sampler below remembers dead pids itself, and
        pyspark.daemon auto-reaps workers WITHOUT cutime accounting, so a
        one-shot end-of-run walk loses every worker that died mid-run)."""
        children: dict[int, list[int]] = {}
        cpu: dict[int, float] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    rest = f.read().rsplit(")", 1)[1]
                parts = rest.split()
                cpu[int(d)] = (int(parts[11]) + int(parts[12])) / clk
                children.setdefault(int(parts[1]), []).append(int(d))
            except (OSError, ValueError, IndexError):
                continue
        out: dict[int, float] = {}
        stack = [os.getpid()]
        while stack:
            p = stack.pop()
            if p in cpu:
                out[p] = cpu[p]
            stack.extend(children.get(p, []))
        return out

    class TreeCpuSampler(threading.Thread):
        """Whole-process-tree CPU (driver + JVM + Arrow python workers):
        samples the tree every 2s and keeps each pid's LAST-SEEN CPU, so
        workers that exit between samples still contribute (bounded error:
        one sampling interval per dying pid)."""

        def __init__(self):
            super().__init__(daemon=True)
            self.base = _tree_snapshot()
            self.last = dict(self.base)
            self._stop = threading.Event()

        def run(self):
            while not self._stop.wait(2.0):
                self.last.update(_tree_snapshot())

        def total(self) -> float:
            self.last.update(_tree_snapshot())
            return sum(self.last.values()) - sum(self.base.values())

        def stop(self):
            self._stop.set()

    def pinned_cpu_stat() -> tuple[float, float]:
        """(busy_seconds, steal_seconds) summed over the CPUs this process
        is pinned to, from /proc/stat. STEAL is the host-neighbor signal:
        cycles the hypervisor gave to other tenants while this guest was
        runnable — the objective contention measure the retry policy keys
        on (a loud neighbor shows up here, not in the program's CPU)."""
        cpus = os.sched_getaffinity(0)
        busy = steal = 0.0
        with open("/proc/stat") as f:
            for ln in f:
                if ln.startswith("cpu") and ln[3:4].isdigit():
                    parts = ln.split()
                    if int(parts[0][3:]) in cpus:
                        v = [int(x) for x in parts[1:]]
                        busy += (v[0] + v[1] + v[2] + v[5] + v[6]) / clk
                        steal += (v[7] if len(v) > 7 else 0) / clk
        return busy, steal

    def gc_millis() -> int:
        beans = (spark.sparkContext._jvm.java.lang.management
                 .ManagementFactory.getGarbageCollectorMXBeans())
        return sum(beans.get(i).getCollectionTime()
                   for i in range(beans.size()))

    cpu0 = jvm_cpu_seconds()
    sampler = TreeCpuSampler()
    sampler.start()
    busy0, steal0 = pinned_cpu_stat()
    gc0 = gc_millis()
    t0 = time.time()
    result = run_pipeline_batched(store, CRAWLER_ORDER)
    dt = time.time() - t0
    cpu = jvm_cpu_seconds() - cpu0
    tree_cpu = sampler.total()
    sampler.stop()
    busy1, steal1 = pinned_cpu_stat()
    gc_s = (gc_millis() - gc0) / 1000.0
    result["triples"] = spark.read.parquet(store.triples_path).count()
    print(json.dumps({
        "cores": args.cores,
        "docs": n_docs,
        "seconds": round(dt, 2),
        "docs_per_sec": round(n_docs / dt, 1),
        "cpu_seconds": round(cpu, 2),
        "cpu_busy_fraction": round(cpu / (dt * args.cores), 3),
        "tree_cpu_seconds": round(tree_cpu, 2),
        "tree_busy_fraction": round(tree_cpu / (dt * args.cores), 3),
        "gc_seconds": round(gc_s, 2),
        "pinned_busy_seconds": round(busy1 - busy0, 2),
        "steal_seconds": round(steal1 - steal0, 2),
        "steal_fraction": round((steal1 - steal0) / (dt * args.cores), 4),
        "triples": result["triples"],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
