"""Kernel sys-time storms under shuffle-heavy stages — the measured
mechanism behind the repo's residual run-to-run variance, and a blind
spot of CPU-spin box probes.

Chasing an apparent partition-count effect on dedup_drop_list_16band
at the 8x fixture (the round-17 scaling campaign's most expensive
point), identical plans in quiet-probe-gated windows read anywhere
from 7.7 s to 112 s — min-of-3 in one fresh JVM read 51 s while an
earlier same-config campaign read 17.6 s. /proc/stat accounting
around each run found the difference: slow runs spend 30-56% of ALL
cpu time in SYS (kernel) with user% collapsing proportionally, fast
runs 3-5%. The storms arrive in waves tied to box state, hit any
shuffle.partitions setting (32/64/128 all showed both modes), do not
spill (executor memory metrics read zero at every setting), and are
INVISIBLE to both bench spin probes: a pure-CPU spin never allocates
or syscalls, so the 1-thread probe read 1.10-1.31 and the 32-process
probe sat at its idle plateau while a query storm burned 45% sys
beside them.

Cause, bounded by measurement rather than asserted: per-run kernel
counters RULE OUT every paging-class suspect — compaction
(compact_stall/compact_daemon_wake = 0 across storms), THP (madvise
mode, thp_fault_alloc = 0), reclaim (pgscan/pgsteal_kswapd = 0),
major faults (0), host co-tenancy (steal 1.5-8.4% throughout), and
the fault volume that does occur (0.6-2.8 M minor faults/run) cannot
account for ~900 core-seconds of sys time in a 77 s storm. Context
switches don't co-move either (fast runs showed HIGHER ctxt/s than
slow-ish ones). What remains is guest-kernel lock/scheduling
contention — the mmap-lock/futex class that 32 threads churning
shuffle buffers and page-cache mappings are the canonical trigger
for — which guest-side observability cannot pin further without
perf, and which no Spark-level knob removes.

What this means, in order of consequence:

1. Wall-clock min-of-N across runs/JVMs is the only robust local
   comparator for shuffle-heavy queries — exactly the bench design
   (queries_min, min-of-passes) — and the residual round-over-round
   movement of the dedup family that earlier rounds attributed to
   ambient co-tenant load includes this kernel-side mode too.
2. Scaling exponents fitted on single readings of storm-exposed
   points are UPPER bounds: the 8x 16band point's min over all
   quiet-gated runs this round is 7.66 s — BELOW the best m=4
   reading — so the published 0.78 exponent overstates the true
   data-dependent growth.
3. Partition count is not the lever here (all settings storm); at
   cluster scale the equivalent pressure is per-executor thread and
   allocation concurrency, which real deployments bound with executor
   sizing (more executors x fewer cores each splits the contended
   kernel structures) — a host/deployment knob a guest workload can
   only route around.

Protocol: fresh JVM per shuffle.partitions setting, the catalog's
shingle cache built off the clock, N runs per setting recording
(wall, user%, sys%, steal%) from /proc/stat around each run, both
spin probes bracketing the campaign. The per-run tuples ARE the
result — a min-only summary would hide exactly the mode this script
exists to demonstrate.

Run: SPARK_GRAFT_DRIVER_MEM=16g PYTHONPATH=/root/repo \
     python experiments/measure_shuffle_sys_storms.py
(requires /tmp/lv_scale_curves/x8 from measure_scale_curves.py;
LV_STORM_PARTITIONS=32,64,128 and LV_STORM_RUNS=3 override)

MEASURED (this box, local[32], 8x fixture, 2026-08-16/17, spin
probes at idle plateaus throughout — representative campaigns):

    fresh JVM, partitions=32, 6 consecutive runs (16g heap):
      73.5  24.1  54.4  15.0  31.6  7.7 s
    same, 32g heap: 112.0  39.0  73.6  20.4  12.5  8.8 s
      (heap size does NOT gate the mode — not a spill/GC-pressure
      artifact of an undersized heap)
    /proc/stat split, three 32-partition runs in one JVM:
      18.5 s @ sys  4.8%/user 46.9%   <- fast mode
      68.8 s @ sys 31.1%/user 11.4%   <- storm: kernel eats the cores
      12.8 s @ sys  3.5%/user 40.1%
    kernel counters across storms (per-run deltas): pgmajfault 0,
      pgscan/pgsteal_kswapd 0, thp_fault_alloc 0, compact_stall 0,
      compact_daemon_wake 0, TLB interrupts 33-49k (flat across
      modes), minor faults 0.6-2.8 M (orders too few for the sys
      time), ctxt/s 6-15k and NOT correlated with the storms
    partitions sweep in a storm-free window (min of 3, fresh JVMs):
      32: 51.2   64: 18.2   128: 13.4 s
    same sweep minutes later, storms active:
      64: [31.8 @ 3.2%, 58.9 @ 45.4%, 27.9 @ 3.7%]
      128: [20.6 @ 12.3%, 95.0 @ 56.4%, 36.3 @ 27.7%] (wall @ sys%)
    steal% stayed 1.5-8.4% throughout — this is not host co-tenancy.

The instrument (wall + sys% per run) is the deliverable: any future
"query X got slower" reading on this box should check sys% before
blaming the plan.
"""

import os
import sys
import time

sys.path.insert(0, "/root/repo")

FIXTURE = os.path.join(
    os.environ.get("LV_SCALE_DIR", "/tmp/lv_scale_curves"), "x8"
)
PARTITIONS = tuple(
    int(p)
    for p in os.environ.get("LV_STORM_PARTITIONS", "32,64,128").split(",")
)
RUNS = int(os.environ.get("LV_STORM_RUNS", "3"))
QUERY = "dedup_drop_list_16band"


def _probe():
    import bench

    return bench._calibrate(), bench._calibrate_mt()


def _cpu():
    return [int(x) for x in open("/proc/stat").readline().split()[1:]]


def _run_one(partitions: int):
    """Fresh JVM (the partition count is compiled into every
    exchange): cache off the clock, then RUNS runs, each bracketed by
    /proc/stat so kernel time is attributed per run."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", str(partitions))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from logvision_spark.catalog import (
        CATALOG,
        _shared_shingles,
        invalidate_caches,
    )
    from logvision_spark.sources.readers import load_table_cache_clear

    _shared_shingles(spark, FIXTURE).count()
    rows = CATALOG[QUERY].builder(spark, FIXTURE).collect()
    assert len(rows) == 1952, len(rows)  # the 8x proportionality gate
    out = []
    for _ in range(RUNS):
        c0 = _cpu()
        t0 = time.perf_counter()
        CATALOG[QUERY].builder(spark, FIXTURE).collect()
        wall = time.perf_counter() - t0
        c1 = _cpu()
        d = [b - a for a, b in zip(c0, c1)]
        tot = sum(d) or 1
        out.append(
            {
                "wall": round(wall, 1),
                "user": round(100 * d[0] / tot, 1),
                "sys": round(100 * d[2] / tot, 1),
                "steal": round(100 * d[7] / tot, 1) if len(d) > 7 else None,
            }
        )
    invalidate_caches()
    load_table_cache_clear()
    spark.stop()
    return out


def main() -> None:
    if not os.path.isdir(FIXTURE):
        print(f"missing {FIXTURE} — run measure_scale_curves.py first")
        sys.exit(2)
    st0, mt0 = _probe()
    print(f"box probe before: st={st0} mt={mt0} (NOTE: spins do not "
          f"allocate — they are BLIND to the storm mode; the per-run "
          f"sys%% below is the storm instrument)")
    for p in PARTITIONS:
        runs = _run_one(p)
        pretty = "  ".join(
            f"{r['wall']}s@sys{r['sys']}%" for r in runs
        )
        print(f"  partitions={p}: {pretty}", flush=True)
    st1, mt1 = _probe()
    print(f"box probe after: st={st1} mt={mt1}")


if __name__ == "__main__":
    main()
