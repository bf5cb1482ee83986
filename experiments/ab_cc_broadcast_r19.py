"""Interleaved A/B: dedup_clusters with vs without the driver-finish
label broadcast (r19). Arm A = current code (F.broadcast around the
createDataFrame label set in connected_components' driver-finish
branch); arm B = the r18 shape, recreated by patching F.broadcast to
identity inside operators.dedup for the build (hint removal only — the
join reverts to the planner's SortMergeJoin over two exchanges).

Arms alternate per round in ONE JVM (box drift hits both equally); the
shared shingle cache is materialized off the clock first, exactly as
bench.py's warm-up does. Result equality is asserted every round.

MEASURED (this box, local[32], sf0.1, 8 rounds per arm, quiet window):
see OPTIMIZATION_r19.md "dedup_clusters" section.
"""
import sys, time

sys.path.insert(0, "/root/repo")
from logvision_spark.session import get_spark
from logvision_spark import catalog
from logvision_spark.operators import dedup

SF = "/root/testdata/sf0.1"
ROUNDS = 8


def main() -> None:
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    fn = catalog.queries()["dedup_clusters"]
    # warm the shared shingle cache off the clock (bench parity) and
    # JIT both arms once
    fn(spark, SF).collect()

    real_broadcast = dedup.F.broadcast
    ref = None
    times = {"broadcast": [], "smj": []}
    for i in range(2 * ROUNDS):
        arm = "broadcast" if i % 2 == 0 else "smj"
        dedup.F.broadcast = real_broadcast if arm == "broadcast" else (lambda df: df)
        try:
            spark.sparkContext.setJobDescription(f"dedup_clusters[{arm}] {i}")
            t0 = time.perf_counter()
            rows = fn(spark, SF).collect()
            times[arm].append(time.perf_counter() - t0)
        finally:
            dedup.F.broadcast = real_broadcast
        got = sorted((r.doc_id, r.cluster_id) for r in rows)
        assert ref is None or got == ref, f"arm {arm} diverged"
        ref = got
    for arm, ts in times.items():
        ts = sorted(ts)
        print(f"{arm:10s} min={ts[0]:.3f} p50={ts[len(ts)//2]:.3f} all={[round(t,3) for t in ts]}")
    spark.stop()


if __name__ == "__main__":
    main()
