"""Benchmark harness — prints ONE JSON line with per-query seconds.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1
tables) on ``session.get_spark``'s host-sized session:
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs in the process's affinity
set) and a heap of min(16g, RAM/2) (``$SPARK_GRAFT_DRIVER_MEM`` overrides):

- the flagship fuse pipeline (gain-blk-offset, 5×5 kernel — BASELINE.json's
  metric) over the deterministic synthetic interleaved-documents table,
  reporting tiles-corrected/sec, and
- the relational / text / similarity operator suite over the driver tables.

Scaling-efficiency evidence (local[8] vs local[32]) is produced by
``tools/bench_scaling.py`` → ``BENCH/BASELINE.md``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: cells per band for the fuse benchmark (pairs × 16 cells each)
FUSE_SCALE_PAIRS = int(os.environ.get("SPARK_GRAFT_FUSE_PAIRS", "512"))
FUSE_TILE = int(os.environ.get("SPARK_GRAFT_FUSE_TILE", "64"))

#: operator-suite leaves timed over the driver tables.  Scale-safe set:
#: linear or LSH-pruned operators only.  The quadratic exact-verification
#: variants (ngram_jaccard, exact embedding_neardup, minhash verify) are
#: correctness-gate queries at sf0.01; their scale paths are benchmarked via
#: the pruned operators (``embedding_neardup_lsh`` is timed after these).
SUITE = [
    "compare_stats", "param_stats", "tpch_q1", "join_pushdown",
    "band_match_rank", "topk_orders", "text_profile", "dedup_exact",
    "similarity_topk", "rollup_mean", "data_window",
]
#: tables scanned once before timing, so timings measure query compute, not
#: first-scan page faults
WARM_TABLES = ("lineitem", "orders", "customer", "supplier", "nation",
               "region", "events", "documents", "embeddings")


def bench_session(app_name: str):
    """The bench session: ``session.get_spark``'s host-sized master and
    heap, 4×cores shuffle partitions, shuffle files in /dev/shm."""
    from homonim_spark.session import get_spark
    extra = {}
    if os.path.isdir("/dev/shm"):
        # single-box stand-in for node-local NVMe shuffle (which scales
        # with executor count on a real cluster) — with disk shuffle a
        # parallelism-independent per-rep floor appears; see
        # BENCH/BASELINE.md round-2 measurement notes
        extra.update({"spark.local.dir": "/dev/shm/spark-bench",
                      "spark.shuffle.compress": "false",
                      "spark.shuffle.spill.compress": "false"})
    spark = get_spark(app_name=app_name, extra_conf=extra)
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(4 * spark.sparkContext.defaultParallelism))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def build_raster_bench_input(spark):
    from pyspark.sql import functions as F
    from homonim_spark import datagen
    # executors synthesize tiles closed-form — no driver bottleneck
    docs, tiles = datagen.distributed_fixture(
        spark, n_pairs=FUSE_SCALE_PAIRS, tile=FUSE_TILE,
        partitions=4 * spark.sparkContext.defaultParallelism)
    docs, tiles = docs.cache(), tiles.cache()
    n_src = tiles.filter(F.col("role") == "src").count()
    return docs, tiles, n_src


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entry

    spark = bench_session("homonim-spark-bench")

    timings: dict[str, float] = {}

    # --- flagship: fuse gain-blk-offset 5x5 (BASELINE.json metric) ----------
    from homonim_spark.operators.fuse import fuse
    docs, tiles, n_src_tiles = build_raster_bench_input(spark)
    docs.count(); tiles.count()  # materialize cache: time compute, not gen
    # warm-up: ONE full-size untimed rep.  A fresh JVM needs the complete
    # job once to JIT the codegen/shuffle paths and spin up every python
    # worker — measured 26-65 s cold vs 4-7 s steady on the same input; a
    # small-slice warm-up does not exercise the full exchange.  JIT keeps
    # improving for several reps, so run until converged (last rep within
    # 8% of the best), then report the min = steady-state throughput.
    fuse(docs, tiles, model="gain-blk-offset", kernel_shape=(5, 5)).count()
    # Robust protocol (round-2 verdict): MINIMUM 4 timed reps after warm-up —
    # on a host with documented ~5× weather swings, two consecutive slow reps
    # can otherwise freeze a cold number far from steady state.  The
    # convergence break applies only on top of the 4-rep floor; per-rep times
    # and /proc/loadavg go into the JSON so a noisy sample is
    # self-identifying.
    fuse_reps: list[float] = []
    fuse_sec, n_out = None, 0
    for rep in range(10):
        t0 = time.perf_counter()
        n_out = fuse(docs, tiles, model="gain-blk-offset", kernel_shape=(5, 5)).count()
        dt = time.perf_counter() - t0
        fuse_reps.append(round(dt, 3))
        prev = fuse_sec  # compare vs pre-update best: a new-minimum rep must
        fuse_sec = dt if fuse_sec is None else min(fuse_sec, dt)
        if rep >= 3 and prev is not None and dt <= prev * 1.08:
            break  # converged: rep did not beat the prior best by >8%
    timings["fuse_gain_blk_offset_5x5"] = round(fuse_sec, 3)
    tiles_per_sec = n_out / fuse_sec if fuse_sec > 0 else 0.0

    # warm the relational side: touch every table once so timings measure
    # query compute, not first-scan page faults
    for t in WARM_TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()

    # --- operator suite over the driver tables ------------------------------
    qs = entry.queries()

    # Suite protocol (round-4 verdict #2): same convergence rule as the fuse —
    # one untimed warm-up, then MINIMUM 3 timed reps, continuing (to 6) until
    # a rep fails to beat the prior best by >8%; report the min.  min-of-2
    # let a single host-weather storm freeze uninterpretable numbers into a
    # whole round's sample; per-rep times go into the JSON so any residual
    # noise is self-identifying.
    suite_reps: dict[str, list[float]] = {}

    def timed_min(name, run) -> float:
        run()  # untimed: plan compile + JIT
        best, reps = None, []
        for rep in range(6):
            t0 = time.perf_counter()
            run()
            dt = time.perf_counter() - t0
            reps.append(round(dt, 3))
            prev = best
            best = dt if best is None else min(best, dt)
            if rep >= 2 and prev is not None and dt <= prev * 1.08:
                break
        suite_reps[name] = reps
        return best

    for name in SUITE:
        timings[name] = round(timed_min(
            name, lambda: qs[name](spark, sf_dir).write.format("noop")
            .mode("overwrite").save()), 3)

    # SRP-bucketed embedding near-dup (the ANN scale path)
    from homonim_spark.operators.similarity import embedding_near_duplicates
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    timings["embedding_neardup_lsh"] = round(timed_min(
        "embedding_neardup_lsh",
        lambda: embedding_near_duplicates(
            emb, threshold=0.45, exact=False, dim=dim, n_planes=10)
        .write.format("noop").mode("overwrite").save()), 3)

    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None
    try:
        with open("/proc/loadavg") as fh:
            loadavg = fh.read().split()[:3]
    except OSError:
        loadavg = None
    out = {
        "metric": "tiles corrected/sec (gain-blk-offset, 5x5 kernel) + operator suite seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "tiles_corrected_per_sec": round(tiles_per_sec, 1),
        "fuse_output_tiles": n_out,
        "fuse_src_tiles": n_src_tiles,
        "fuse_reps": fuse_reps,
        "suite_reps": suite_reps,
        "loadavg": loadavg,
        "cpus": spark.sparkContext.defaultParallelism,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
