"""Extra benchmarks beside bench.py's timed protocol: the guide §1.4
noop-sink isolation runs, per-query explain capture, and component
breakdowns cited in OPTIMIZATION_r06.md.

Usage:
    python bench_extra.py [--sf SF_DIR] [--reps N] [--plans DIR] [--only q1,q2]

Prints one JSON line per query: {"query": ..., "reps": [...], "min": ...}.
With --plans DIR, writes `<query>.txt` with .explain("formatted") output.
Methodology matches bench.py: the same session (``bench.bench_session``),
suite list and warm-up tables, noop sink, one untimed warm-up rep, then N
timed reps, report min.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", default=None,
                    help="directory to write explain('formatted') files")
    ap.add_argument("--only", default=None, help="comma-separated query names")
    ap.add_argument("--fuse", action="store_true",
                    help="also run the fuse flagship (pairs from env)")
    args = ap.parse_args()

    import bench
    spark = bench.bench_session("homonim-spark-bench-extra")
    sf_dir = args.sf

    import __spark_entry__ as entry
    qs = entry.queries()

    from homonim_spark.operators.similarity import embedding_near_duplicates

    def lsh(spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        dim = len(emb.select("embedding").first()[0])
        return embedding_near_duplicates(
            emb, threshold=0.45, exact=False, dim=dim, n_planes=10)

    builders = {name: (lambda s, d, fn=qs[name]: fn(s, d))
                for name in bench.SUITE}
    builders["embedding_neardup_lsh"] = lsh

    only = set(args.only.split(",")) if args.only else None

    # warm every input table once (bench.py does the same)
    for t in bench.WARM_TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    results = {}
    for name, build in builders.items():
        if only and name not in only:
            continue
        df = build(spark, sf_dir)
        if args.plans:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as fh:
                fh.write(plan)
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        run = lambda: build(spark, sf_dir).write.format("noop") \
            .mode("overwrite").save()
        run()  # untimed warm-up
        reps = []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            run()
            reps.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        results[name] = reps
        print(json.dumps({"query": name, "reps": reps, "min": min(reps)}),
              flush=True)

    if args.fuse:
        from homonim_spark.operators.fuse import fuse
        docs, tiles, n_src = bench.build_raster_bench_input(spark)
        docs.count(); tiles.count()
        run = lambda: fuse(docs, tiles, model="gain-blk-offset",
                           kernel_shape=(5, 5)).count()
        run()
        reps = []
        for _ in range(max(args.reps, 4)):
            t0 = time.perf_counter()
            n_out = run()
            reps.append(round(time.perf_counter() - t0, 3))
        print(json.dumps({"query": "fuse_gain_blk_offset_5x5", "reps": reps,
                          "min": min(reps), "tiles": n_out,
                          "tiles_per_sec": round(n_out / min(reps), 1)}),
              flush=True)

    print(json.dumps({"summary": {k: min(v) for k, v in results.items()},
                      "sf": sf_dir,
                      "cpus": spark.sparkContext.defaultParallelism}),
          flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
