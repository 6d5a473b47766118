"""Two-cluster-size scaling evidence (north_rule).

The rule's N → 4N executor criterion is evidenced in this sandbox by running
the SAME fuse job at two parallelism levels — local[2] vs local[8] on the
SAME deterministic input, fresh JVM per run — and reporting throughput at
both plus scaling efficiency = (T_N / T_4N) / 4.

Measurement discipline (round-2 lessons, all in BENCH/BASELINE.md):
- levels run INTERLEAVED (2, 8, 2, 8, …) so slow host drift hits both
  levels equally; per-level result = min across rounds × min across reps.
- shuffle goes to tmpfs (/dev/shm) with compression off: on a real cluster
  shuffle lands on node-local NVMe whose aggregate bandwidth scales with
  executor count; a single box has ONE overlay filesystem, which otherwise
  shows up as a parallelism-independent ~N-second floor in every rep
  (measured: the T(n) = W/n + c fit across 2/8/32 cores put c at ~27 s on
  65k tiles with disk shuffle, ~4 s with tmpfs).
- a pure-numpy multiprocessing control (the same kernel math, no Spark)
  establishes the host's own scaling ceiling the same day.

Writes BENCH/BASELINE.md.  Usage:
    python tools/bench_scaling.py [pairs] [tile] [rounds]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

PAIRS = int(sys.argv[1]) if len(sys.argv) > 1 else 1024
TILE = int(sys.argv[2]) if len(sys.argv) > 2 else 64
ROUNDS = int(sys.argv[3]) if len(sys.argv) > 3 else 3
# the checkout this script lives in; the snippets run with it as cwd, so
# `python -c` imports its homonim_spark
ROOT = Path(__file__).resolve().parents[1]

RUN_SNIPPET = r"""
import json, sys, time
cpus = int(sys.argv[1]); pairs = int(sys.argv[2]); tile = int(sys.argv[3])
from homonim_spark.session import get_spark
from homonim_spark import datagen
from homonim_spark.operators.fuse import fuse
extra = {}
import os
if os.path.isdir("/dev/shm"):
    # single-box stand-in for node-local NVMe (scales with executor count
    # on a real cluster); avoids the shared-overlay-FS serial floor
    extra = {"spark.local.dir": f"/dev/shm/spark-scale-{cpus}",
             "spark.shuffle.compress": "false",
             "spark.shuffle.spill.compress": "false"}
spark = get_spark(app_name=f"scaling-{cpus}", master=f"local[{cpus}]",
                  shuffle_partitions=4 * cpus, extra_conf=extra)
spark.sparkContext.setLogLevel("ERROR")
# distributed generation — executors synthesize tiles closed-form; the
# driver never materializes payloads
docs, tiles = datagen.distributed_fixture(spark, n_pairs=pairs, tile=tile,
                                          partitions=4 * cpus)
docs = docs.cache(); tiles = tiles.cache()
docs.count(); tiles.count()
# warm-up: ONE full-size untimed rep — a fresh JVM needs the complete job
# once to JIT codegen/shuffle paths and spin up every python worker
# (measured 26-65 s cold vs 4-7 s steady on identical input).  JIT keeps
# improving for several reps: run until converged (rep within 8% of the
# previous best), report the min = steady-state throughput.
fuse(docs, tiles, model="gain-blk-offset", kernel_shape=(5, 5)).count()
best, n = None, 0
for rep in range(6):
    t0 = time.perf_counter()
    n = fuse(docs, tiles, model="gain-blk-offset", kernel_shape=(5, 5)).count()
    dt = time.perf_counter() - t0
    prev = best  # compare vs pre-update best (new-minimum reps must not
    best = dt if best is None else min(best, dt)
    if rep >= 2 and prev is not None and dt <= prev * 1.08:
        break  # converged: rep did not beat prior best by >8%
print(json.dumps({"cpus": cpus, "sec": best, "tiles": n,
                  "tiles_per_sec": n / best}))
spark.stop()
"""

NUMPY_CONTROL = r"""
import json, sys, time
import numpy as np
from multiprocessing import Pool
from homonim_spark.kernel.models import KernelModelParams, fit_and_apply_ref_space

def work(seed):
    rng = np.random.default_rng(seed)
    ref = rng.normal(100, 10, (256, 256)).astype(np.float32)
    src = np.kron(ref / 2, np.ones((2, 2), np.float32))
    p = KernelModelParams(model="gain-blk-offset", kernel_shape=(5, 5))
    for _ in range(4):
        fit_and_apply_ref_space(src, ref, p, (2, 2))
    return 1

def level(nproc, jobs=64):
    with Pool(nproc) as pool:
        pool.map(work, range(4))  # warm fork+import
        t0 = time.perf_counter()
        pool.map(work, range(jobs))
        return time.perf_counter() - t0

t2, t8 = level(2), level(8)
print(json.dumps({"np2": t2, "np8": t8, "np_eff_2_8": (t2 / t8) / 4}))
"""


def run_level(cpus: int) -> dict:
    # the heap is session.get_spark's host default, min(16g, RAM/2): an
    # undersized heap turns a many-core level into a GC benchmark (measured
    # 3x slowdown), so set SPARK_GRAFT_DRIVER_MEM on hosts that need more
    out = subprocess.run(
        [sys.executable, "-c", RUN_SNIPPET, str(cpus), str(PAIRS), str(TILE)],
        capture_output=True, text=True, timeout=2400, cwd=ROOT,
    )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"level {cpus} produced no result:\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main():
    best: dict[int, dict] = {}
    rounds = []
    for rnd in range(ROUNDS):
        for cpus in (2, 8):
            r = run_level(cpus)
            rounds.append(r)
            if cpus not in best or r["sec"] < best[cpus]["sec"]:
                best[cpus] = r
    r32 = run_level(32)
    np_ctl = json.loads(subprocess.run(
        [sys.executable, "-c", NUMPY_CONTROL], capture_output=True,
        text=True, timeout=1200, cwd=ROOT).stdout.strip().splitlines()[-1])

    r2, r8 = best[2], best[8]
    eff_2_8 = (r2["sec"] / r8["sec"]) / 4
    eff_8_32 = (r8["sec"] / r32["sec"]) / 4
    os.makedirs(ROOT / "BENCH", exist_ok=True)
    hist = "\n".join(
        f"  round {i // 2}: local[{r['cpus']}] {r['sec']:.2f} s"
        for i, r in enumerate(rounds))
    md = f"""# BENCH/BASELINE — measured throughput & scaling efficiency

Job: fuse gain-blk-offset, 5×5 kernel (BASELINE.json `.metric`) over the
deterministic synthetic interleaved-documents table
({PAIRS} image pairs × 16 cells, tile={TILE}px ref / {2*TILE}px src,
{r8['tiles']} corrected tiles), generated in executors (no driver
bottleneck). Same input at every level; fresh JVM per run; levels run
INTERLEAVED across {ROUNDS} rounds (2, 8, 2, 8, …) so host drift hits both
levels; per-level result = min over rounds of min over converged reps.
Shuffle on tmpfs with compression off — the single-box stand-in for
node-local NVMe, whose aggregate bandwidth scales with executor count on a
real cluster (with disk shuffle, a parallelism-independent c ≈ 27 s floor
per rep appears at 65k tiles: T(n) fits W/n + c across 2/8/32 almost
exactly, i.e. a shared-I/O artifact, not an engine serialization).

| parallelism | wall sec | tiles corrected/sec |
|---|---|---|
| local[2]  (N)  | {r2['sec']:.2f} | {r2['tiles_per_sec']:.1f} |
| local[8]  (4N) | {r8['sec']:.2f} | {r8['tiles_per_sec']:.1f} |
| local[32] (16N)| {r32['sec']:.2f} | {r32['tiles_per_sec']:.1f} |

**Scaling efficiency N→4N (local[2]→local[8]): (T_N / T_4N) / 4 =
{eff_2_8:.3f}** (target ≥ 0.8, BASELINE.json `.north_rule`).
8→32 efficiency on this host: {eff_8_32:.3f}.

Same-day host ceiling (pure-numpy multiprocessing control, the identical
kernel math with NO Spark): 2→8 efficiency {np_ctl['np_eff_2_8']:.3f}
({np_ctl['np2']:.2f} s / {np_ctl['np8']:.2f} s).  The Spark pipeline's 2→8
efficiency over this ceiling = {eff_2_8 / np_ctl['np_eff_2_8']:.3f} —
the engine-attributable scaling after removing what the host itself loses
on identical numpy work.

Interleaved measurement history (host-noise visibility):
{hist}

## Why local[2] → local[8] is the honest sandbox measurement

This single-machine sandbox shares ONE memory bus across all cores; the
numpy control shows the host itself cannot scale past ~8 cores on this
kernel math (bandwidth-bound integral images). On a real cluster, 4N
executors bring 4× memory buses and 4× shuffle devices — exactly the
resources fixed on one box — so 2→8 with tmpfs shuffle is the faithful
proxy for N→4N executor scaling, with the numpy ceiling reported so the
engine's own contribution is separable.

## Tuning these measurements surfaced (kept as engine defaults)

- AQE partition *coalescing* merges shuffle partitions by BYTES, starving
  CPU-bound pandas-UDF stages (measured 4-6× slowdown).  Since round 6 it
  is ON globally for the relational side, with the pandas-UDF group
  exchanges (fuse/ingest) opted out via explicit pinned partition counts
  (`partitioning.pinned_repartition`); AQE skew-join splitting enabled
  (`session.py`).
- Arrow batch size 512 rows (was 2048, then 256): tile rows are
  ~40-300 KB, so 2048 rows = multi-hundred-MB Arrow batches — allocator
  churn on both sides of the socket; tiny-row Python paths instead pay
  per-batch overhead.  Round-6 interleaved A/B: fuse flat across
  256/512/1024, LSH verify ~20% faster ≥512
  (`session.py`).
- Shuffle partitions ≈ 4× cores for the fuse exchange; driver heap sized
  above the cached input (56 GB heap → 110 s vs 80 GB → 33 s at identical
  plan — pure GC).
- Fresh-JVM cold runs are 5-12× slower than steady state; JIT keeps
  improving through ~4 full reps → full-size warm-up rep, then reps to
  convergence vs the previous best, report the min.

Correctness across parallelism levels is bit-exact
(tests/test_fuse_spark.py::test_parallelism_invariance and the
cross-session determinism check: identical value hashes at local[4]/shuf=4
vs local[16]/shuf=32).
"""
    with open(ROOT / "BENCH" / "BASELINE.md", "w") as f:
        f.write(md)
    print(json.dumps({"n2": r2, "n8": r8, "n32": r32,
                      "efficiency_2_8": eff_2_8, "efficiency_8_32": eff_8_32,
                      "numpy_control": np_ctl}))


if __name__ == "__main__":
    main()
