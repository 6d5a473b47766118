#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input size (about five minutes).

    python3 perfbench/selftest.py

1. Every workload, untraced and traced, exits 0 with a correct result and
   exactly the metric names ``BENCHMARK.json`` declares.
2. The fuse_tiles check rejects one corrupted corrected tile, both on
   oracle-built rows and end to end: a run whose fuse output has one tile
   corrupted exits 1 with ``correct: false``.
3. A directory holding only ``BENCHMARK.json`` and the benchmark exits
   non-zero without printing a result.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [ROOT, BENCH_DIR]


def _run(args, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py")] + args
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_workloads(spec: dict) -> None:
    want = {0: {m["name"] for m in spec["end_to_end"]},
            1: {m["name"] for m in spec["per_layer"]}}
    for w in spec["workloads"]:
        for trace in (0, 1):
            p = _run(["--workload", w["name"], "--seed", "7", "--seconds", "1",
                      "--trace", str(trace), "--scale", "tiny"])
            assert p.returncode == 0, (w["name"], trace, p.stderr[-3000:])
            res = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            assert set(res["metrics"]) == want[trace], set(res["metrics"]) ^ want[trace]
            for name, m in res["metrics"].items():
                assert math.isfinite(m["value"]), (name, m)
            print(f"ok: {w['name']} trace={trace}", flush=True)


def _corrupt(tile: bytes) -> bytes:
    """The tile with 1.0 added to its centre pixel (never in a nodata border)."""
    import numpy as np
    a = np.frombuffer(tile, dtype="<f4").copy()
    side = int(round(a.size ** 0.5))
    a[(side // 2) * side + side // 2] += 1.0
    return a.tobytes()


def check_corruption_rejected() -> None:
    import fixtures
    import run
    import workloads
    from homonim_spark import datagen, grid
    from homonim_spark.tiles import encode_tile

    specs = fixtures.raster_specs(2, seed=3)
    rows = []
    for spec in specs:
        corr = workloads.oracle_corrected(spec)
        t = spec.tile * spec.factor
        for cr in range(spec.cells[0]):
            for cc in range(spec.cells[1]):
                rows.append({"image_id": spec.pair_id,
                             "cell_id": grid.cell_id(datagen.FIXTURE_RES, spec.origin[0] + cr,
                                                     spec.origin[1] + cc),
                             "corr": encode_tile(corr[cr * t:(cr + 1) * t, cc * t:(cc + 1) * t])})
    n = len(rows)
    assert workloads.check_fused_rows(rows, specs, [0, 1], n) == []
    rows[5] = {**rows[5], "corr": _corrupt(rows[5]["corr"])}
    assert len(workloads.check_fused_rows(rows, specs, [0, 1], n)) == 1
    assert workloads.check_fused_rows(rows[:-1], specs, [0, 1], n)
    print("ok: corrupted tile rejected by the fuse check", flush=True)

    # end to end: corrupt one corrected tile of every rep's real output
    real_rep = workloads.FuseTiles.rep

    def corrupted_rep(self):
        out = real_rep(self)
        for r in out:
            if r["corr"] is not None:
                r["corr"] = _corrupt(r["corr"])
                break
        return out

    workloads.FuseTiles.rep = corrupted_rep
    try:
        code = run.main(["--workload", "fuse_tiles", "--seed", "7", "--seconds", "1",
                         "--trace", "0", "--scale", "tiny"])
    finally:
        workloads.FuseTiles.rep = real_rep
    assert code == 1, code
    print("ok: a run with a corrupted tile exits 1", flush=True)


def check_bare_directory() -> None:
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = _run(["--workload", "fuse_tiles", "--seed", "1", "--seconds", "1", "--trace", "0"],
                 cwd=bare)
        assert p.returncode != 0 and p.stdout.strip() == "", (p.returncode, p.stdout)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok: bare directory exits non-zero without a result", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check_bare_directory()
    check_corruption_rejected()
    check_workloads(spec)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
