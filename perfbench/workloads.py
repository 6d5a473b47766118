"""The benchmark workloads, fuse_tiles and operator_suite.

Each workload separates the phases the runner in ``run.py`` times:

- ``generate(k)``: make and load the inputs (timed as set-up, repeated);
- ``warmup()``: untimed full-size work so JIT and Python workers are warm;
- ``rep()``: one timed unit of work; returns its output;
- ``check_rep(out)``: the output check of one rep, as a list of failures;
- ``layers()``: traced-run-only measurements of single layers.

The staged pipeline (ingest → fuse → sink → stats, GeoTIFF export, resume)
is measured and checked inside the traced fuse_tiles run.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

import fixtures
import host
from homonim_spark.kernel.models import KernelModelParams, fit_and_apply_ref_space
from homonim_spark.tiles import decode_tile, encode_tile

MODEL, KERNEL = "gain-blk-offset", (5, 5)

#: input sizes; "tiny" is for the self-test.  pipeline_pairs is the share
#: of the fuse fixture the traced run pushes through the staged pipeline.
SIZES = {
    "full": {"fuse_pairs": 96, "pipeline_pairs": 24, "suite_sf": 0.03},
    "tiny": {"fuse_pairs": 4, "pipeline_pairs": 2, "suite_sf": 0.002},
}

#: bench.py's suite keys + the SRP-bucketed near-dup scale path, each with
#: the engine module its time is reported under
SUITE_LEAVES = {
    "compare_stats": "compare", "param_stats": "stats", "tpch_q1": "relational",
    "join_pushdown": "relational", "band_match_rank": "matching",
    "topk_orders": "relational", "text_profile": "textops", "dedup_exact": "dedup",
    "similarity_topk": "similarity", "rollup_mean": "compare",
    "data_window": "stats", "embedding_neardup_lsh": "similarity",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


class Workload:
    """Shared state: the session, the run's work directory, seed and sizes."""

    name = ""
    unit = "items"
    #: measured reps per run at least, whatever --seconds says: per-rep cost
    #: keeps falling for many reps after warm-up, so a run's median must
    #: always sit at the same point of that curve
    min_reps = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.size = SIZES[ctx.scale]
        self.work = ctx.work_dir
        self.rng = np.random.default_rng([ctx.seed, 99])

    def release(self) -> None:
        """Drop what ``generate`` loaded, before the next set-up repetition."""

    def typical(self, key: str, reps: list) -> float:
        """The run's figure for one per-rep measure (``wall_s``, ``cpu_s``):
        its median over ``reps``."""
        return statistics.median(r[key] for r in reps)

    def layers(self):
        """(per-layer metrics, output-check failures) of the traced run."""
        return {}, []


# --- fuse_tiles ----------------------------------------------------------------

def oracle_corrected(spec) -> np.ndarray:
    """Whole-image corrected src array for one fixture pair (each bench image
    is exactly one chunk, so whole-image scope equals chunk scope)."""
    from homonim_spark import datagen
    ref, src = datagen.make_pair_arrays(spec, 0)
    params = KernelModelParams(model=MODEL, kernel_shape=KERNEL)
    return fit_and_apply_ref_space(src, ref, params, (spec.factor, spec.factor))[1]


def check_fused_rows(rows, specs, sampled, n_expected) -> list:
    """Output check of one fuse result: row count, plus every corrected tile
    of the sampled images against the whole-image numpy oracle."""
    from homonim_spark import datagen, grid
    failures = []
    if len(rows) != n_expected:
        failures.append(f"fuse returned {len(rows)} rows, expected {n_expected}")
    by_cell = {(r["image_id"], int(r["cell_id"])): r for r in rows}
    for i in sampled:
        spec = specs[i]
        want = oracle_corrected(spec)
        t = spec.tile * spec.factor
        for cr in range(spec.cells[0]):
            for cc in range(spec.cells[1]):
                cid = grid.cell_id(datagen.FIXTURE_RES, spec.origin[0] + cr, spec.origin[1] + cc)
                row = by_cell.get((spec.pair_id, cid))
                if row is None or row["corr"] is None:
                    failures.append(f"{spec.pair_id} cell ({cr},{cc}) missing")
                    continue
                got = decode_tile(row["corr"], t, t)
                exp = want[cr * t:(cr + 1) * t, cc * t:(cc + 1) * t]
                if got.shape != exp.shape or not np.array_equal(np.isnan(got), np.isnan(exp)) \
                        or not np.allclose(got, exp, rtol=1e-5, atol=1e-4, equal_nan=True):
                    failures.append(f"{spec.pair_id} cell ({cr},{cc}) differs from oracle")
    return failures


class FuseTiles(Workload):
    """``fuse(model='gain-blk-offset', kernel_shape=(5, 5))`` over a cached
    seeded fixture, run to completion once per rep."""

    name = "fuse_tiles"
    unit = "tiles"
    min_reps = 5

    def generate(self, k: int) -> None:
        self.specs = fixtures.raster_specs(self.size["fuse_pairs"], self.ctx.seed)
        self.input_dir = os.path.join(self.work, f"fuse-input-{k}")
        docs_dir, tiles_dir = fixtures.write_raster_fixture(
            self.input_dir, self.specs, self.ctx.seed, n_files=self.ctx.cores)
        n_part = self.ctx.shuffle_partitions
        self.docs = self.spark.read.parquet(docs_dir).repartition(n_part).cache()
        self.tiles = self.spark.read.parquet(tiles_dir).repartition(n_part, "cell_id").cache()
        self.docs.count()
        self.n_src = self.tiles.filter(F.col("role") == "src").count()
        self.items = self.n_src
        self.sampled = sorted(self.rng.choice(len(self.specs), min(4, len(self.specs)),
                                              replace=False).tolist())
        self.sample_ids = [self.specs[i].pair_id for i in self.sampled]
        self.first_crc = None

    def release(self) -> None:
        self.docs.unpersist(blocking=True)
        self.tiles.unpersist(blocking=True)
        shutil.rmtree(self.input_dir, ignore_errors=True)

    def warmup(self) -> None:
        # the JIT keeps speeding the first two reps up
        for _ in range(2):
            self.rep()

    def rep(self):
        """One fuse to completion; collects every tile's CRC-32 and the
        corrected payloads of the sampled images."""
        from homonim_spark.operators.fuse import fuse
        fused = fuse(self.docs, self.tiles, model=MODEL, kernel_shape=KERNEL)
        return [r.asDict() for r in fused.select(
            "image_id", "cell_id", F.crc32("corr").alias("crc"),
            F.when(F.col("image_id").isin(self.sample_ids), F.col("corr")).alias("corr"),
        ).collect()]

    def check_rep(self, rows) -> list:
        failures = check_fused_rows(rows, self.specs, self.sampled, self.n_src)
        crc = {(r["image_id"], int(r["cell_id"])): r["crc"] for r in rows}
        if self.first_crc is None:
            self.first_crc = crc
        elif crc != self.first_crc:
            failures.append("corrected tiles differ between reps")
        return failures

    def layers(self):
        from homonim_spark.operators import fuse as fz
        tr = self.ctx.tracer
        params = KernelModelParams(model=MODEL, kernel_shape=KERNEL)
        out = {}
        with tr.span("fuse.infer_fuse_config"):
            out["fuse.infer_config_s"], cfg = _timed(
                lambda: fz.infer_fuse_config(self.tiles, params))
        with tr.span("fuse.referenced_tiles"):
            out["fuse.referenced_tiles_s"], _ = _timed(
                lambda: _noop(fz.referenced_tiles(self.docs, self.tiles)))
        with tr.span("fuse.route_tiles"):
            out["fuse.route_tiles_s"], _ = _timed(
                lambda: _noop(fz.route_tiles(self.tiles, cfg)))
        out.update(kernel_layers(self.specs, self.rng, tr))
        pipe, failures = self._pipeline_layers()
        out.update(pipe)
        return out, failures

    def _pipeline_layers(self):
        """Two staged-pipeline reps over the first ``pipeline_pairs`` images
        written to parquet; both are checked, the second is reported."""
        specs = self.specs[:self.size["pipeline_pairs"]]
        in_dir = os.path.join(self.work, "pipeline-input")
        docs_dir, tiles_dir = fixtures.write_raster_fixture(
            in_dir, specs, self.ctx.seed, n_files=self.ctx.cores)
        n_src = sum(s.cells[0] * s.cells[1] for s in specs)
        failures, counts = [], []
        for k in range(2):
            with self.ctx.tracer.span("pipeline.rep", index=k):
                with self.ctx.counters.measure(counts):
                    res = run_pipeline(self.ctx, docs_dir, tiles_dir,
                                       os.path.join(self.work, f"pipeline-run-{k}"))
            failures += check_pipeline(self.spark, res, len(specs), n_src)
        out = {f"lineage.stage_{st}_s": m["wall_sec"] for st, m in res["manifests"].items()}
        out.update({"lineage.resume_s": res["resume_s"], "sink.export_gtiff_s": res["export_s"],
                    "pipeline.rep_s": res["rep_s"],
                    "pipeline.jobs_per_rep": counts[-1]["spark.jobs"],
                    "pipeline.scan_bytes": counts[-1]["spark.scan_bytes"],
                    "pipeline.bytes_written": counts[-1]["spark.bytes_written"]})
        return out, failures


def kernel_layers(specs, rng, tracer, n_sample: int = 6) -> dict:
    """Single-threaded kernel and codec cost per chunk on sampled images,
    scaled up to every chunk (one chunk per image)."""
    from homonim_spark import datagen
    params = KernelModelParams(model=MODEL, kernel_shape=KERNEL)
    picks = rng.choice(len(specs), min(n_sample, len(specs)), replace=False)
    fit_t, codec_t = [], []
    for i in picks:
        spec = specs[int(i)]
        ref, src = datagen.make_pair_arrays(spec, 0)
        f = (spec.factor, spec.factor)
        with tracer.span("kernel.fit_and_apply_ref_space"):
            dt, (param, corr) = _timed(lambda: fit_and_apply_ref_space(src, ref, params, f))
        fit_t.append(dt)
        t, ts = spec.tile, spec.tile * spec.factor

        def codec():
            # per chunk: decode every src and ref tile, encode the corrected,
            # gain and offset tile of every cell
            for cr in range(spec.cells[0]):
                for cc in range(spec.cells[1]):
                    s = encode_tile(src[cr * ts:(cr + 1) * ts, cc * ts:(cc + 1) * ts])
                    r = encode_tile(ref[cr * t:(cr + 1) * t, cc * t:(cc + 1) * t])
                    t0 = time.perf_counter()
                    decode_tile(s, ts, ts)
                    decode_tile(r, t, t)
                    encode_tile(corr[cr * ts:(cr + 1) * ts, cc * ts:(cc + 1) * ts])
                    encode_tile(param[0][cr * t:(cr + 1) * t, cc * t:(cc + 1) * t])
                    encode_tile(param[1][cr * t:(cr + 1) * t, cc * t:(cc + 1) * t])
                    yield time.perf_counter() - t0

        with tracer.span("tiles.codec"):
            codec_t.append(sum(codec()))
    n_chunks = len(specs)
    return {"kernel.fit_apply_s": statistics.median(fit_t) * n_chunks,
            "tiles.codec_s": statistics.median(codec_t) * n_chunks}


# --- operator_suite --------------------------------------------------------------

def _lsh(spark, sf_dir):
    from homonim_spark.operators.similarity import embedding_near_duplicates
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_near_duplicates(emb, threshold=0.45, exact=False, dim=64, n_planes=10)


def _frames_match(got, want) -> str:
    """'' when the Spark and DuckDB results agree after ``canon``; floats
    within one unit of the 4th decimal (the coarsest rounding the leaves
    apply), since sums may add in another order on the two engines."""
    from tools.check_oracles import canon
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"rowcount {len(g)} vs {len(w)}"
    for c in g.columns:
        a, b = g[c], w[c]
        if np.issubdtype(a.dtype, np.number) and np.issubdtype(b.dtype, np.number):
            ok = np.allclose(a.astype(float), b.astype(float), rtol=1e-9, atol=1.01e-4,
                             equal_nan=True)
        else:
            ok = (a.astype(str) == b.astype(str)).all()
        if not ok:
            return f"column {c} differs"
    return ""


class OperatorSuite(Workload):
    """One pass = every suite leaf once, in a seeded order, each collected
    to the driver so that every pass's output is checked."""

    name = "operator_suite"
    unit = "leaves"

    def generate(self, k: int) -> None:
        self.sf_dir = os.path.join(self.work, f"suite-input-{k}")
        self.tables = fixtures.write_relational_tables(
            self.sf_dir, self.ctx.seed, self.size["suite_sf"])
        import __spark_entry__ as entry
        qs = entry.queries()
        self.leaves = {n: (_lsh if n == "embedding_neardup_lsh" else qs[n]) for n in SUITE_LEAVES}
        self.items = len(self.leaves)
        self.leaf_stats = {n: [] for n in self.leaves}
        self.expected = None

    def release(self) -> None:
        shutil.rmtree(self.sf_dir, ignore_errors=True)

    def warmup(self) -> None:
        self.rep()
        for name in self.leaves:
            self.leaf_stats[name].clear()

    def typical(self, key: str, reps: list) -> float:
        """A pass assembled from each leaf's median, so that one slow leaf
        in one pass does not move the figure."""
        if not all(self.leaf_stats.values()):
            return super().typical(key, reps)
        return sum(statistics.median(s[key] for s in stats)
                   for stats in self.leaf_stats.values())

    def rep(self) -> dict:
        order = list(self.leaves)
        self.rng.shuffle(order)
        outs = {}
        for name in order:
            # a leaf's time includes building its plan: some leaves run jobs
            # while they plan (partition counts, broadcast sizing)
            cpu0 = host.cpu_seconds()
            with self.ctx.tracer.span(f"{SUITE_LEAVES[name]}.{name}"):
                dt, outs[name] = _timed(
                    lambda: self.leaves[name](self.spark, self.sf_dir).toPandas())
            self.leaf_stats[name].append({"wall_s": dt, "cpu_s": host.cpu_seconds() - cpu0})
        return outs

    def _oracle_frames(self) -> dict:
        """DuckDB answers of every leaf with an ``oracle_sql()`` entry."""
        import duckdb
        import __spark_entry__ as entry
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            return {n: con.execute(oracles[n]).fetchdf() for n in self.leaves if n in oracles}
        finally:
            con.close()

    def check_rep(self, outs: dict) -> list:
        """Leaves with an oracle match DuckDB; a leaf without one (the LSH
        near-dup path) returns rows, the same rows on every pass."""
        if self.expected is None:
            self.expected = self._oracle_frames()
        failures = []
        for name, got in outs.items():
            if name not in self.expected:
                if len(got) == 0:
                    failures.append(f"{name}: no rows")
                self.expected[name] = got
                continue
            msg = _frames_match(got, self.expected[name])
            if msg:
                failures.append(f"{name}: {msg}")
        return failures

    def layers(self):
        return ({f"{mod}.{n}_s": statistics.median(s["wall_s"] for s in self.leaf_stats[n])
                 for n, mod in SUITE_LEAVES.items()}, [])


# --- staged pipeline (measured in the traced fuse_tiles run) ----------------------

def _lineage_rows(run_dir: str) -> int:
    """Rows in the run's lineage table, read from parquet footers."""
    import pyarrow.parquet as pq
    d = os.path.join(run_dir, "_metrics")
    return sum(pq.read_metadata(os.path.join(d, f)).num_rows
               for f in os.listdir(d) if f.endswith(".parquet"))


def run_pipeline(ctx, docs_dir: str, tiles_dir: str, run_dir: str) -> dict:
    """``pipelines.staged_fuse_pipeline`` into a fresh run directory (ingest,
    fuse, sink and stats stages, each landing parquet, a manifest and lineage
    rows), ``sink.export_corrected_gtiff(build_ovw=True)`` of the fused
    stage, then the same pipeline call again, which resumes from the stage
    checkpoints.  Tile payloads are scanned from parquet, not a cache."""
    from homonim_spark.operators.sink import export_corrected_gtiff
    from homonim_spark.pipelines import staged_fuse_pipeline
    spark, tr = ctx.spark, ctx.tracer
    docs, tiles = spark.read.parquet(docs_dir), spark.read.parquet(tiles_dir)
    t0 = time.perf_counter()
    with tr.span("pipelines.staged_fuse_pipeline"):
        out = staged_fuse_pipeline(spark, docs, tiles, run_dir, model=MODEL, kernel_shape=KERNEL)
    t1 = time.perf_counter()
    with tr.span("sink.export_corrected_gtiff"):
        exported = export_corrected_gtiff(out["fuse"], os.path.join(run_dir, "gtiff"),
                                          scale_h=fixtures.FACTOR, build_ovw=True).collect()
    t2 = time.perf_counter()
    n_lineage = _lineage_rows(run_dir)
    t3 = time.perf_counter()
    with tr.span("pipelines.staged_fuse_pipeline", resume=True):
        staged_fuse_pipeline(spark, docs, tiles, run_dir, model=MODEL, kernel_shape=KERNEL)
    t4 = time.perf_counter()
    manifests = {}
    for st in ("ingest", "fuse", "sink", "stats"):
        with open(os.path.join(run_dir, st, "_MANIFEST.json")) as fh:
            manifests[st] = json.load(fh)
    return {"run_dir": run_dir, "exported": exported, "n_lineage": n_lineage,
            "manifests": manifests, "pipeline_s": t1 - t0, "export_s": t2 - t1,
            "resume_s": t4 - t3, "rep_s": (t4 - t3) + (t2 - t0)}


def check_pipeline(spark, res: dict, n_images: int, n_src: int) -> list:
    """Manifest ``n_rows`` equal the stages' actual counts, every GeoTIFF
    re-reads through ``tiffio.read_gtiff`` with the expected shape and an
    overview, and the resume appended no lineage rows."""
    from homonim_spark.tiffio import read_gtiff
    failures = []
    for st, man in res["manifests"].items():
        actual = spark.read.parquet(os.path.join(res["run_dir"], st, "data")).count()
        if man["n_rows"] != actual:
            failures.append(f"stage {st}: manifest n_rows {man['n_rows']} != {actual}")
    if res["manifests"]["fuse"]["n_rows"] != n_src:
        failures.append(f"fuse stage wrote {res['manifests']['fuse']['n_rows']} rows, "
                        f"expected {n_src}")
    side = fixtures.CELLS * fixtures.TILE * fixtures.FACTOR
    if len(res["exported"]) != n_images:
        failures.append(f"{len(res['exported'])} GeoTIFFs for {n_images} images")
    for row in res["exported"]:
        g = read_gtiff(row["path"])
        if g.data.shape != (1, side, side) or (row["height"], row["width"]) != (side, side):
            failures.append(f"{row['image_id']}: GeoTIFF shape {g.data.shape}")
        elif g.n_overviews < 1:
            failures.append(f"{row['image_id']}: GeoTIFF has no overview")
    if _lineage_rows(res["run_dir"]) != res["n_lineage"]:
        failures.append("resume appended lineage rows")
    return failures


WORKLOADS = {w.name: w for w in (FuseTiles, OperatorSuite)}
