"""Exact chunk-scoped oracle for gain-blk-offset + plan-hygiene checks.

gain-blk-offset's block-norm statistic is chunk-scoped (like the
reference's processing blocks, whose results depend on the block grid by
design — SURVEY.md §7 risk register).  This test pins the engine's chunk
semantics: a numpy oracle that assembles each chunk canvas with the same
geometry must reproduce the distributed result bit-for-bit (same functions,
same block scope).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from homonim_spark import datagen, grid
from homonim_spark.kernel import ops
from homonim_spark.kernel.models import (
    KernelModelParams, apply_model, chunk_halo, fit_model,
)
from homonim_spark.operators import fuse as fuse_ops
from homonim_spark.tiles import decode_tile


def test_gain_blk_offset_chunk_oracle(spark):
    spec = datagen.RasterFixtureSpec(pair_id="co", cells=(6, 6), tile=8, factor=2,
                                     true_gain=1.5, true_offset=4.0)
    docs_pdf, tiles_pdf = datagen.build_pair_tables(spec)
    docs, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    K, kernel = 4, (5, 5)
    fused = fuse_ops.fuse(docs, tiles, model="gain-blk-offset", kernel_shape=kernel,
                          chunk=K).toPandas()
    assert len(fused) == 36

    ref_img, src_img = datagen.make_pair_arrays(spec, 0)
    params = KernelModelParams(model="gain-blk-offset", kernel_shape=kernel)
    oh, ow = chunk_halo(params)
    T, f = spec.tile, spec.factor
    span = K * T

    # numpy oracle: same canvas assembly per chunk (6x6 cells, chunk 4 →
    # chunks (0,0),(0,1),(1,0),(1,1), partially filled at the edges)
    got = {int(r.cell_id): r for r in fused.itertuples(index=False)}
    for Rc in range(2):
        for Cc in range(2):
            ph, pw = span + 2 * oh, span + 2 * ow
            ref_c = np.full((ph, pw), np.nan, np.float32)
            src_c = np.full((ph * f, pw * f), np.nan, np.float32)
            g0r, g0c = Rc * span - oh, Cc * span - ow
            H, W = ref_img.shape
            i0r, i1r = max(0, g0r), min(H, g0r + ph)
            i0c, i1c = max(0, g0c), min(W, g0c + pw)
            ref_c[i0r - g0r:i1r - g0r, i0c - g0c:i1c - g0c] = ref_img[i0r:i1r, i0c:i1c]
            sH, sW = src_img.shape
            s0r, s0c = g0r * f, g0c * f
            j0r, j1r = max(0, s0r), min(sH, s0r + ph * f)
            j0c, j1c = max(0, s0c), min(sW, s0c + pw * f)
            src_c[j0r - s0r:j1r - s0r, j0c - s0c:j1c - s0c] = src_img[j0r:j1r, j0c:j1c]

            src_proc = ops.downsample_average(src_c, (f, f))
            if not (~np.isnan(src_proc) & ~np.isnan(ref_c)).any():
                continue
            param = fit_model(src_proc, ref_c, params)
            pc = param[:, oh:oh + span, ow:ow + span]
            for lr in range(K):
                for lc in range(K):
                    cr, cc = Rc * K + lr, Cc * K + lc
                    if cr >= 6 or cc >= 6:
                        continue
                    cid = grid.cell_id(datagen.FIXTURE_RES, cr, cc)
                    row = got[cid]
                    want_gain = pc[0, lr * T:(lr + 1) * T, lc * T:(lc + 1) * T]
                    got_gain = decode_tile(row.gain, T, T)
                    np.testing.assert_array_equal(
                        got_gain.tobytes(), want_gain.tobytes(),
                        err_msg=f"gain mismatch at cell ({cr},{cc})")
                    want_off = pc[1, lr * T:(lr + 1) * T, lc * T:(lc + 1) * T]
                    np.testing.assert_array_equal(
                        decode_tile(row.offset, T, T).tobytes(), want_off.tobytes())


def _formatted_plan(df):
    jdf = df._jdf
    spark = df.sparkSession
    return jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


def test_plan_hygiene_join_pushdown(spark):
    """Regression guard on plan quality: the star join broadcasts dims, the
    region filter reaches the scan, and scans are column-pruned."""
    import __spark_entry__ as e  # the checkout root is on sys.path (conftest)
    plan = _formatted_plan(e.queries()["join_pushdown"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(r_name,ASIA)" in plan
    # lineitem scan pruned to the 3 needed columns
    assert "struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>" in plan


def test_plan_hygiene_fuse_single_exchange(spark):
    """The fuse pipeline has exactly ONE exchange that carries tile
    payloads (the chunk repartition).  Metadata-scale exchanges — the
    media_ref semi-join broadcast and the round-6 routing-extent
    aggregate (ids + four longs per image, broadcast back) — are allowed;
    what must never regress is a second shuffle of the `data` column."""
    docs_pdf, tiles_pdf = datagen.build_pair_tables(datagen.RasterFixtureSpec(cells=(2, 2)))
    docs, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    df = fuse_ops.fuse(docs, tiles, model="gain", kernel_shape=(3, 3))
    plan = _formatted_plan(df)
    import re
    payload_exchanges = 0
    for m in re.finditer(r"\(\d+\) Exchange\b", plan):
        # the formatted details for node (n) follow the header line
        # "(n) Exchange"; its Input [...] list names the shuffled columns
        detail = plan[m.start():]
        detail = detail[:detail.find("\n\n")] if "\n\n" in detail else detail
        if re.search(r"Input \[\d+\]: \[[^\]]*\bdata#", detail):
            payload_exchanges += 1
    assert payload_exchanges == 1, \
        f"expected 1 payload exchange, got {payload_exchanges}\n{plan}"
    assert "BroadcastExchange" in plan  # the semi-join refs side
    assert "MapInArrow" in plan
