"""Tile payloads enter and leave Python only through ``tiles.map_tile_batches``
and ``tiles.map_tile_groups`` (``mapInArrow``).  A pandas UDF call
(``mapInPandas``, ``applyInPandas``, ``applyInPandasWithState``) anywhere
in ``homonim_spark/`` fails this test unless the top-level function that
makes it is in ``ALLOWED`` with a one-line reason."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

PANDAS_UDFS = {"mapInPandas", "applyInPandas", "applyInPandasWithState"}

ALLOWED = {
    "homonim_spark/streaming.py:stateful_sessionize":
        "stateful streaming (applyInPandasWithState) has no Arrow twin",
    "homonim_spark/streaming.py:streaming_dedup_exact":
        "stateful streaming (applyInPandasWithState) has no Arrow twin",
    "homonim_spark/operators/similarity.py:cosine_topk_np":
        "vector UDF: vectorised pandas/numpy over embedding columns, no tiles",
    "homonim_spark/operators/similarity.py:srp_buckets":
        "vector UDF: one sign-GEMM per batch over embedding columns, no tiles",
    "homonim_spark/operators/similarity.py:ivf_topk":
        "vector UDF: centroid argmax per batch over embedding columns, no tiles",
    "homonim_spark/operators/similarity.py:_verify_candidates":
        "vector UDF: pair cosines over embedding columns, no tiles",
    "homonim_spark/operators/dedup.py:content_chunks":
        "text UDF: content-defined chunking of document text, no tiles",
    "homonim_spark/operators/spatial.py:polyfill_footprints":
        "vector UDF: footprint polygon fill to cell ids, no tiles",
}


def _pandas_udf_calls():
    """``path:top-level function`` for every pandas UDF call in the library."""
    for path in sorted((ROOT / "homonim_spark").rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                        and node.func.attr in PANDAS_UDFS):
                    yield f"{rel}:{getattr(top, 'name', '<module>')}"


def test_tile_udfs_go_through_the_arrow_helpers():
    calls = sorted(set(_pandas_udf_calls()) - set(ALLOWED))
    assert not calls, (
        "pandas UDF calls outside the allowlist (use tiles.map_tile_batches / "
        f"tiles.map_tile_groups, or add a one-line reason to ALLOWED): {calls}")


def test_allowlist_has_no_stale_entries():
    """An allowlisted function must still make a pandas UDF call."""
    stale = sorted(set(ALLOWED) - set(_pandas_udf_calls()))
    assert not stale, stale
