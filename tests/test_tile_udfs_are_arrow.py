"""Batch data enters and leaves Python through Arrow only: tile payloads
through ``tiles.map_tile_batches`` and ``tiles.map_tile_groups``, embedding
matrices through ``mapInArrow``.  A pandas UDF call (``mapInPandas``,
``applyInPandas``, ``applyInPandasWithState``, ``pandas_udf``) anywhere in
``homonim_spark/`` or in a top-level function of ``__spark_entry__.py``
fails this test unless the top-level function that makes it is in
``ALLOWED`` with a one-line reason."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

PANDAS_UDFS = {"mapInPandas", "applyInPandas", "applyInPandasWithState", "pandas_udf"}

ALLOWED = {
    "homonim_spark/streaming.py:stateful_sessionize":
        "stateful streaming (applyInPandasWithState) has no Arrow twin",
    "homonim_spark/streaming.py:streaming_dedup_exact":
        "stateful streaming (applyInPandasWithState) has no Arrow twin",
}


def _pandas_udf_calls():
    """``path:top-level function`` for every pandas UDF call in the library
    and the driver module."""
    paths = [*sorted((ROOT / "homonim_spark").rglob("*.py")), ROOT / "__spark_entry__.py"]
    for path in paths:
        rel = path.relative_to(ROOT).as_posix()
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if isinstance(node, ast.Call):
                    f = node.func
                    name = (f.attr if isinstance(f, ast.Attribute)
                            else f.id if isinstance(f, ast.Name) else None)
                    if name in PANDAS_UDFS:
                        yield f"{rel}:{getattr(top, 'name', '<module>')}"


def test_tile_udfs_go_through_the_arrow_helpers():
    calls = sorted(set(_pandas_udf_calls()) - set(ALLOWED))
    assert not calls, (
        "pandas UDF calls outside the allowlist (use tiles.map_tile_batches, "
        "tiles.map_tile_groups or mapInArrow, or add a one-line reason to "
        f"ALLOWED): {calls}")


def test_allowlist_has_no_stale_entries():
    """An allowlisted function must still make a pandas UDF call."""
    stale = sorted(set(ALLOWED) - set(_pandas_udf_calls()))
    assert not stale, stale
