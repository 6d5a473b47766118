"""Every public top-level def/class in ``homonim_spark/``, and every
top-level def/class of the driver module ``__spark_entry__.py``, has a
caller outside ``tests/``, or a one-line reason in ``ALLOWED`` why only
tests reach it.  A name counts as called when a ``Name``, an ``Attribute``
or an import alias refers to it in the library, the driver module, the
bench scripts, ``tools/`` or ``perfbench/``."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

ALLOWED = {
    "k_ring": "Python twin of grid.k_ring_expr; tests compare the two",
    "parent": "Python twin of grid.parent_expr; tests compare the two",
    "children": "Python inverse of grid.parent; tests check the pair",
    "rgb_to_ycc": "JPEG encode side that builds the decoder tests' inputs",
    "jpeg_tables_stream": "JPEG encode side that builds the decoder tests' inputs",
    "cosine_topk": "exact reference for the ANN (lsh_topk / ivf_topk) tests",
    "train_ivf_centroids": "the only source of IVF centroids for ivf_topk",
    "salted_join": "documented operator (README skew note, OPERATORS.md J1)",
    "dedup_exact": "documented operator (README Dedup row: exact md5)",
    "data_window": "documented operator (OPERATORS.md A12 data window)",
    "incremental_media_refs": "documented operator (README AvailableNow incremental ingest)",
    "incremental_fuse": "documented operator (OPERATORS.md stateful streaming row)",
    "vrt_sources": "documented operator (OPERATORS.md VRT scan row)",
    "vrt_band_metadata": "documented operator (OPERATORS.md VRT scan row)",
    "ingest_gtiff_files": "documented entry point (README Ingest row: executor-side real-file scan)",
    "ingest_gtiff_files_windowed": "documented entry point (README Ingest row: windowed reads; OPERATORS.md https scan)",
}


def _public_names():
    driver = ROOT / "__spark_entry__.py"
    for path in [*sorted((ROOT / "homonim_spark").rglob("*.py")), driver]:
        for node in ast.parse(path.read_text()).body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef))
                    and (path == driver or not node.name.startswith("_"))):
                yield path.relative_to(ROOT), node.name


def _referenced_names():
    files = [*(ROOT / "homonim_spark").rglob("*.py"), ROOT / "__spark_entry__.py",
             *ROOT.glob("bench*.py"), *(ROOT / "tools").rglob("*.py"),
             *(ROOT / "perfbench").rglob("*.py")]
    seen = set()
    for path in files:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                seen.add(node.id)
            elif isinstance(node, ast.Attribute):
                seen.add(node.attr)
            elif isinstance(node, ast.alias):
                seen.add(node.name.rsplit(".", 1)[-1])
    return seen


def test_public_library_names_have_callers_outside_tests():
    seen = _referenced_names()
    uncalled = [f"{path}:{name}" for path, name in _public_names()
                if name not in seen and name not in ALLOWED]
    assert not uncalled, (
        "public names reached only from tests (delete them, or add a "
        f"one-line reason to ALLOWED): {uncalled}")


def test_allowlist_has_no_stale_entries():
    """An allowlisted name must exist and must still lack a caller."""
    public = {name for _, name in _public_names()}
    seen = _referenced_names()
    stale = sorted(n for n in ALLOWED if n not in public or n in seen)
    assert not stale, stale
