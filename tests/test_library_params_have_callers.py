"""Every defaulted parameter of a function in ``homonim_spark/``, and of a
top-level function of the driver module ``__spark_entry__.py``, is passed by
some call in the repository, or has a one-line reason in ``ALLOWED`` why it
stays.  A parameter that no call sets is its default constant.

Calls are matched to library functions by name, from the library, the
driver module, the bench scripts, ``tools/``, ``perfbench/`` and ``tests/``.
A call sets a parameter when it passes it by keyword or by position
(positions after a ``*args`` splat are not counted).  A ``**kw`` splat sets
the keys of a ``dict(...)``/``{...}`` literal bound to ``kw`` in the calling
function, or, when ``kw`` is that function's own ``**`` parameter, every
keyword its callers pass (followed through further splats); any other splat
sets everything."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

ALLOWED = {
    "homonim_spark/tiffio.py:_HttpRangeFile.seek(whence)":
        "file protocol: io readers call seek(offset, whence)",
    "homonim_spark/operators/ingest.py:ingest_gtiff_files(grid_crs)":
        "documented operator (OPERATORS.md GeoKey CRS row: threaded through ingest_gtiff_files*)",
    "homonim_spark/operators/ingest.py:ingest_gtiff_files_windowed(grid_crs)":
        "documented operator (OPERATORS.md GeoKey CRS row: threaded through ingest_gtiff_files*)",
}


def _library_functions():
    """``(qualified name, call name, FunctionDef, skips self)`` for every
    function and method in the library and every top-level function of
    the driver module."""
    for node in ast.parse((ROOT / "__spark_entry__.py").read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield "__spark_entry__.py:" + node.name, node.name, node, False
    for path in sorted((ROOT / "homonim_spark").rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()

        def visit(node, cls):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, ast.ClassDef):
                    yield from visit(child, child.name)
                elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                                 for d in child.decorator_list)
                    qual = f"{cls}.{child.name}" if cls else child.name
                    call_name = cls if child.name == "__init__" else child.name
                    yield rel + ":" + qual, call_name, child, bool(cls) and not static
                    yield from visit(child, None)
                else:
                    yield from visit(child, cls)

        yield from visit(ast.parse(path.read_text()), None)


def _defaulted(fn, skip_self):
    args = fn.args
    pos = args.posonlyargs + args.args
    first = len(pos) - len(args.defaults)
    for i in range(first, len(pos)):
        yield pos[i].arg, i - skip_self
    for arg, default in zip(args.kwonlyargs, args.kw_defaults):
        if default is not None:
            yield arg.arg, None


def _calls():
    """``(callee name, Call, enclosing FunctionDefs, innermost last)`` for
    every call."""
    files = [*(ROOT / "homonim_spark").rglob("*.py"), ROOT / "__spark_entry__.py",
             *ROOT.glob("bench*.py"), *(ROOT / "tools").rglob("*.py"),
             *(ROOT / "perfbench").rglob("*.py"), *(ROOT / "tests").rglob("*.py")]

    def visit(node, scopes):
        for child in ast.iter_child_nodes(node):
            inner = scopes
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = scopes + (child,)
            if isinstance(child, ast.Call):
                f = child.func
                name = (f.id if isinstance(f, ast.Name)
                        else f.attr if isinstance(f, ast.Attribute) else None)
                if name:
                    yield name, child, scopes
            yield from visit(child, inner)

    for path in files:
        yield from visit(ast.parse(path.read_text()), ())


def _dict_keys(fn, var):
    """Keys of a ``var = dict(k=...)`` or ``var = {"k": ...}`` in ``fn``."""
    for node in ast.walk(fn):
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
                and node.targets[0].id == var):
            value = node.value
            if (isinstance(value, ast.Call) and isinstance(value.func, ast.Name)
                    and value.func.id == "dict" and not value.args):
                return {k.arg for k in value.keywords if k.arg}
            if isinstance(value, ast.Dict) and all(
                    isinstance(k, ast.Constant) for k in value.keys):
                return {k.value for k in value.keys}
    return None


def _set_parameters():
    """``call name -> (keywords set, max positional count, sets everything)``."""
    by_name = {}
    for name, call, scopes in _calls():
        by_name.setdefault(name, []).append((call, scopes))

    def keywords(name, seen):
        """Keywords passed to calls of ``name``, through ``**`` forwards."""
        if name in seen:
            return set(), False
        seen = seen | {name}
        out, everything = set(), False
        for call, scopes in by_name.get(name, []):
            for kw in call.keywords:
                if kw.arg is not None:
                    out.add(kw.arg)
                    continue
                keys, forwards_all = None, False
                var = kw.value.id if isinstance(kw.value, ast.Name) else None
                for fn in reversed(scopes if var else ()):
                    if fn.args.kwarg is not None and fn.args.kwarg.arg == var:
                        keys, forwards_all = keywords(fn.name, seen)
                        break
                    keys = _dict_keys(fn, var)
                    if keys is not None:
                        break
                if keys is None:
                    everything = True
                else:
                    out |= keys
                    everything = everything or forwards_all
        return out, everything

    result = {}
    for name, pairs in by_name.items():
        npos = max(next((i for i, a in enumerate(call.args)
                         if isinstance(a, ast.Starred)), len(call.args))
                   for call, _ in pairs)
        kws, everything = keywords(name, frozenset())
        result[name] = (kws, npos, everything)
    return result


def _uncalled():
    set_by = _set_parameters()
    for qual, call_name, fn, skip_self in _library_functions():
        kws, npos, everything = set_by.get(call_name, (set(), 0, False))
        for param, index in _defaulted(fn, skip_self):
            if everything or param in kws or (index is not None and index < npos):
                continue
            yield f"{qual}({param})"


def test_defaulted_library_parameters_have_callers():
    """Also fails on a stale ``ALLOWED`` entry: an allowlisted parameter
    must exist and must still lack a caller."""
    uncalled = list(_uncalled())
    missing = [p for p in uncalled if p not in ALLOWED]
    assert not missing, (
        "defaulted parameters that no call passes (make them constants, or "
        f"add a one-line reason to ALLOWED): {missing}")
    stale = sorted(set(ALLOWED) - set(uncalled))
    assert not stale, f"stale ALLOWED entries: {stale}"
