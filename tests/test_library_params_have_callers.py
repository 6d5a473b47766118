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
sets everything.  A call that passes a parameter its own default literal
(``dtype="float32"`` where the default is ``"float32"``) does not set it."""

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
    """``(name, positional index or None, default node)``."""
    args = fn.args
    pos = args.posonlyargs + args.args
    first = len(pos) - len(args.defaults)
    for i in range(first, len(pos)):
        yield pos[i].arg, i - skip_self, args.defaults[i - first]
    for arg, default in zip(args.kwonlyargs, args.kw_defaults):
        if default is not None:
            yield arg.arg, None, default


def _literal(node):
    """``(True, value)`` for a literal node, ``(False, None)`` otherwise."""
    try:
        return True, ast.literal_eval(node)
    except (ValueError, TypeError):
        return False, None


def _is_default(value, default):
    """``value`` is the same literal as ``default`` (type included, so
    ``1`` is not ``True`` or ``1.0``)."""
    (ok_v, v), (ok_d, d) = _literal(value), _literal(default)
    return ok_v and ok_d and type(v) is type(d) and v == d


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


def _dict_items(fn, var):
    """``{key: [value node]}`` of a ``var = dict(k=...)`` or
    ``var = {"k": ...}`` in ``fn``."""
    for node in ast.walk(fn):
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
                and node.targets[0].id == var):
            value = node.value
            if (isinstance(value, ast.Call) and isinstance(value.func, ast.Name)
                    and value.func.id == "dict" and not value.args):
                return {k.arg: [k.value] for k in value.keywords if k.arg}
            if isinstance(value, ast.Dict) and all(
                    isinstance(k, ast.Constant) for k in value.keys):
                return {k.value: [v] for k, v in zip(value.keys, value.values)}
    return None


def _set_parameters():
    """``call name -> ({keyword: [value node]}, {position: [value node]},
    sets everything)``."""
    by_name = {}
    for name, call, scopes in _calls():
        by_name.setdefault(name, []).append((call, scopes))

    def keywords(name, seen):
        """Keywords passed to calls of ``name`` with their value nodes,
        through ``**`` forwards."""
        if name in seen:
            return {}, False
        seen = seen | {name}
        out, everything = {}, False
        for call, scopes in by_name.get(name, []):
            for kw in call.keywords:
                if kw.arg is not None:
                    out.setdefault(kw.arg, []).append(kw.value)
                    continue
                items, forwards_all = None, False
                var = kw.value.id if isinstance(kw.value, ast.Name) else None
                for fn in reversed(scopes if var else ()):
                    if fn.args.kwarg is not None and fn.args.kwarg.arg == var:
                        items, forwards_all = keywords(fn.name, seen)
                        break
                    items = _dict_items(fn, var)
                    if items is not None:
                        break
                if items is None:
                    everything = True
                else:
                    for key, values in items.items():
                        out.setdefault(key, []).extend(values)
                    everything = everything or forwards_all
        return out, everything

    result = {}
    for name, pairs in by_name.items():
        positions = {}
        for call, _ in pairs:
            for i, a in enumerate(call.args):
                if isinstance(a, ast.Starred):
                    break
                positions.setdefault(i, []).append(a)
        kws, everything = keywords(name, frozenset())
        result[name] = (kws, positions, everything)
    return result


def _uncalled():
    set_by = _set_parameters()
    for qual, call_name, fn, skip_self in _library_functions():
        kws, positions, everything = set_by.get(call_name, ({}, {}, False))
        for param, index, default in _defaulted(fn, skip_self):
            values = kws.get(param, []) + positions.get(index, [])
            if everything or any(not _is_default(v, default) for v in values):
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
