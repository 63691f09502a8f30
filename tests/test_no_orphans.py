"""No package code that only tests reach.

A top-level ``def``/``class`` in ``open_vector_tile_spark`` must be named
somewhere outside ``tests/``: in another package statement, the query
module (``__spark_entry__.py``), ``bench.py``, ``tools/`` or
``perfbench/``.  A
name counts as referenced when it appears as a ``Name`` or ``Attribute``
id, in a ``from ... import``, or as an identifier-valued string constant.
Re-exports in a package ``__init__`` do not count, and neither does a
definition naming itself.  The allow-list holds the exceptions, each with
its reason; an entry that is gone or has gained a caller fails too, so the
list cannot go stale.
"""

from __future__ import annotations

import ast
import functools
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "open_vector_tile_spark"

_GRID_IMAGE = "grid/image layers (OVT tags 6/7): not yet wired into a query"
_NUMPY_TWIN = "reference twin that tests compare the engine against"

ALLOWED = {
    "grid_tiles": _GRID_IMAGE,
    "images_to_tiles": _GRID_IMAGE,
    "decode_grids": _GRID_IMAGE,
    "decode_images": _GRID_IMAGE,
    "grid_input": _GRID_IMAGE,
    "image_input": _GRID_IMAGE,
    "convert_terrarium_elevation": _GRID_IMAGE,
    "convert_mapbox_elevation": _GRID_IMAGE,
    "compact_tileset": "user-facing tileset maintenance",
    "hex_cell_np": _NUMPY_TWIN,
    "hex_center_np": _NUMPY_TWIN,
    "hilbert_d_py": _NUMPY_TWIN,
    "delta_encode_sorted": _NUMPY_TWIN,
    "delta_decode_sorted": _NUMPY_TWIN,
    "command_decode": _NUMPY_TWIN,
    "cell_classes_np": "numpy oracle for vectorize.class_histogram",
    "overzoom_features": "general-path oracle for overzoom.overzoom_points",
}

_IDENT = re.compile(r"[A-Za-z_]\w*\Z")
_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and _IDENT.match(n.value):
            out.add(n.value)
    return out


@functools.cache
def _scan() -> tuple[dict[str, str], set[str]]:
    """-> (top-level package definitions name -> 'path:line', referenced names)."""
    defs: dict[str, str] = {}
    used: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for stmt in tree.body:
            if path.name == "__init__.py" and isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            refs = _names(stmt)
            if isinstance(stmt, _DEF):
                defs.setdefault(stmt.name, f"{path.relative_to(ROOT)}:{stmt.lineno}")
                refs.discard(stmt.name)
            used |= refs
    others = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    others += sorted((ROOT / "tools").rglob("*.py")) + sorted((ROOT / "perfbench").rglob("*.py"))
    for path in others:
        used |= _names(ast.parse(path.read_text(), str(path)))
    return defs, used


def test_no_unlisted_orphans():
    defs, used = _scan()
    orphans = sorted(f"{loc} {name}" for name, loc in defs.items() if name not in used and name not in ALLOWED)
    assert not orphans, "package definitions only tests reach (delete them, or allow-list with a reason):\n" + "\n".join(orphans)


def test_allow_list_is_not_stale():
    defs, used = _scan()
    gone = sorted(n for n in ALLOWED if n not in defs)
    called = sorted(n for n in ALLOWED if n in used)
    assert not gone, f"allow-listed names no longer defined: {gone}"
    assert not called, f"allow-listed names that now have a caller: {called}"
