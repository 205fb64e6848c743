"""The package carries no code that only tests call.

An AST scan of the package's top-level functions and classes, and of
the methods of those classes: each must be referenced from somewhere
outside ``tests/`` — the package itself, ``perfbench/``, ``tools/`` or
``__spark_entry__.py``. A ``@plan``-registered function counts as used
(the catalog calls it), and so does a dunder hook such as a module
``__getattr__`` or a class's ``__init__`` (Python calls it). A method
is matched by its bare name, so a same-named function elsewhere keeps
it alive. A reference is a use of the name — a bare name or an
attribute — anywhere in those files other than inside the definition
itself. An import is not a use: a ``from .x import name`` alias (a
package ``__init__`` re-export, say) that nothing then calls does not
keep ``name`` alive.

What is kept on purpose sits in ``_TEST_ONLY_ALLOWLIST`` with its
reason. Like ``_BROADCAST_ALLOWLIST``, the list is an exact inventory:
an entry whose definition is gone, or that gained a production caller,
fails too.
"""

from __future__ import annotations

import ast
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = "comperhensive_bigdata_analysis__spark"

#: (path under the package, name) -> why it stays with tests as its
#: only callers.
_TEST_ONLY_ALLOWLIST = {
    ("export.py", "join_geo"): "paper capability: the geo join of the "
    "reference's map export",
    ("export.py", "color_scale_bounds"): "paper capability: the map "
    "export's colour scale",
    ("session.py", "create_namespace"): "paper capability: the "
    "warehouse namespace helpers",
    ("session.py", "drop_namespace"): "paper capability: the warehouse "
    "namespace helpers",
    ("session.py", "table_exists"): "paper capability: the warehouse "
    "namespace helpers",
    ("sources/ingest.py", "ingest_csv_audited"): "the quarantining "
    "ingest ROADMAP item 3 builds on",
    ("multimodal.py", "bmp_encode"): "builds the BMP decoder's test "
    "inputs; moving it into the tests removes nothing",
    ("plans/ml.py", "semdedup_dup_edges"): "the test reference for the "
    "census's salted union (_dup_edges_union): its test checks the "
    "union's per-salt edge counts against semdedup_salt_recall",
    ("sources/jdbc.py", "read_jdbc"): "paper capability: the "
    "reference's MySQL/RDS read path (sql_utils.py, SURVEY S9)",
    ("sources/jdbc.py", "write_jdbc"): "paper capability: the "
    "reference's MySQL/RDS write path (sql_utils.py, SURVEY S10)",
}


def _sources():
    """Every non-test Python file the package's callers live in."""
    roots = [os.path.join(_REPO, _PKG), os.path.join(_REPO, "perfbench"),
             os.path.join(_REPO, "tools")]
    for root in roots:
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames[:] = [d for d in dirnames if d not in ("tests", "__pycache__")]
            for fn in sorted(filenames):
                if fn.endswith(".py"):
                    yield os.path.join(dirpath, fn)
    yield os.path.join(_REPO, "__spark_entry__.py")


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _is_hook(node) -> bool:
    """A ``@plan``-registered function (the catalog calls it) or a
    dunder (Python calls it)."""
    return node.name.startswith("__") or any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "plan"
        for d in node.decorator_list
    )


def _referenced_name(node) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _test_only_definitions() -> set[tuple[str, str]]:
    pkg_dir = os.path.join(_REPO, _PKG)
    defs = {}  # (rel, name) -> (path, node)
    refs = {}  # name -> [(path, node)]
    for path in _sources():
        tree = ast.parse(open(path).read())
        if path.startswith(pkg_dir + os.sep):
            rel = os.path.relpath(path, pkg_dir).replace(os.sep, "/")
            for node in tree.body:
                if isinstance(node, _DEFS) and not _is_hook(node):
                    defs[(rel, node.name)] = (path, node)
                if isinstance(node, ast.ClassDef):
                    for meth in node.body:
                        if isinstance(meth, _DEFS) and not _is_hook(meth):
                            defs[(rel, f"{node.name}.{meth.name}")] = (path, meth)
        for node in ast.walk(tree):
            name = _referenced_name(node)
            if name:
                refs.setdefault(name, []).append((path, node))
    unused = set()
    for (rel, name), (path, node) in defs.items():
        own = {id(n) for n in ast.walk(node)}
        if not any(
            not (p == path and id(n) in own)
            for p, n in refs.get(node.name, [])
        ):
            unused.add((rel, name))
    return unused


def test_no_package_code_only_tests_call():
    found = _test_only_definitions()
    new = found - set(_TEST_ONLY_ALLOWLIST)
    assert not new, (
        f"package definition(s) {sorted(new)} have no caller outside "
        f"tests/ — delete them with the tests that check only them, or "
        f"allowlist them in _TEST_ONLY_ALLOWLIST with the reason they stay"
    )
    stale = set(_TEST_ONLY_ALLOWLIST) - found
    assert not stale, (
        f"allowlisted definition(s) {sorted(stale)} are gone or now have "
        f"a caller outside tests/ — prune the allowlist so it stays an "
        f"exact inventory"
    )
