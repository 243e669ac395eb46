"""Census guard: every public top-level def or class in the package is
referenced somewhere in the repo's Python files outside its own body —
by the package itself, the contract entry, the benches, the scripts or a
test. Code that nothing calls is deleted, not kept.

A reference is an identifier in the parsed source (a name, an attribute
or an imported alias), so names that appear only in strings or comments
do not count. No Spark: ``ast`` over the source files only.
"""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "case_uco_ontology_map_spark"
_SKIP_DIRS = {".git", "dist", "__pycache__", ".perfbench_work"}


def _py_files():
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if d not in _SKIP_DIRS]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(root, f)


def _references(tree):
    """identifier → line numbers where it is referenced."""
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            name = node.id
        elif isinstance(node, ast.Attribute):
            name = node.attr
        elif isinstance(node, ast.alias):
            name = node.asname or node.name.rsplit(".", 1)[-1]
        else:
            continue
        out.setdefault(name, []).append(getattr(node, "lineno", 0))
    return out


def test_no_unreferenced_public_defs():
    trees = {}
    for path in _py_files():
        with open(path, encoding="utf-8") as fh:
            trees[path] = ast.parse(fh.read(), path)
    refs = {path: _references(tree) for path, tree in trees.items()}
    pkg_root = os.path.join(REPO, PKG) + os.sep
    unreferenced = []
    for path, tree in trees.items():
        if not path.startswith(pkg_root):
            continue
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or node.name.startswith("_"):
                continue
            own = [
                ln
                for ln in refs[path].get(node.name, [])
                if not node.lineno <= ln <= node.end_lineno
            ]
            if own or any(
                node.name in r for p, r in refs.items() if p != path
            ):
                continue
            unreferenced.append(
                f"{os.path.relpath(path, REPO)}:{node.lineno} {node.name}"
            )
    assert not unreferenced, (
        "public defs referenced nowhere outside their own body "
        "(delete them, or call them):\n" + "\n".join(sorted(unreferenced))
    )
