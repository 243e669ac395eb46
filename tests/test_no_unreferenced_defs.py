"""Census guard over the package's public top-level defs and classes.

1. Each is referenced somewhere in the repo's Python files outside its own
   body — by the package itself, the contract entry, the benches, the
   scripts or a test. Code that nothing calls is deleted, not kept.
2. Each one outside ``refmap/`` (the port of the reference's deterministic
   semantics, replayed against reference goldens) is referenced by a file
   outside ``tests/``. A def only its own tests call serves no workload,
   contract row, bench or script; it is deleted, or, when a test uses it
   as the oracle of a live path, it moves into that test.

A reference is an identifier in the parsed source (a name, an attribute
or an imported alias), so names that appear only in strings or comments
do not count. No Spark: ``ast`` over the source files only.
"""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "case_uco_ontology_map_spark"
_SKIP_DIRS = {".git", "dist", "__pycache__", ".perfbench_work"}
_TESTS = os.path.join(REPO, "tests") + os.sep
_REFMAP = os.path.join(REPO, PKG, "refmap") + os.sep

# Test-only defs that stay, each with its reason.
_TEST_ONLY_KEEPS = {
    # The read side of the resume manifest run_pipeline writes.
    "read_manifest": "reads the manifest run_pipeline writes",
    "split_resume": "splits a corpus against run_pipeline's manifest",
    "invalidate": "drops manifest entries so a resumed run redoes them",
    # The only producers of a live def's input.
    "read_warc": "only producer of cdx_index's record frame",
    "cdx_index": "only producer of cdx_delta's index frames",
    "redirect_edges": "only producer of resolve_redirects' edge frame",
    "parse_robots": "only producer of robots_decisions' rule frame",
}


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


def _census():
    """(path, public top-level node, callers) for each package def, where
    callers is the set of files referencing it outside its own body."""
    trees = {}
    for path in _py_files():
        with open(path, encoding="utf-8") as fh:
            trees[path] = ast.parse(fh.read(), path)
    refs = {path: _references(tree) for path, tree in trees.items()}
    pkg_root = os.path.join(REPO, PKG) + os.sep
    for path, tree in trees.items():
        if not path.startswith(pkg_root):
            continue
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or node.name.startswith("_"):
                continue
            callers = {p for p, r in refs.items() if p != path and node.name in r}
            if any(
                not node.lineno <= ln <= node.end_lineno
                for ln in refs[path].get(node.name, [])
            ):
                callers.add(path)
            yield path, node, callers


def _where(path, node):
    return f"{os.path.relpath(path, REPO)}:{node.lineno} {node.name}"


def test_no_unreferenced_public_defs():
    unreferenced = [_where(p, n) for p, n, callers in _census() if not callers]
    assert not unreferenced, (
        "public defs referenced nowhere outside their own body "
        "(delete them, or call them):\n" + "\n".join(sorted(unreferenced))
    )


def test_no_test_only_public_defs():
    test_only = [
        _where(p, n)
        for p, n, callers in _census()
        if callers
        and not p.startswith(_REFMAP)
        and n.name not in _TEST_ONLY_KEEPS
        and all(c.startswith(_TESTS) for c in callers)
    ]
    assert not test_only, (
        "public defs outside refmap/ that only tests reference (delete "
        "them, or move a test's oracle into that test):\n"
        + "\n".join(sorted(test_only))
    )
