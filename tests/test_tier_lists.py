"""The test-tier lists in conftest.py name real tests.

A renamed or deleted test leaves a stale name behind that marks nothing,
so the test it meant to move silently runs in the other tier. Parsed
with ast: no pytest collection, no Spark."""

import ast
import pathlib

HERE = pathlib.Path(__file__).parent


def _tier_lists() -> dict:
    tree = ast.parse((HERE / "conftest.py").read_text())
    return {node.targets[0].id: eval(compile(ast.Expression(node.value),
                                             "conftest.py", "eval"))
            for node in tree.body
            if isinstance(node, ast.Assign)
            and isinstance(node.targets[0], ast.Name)
            and node.targets[0].id in ("_SLOW_FILES", "_SLOW_CLASSES",
                                       "_SLOW_TESTS",
                                       "_DEFAULT_TIER_TESTS")}


def _test_files() -> dict:
    """file name -> (class names, test function and method names)."""
    out = {}
    for path in sorted(HERE.glob("test_*.py")):
        tree = ast.parse(path.read_text())
        classes = {n.name for n in tree.body if isinstance(n, ast.ClassDef)}
        funcs = {n.name for n in ast.walk(tree)
                 if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                 and n.name.startswith("test")}
        out[path.name] = (classes, funcs)
    return out


def test_tier_lists_name_existing_tests():
    lists, files = _tier_lists(), _test_files()
    assert set(lists) == {"_SLOW_FILES", "_SLOW_CLASSES", "_SLOW_TESTS",
                          "_DEFAULT_TIER_TESTS"}
    classes = set().union(*(c for c, _ in files.values()))
    funcs = set().union(*(t for _, t in files.values()))
    stale = sorted(
        [f for f in lists["_SLOW_FILES"] if f not in files]
        + [c for c in lists["_SLOW_CLASSES"] if c not in classes]
        + [t for t in lists["_SLOW_TESTS"] if t not in funcs]
        + [f"{f}::{t}" for f, t in lists["_DEFAULT_TIER_TESTS"]
           if f not in files or t.partition("[")[0] not in files[f][1]])
    assert stale == [], f"tier lists name no existing test: {stale}"
