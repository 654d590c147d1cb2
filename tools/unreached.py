"""Public top-level package functions and classes that no root reaches.

An AST reachability walk. The roots are bench.py, __spark_entry__.py,
perfbench/, tools/, rclip_server_spark/{api.py,contract/}, the SQL
frontend's statement entry ``sql.execute`` and the module-level code of
every package module. From a reached body it
follows names, ``module.attr`` chains and imports (function-local ones
too) to the definitions they bind. An attribute of anything other than
a module, and a string constant that spells an identifier (dynamic
dispatch: ``getattr(mod, "state")``, ``__all__``), reach every top-level
definition of that name. Docstrings count as strings; comments do not.

Prints one line per unreached public name, ``module.name``, followed by
the test files that still reference it.

Usage: python tools/unreached.py
"""
from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "rclip_server_spark"
ROOTS = ("bench.py", "__spark_entry__.py", "perfbench", "tools",
         f"{PKG}/api.py", f"{PKG}/contract")
# the SQL frontend's one statement entry: its dispatch reaches every
# statement kind, so an unreached function in sql/ is dead too
ENTRIES = ((f"{PKG}.sql", "execute"),)


def _modules(*paths: str) -> dict[str, str]:
    """dotted module name -> file, for the .py files under ``paths``."""
    out = {}
    for p in map(os.path.join, [ROOT] * len(paths), paths):
        walk = os.walk(p) if os.path.isdir(p) else [("", [], [p])]
        for d, _, files in walk:
            for f in (os.path.join(d, f) for f in files if f.endswith(".py")):
                mod = os.path.relpath(f, ROOT)[:-3].replace(os.sep, ".")
                out[mod.removesuffix(".__init__")] = f
    return out


def _bindings(mod: str, is_pkg: bool, node: ast.AST) -> dict[str, str]:
    """name -> the dotted path each import inside ``node`` binds it to."""
    env = {}
    for n in ast.walk(node):
        if isinstance(n, ast.Import):
            env.update({a.asname or a.name.partition(".")[0]:
                        a.name if a.asname else a.name.partition(".")[0]
                        for a in n.names})
        elif isinstance(n, ast.ImportFrom):
            base = mod if is_pkg else mod.rpartition(".")[0]
            for _ in range(n.level - 1):
                base = base.rpartition(".")[0]
            src = ".".join(filter(None, (base if n.level else "", n.module)))
            env.update({a.asname or a.name: f"{src}.{a.name}"
                        for a in n.names})
    return env


def main() -> None:
    mods = _modules(PKG, *ROOTS)
    trees = {m: ast.parse(open(f).read()) for m, f in mods.items()}
    is_pkg = {m: f.endswith("__init__.py") for m, f in mods.items()}
    envs = {m: _bindings(m, is_pkg[m], t) for m, t in trees.items()}
    defs = {(m, n.name): n for m, t in trees.items() for n in t.body
            if isinstance(n, (ast.FunctionDef, ast.ClassDef))}
    by_name: dict[str, set] = {}
    for key in defs:
        by_name.setdefault(key[1], set()).add(key)

    def target(path: str, seen=()):
        """A module name, or the set of definitions ``path`` names."""
        if path in mods:
            return path
        mod, _, name = path.rpartition(".")
        if (mod, name) in defs:
            return {(mod, name)}
        nxt = envs.get(mod, {}).get(name)
        return target(nxt, seen + (path,)) if nxt and path not in seen \
            else set()

    def refs(mod: str, node: ast.AST) -> set:
        env = {**envs[mod], **_bindings(mod, is_pkg[mod], node)}

        def lookup(e):
            if isinstance(e, ast.Name):
                return {(mod, e.id)} if (mod, e.id) in defs \
                    else target(env[e.id]) if e.id in env else set()
            if isinstance(e, ast.Attribute):
                base = lookup(e.value)
                return target(f"{base}.{e.attr}") if isinstance(base, str) \
                    else by_name.get(e.attr, set())
            return set()

        out = set()
        for n in ast.walk(node):
            if isinstance(n, (ast.Name, ast.Attribute)):
                got = lookup(n)
            elif isinstance(n, ast.alias) and (n.asname or n.name) in env:
                got = target(env[n.asname or n.name])
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                got = by_name.get(n.value, set())
            else:
                continue
            out |= got if isinstance(got, set) else set()
        return out

    whole = {m for m in trees if any(
        mods[m].startswith(os.path.join(ROOT, r)) for r in ROOTS)}
    work = [(m, trees[m]) for m in whole] + [(m, defs[m, n]) for m, n in ENTRIES]
    for m in trees.keys() - whole:
        for s in trees[m].body:
            work += [(m, d) for d in getattr(s, "decorator_list", [])] \
                if isinstance(s, (ast.FunctionDef, ast.ClassDef)) else [(m, s)]
    reached = set(ENTRIES)
    while work:
        for key in refs(*work.pop()) - reached:
            reached.add(key)
            work.append((key[0], defs[key]))
    tests = {os.path.relpath(f, ROOT): ast.parse(open(f).read())
             for f in _modules("tests").values()}
    for mod, name in sorted(defs.keys() - reached):
        if mod not in whole and not name.startswith("_"):
            users = sorted(f for f, t in tests.items() if any(
                name in (getattr(n, "id", None), getattr(n, "attr", None),
                         getattr(n, "name", None)) for n in ast.walk(t)))
            print(f"{mod}.{name}", " ".join(users))


if __name__ == "__main__":
    main()
