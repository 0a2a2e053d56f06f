"""Guard: every top-level name in the package is reached from a production
entry point, or is listed in ``KEPT`` with the reason it stays.

Pure AST, no Spark. The entry points are the spark-submit jobs, the
scripts, ``bench.py``, the query contract ``__spark_entry__.py``, the
benchmark harness ``perfbench/`` and the names the package ``__init__``
exports. From those, names are followed transitively through package
definitions: a reached function, class or assignment reaches every package
name its body refers to, and importing a module runs (so reaches) its
top-level statements that are not definitions. Tests are not entry
points: a name only a test calls is dead code with a test.

The contract's own ``q_*`` functions are checked the same way: each is
reached from inside ``__spark_entry__.py`` or benched by name.
"""
from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "bufr2geojson_spark"

_REFERENCE = "test reference: "
_SEAM = "test-fake seam: tests swap in a stub decoder/fetcher through it"
_PARITY = ("reference parity no job exposes yet; wiring it into a job "
           "would add a flag")

# Names no entry point reaches that stay on purpose, with the reason. A
# kept name also keeps the package helpers it calls.
KEPT: dict[str, str] = {
    f"{PKG}.functions.cells.s2_parent":
        _REFERENCE + "numpy parent of an S2 cell id, the oracle for the "
        "column parents in the cell and rollup tests",
    f"{PKG}.functions.cells.s2_center":
        _REFERENCE + "numpy cell centre for the S2 encode round trip",
    f"{PKG}.operators.tiles.raster_to_vector":
        _REFERENCE + "inverse of the contract's rasterize",
    f"{PKG}.operators.ann.cosine":
        _REFERENCE + "plain cosine column the IVF training-objective test "
        "scores with",
    f"{PKG}.operators.media.set_blob_fetcher": _SEAM,
    f"{PKG}.operators.media.set_pixel_decoder": _SEAM,
    f"{PKG}.operators.media.set_audio_decoder": _SEAM,
    f"{PKG}.operators.media.set_resize_decoder": _SEAM,
    f"{PKG}.functions.geojson.write_geojson": _PARITY,
    f"{PKG}.functions.wmo_tables.CsvTableProvider": _PARITY,
}


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[:-3].replace(os.sep, ".")
    return rel[: -len(".__init__")] if rel.endswith(".__init__") else rel


def _py_files(*parts: str) -> list[str]:
    base = os.path.join(ROOT, *parts)
    if base.endswith(".py"):
        return [base]
    out = []
    for dirpath, _, files in os.walk(base):
        out += [os.path.join(dirpath, f) for f in files
                if f.endswith(".py") and not f.startswith("test_")]
    return sorted(out)


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _defined_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = (stmt.targets if isinstance(stmt, ast.Assign)
                   else [stmt.target])
        return [n.id for t in targets for n in ast.walk(t)
                if isinstance(n, ast.Name)]
    return []


def _dotted(node: ast.AST) -> str | None:
    """``a.b.c`` for a Name or an Attribute chain on a Name, else None."""
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    parts.append(node.id)
    return ".".join(reversed(parts))


class _Package:
    def __init__(self) -> None:
        self.trees = {_module_name(p): _parse(p) for p in _py_files(PKG)}
        # (module, name) -> defining statements
        self.defs: dict[tuple[str, str], list[ast.stmt]] = {}
        for mod, tree in self.trees.items():
            for stmt in tree.body:
                for name in _defined_names(stmt):
                    self.defs.setdefault((mod, name), []).append(stmt)

    def resolve(self, dotted: str) -> tuple[str, str] | str | None:
        """A dotted package path -> (module, name), a module, or None."""
        if dotted in self.trees:
            return dotted
        mod, _, name = dotted.rpartition(".")
        if mod in self.trees:
            if (mod, name) in self.defs:
                return (mod, name)
            if mod + "." + name in self.trees:
                return mod + "." + name
        return None

    def references(self, nodes: list[ast.AST], module: str | None):
        """Package names and modules referred to inside ``nodes``, resolved
        against the imports found in ``nodes`` and at ``module``'s top
        level, and against ``module``'s own top-level names."""
        scope: dict[str, str] = {}
        import_nodes = [n for node in nodes for n in ast.walk(node)
                        if isinstance(n, (ast.Import, ast.ImportFrom))]
        if module is not None:
            import_nodes += [s for s in self.trees[module].body
                             if isinstance(s, (ast.Import, ast.ImportFrom))]
        found: set = set()
        for imp in import_nodes:
            if isinstance(imp, ast.Import):
                for a in imp.names:
                    if a.name.split(".")[0] == PKG:
                        # "import pkg.mod" binds pkg; "... as m" binds mod
                        scope[a.asname or PKG] = a.name if a.asname else PKG
                        found.add(self.resolve(a.name))
            elif imp.module and imp.module.split(".")[0] == PKG:
                for a in imp.names:
                    full = imp.module + "." + a.name
                    scope[a.asname or a.name] = full
                    found.add(self.resolve(full))
        for node in nodes:
            for n in ast.walk(node):
                dotted = _dotted(n)
                if dotted is None:
                    continue
                head, _, rest = dotted.partition(".")
                if head in scope:
                    full = scope[head] + ("." + rest if rest else "")
                    # the longest prefix of the chain that is a package name
                    while full and self.resolve(full) is None:
                        full = full.rpartition(".")[0]
                    if full:
                        found.add(self.resolve(full))
                elif module is not None and not rest \
                        and (module, head) in self.defs:
                    found.add((module, head))
        found.discard(None)
        return found

    def reached(self, roots: set) -> set[tuple[str, str]]:
        seen_names: set[tuple[str, str]] = set()
        seen_mods: set[str] = set()
        todo = list(roots)
        while todo:
            item = todo.pop()
            if isinstance(item, str):
                # importing a module imports its parents and runs its
                # top-level statements that are not definitions
                parts = item.split(".")
                mods = [".".join(parts[:i]) for i in range(1, len(parts) + 1)]
                for mod in mods:
                    if mod in seen_mods or mod not in self.trees:
                        continue
                    seen_mods.add(mod)
                    body = [s for s in self.trees[mod].body
                            if not _defined_names(s)]
                    todo += self.references(body, mod)
                continue
            if item in seen_names:
                continue
            seen_names.add(item)
            todo.append(item[0])
            todo += self.references(self.defs[item], item[0])
        return seen_names


def _entry_roots(pkg: _Package) -> set:
    files = (_py_files("jobs") + _py_files("scripts") + _py_files("perfbench")
             + _py_files("bench.py") + _py_files("__spark_entry__.py"))
    roots: set = {PKG}
    for path in files:
        roots |= pkg.references([_parse(path)], None)
    return roots


def _scan() -> tuple[_Package, set, set]:
    """(package, names reached from the entry points, names reached from
    the entry points and the KEPT names together)."""
    pkg = _Package()
    roots = _entry_roots(pkg)
    kept = {tuple(n.rsplit(".", 1)) for n in KEPT}
    return pkg, pkg.reached(roots), pkg.reached(roots | (kept & set(pkg.defs)))


def _names(pairs) -> set[str]:
    return {f"{mod}.{name}" for mod, name in pairs}


def test_every_package_name_is_reached_or_kept():
    pkg, from_entries, reached = _scan()
    dead = sorted(n for n in _names(set(pkg.defs) - reached)
                  if not n.rpartition(".")[2].startswith("__"))
    assert not dead, (
        f"{len(dead)} package names no entry point reaches; delete them or "
        "list them in KEPT with a reason:\n  " + "\n  ".join(dead)
    )
    # a KEPT entry whose name was deleted, or that an entry point now
    # reaches, is stale and must go from the list
    stale = sorted(n for n in KEPT
                   if n not in _names(pkg.defs) or n in _names(from_entries))
    assert not stale, f"stale KEPT entries: {stale}"


def test_every_contract_query_is_reached():
    """Every ``q_*`` function in ``__spark_entry__.py`` is referred to
    there beyond its own ``def`` (``queries()``, or another query), or is
    one of ``bench.headline_queries()``, which ``bench.py`` looks up as
    ``q_<name>``."""
    entry = _parse(os.path.join(ROOT, "__spark_entry__.py"))
    defined = [s.name for s in entry.body
               if isinstance(s, ast.FunctionDef) and s.name.startswith("q_")]
    referred = {n.id for n in ast.walk(entry) if isinstance(n, ast.Name)}
    headline = next(s for s in _parse(os.path.join(ROOT, "bench.py")).body
                    if isinstance(s, ast.FunctionDef)
                    and s.name == "headline_queries")
    benched = {n.value for n in ast.walk(headline)
               if isinstance(n, ast.Constant) and isinstance(n.value, str)}
    dead = sorted(q for q in defined
                  if q not in referred and q[2:] not in benched)
    assert not dead, (
        f"{len(dead)} contract queries nothing reaches; delete them or "
        "list them in queries():\n  " + "\n  ".join(dead))
