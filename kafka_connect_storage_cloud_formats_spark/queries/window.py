"""Registry order for the driver's correctness window, computed from evidence.

Each round the driver checks the first ``WINDOW`` registry entries against
their DuckDB oracles and records them in ``CORRECTNESS_r<N>.json``.
:func:`driver_order` puts the queries that most need a fresh row first:

1. never evidenced (no green row in any round);
2. at the staleness bound: last green round ≤ latest − ceil(N/WINDOW) + 1;
3. code changed since the last green row, earliest change first;
4. last green round, oldest first;
5. registration order.

A query's :func:`fingerprints` entry hashes its oracle SQL and the source
(without docstrings, blank and comment-only lines) of every package
function, method and module constant it reaches through its globals and
function-local imports — not whole modules, so an edit to one helper
flags only the queries that reach it. ``FINGERPRINTS.json`` keeps one
entry per driver round; after the driver has run round N, record it with

    python3 kafka_connect_storage_cloud_formats_spark/queries/window.py N [SOURCE]

where ``SOURCE`` (default: this checkout) holds the code that round ran,
e.g. a ``git archive`` of its commit. This module imports nothing from the
package, so it can fingerprint another checkout's copy.
"""

from __future__ import annotations

import ast
import functools
import glob
import hashlib
import inspect
import json
import math
import os
import re
import sys
import types

PKG = "kafka_connect_storage_cloud_formats_spark"
REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
MANIFEST = "FINGERPRINTS.json"
WINDOW = 50
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef)


def load_evidence(repo: str = REPO) -> dict[int, dict[str, bool]]:
    """round → {query: green} from every ``CORRECTNESS_r*.json``."""
    out = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        out[int(re.search(r"_r(\d+)\.json$", path).group(1))] = {
            n: bool(v.get("rows_match") and v.get("schema_match") and v.get("hash_match"))
            and not v.get("err")
            for n, v in json.load(open(path)).items()
        }
    return out


def load_manifest(repo: str = REPO) -> dict[int, dict[str, str]]:
    """round → {query: fingerprint} from ``FINGERPRINTS.json``."""
    path = os.path.join(repo, MANIFEST)
    return {int(r): fps for r, fps in json.load(open(path)).items()} if os.path.exists(path) else {}


def last_green(evidence: dict[int, dict[str, bool]]) -> dict[str, int]:
    return {n: r for r in sorted(evidence) for n, green in evidence[r].items() if green}


def change_round(name: str, green: int, manifest: dict, current: dict) -> float | None:
    """First round after ``green`` whose recorded code for ``name`` differs
    from the code that went green (``math.inf`` when only the current code
    differs); None when unchanged or when ``green`` has no manifest entry."""
    base = manifest.get(green, {}).get(name)
    if base is None:
        return None
    for rnd in sorted(r for r in manifest if r > green):
        if manifest[rnd].get(name, base) != base:
            return rnd
    return math.inf if current.get(name, base) != base else None


def driver_order(names: list[str], evidence: dict, manifest: dict, current: dict,
                 window: int = WINDOW) -> list[str]:
    """``names`` (registration order) sorted by the module docstring's key."""
    green = last_green(evidence)
    bound = max(evidence, default=0) - math.ceil(len(names) / window) + 1

    def key(item):
        pos, n = item
        if n not in green:
            return (0, 0, 0, 0, 0, pos)
        changed = change_round(n, green[n], manifest, current)
        return (1, green[n] > bound, changed is None, changed or 0, green[n], pos)

    return [n for _, n in sorted(enumerate(names), key=key)]


def registry_order(queries: dict, repo: str = REPO) -> list[str]:
    """Driver-window order of ``queries`` ({name: (fn, oracle_sql)}); plain
    registration order when ``repo`` holds no evidence."""
    evidence = load_evidence(repo)
    return driver_order(list(queries), evidence, load_manifest(repo), fingerprints(queries)) \
        if evidence else list(queries)


def fingerprints(queries: dict) -> dict[str, str]:
    """{name: fingerprint} of ``queries``, read from the sources of the
    imported package."""
    fp = Fingerprints(os.path.dirname(os.path.dirname(sys.modules[PKG].__file__)))
    return {name: fp.fingerprint(inspect.unwrap(fn), sql) for name, (fn, sql) in queries.items()}


def import_bindings(node, package: str) -> dict[str, tuple[str, str | None]]:
    """Names an import statement binds → (module, attribute or None)."""
    if isinstance(node, ast.Import):
        return {a.asname or a.name.partition(".")[0]: (a.name if a.asname else a.name.partition(".")[0], None)
                for a in node.names}
    base = node.module or ""
    if node.level:
        parts = package.split(".")
        base = ".".join(parts[: len(parts) - node.level + 1] + ([base] if base else []))
    return {a.asname or a.name: (base, a.name) for a in node.names}


def _source(lines: list[str], stmt, skip=()) -> str:
    """Source lines of ``stmt`` without its docstring, the ``skip``
    statements, and blank and comment-only lines."""
    body = getattr(stmt, "body", None)
    doc = body[:1] if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant) \
        and isinstance(body[0].value.value, str) else []

    def first(s):
        return min([s.lineno] + [d.lineno for d in getattr(s, "decorator_list", [])])

    dropped = {i for s in [*doc, *skip] for i in range(first(s), s.end_lineno + 1)}
    return "\n".join(
        line.rstrip() for i, line in enumerate(lines[first(stmt) - 1: stmt.end_lineno], first(stmt))
        if i not in dropped and line.strip() and not line.lstrip().startswith("#")
    )


class Fingerprints:
    """Reachable-source fingerprints of query functions, read from the
    package sources under ``root``."""

    def __init__(self, root: str):
        self.root = root
        self.module = functools.cache(self._load)
        self.node = functools.cache(self._read)

    def fingerprint(self, fn, sql: str | None) -> str:
        """Hash of ``sql`` and of every definition ``fn`` reaches; a reached
        class's method is reached once its name is used as an attribute."""
        seen, attrs, classes = {}, set(), []
        todo = [(fn.__module__, fn.__qualname__.split(".<locals>")[0])]
        while todo:
            key = todo.pop()
            node = key not in seen and self.node(*key)
            if node:
                seen[key], edges, more, methods = node
                todo += edges
                attrs |= more
                classes.append(methods)
            if not todo:
                todo = [k for ms in classes for m, k in ms.items()
                        if k not in seen and (m in attrs or m.startswith("__"))]
        return hashlib.sha256(b"".join([(sql or "").encode(), *(seen[k] for k in sorted(seen))])).hexdigest()[:16]

    def _load(self, name: str):
        """Top-level definitions and imports of a package module, or None."""
        base = os.path.join(self.root, *name.split("."))
        paths = (base + ".py", os.path.join(base, "__init__.py")) if name.split(".")[0] == PKG else ()
        path = next((p for p in paths if os.path.exists(p)), None)
        if path is None:
            return None
        with open(path, encoding="utf-8") as f:
            src = f.read()
        mod = types.SimpleNamespace(lines=src.splitlines(), defs={}, imports={},
                                    package=name if path.endswith("__init__.py") else name.rpartition(".")[0])

        def scan(body):
            for node in body:
                if isinstance(node, (ast.If, ast.Try)):
                    scan(node.body + node.orelse + getattr(node, "finalbody", [])
                         + [s for h in getattr(node, "handlers", []) for s in h.body])
                elif isinstance(node, (*_DEFS, ast.ClassDef)):
                    mod.defs[node.name] = [node]
                elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                    for t in getattr(node, "targets", [getattr(node, "target", None)]):
                        for n in ast.walk(t):
                            if isinstance(n, ast.Name):
                                mod.defs.setdefault(n.id, []).append(node)
                elif isinstance(node, (ast.Import, ast.ImportFrom)):
                    mod.imports.update(import_bindings(node, mod.package))

        scan(ast.parse(src).body)
        return mod

    def _resolve(self, module: str, attr: str | None):
        """Key of what ``module.attr`` names: (module, name) for a
        definition, (module, None) for a package module, None otherwise."""
        mod = self.module(module)
        if mod is None:
            return None
        if attr is None:
            return (module, None)
        if attr in mod.defs:
            return (module, attr)
        if attr in mod.imports:
            return self._resolve(*mod.imports[attr])
        if mod.package == module and self.module(f"{module}.{attr}") is not None:
            return (f"{module}.{attr}", None)
        return None

    def _read(self, module: str, qualname: str):
        """(digest of the source, reached keys, attribute names, methods)
        of one definition; ``methods`` maps a class's method names to keys."""
        mod, (cls, _, meth) = self.module(module), qualname.rpartition(".")
        stmts = mod.defs.get(cls or qualname, []) if mod else []
        if cls:
            stmts = [s for s in getattr(stmts[0], "body", []) if isinstance(s, _DEFS) and s.name == meth] \
                if stmts else []
        if not stmts:
            return None
        methods, text = {}, "\n".join(_source(mod.lines, s) for s in stmts)
        if isinstance(stmts[0], ast.ClassDef):
            c, defs = stmts[0], [s for s in stmts[0].body if isinstance(s, _DEFS)]
            methods = {s.name: (module, f"{qualname}.{s.name}") for s in defs}
            text = _source(mod.lines, c, defs)
            stmts = [*c.bases, *c.keywords, *c.decorator_list, *(s for s in c.body if s not in defs)]
        nodes = [n for s in stmts for n in ast.walk(s)]
        local = {}
        for n in nodes:
            if isinstance(n, (ast.Import, ast.ImportFrom)):
                local.update(import_bindings(n, mod.package))

        def target(e):
            if isinstance(e, ast.Name):
                return self._resolve(*local[e.id]) if e.id in local else self._resolve(module, e.id)
            t = target(e.value) if isinstance(e.value, (ast.Name, ast.Attribute)) else None
            return self._resolve(t[0], e.attr) if t and t[1] is None else None

        refs = [n for n in nodes if isinstance(n, (ast.Name, ast.Attribute))]
        edges = {t for t in map(target, refs) if t and t[1]}
        attrs = {n.attr for n in refs if isinstance(n, ast.Attribute)}
        return hashlib.sha256(f"{module}:{qualname}\0{text}".encode()).digest(), edges, attrs, methods


def record(rnd: int, source: str = REPO, repo: str = REPO) -> dict[str, str]:
    """Fingerprint the registry of the checkout at ``source`` and store it
    as round ``rnd`` of ``repo``'s manifest."""
    sys.path.insert(0, source)
    from kafka_connect_storage_cloud_formats_spark.queries.registry import QUERIES

    manifest = load_manifest(repo)
    manifest[rnd] = fingerprints(QUERIES)
    with open(os.path.join(repo, MANIFEST), "w") as f:
        json.dump({str(r): dict(sorted(manifest[r].items())) for r in sorted(manifest)}, f, indent=1)
        f.write("\n")
    return manifest[rnd]


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    print(f"round {sys.argv[1]}: {len(record(int(sys.argv[1]), *sys.argv[2:]))} queries fingerprinted")
