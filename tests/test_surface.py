"""The package's public surface is what the query catalog, the tools,
``bench.py`` and ``perfbench/run.py`` reach, plus a short declared
``KEEP`` list of library API.

Every top-level definition (function, class or named constant) in the
package and in ``__spark_entry__.py`` must either be reached from those
roots, following names through module bodies to a fixpoint, or be
named in ``KEEP`` with a one-line reason. A definition that only its
own tests call is a fork or an orphan: delete it, or argue for it here.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG_NAME = "data_integration_and_harmonization_spark"
ENTRY = "__spark_entry__"

# (module, name, reason): library API beyond the catalog.
KEEP: tuple[tuple[str, str, str], ...] = (
    ("operators.dedup", "compact_near_dedup_store",
     "compaction half of the store protocol that test_store_commits.py pins"),
    ("operators.profile", "compact_profile_store",
     "compaction half of the store protocol that test_store_commits.py pins"),
    ("plans.pipeline", "run_harmonization_pipeline",
     "the reference's end-to-end flow, exported by plans/__init__"),
    ("plans.pipeline", "HarmonizationResult",
     "result type of run_harmonization_pipeline, exported by plans/__init__"),
    ("streaming.pipeline", "incremental_drain", "README-documented streaming drain"),
    ("operators.dedup", "hamming_bucket_report",
     "audit half of hamming_pairs' max_bucket cap"),
    ("operators.dedup", "hamming_dropped_buckets",
     "audit half of hamming_pairs' max_bucket cap"),
)


def _modules() -> dict[str, pathlib.Path]:
    mods = {ENTRY: ROOT / f"{ENTRY}.py"}
    for path in sorted((ROOT / PKG_NAME).rglob("*.py")):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _definitions(tree: ast.Module) -> dict[str, ast.AST]:
    """Top-level functions, classes and single-name assignments."""
    defs: dict[str, ast.AST] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            defs[node.name] = node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name) and not t.id.startswith("__"):
                    defs[t.id] = node
    return defs


def _imports(tree: ast.Module, mods: dict[str, pathlib.Path]) -> dict[str, tuple[str, str | None]]:
    """Local name -> (module, None) for a module alias, (module, name) for
    an imported definition. Imports anywhere in the file count (the
    package imports lazily inside functions too)."""
    env: dict[str, tuple[str, str | None]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name in mods and a.asname:
                    env[a.asname] = (a.name, None)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            for a in node.names:
                local = a.asname or a.name
                sub = f"{node.module}.{a.name}"
                if sub in mods:
                    env[local] = (sub, None)
                elif node.module in mods:
                    env[local] = (node.module, a.name)
    return env


class _Graph:
    def __init__(self) -> None:
        self.mods = _modules()
        self.trees = {m: ast.parse(p.read_text()) for m, p in self.mods.items()}
        self.defs = {m: _definitions(t) for m, t in self.trees.items()}
        self.env = {m: _imports(t, self.mods) for m, t in self.trees.items()}

    def resolve(self, mod: str, name: str, seen=frozenset()) -> tuple[str, str] | None:
        """Follow re-exports to the module that defines ``name``."""
        if (mod, name) in seen or mod not in self.defs:
            return None
        if name in self.defs[mod]:
            return mod, name
        target = self.env[mod].get(name)
        if target and target[1]:
            return self.resolve(target[0], target[1], seen | {(mod, name)})
        return None

    def refs(self, node: ast.AST, env: dict[str, tuple[str, str | None]], mod: str | None):
        """Definitions named in ``node``: bare names resolve in ``mod``
        or through imports; ``alias.attr`` resolves in the aliased module."""
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                if mod is not None and sub.id in self.defs[mod]:
                    yield mod, sub.id
                elif sub.id in env and env[sub.id][1]:
                    hit = self.resolve(*env[sub.id])
                    if hit:
                        yield hit
            elif isinstance(sub, ast.Attribute) and isinstance(sub.value, ast.Name):
                target = env.get(sub.value.id)
                if target and target[1] is None:
                    hit = self.resolve(target[0], sub.attr)
                    if hit:
                        yield hit

    def reached(self, roots: set[tuple[str, str]] = frozenset()) -> set[tuple[str, str]]:
        roots = set(roots)
        scripts = [ROOT / "bench.py", ROOT / "perfbench" / "run.py"]
        for path in scripts + sorted((ROOT / "tools").glob("*.py")):
            tree = ast.parse(path.read_text())
            roots |= set(self.refs(tree, _imports(tree, self.mods), None))
        # The driver contract: the catalog and the three functions that serve it.
        roots |= {(ENTRY, n) for n in ("CATALOG", "entry", "queries", "oracle_sql")}
        # Module-level statements other than definitions, imports and
        # docstrings run on import.
        skip = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Assign, ast.AnnAssign,
                ast.Import, ast.ImportFrom)
        for mod, tree in self.trees.items():
            for node in tree.body:
                docstring = isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant)
                if not isinstance(node, skip) and not docstring:
                    roots |= set(self.refs(node, self.env[mod], mod))
        seen, todo = set(), list(roots)
        while todo:
            key = todo.pop()
            if key in seen:
                continue
            seen.add(key)
            mod, name = key
            todo.extend(self.refs(self.defs[mod][name], self.env[mod], mod))
        return seen

    def all_defs(self) -> set[tuple[str, str]]:
        return {(m, n) for m, d in self.defs.items() for n in d}


def _short(mod: str) -> str:
    return mod.removeprefix(PKG_NAME + ".")


def _full(mod: str) -> str:
    return mod if mod == ENTRY else f"{PKG_NAME}.{mod}"


def unreached() -> set[tuple[str, str]]:
    """Definitions that neither the roots nor a KEEP entry reach."""
    g = _Graph()
    kept = g.reached({(_full(m), n) for m, n, _ in KEEP})
    return {(_short(m), n) for m, n in g.all_defs() - kept}


def test_every_definition_is_reached_or_kept():
    assert sorted(unreached()) == []


def test_keep_entries_are_live_unreached_and_argued():
    g = _Graph()
    defined = {(_short(m), n) for m, n in g.all_defs()}
    reached = {(_short(m), n) for m, n in g.reached()}
    for mod, name, reason in KEEP:
        assert (mod, name) in defined, (mod, name)
        assert (mod, name) not in reached, f"{mod}.{name} is reached; drop it from KEEP"
        assert reason.strip() and "\n" not in reason
