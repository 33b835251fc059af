"""The package's public surface is what the query catalog, the tools,
``bench.py`` and ``perfbench/run.py`` reach, plus a short declared
``KEEP`` list of library API.

Every top-level definition (function, class or named constant) in the
package and in ``__spark_entry__.py`` must either be reached from those
roots, following names through module bodies to a fixpoint, or be
named in ``KEEP`` with a one-line reason. A definition that only its
own tests call is a fork or an orphan: delete it, or argue for it here.

The same holds one layer down, for parameters: a bool- or
None-defaulted parameter of a surface function is a switch, and some
call on the surface must set it to another value. A switch that only
tests flip (or nothing does) is a dead fork: delete it with the branch
it guards, or name it in ``SWITCH_KEEP`` with a one-line reason.
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
    ("sources.readers", "read_sources_with_errors",
     "the reference's per-file try/except ingestion (ref:171-187), next to strict read_sources"),
)

_PARTITION_TEST = "tests vary the width to pin the result's partition independence"
_STORE_TAG = "replay tag committed with the store entry: the store's idempotent-admit claim"
_FIXTURE = "fixture-encoder option that builds decoder inputs the tests need"

# (module, function, parameter, reason): switches no surface call flips.
SWITCH_KEEP: tuple[tuple[str, str, str, str], ...] = (
    ("operators.clean", "interpolate_linear", "num_partitions", _PARTITION_TEST),
    ("operators.clean", "interpolate_linear", "pre_partitioned",
     "test_prepartitioned.py forces the fast path and compares it with the default path"),
    ("operators.clean", "interpolate_and_ffill", "num_partitions", _PARTITION_TEST),
    ("operators.sampling", "deterministic_shuffle", "num_partitions", _PARTITION_TEST),
    ("operators.similarity", "compact_ann_index", "sweep",
     "test_pq.py pins the deferred sweep for readers that overlap maintenance"),
    ("operators.similarity", "load_ann_index", "version",
     "test_pq.py pins reading a retained older version"),
    ("operators.similarity", "append_ann_index", "tag", _STORE_TAG),
    ("operators.similarity", "delete_from_ann_index", "tag", _STORE_TAG),
    ("operators.profile", "profile_store_update", "tag", _STORE_TAG),
    ("session", "get_spark", "master", "deployment setting"),
    ("session", "get_spark", "shuffle_partitions", "deployment setting"),
    ("plans.pipeline", "run_harmonization_pipeline", "paths", "KEEP-listed library API"),
    ("plans.pipeline", "run_harmonization_pipeline", "dfs", "KEEP-listed library API"),
    ("plans.pipeline", "run_harmonization_pipeline", "coerce", "KEEP-listed library API"),
    ("plans.pipeline", "run_harmonization_pipeline", "scale", "KEEP-listed library API"),
    ("plans.pipeline", "run_harmonization_pipeline", "encode", "KEEP-listed library API"),
    ("streaming.pipeline", "incremental_drain", "transform", "KEEP-listed library API"),
    ("streaming.pipeline", "incremental_drain", "schema", "KEEP-listed library API"),
    ("sources.readers", "read_any", "fmt", "the ingestion front door's format override"),
    ("sources.readers", "read_any", "encoding", "the ingestion front door's text encoding"),
    ("functions.media_codecs", "encode_gif", "delays", _FIXTURE),
    ("functions.media_codecs", "encode_mp4_meta", "with_audio", _FIXTURE),
    ("functions.media_codecs", "encode_webm_meta", "with_audio", _FIXTURE),
    ("functions.pdf", "encode_pdf", "compress", _FIXTURE),
    ("functions.pdf", "encode_pdf_cid", "objstm", _FIXTURE),
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


def _switches(fn: ast.FunctionDef) -> list[tuple[int | None, str, object]]:
    """(position or None for keyword-only, name, default) of every
    parameter whose default is True, False or None."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    pairs = [(i, arg, d) for i, (arg, d) in enumerate(zip(pos[first:], a.defaults), first)]
    pairs += [(None, arg, d) for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return [
        (i, arg.arg, d.value)
        for i, arg, d in pairs
        if isinstance(d, ast.Constant) and (d.value is None or isinstance(d.value, bool))
    ]


def _flips(call: ast.Call, params: list[tuple[int | None, str, object]], args: list[ast.expr]):
    """Names of ``params`` that ``call`` (with positional ``args``) sets
    to something other than the default. ``*args`` sets every position
    from its own on; ``**kwargs`` sets every parameter."""
    def other(node: ast.expr, default: object) -> bool:
        return not (isinstance(node, ast.Constant) and node.value is default)

    for i, name, default in params:
        for j, arg in enumerate(args):
            if i is not None and (
                (isinstance(arg, ast.Starred) and j <= i) or (j == i and other(arg, default))
            ):
                yield name
        for kw in call.keywords:
            if kw.arg is None or (kw.arg == name and other(kw.value, default)):
                yield name


def unflipped_switches() -> set[tuple[str, str, str]]:
    """(module, function, parameter) of every switch of a surface
    function (reached from the roots or KEEP) that no call on the
    surface, in the scripts or in a module body sets. Calls resolve
    through the same name graph as ``unreached``; ``partial(f, ...)``
    counts as a call of ``f``."""
    g = _Graph()
    surface = g.reached({(_full(m), n) for m, n, _ in KEEP})
    flipped: set[tuple[str, str, str]] = set()

    def scan(node: ast.AST, env, mod: str | None) -> None:
        for call in ast.walk(node):
            if not isinstance(call, ast.Call):
                continue
            func, args = call.func, list(call.args)
            if getattr(func, "id", getattr(func, "attr", None)) == "partial" and args:
                func, args = args[0], args[1:]
            if isinstance(func, ast.Name):
                hit = next(g.refs(func, env, mod), None)
            elif isinstance(func, ast.Attribute) and isinstance(func.value, ast.Name):
                target = env.get(func.value.id)  # module alias, else a method call
                hit = g.resolve(target[0], func.attr) if target and target[1] is None else None
            else:
                continue
            if hit is None or not isinstance(g.defs[hit[0]][hit[1]], ast.FunctionDef):
                continue
            params = _switches(g.defs[hit[0]][hit[1]])
            flipped.update((*hit, name) for name in _flips(call, params, args))

    scripts = [ROOT / "bench.py", ROOT / "perfbench" / "run.py"]
    for path in scripts + sorted((ROOT / "tools").glob("*.py")):
        tree = ast.parse(path.read_text())
        scan(tree, _imports(tree, g.mods), None)
    defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    for mod, tree in g.trees.items():
        for node in tree.body:
            if not isinstance(node, defs):
                scan(node, g.env[mod], mod)
    for mod, name in surface:
        scan(g.defs[mod][name], g.env[mod], mod)
    return {
        (_short(mod), name, param)
        for mod, name in surface
        if isinstance(g.defs[mod][name], ast.FunctionDef)
        for _, param, _ in _switches(g.defs[mod][name])
        if (mod, name, param) not in flipped
    }


def test_every_switch_is_flipped_or_kept():
    kept = {(m, f, p) for m, f, p, _ in SWITCH_KEEP}
    assert sorted(unflipped_switches() - kept) == []


def test_switch_keep_entries_are_live_unflipped_and_argued():
    g = _Graph()
    unflipped = unflipped_switches()
    for mod, fn, param, reason in SWITCH_KEEP:
        node = g.defs.get(_full(mod), {}).get(fn)
        assert isinstance(node, ast.FunctionDef), (mod, fn)
        assert param in {p for _, p, _ in _switches(node)}, (mod, fn, param)
        assert (mod, fn, param) in unflipped, f"{mod}.{fn}({param}) is flipped; drop it from SWITCH_KEEP"
        assert reason.strip() and "\n" not in reason
