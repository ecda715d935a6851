"""Mechanically derive the workload queries whose behavior could have
changed in a git commit range — the enforcement half of the registry's
RULE 1 (every changed query is pinned into the externally-checked
window; see ``workload/registry.py``).

The round-8 review flagged the hand-maintained ``_CHANGED_THIS_ROUND``
list as the rotation policy's weak point: an omission silently
violates RULE 1. This tool closes it:

1. the diff base is the parent of the change under review: the
   newest commit whose subject starts with ``PR N:``, ``re-anchor`` or
   ``round N:``, searched from ``HEAD`` while the package has
   uncommitted edits and from ``HEAD^`` once the tree is clean (so a
   committed change is measured against the marker below it, not
   against itself); the change is ``git diff <base>`` against the
   working tree;
2. each changed ``kaj_query_engine_spark/**.py`` file maps to a module;
3. a query is DERIVED-CHANGED when any changed module is in the static
   import closure of the module that registers it (imports are
   collected from the whole AST, so function-local imports count).

Module-closure granularity is deliberately conservative: a change to
``streaming/ops.py`` pins every streaming query, not just the one
whose code path moved — a superset can cost a verification slot, an
omission can hide a regression. ``tests/test_registry_rotation.py``
pins ``_CHANGED_THIS_ROUND ⊇ derived``, so the hand list (which may
add entries, e.g. for data-fixture changes git can't see) can never
silently under-cover the round's diff.

Usage: python tools/changed_queries.py [git-range]
Prints one line per derived query (symbol-granular, the set
``_CHANGED_THIS_ROUND`` must cover) with the changed symbols that pin
it, then the window budget the registry's pin lists spend.
"""

from __future__ import annotations

import ast
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "kaj_query_engine_spark"


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout


_MARKER = re.compile(r"(PR [0-9]+:|re-anchor|round [0-9]+:)")


def diff_base() -> str | None:
    """The parent of the change under review: the newest marker commit
    at or below ``HEAD`` while the package has uncommitted edits, else
    at or below ``HEAD^``. Used as a single rev, git diffs it against
    the WORKING TREE, so uncommitted edits count as changed too — a
    query touched but not yet committed must not escape the pin."""
    dirty = _git("status", "--porcelain", "--", f"{PKG}/").strip()
    start = "HEAD" if dirty else "HEAD^"
    try:
        log = _git("log", "--format=%H %s", start)
    except subprocess.CalledProcessError:  # clean root commit
        return None
    for line in log.splitlines():
        sha, _, subject = line.partition(" ")
        if _MARKER.match(subject):
            return sha
    return None


def changed_modules(rng: str) -> set[str]:
    """Package modules touched in the range (dotted names)."""
    out = _git("diff", "--name-only", rng, "--", f"{PKG}/")
    mods = set()
    for line in out.splitlines():
        if line.endswith(".py"):
            mods.add(_path_to_module(line))
    return mods - _LEAVES


def _path_to_module(rel: str) -> str:
    parts = Path(rel).with_suffix("").parts
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _module_file(mod: str) -> Path | None:
    base = REPO / Path(*mod.split("."))
    if base.with_suffix(".py").exists():
        return base.with_suffix(".py")
    if (base / "__init__.py").exists():
        return base / "__init__.py"
    return None


# SEMANTIC COUPLES (round 15, verdict #3): queries that must re-verify
# when a module changes even though no static dataflow edge reaches
# them. sources/versioned.py's one-pass CDC feed (commit_keyed)
# REIMPLEMENTS the change-feed/snapshot-diff contract that
# operators/maintenance.py's merge_change_feed / snapshot_diff define
# and q55/q66 pin against the oracle — the round-14 commit 0bb660f
# replaced versioned.py's call INTO those operators with its own fused
# implementation, so the dependence became semantic (must stay
# equivalent) rather than syntactic, which a static import/symbol walk
# correctly reports as absent. Declaring the couple here keeps RULE 1
# airtight: any versioned.py edit pins the batch-merge twins into the
# externally-checked window alongside the eight static riders.
_SEMANTIC_COUPLES: dict[str, list[str]] = {
    f"{PKG}.sources.versioned": ["q55_merge_upsert", "q66_merge_evolve"],
}


def _coupled(changed_mods) -> dict[str, list[str]]:
    """{query: evidence} entries owed to _SEMANTIC_COUPLES."""
    out: dict[str, list[str]] = {}
    for mod, names in _SEMANTIC_COUPLES.items():
        if mod in changed_mods:
            for n in names:
                out.setdefault(n, []).append(f"{mod}:<semantic-couple>")
    return out


# Closure LEAVES: modules that are registration/ordering plumbing,
# not dataflow — workload/registry.py's all_queries() imports EVERY
# workload module to populate the registry, which would collapse every
# closure to the whole package and derive all 83 queries changed for
# any one-line diff; and every workload module imports ``register``
# from it, so counting the registry itself as a changed module would
# equally pin all 83 (its docstring says it: ordering of verification
# attention only, never a behavior change — and
# tests/test_registry_rotation.py is the check ON the registry).
_LEAVES = {f"{PKG}.workload.registry"}


def module_imports(mod: str) -> set[str]:
    """In-package modules this module imports, anywhere in its AST
    (function-local imports included — the workload files' dominant
    pattern for heavy dependencies)."""
    if mod in _LEAVES:
        return set()
    f = _module_file(mod)
    if f is None:
        return set()
    tree = ast.parse(f.read_text())
    pkg_parts = mod.split(".")[:-1] if f.name != "__init__.py" else mod.split(".")
    out: set[str] = set()

    def add(name: str) -> None:
        if name.startswith(PKG) and _module_file(name) is not None:
            out.add(name)

    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                add(a.name)
        elif isinstance(node, ast.ImportFrom):
            if node.level:  # relative import
                base = pkg_parts[: len(pkg_parts) - node.level + 1]
                stem = ".".join(base + ([node.module] if node.module else []))
            else:
                stem = node.module or ""
            add(stem)
            for a in node.names:  # `from pkg.sub import module` form
                add(f"{stem}.{a.name}")
    return out


def import_closure(mod: str, _memo: dict[str, set[str]] | None = None) -> set[str]:
    seen: set[str] = set()
    stack = [mod]
    while stack:
        m = stack.pop()
        if m in seen:
            continue
        seen.add(m)
        stack.extend(module_imports(m))
    return seen


def query_modules() -> dict[str, str]:
    """{query name: dotted module that registers it}."""
    sys.path.insert(0, str(REPO))
    from kaj_query_engine_spark.workload.registry import all_queries

    return {n: q.spark.__module__ for n, q in all_queries().items()}


def derive(rng: str | None = None) -> dict[str, list[str]]:
    """{derived-changed query: sorted changed modules pinning it}."""
    rng = rng or diff_base()
    if rng is None:
        return {}
    changed = changed_modules(rng)
    if not changed:
        return {}
    closures: dict[str, set[str]] = {}
    out: dict[str, list[str]] = {}
    for name, mod in query_modules().items():
        if mod not in closures:
            closures[mod] = import_closure(mod)
        hits = sorted(changed & closures[mod])
        if hits:
            out[name] = hits
    for name, ev in _coupled(changed).items():
        out.setdefault(name, []).extend(
            e for e in ev if e not in out.get(name, [])
        )
        out[name] = sorted(out[name])
    return out


# ---------------------------------------------------------------------
# Symbol-granular derivation (round 10)
# ---------------------------------------------------------------------
#
# Module-closure granularity collapses when a HUB module changes: every
# workload module imports ``workload.core`` (for the fixture loader
# ``t``), core's dialect factory reaches ``dialect.lowering``, so a
# one-function lowering fix derives ALL queries changed and RULE 1
# claims every verification slot — starving rotation, the exact
# failure the round-9 verdict told this tool to prevent by shrinking
# granularity to per-function.
#
# The fine derivation is a static SYMBOL-reachability closure:
#
# 1. the round's git diff maps, per changed package file, to the
#    top-level symbols — def/class (decorators included) AND
#    module-level assignments (oracle strings, constants) — whose
#    spans the hunks' non-blank, non-comment lines touch; lines
#    outside every span mean "module-level changed";
# 2. each query seeds at the top-level symbol that registers it
#    (``q.spark.__qualname__``'s first segment — factory-made runners
#    like ``_dialect.<locals>.run`` seed at the factory);
# 3. edges follow resolved imports, module-alias attribute use, and
#    references to sibling top-level symbols; a CLASS is one symbol
#    (any method change pins every user of the class — method-level
#    dispatch is not resolved); a constant assigned from another
#    module's function is a symbol whose edge reaches that function;
# 4. a query is derived-changed when its reachable set meets a changed
#    symbol, or when the MODULE-LEVEL residue (code outside every
#    top-level symbol, e.g. bare register(...) calls) of any module
#    its closure touches changed.
#
# Deliberate conservatisms (all round DOWN to "pinned"): unresolvable
# ``from X import *`` and names missing from their target module
# (true re-exports) widen to the whole target module; ``<lambda>``-
# registered queries widen to their whole module. Known
# under-approximation: dispatch through strings/getattr is invisible —
# none of the registration paths use it, and the module-closure
# derivation remains available as the checked upper bound
# (``derive_fine() ⊆ derive()`` is pinned in the rotation test).

_MODLEVEL = ""  # sentinel: module-level code outside every symbol


def _parse_module(mod: str):
    """(spans, graph_nodes) for a package module: spans is a list of
    (start_line, end_line, symbol) covering every top-level def/class
    (decorators included) and module-level assignment target;
    graph_nodes maps symbol → list of AST nodes defining it."""
    f = _module_file(mod)
    tree = ast.parse(f.read_text())
    spans: list[tuple[int, int, str]] = []
    nodes: dict[str, list] = {}
    for node in tree.body:
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            start = min(
                [node.lineno] + [d.lineno for d in node.decorator_list]
            )
            spans.append((start, node.end_lineno, node.name))
            nodes.setdefault(node.name, []).append(node)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = (
                node.targets if isinstance(node, ast.Assign) else [node.target]
            )
            names = []
            for t in targets:
                if isinstance(t, ast.Name):
                    names.append(t.id)
                elif isinstance(t, (ast.Tuple, ast.List)):
                    # tuple unpacking: `_UPD, _DEL, _INS = ...`
                    names.extend(
                        e.id for e in t.elts if isinstance(e, ast.Name)
                    )
            for nm in names:
                spans.append((node.lineno, node.end_lineno, nm))
                nodes.setdefault(nm, []).append(node)
    return spans, nodes, tree


def _import_bindings(nodes) -> dict[str, tuple[str, str | None]]:
    """local name → (module, symbol|None) for every import in the
    given AST nodes; ``from X import *`` binds a star sentinel."""
    out: dict[str, tuple[str, str | None]] = {}
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Import):
                for a in n.names:
                    if not a.name.startswith(PKG):
                        continue
                    local = a.asname or a.name.split(".")[0]
                    out[local] = (a.name, None)
            elif isinstance(n, ast.ImportFrom):
                if n.level:
                    continue  # package uses absolute imports
                stem = n.module or ""
                if not stem.startswith(PKG):
                    continue
                for a in n.names:
                    if a.name == "*":
                        out["*" + stem] = (stem, "*")
                        continue
                    local = a.asname or a.name
                    if _module_file(f"{stem}.{a.name}") is not None:
                        out[local] = (f"{stem}.{a.name}", None)
                    else:
                        out[local] = (stem, a.name)
    return out


def _refs_of(nodes, bindings, local_syms, mod) -> set[tuple[str, str | None]]:
    """(module, symbol|None) references made by these AST nodes."""
    refs: set[tuple[str, str | None]] = set()
    for _k, (tmod, tsym) in bindings.items():
        if tsym == "*":
            refs.add((tmod, None))
    # ast.walk yields parents before children, so an Attribute whose
    # base Name resolves to a module alias is recorded here FIRST and
    # its child Name skipped below — otherwise `S.func` would ALSO
    # register a bare reference to S, widening every module-alias use
    # to the whole module (measured: one helper added to a module
    # pinned every query using ANY of its functions)
    handled: set[int] = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name):
                b = bindings.get(n.value.id)
                if b is not None and b[1] is None and _module_file(b[0]):
                    handled.add(id(n.value))
                    base = b[0]
                    if _module_file(f"{base}.{n.attr}") is not None:
                        refs.add((f"{base}.{n.attr}", None))
                    else:
                        refs.add((base, n.attr))
                    continue
            if isinstance(n, ast.Name):
                if id(n) in handled:
                    continue
                b = bindings.get(n.id)
                if b is not None and b[1] != "*":
                    refs.add(b)
                elif n.id in local_syms:
                    refs.add((mod, n.id))
    return refs


def _symbol_graph(mod: str, _memo={}):
    """{symbol: refs} for a module (no _MODLEVEL entry — module-level
    residue like bare register() calls is other queries' registration,
    not this query's dataflow; its CHANGES still pin via
    derive_fine's module-level rule)."""
    if mod in _memo:
        return _memo[mod]
    spans, nodes, tree = _parse_module(mod)
    mod_bindings = _import_bindings(tree.body)
    local_syms = set(nodes)
    graph: dict[str, set] = {}
    for name, defn_nodes in nodes.items():
        bindings = dict(mod_bindings)
        bindings.update(_import_bindings(defn_nodes))
        graph[name] = _refs_of(defn_nodes, bindings, local_syms, mod)
    _memo[mod] = graph
    return graph


def _reachable(seed_mod: str, seed_sym: str | None) -> set[tuple[str, str]]:
    """Closure of (module, symbol) pairs reachable from the seed;
    symbol None / unknown widens to the whole module."""
    seen: set[tuple[str, str]] = set()
    stack = [(seed_mod, seed_sym)]
    while stack:
        mod, sym = stack.pop()
        if _module_file(mod) is None or mod in _LEAVES:
            continue
        graph = _symbol_graph(mod)
        targets = (
            list(graph) if sym is None or sym not in graph else [sym]
        )
        for t in targets:
            if (mod, t) in seen:
                continue
            seen.add((mod, t))
            for rmod, rsym in graph.get(t, ()):
                key = (rmod, rsym)
                if rsym is None or key not in seen:
                    stack.append(key)
    return seen


def changed_symbols(rng: str) -> dict[str, set[str]]:
    """{module: changed top-level symbols}, with _MODLEVEL recorded
    when a hunk's non-blank, non-comment NEW lines (or a pure
    deletion's position) fall outside every symbol span, and a
    whole-module entry (_MODLEVEL alone suffices — derive_fine treats
    it maximally) when the new file is unparseable.

    A replacement hunk whose ADDED lines are all blank/comments (e.g.
    a deleted guard replaced by a comment) still attributes its splice
    position — deletions must never escape the pin (round-10 review).
    Spans are parsed from the WORKING TREE, which is the diff's right
    side for the default boundary..worktree range; an explicit
    historical range whose files have since moved maps approximately
    (changed-side conservatism still applies: unmapped lines pin the
    module level)."""
    out: dict[str, set[str]] = {}
    diff = _git("diff", "-U0", rng, "--", f"{PKG}/")
    cur: str | None = None
    spans: list[tuple[int, int, str]] = []
    new_line = 0  # running new-side line number inside a hunk
    collecting = False
    hunk_start = 0
    hunk_attributed = True  # no open hunk yet

    def _map_line(ln: int) -> str:
        for s, e, name in spans:
            if s <= ln <= e:
                return name
        return _MODLEVEL

    def _attribute_splice(mod: str, ln: int) -> None:
        # attribute to the symbol at the splice point (or the one
        # right after), else module level
        hit = _map_line(ln)
        if hit == _MODLEVEL:
            hit = _map_line(ln + 1)
        out.setdefault(mod, set()).add(hit)

    def _close_hunk() -> None:
        nonlocal hunk_attributed
        if collecting and cur is not None and not hunk_attributed:
            _attribute_splice(cur, hunk_start)
        hunk_attributed = True

    minus_path: str | None = None
    for line in diff.splitlines():
        if line.startswith("--- "):
            minus_path = line[4:].strip()
        elif line.startswith("+++ "):
            _close_hunk()
            path = line[4:].strip()
            cur, spans, collecting = None, [], False
            if path == "/dev/null" and minus_path not in (None, "/dev/null"):
                # a DELETED package file: '+++ /dev/null' never sets a
                # module, so its hunks would attribute nothing and a
                # deletion-only change could escape RULE 1 entirely
                # (round-10 advice). Resolve the module from the
                # '--- a/...' side and pin it whole-module, mirroring
                # the unparseable-file conservatism.
                mp = minus_path
                if mp.startswith("a/"):
                    mp = mp[2:]
                if mp.endswith(".py") and mp.startswith(f"{PKG}/"):
                    m = _path_to_module(mp)
                    if m not in _LEAVES:
                        out.setdefault(m, set()).add(_MODLEVEL)
            elif path.startswith("b/") and path.endswith(".py"):
                m = _path_to_module(path[2:])
                if m not in _LEAVES:
                    cur = m
                    try:
                        spans, _nodes, _tree = _parse_module(cur)
                    except (SyntaxError, OSError, TypeError, AttributeError):
                        # unparseable or deleted since the range's
                        # right side: whole module
                        out.setdefault(cur, set()).add(_MODLEVEL)
                        cur = None
        elif line.startswith("@@") and cur is not None:
            _close_hunk()
            m = re.search(r"\+(\d+)(?:,(\d+))?", line)
            if not m:
                collecting = False
                continue
            new_line = int(m.group(1))
            d = int(m.group(2)) if m.group(2) is not None else 1
            collecting = True
            hunk_start = new_line
            hunk_attributed = False
            if d == 0:
                # pure deletion: no added lines will follow
                _attribute_splice(cur, new_line)
                hunk_attributed = True
                collecting = False
        elif collecting and cur is not None and line.startswith("+"):
            text = line[1:].strip()
            if text and not text.startswith("#"):
                out.setdefault(cur, set()).add(_map_line(new_line))
                hunk_attributed = True
            new_line += 1
        elif collecting and not line.startswith(("+", "-", "\\")):
            _close_hunk()
            collecting = False
    _close_hunk()
    return out


def derive_fine(rng: str | None = None) -> dict[str, list[str]]:
    """{derived-changed query: sorted 'module:symbol' evidence} at
    SYMBOL granularity — the RULE 1 set the registry pins."""
    rng = rng or diff_base()
    if rng is None:
        return {}
    changed = changed_symbols(rng)
    if not changed:
        return {}
    out: dict[str, list[str]] = {}
    sys.path.insert(0, str(REPO))
    from kaj_query_engine_spark.workload.registry import all_queries

    reach_memo: dict[tuple[str, str | None], set] = {}
    for name, q in all_queries().items():
        mod = q.spark.__module__
        top = q.spark.__qualname__.split(".")[0]
        seed_sym = None if top == "<lambda>" else top
        key = (mod, seed_sym)
        if key not in reach_memo:
            reach_memo[key] = _reachable(mod, seed_sym) | {(mod, seed_sym)}
        reached = reach_memo[key]
        reached_mods = {m for m, _s in reached} | {mod}
        hits = set()
        for cmod, csyms in changed.items():
            for cs in csyms:
                if cs == _MODLEVEL:
                    if cmod in reached_mods:
                        hits.add(f"{cmod}:<module>")
                elif (cmod, cs) in reached:
                    hits.add(f"{cmod}:{cs}")
        if hits:
            out[name] = sorted(hits)
    for name, ev in _coupled(set(changed)).items():
        out.setdefault(name, []).extend(
            e for e in ev if e not in out.get(name, [])
        )
        out[name] = sorted(out[name])
    return out


WINDOW = 50  # the externally-checked prefix of the registry's order


def window_budget() -> str:
    """One line: the window slots the registry's two pin lists spend."""
    sys.path.insert(0, str(REPO))
    from kaj_query_engine_spark.workload.registry import (
        _CHANGED_THIS_ROUND,
        _STALEST,
        _VERIFY_PRIORITY,
    )

    changed, stale = len(_CHANGED_THIS_ROUND), len(_STALEST)
    overlap = len(set(_CHANGED_THIS_ROUND) & set(_STALEST))
    used = len(_VERIFY_PRIORITY)
    return (
        f"# window: {changed} changed + {stale} stale - {overlap} overlap"
        f" = {used} of {WINDOW}, {WINDOW - used} free"
    )


if __name__ == "__main__":
    if len(sys.argv) > 1:
        rng = sys.argv[1]
        print(f"# range: {rng}")
    else:
        rng = diff_base()
        base = _git("log", "-1", "--format=%h %s", rng) if rng else "none\n"
        print(f"# base: {base}", end="")
    d = derive_fine(rng)
    for name, hits in sorted(d.items()):
        print(f"{name}: {', '.join(hits)}")
    print(f"# {len(d)} derived-changed queries")
    print(window_budget())
