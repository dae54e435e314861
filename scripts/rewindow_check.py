"""Per-query code-closure fingerprints: did a registered query's code change?

A query's fingerprint is a 16-hex sha256 over the docstring-stripped AST
dumps of every top-level binding its builder function can reach:

* within a module, by name occurrence, transitively (a name mentioned
  under a dead branch still counts — the closure over-approximates);
* ``from m import name`` pulls ``name``'s closure in the repo-local
  module ``m`` (or all of ``m`` when ``name`` is itself a submodule);
* ``import m`` and ``from m import *`` pull all of ``m``;
* a top-level statement the index cannot attribute to a name (see
  UNMODELED) pulls its whole module;
* import cycles truncate to the re-entered module's own bindings.

Imports written inside function bodies count like module-level ones.
Comments never reach the AST, docstrings are stripped, and imports are
keyed by the names they bind, so comment edits, docstring edits and
import hoists leave every fingerprint unchanged.  Bindings inside
top-level if/try/while/for/with accumulate (a name bound in several
branches depends on all of them), and module-level mutations —
``X[k] = v``, ``X += 1``, ``X.update(...)`` — accumulate onto the
mutated name, so none of those edits can hide.  The stated assumptions:
builders resolve their dependencies by ordinary imports and module-level
names — no importlib/``globals()``/``exec`` dynamic dispatch, no
behavior smuggled in via non-Python data files — which holds for every
module in this package.  Shared-helper changes are therefore LOUD by
design: editing anything ``tables.load`` reaches changes the fingerprint
of every builder that mentions ``load``.

``current_fingerprints()`` stamps the working tree; time_registry.py
records it in every sweep and scale_exponents.py ties
SCALE_EXPONENTS.json rows to it.  The CLI fingerprints the package as
of a git revision (with the current registry's builder locations) and
prints every registered query whose fingerprint differs from the
working tree's::

    python scripts/rewindow_check.py <rev>
"""

from __future__ import annotations

import argparse
import ast
import hashlib
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "discogs_etl_spark"

# Reserved key for top-level statement forms the index does not model
# (bare side-effect calls like ``setup()``, ``del X``, module-level
# ``match``/``assert``/``raise``, and compounds containing such
# statements).  Such a statement could mutate anything in its module,
# so its whole module joins the fingerprint of every builder that
# lives in or member-imports from that module.  The package currently
# carries UNMODELED statements in exactly TWO modules, neither
# imported by any query module: __main__.py (the
# ``raise SystemExit(main())`` entry) and cli.py (the ``__main__``
# guard's bare ``main()`` call) — pinned by
# tests/test_rewindow_check.py::test_package_unmodeled_inventory, which
# fails loudly if a future edit adds an UNMODELED statement anywhere
# else (or removes these) so the weakened-attribution surface is always
# known and reviewed.
UNMODELED = "<unmodeled-top-level>"


def _strip_docstrings(tree: ast.AST) -> ast.AST:
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if (
            isinstance(body, list)
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            node.body = body[1:] or [ast.Pass()]
    return tree


def _flat_name_targets(target: ast.expr):
    """Yield Name nodes from assignment targets, incl. tuple/list unpacking."""
    if isinstance(target, ast.Name):
        yield target
    elif isinstance(target, (ast.Tuple, ast.List)):
        for elt in target.elts:
            yield from _flat_name_targets(elt)
    elif isinstance(target, ast.Starred):
        yield from _flat_name_targets(target.value)


def _root_name(expr: ast.expr) -> str | None:
    """Root Name of an attribute/subscript chain (None if call-rooted)."""
    while isinstance(expr, (ast.Attribute, ast.Subscript)):
        expr = expr.value
    return expr.id if isinstance(expr, ast.Name) else None


def _bound_names(node: ast.stmt) -> set[str]:
    """Every name a compound statement binds or mutates, at any depth.

    Over-approximates: names bound inside nested function bodies are
    included too (they can only ADD accumulation to a same-named module
    binding — the safe direction)."""
    out: set[str] = set()
    for sub in ast.walk(node):
        if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.add(sub.name)
        elif isinstance(sub, ast.Assign):
            for tgt in sub.targets:
                for name in _flat_name_targets(tgt):
                    out.add(name.id)
                root = _root_name(tgt)
                if root:
                    out.add(root)
        elif isinstance(sub, (ast.AnnAssign, ast.AugAssign)):
            for name in _flat_name_targets(sub.target):
                out.add(name.id)
            root = _root_name(sub.target)
            if root:
                out.add(root)
        elif isinstance(sub, ast.Import):
            out |= {a.asname or a.name.split(".")[0] for a in sub.names}
        elif isinstance(sub, ast.ImportFrom):
            out |= {a.asname or a.name for a in sub.names if a.name != "*"}
        elif isinstance(sub, (ast.For, ast.AsyncFor)):
            for name in _flat_name_targets(sub.target):
                out.add(name.id)
        elif isinstance(sub, (ast.With, ast.AsyncWith)):
            for item in sub.items:
                if item.optional_vars is not None:
                    for name in _flat_name_targets(item.optional_vars):
                        out.add(name.id)
    return out


_COMPOUND_STMTS = (
    ast.If,
    ast.Try,
    ast.While,
    ast.For,
    ast.AsyncFor,
    ast.With,
    ast.AsyncWith,
)
# Statement forms whose module-level effect the index fully attributes
# to bound names (or that have none).  Break/Continue are pure control
# flow; nested FUNCTION bodies are deferred (they run on call, and their
# names are already captured by _bound_names).  ClassDef is NOT here:
# class bodies execute at definition time, so a bare call inside one is
# an import-time side effect — _has_unattributable recurses into them.
_ATTRIBUTABLE_STMTS = (
    ast.Assign,
    ast.AnnAssign,
    ast.AugAssign,
    ast.Import,
    ast.ImportFrom,
    ast.Pass,
    ast.Break,
    ast.Continue,
    ast.FunctionDef,
    ast.AsyncFunctionDef,
)


def _compound_bodies(node: ast.stmt) -> list[ast.stmt]:
    out: list[ast.stmt] = []
    for attr in ("body", "orelse", "finalbody"):
        out.extend(getattr(node, attr, None) or [])
    for handler in getattr(node, "handlers", None) or []:
        out.extend(handler.body)
    return out


def _has_unattributable(node: ast.stmt) -> bool:
    """True if a compound statement contains sub-statements whose effect
    the index cannot pin to a bound name: bare side-effect calls
    (``if flag: x = 1; setup()``), del/raise/assert, method-call
    mutations, or any statement form outside the attributable set.
    Nested function/class bodies are skipped (deferred execution).
    Without this check, a compound that binds at least one name
    attributed ALL of its behavior to those names, so builders not
    reaching them never flagged when only the side-effect line changed
    — an under-flag (ADVICE r8)."""
    stack = _compound_bodies(node)
    if isinstance(node, ast.ClassDef):
        stack = list(node.body)
    while stack:
        sub = stack.pop()
        if isinstance(sub, _ATTRIBUTABLE_STMTS):
            # A star import binds names the index cannot enumerate, so a
            # NESTED one (inside a compound that also binds a modeled
            # name) must mark the whole statement unattributable — the
            # top-level star path binds UNMODELED in _handle_import, but
            # that never runs for sub-statements, so without this check
            # deleting the nested star line only changed the sibling
            # binding's dump and builders using star-imported names
            # never flagged (ADVICE r9).
            if isinstance(sub, ast.ImportFrom) and any(
                a.name == "*" for a in sub.names
            ):
                return True
            continue
        if isinstance(sub, ast.Expr) and isinstance(sub.value, ast.Constant):
            continue  # stray literal / stripped docstring remnant
        if isinstance(sub, _COMPOUND_STMTS):
            stack.extend(_compound_bodies(sub))
            continue
        if isinstance(sub, ast.ClassDef):
            # class bodies run at definition time — import-time effects
            stack.extend(sub.body)
            continue
        return True  # Expr call, Delete, Raise, Assert, match, ...
    return False


class ModuleIndex:
    """Parse-once index of a module: top-level bindings, the names each
    binding's statements mention, and every repo-relevant import
    (module-level or written inside function bodies).

    Binding semantics mirror runtime where that is safe and over-
    approximate where it is not: a plain top-level re-assignment to a
    bare name OVERWRITES (last binding wins, like the interpreter),
    while branch bindings (if/try/...), augmented assignments, and
    subscript/attribute/method-call mutations ACCUMULATE onto the name —
    a change to ANY statement that could have produced the value changes
    the name's dumps.
    """

    def __init__(self, src: str, relpath: str) -> None:
        tree = _strip_docstrings(ast.parse(src))
        self.relpath = relpath
        # bound name -> tuple of EXACT statement dumps (accumulation
        # appends; membership is exact-element, never substring — a new
        # statement whose dump happens to be a substring of an already
        # accumulated compound dump must still register as a change)
        self.defs: dict[str, tuple[str, ...]] = {}
        self.uses: dict[str, set[str]] = {}  # bound name -> names mentioned
        # local alias -> set of ("module", dotted) | ("member", dotted, member)
        self.imports: dict[str, set[tuple]] = {}
        self.star_imports: set[str] = set()
        self._walk_body(tree.body)
        # Imports inside function/compound bodies bind locally, but for
        # the code closure they matter module-wide: record them all.
        for node in ast.walk(tree):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                self._record_import(node, bind=False)

    def _bind(self, name: str, node: ast.stmt, accumulate: bool = False) -> None:
        dump = ast.dump(node)
        names = {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}
        if accumulate and name in self.defs:
            # ALWAYS append, even when an identical dump is already
            # accumulated: statement MULTIPLICITY is part of behavior
            # (deleting one of two identical ``X.append(1)`` statements
            # changes how many times it executes), so deduping here
            # would hide a change — the one direction the rule forbids.
            self.defs[name] = self.defs[name] + (dump,)
            self.uses[name] |= names
        else:
            self.defs[name] = (dump,)
            self.uses[name] = names

    def _record_import(self, node: ast.stmt, bind: bool) -> None:
        if isinstance(node, ast.Import):
            for alias in node.names:
                local = alias.asname or alias.name.split(".")[0]
                self.imports.setdefault(local, set()).add(("module", alias.name))
                if bind:
                    self._bind(local, node)
        elif isinstance(node, ast.ImportFrom):
            mod = self._resolve_from(node)
            if mod is None:
                return
            for alias in node.names:
                if alias.name == "*":
                    self.star_imports.add(mod)
                    if bind:
                        # A star import binds an unknowable name set, so
                        # adding/removing/re-targeting one is a module-
                        # wide change — without this, DELETING the
                        # statement changed no def dump and removed the
                        # propagation edge in the same breath: zero
                        # flags for a behavior change.
                        self._bind(UNMODELED, node, accumulate=True)
                    continue
                local = alias.asname or alias.name
                self.imports.setdefault(local, set()).add(("member", mod, alias.name))
                if bind:
                    self._bind(local, node)

    def _resolve_from(self, node: ast.ImportFrom) -> str | None:
        if node.level == 0:
            return node.module
        pkg = list(Path(self.relpath).parent.parts)
        drop = node.level - 1
        if drop > len(pkg):
            return None
        pkg = pkg[: len(pkg) - drop] if drop else pkg
        return ".".join(pkg + ([node.module] if node.module else []))

    def _walk_body(self, body: list[ast.stmt]) -> None:
        for node in body:
            # Walrus targets bind module-level names from ANY statement
            # form; accumulate them so `(x := f())` edits cannot hide.
            for sub in ast.walk(node):
                if isinstance(sub, ast.NamedExpr) and isinstance(sub.target, ast.Name):
                    self._bind(sub.target.id, node, accumulate=True)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                self._bind(node.name, node)
            elif isinstance(node, ast.ClassDef):
                self._bind(node.name, node)
                if _has_unattributable(node):
                    # class bodies execute at definition time: a bare
                    # call in one is an import-time side effect the
                    # class name cannot bound.
                    self._bind(UNMODELED, node, accumulate=True)
            elif isinstance(node, ast.Assign):
                for tgt in node.targets:
                    for name in _flat_name_targets(tgt):
                        self._bind(name.id, node)
                    root = _root_name(tgt)
                    if root:  # X[k] = v / X.attr = v mutates X
                        self._bind(root, node, accumulate=True)
            elif isinstance(node, ast.AnnAssign):
                if isinstance(node.target, ast.Name):
                    self._bind(node.target.id, node)
                else:
                    root = _root_name(node.target)
                    if root:
                        self._bind(root, node, accumulate=True)
            elif isinstance(node, ast.AugAssign):
                name = _root_name(node.target)
                if name:  # X += ... reads AND writes X: accumulate
                    self._bind(name, node, accumulate=True)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                self._record_import(node, bind=True)
            elif isinstance(node, ast.Expr):
                if isinstance(node.value, ast.Constant):
                    pass  # stray literal / stripped docstring remnant: inert
                elif (
                    isinstance(node.value, ast.Call)
                    and isinstance(node.value.func, ast.Attribute)
                    and _root_name(node.value.func)
                ):
                    # X.update(...) / X.append(...) — method-call mutation
                    self._bind(_root_name(node.value.func), node, accumulate=True)
                else:
                    # Bare Name-rooted call (`setup()`), call on a call
                    # result, lambda expr, ... — could mutate anything.
                    self._bind(UNMODELED, node, accumulate=True)
            elif isinstance(node, ast.Pass):
                pass
            elif isinstance(
                node, (ast.If, ast.Try, ast.While, ast.For, ast.With)
            ):
                # A name bound in ANY branch depends on the whole compound
                # statement (which branch wins is a runtime question), so
                # bind every name it touches to the full compound dump,
                # accumulating onto prior bindings — 'LIMIT = 1' followed
                # by 'if cond: LIMIT = 2' must flag when EITHER edit lands.
                bound = _bound_names(node)
                for name in bound:
                    self._bind(name, node, accumulate=True)
                if not bound or _has_unattributable(node):
                    # Binds nothing (`if flag: setup()`) OR binds names
                    # but ALSO carries side effects the index cannot
                    # attribute (`if flag: x = 1; setup()`): module-wide
                    # dirt on change, never silently folded into x.
                    self._bind(UNMODELED, node, accumulate=True)
            else:
                # del X / module-level match / assert / raise / global /
                # any future statement form: the index cannot attribute
                # the effect to a name, so attribute it to the module.
                self._bind(UNMODELED, node, accumulate=True)

    def reachable(self, start: str) -> set[str]:
        """Transitive same-module name-occurrence closure from a binding."""
        seen = {start}
        frontier = [start]
        while frontier:
            for used in self.uses.get(frontier.pop(), set()) & set(self.defs):
                if used not in seen:
                    seen.add(used)
                    frontier.append(used)
        return seen

    def mentioned_closure(self, start: str) -> set[str]:
        """reachable() plus every name the reachable bindings mention —
        covers names that bind nothing at module level (function-scoped
        imports, builtins shadowed by imports elsewhere, ...)."""
        reach = self.reachable(start)
        mentioned = set(reach)
        for n in reach:
            mentioned |= self.uses.get(n, set())
        return mentioned


def _top_level_defs(src: str, relpath: str = "mod.py") -> dict[str, str]:
    return ModuleIndex(src, relpath).defs


def reachable(src: str, start: str, relpath: str = "mod.py") -> set[str]:
    return ModuleIndex(src, relpath).reachable(start)


def _module_to_relpath(dotted: str, known: set[str]) -> str | None:
    """Map a dotted module to a repo-local relpath (None if external)."""
    if not dotted or not dotted.startswith(PACKAGE):
        return None
    parts = dotted.split(".")
    for cand in ("/".join(parts) + ".py", "/".join(parts) + "/__init__.py"):
        if cand in known:
            return cand
    return None


def _git_show(rev: str, relpath: str) -> str | None:
    proc = subprocess.run(
        ["git", "show", f"{rev}:{relpath}"],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    return proc.stdout if proc.returncode == 0 else None


def _fp_module_parts(idxs, known, rel, visiting, out) -> None:
    # Own defs are ALWAYS part of the identity, even on cycle re-entry:
    # a module-style import re-entering a member-visited module must
    # still see every own-def change of that module.
    idx = idxs[rel]
    for n, dumps in idx.defs.items():
        out.add((rel, n, dumps))
    if rel in visiting:
        return  # import cycle: own defs only
    visiting = visiting | {rel}
    for specs in idx.imports.values():
        for spec in specs:
            _fp_import_parts(idxs, known, rel, spec, visiting, out)
    for smod in idx.star_imports:
        t = _module_to_relpath(smod, known)
        if t and t != rel:
            _fp_module_parts(idxs, known, t, visiting, out)


def _fp_import_parts(idxs, known, rel, spec, visiting, out) -> None:
    if spec[0] == "module":
        t = _module_to_relpath(spec[1], known)
        if t and t != rel:
            _fp_module_parts(idxs, known, t, visiting, out)
        return
    mod, member = spec[1], spec[2]
    sub = _module_to_relpath(f"{mod}.{member}", known)
    if sub and sub != rel:
        _fp_module_parts(idxs, known, sub, visiting, out)
        return
    t = _module_to_relpath(mod, known)
    if t and t != rel:
        _fp_member_parts(idxs, known, t, member, visiting, out)


def _fp_member_parts(idxs, known, rel, name, visiting, out) -> None:
    idx = idxs[rel]
    if UNMODELED in idx.defs:
        # an unmodeled top-level statement can mutate anything in its
        # module, so the whole module is part of every member's identity
        _fp_module_parts(idxs, known, rel, visiting, out)
        return
    closure = idx.mentioned_closure(name)
    for n in sorted(closure):
        if n in idx.defs:
            out.add((rel, n, idx.defs[n]))
    if rel in visiting:
        return  # import cycle: own-module parts only
    visiting = visiting | {rel}
    for n in sorted(closure):
        for spec in idx.imports.get(n, ()):
            _fp_import_parts(idxs, known, rel, spec, visiting, out)
    for smod in idx.star_imports:
        t = _module_to_relpath(smod, known)
        if t and t != rel:
            _fp_module_parts(idxs, known, t, visiting, out)


def fingerprints(
    sources: dict[str, str], builders: dict[str, tuple[str, str]]
) -> dict[str, str]:
    """query name -> 16-hex sha256 of its builder's reachable code
    closure.  ``sources`` maps repo-relative paths to module source;
    ``builders`` maps query names to ``(relpath, fn_name)``.  A builder
    whose module is absent from ``sources`` gets no fingerprint.
    Deterministic (sorted parts, docstring-stripped AST dumps,
    repo-relative paths)."""
    idxs = {rel: ModuleIndex(src, rel) for rel, src in sources.items()}
    known = set(idxs)
    out: dict[str, str] = {}
    for name, (rel, fn_name) in builders.items():
        if rel not in idxs:
            continue
        parts: set = set()
        _fp_member_parts(idxs, known, rel, fn_name, frozenset(), parts)
        blob = "\n".join(
            f"{r}::{n}::{'||'.join(dumps)}" for r, n, dumps in sorted(parts)
        )
        out[name] = hashlib.sha256(blob.encode()).hexdigest()[:16]
    return out


def builder_locations() -> dict[str, tuple[str, str]]:
    """query name -> (relpath, builder function name), from the registry."""
    sys.path.insert(0, str(REPO))
    from discogs_etl_spark import registry

    out: dict[str, tuple[str, str]] = {}
    for name, spec in registry.all_specs().items():
        mod = sys.modules[spec.fn.__module__]
        rel = str(Path(mod.__file__).resolve().relative_to(REPO))
        out[name] = (rel, spec.fn.__qualname__.split(".")[0].split("<locals>")[0])
    return out


def tree_sources() -> dict[str, str]:
    """relpath -> source for every package module in the working tree."""
    return {
        str(f.relative_to(REPO)): f.read_text()
        for f in sorted((REPO / PACKAGE).rglob("*.py"))
    }


def current_fingerprints() -> dict[str, str]:
    """fingerprints() of the working tree, stable across sessions and
    machines for the same tree."""
    return fingerprints(tree_sources(), builder_locations())


def changed_names(rev: str) -> list[str]:
    """Registered queries whose fingerprint at ``rev`` differs from the
    working tree's; a builder module missing at ``rev`` counts as
    changed."""
    proc = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", rev, PACKAGE],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    if proc.returncode != 0:
        sys.exit(proc.stderr.strip() or f"git ls-tree {rev} failed")
    old_sources = {
        rel: _git_show(rev, rel)
        for rel in proc.stdout.splitlines()
        if rel.endswith(".py")
    }
    builders = builder_locations()
    cur = fingerprints(tree_sources(), builders)
    old = fingerprints(old_sources, builders)
    return sorted(n for n in cur if old.get(n) != cur[n])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("rev", help="git revision to compare the working tree against")
    for name in changed_names(ap.parse_args().rev):
        print(name)


if __name__ == "__main__":
    main()
