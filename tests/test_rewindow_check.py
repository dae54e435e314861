"""A query's code fingerprint changes at EXECUTABLE granularity.

scripts/rewindow_check.py hashes the docstring-stripped ASTs of every
top-level binding a builder can reach, following repo-local imports
(``from m import f`` pulls ``f``'s closure in ``m``; ``import m`` pulls
all of ``m``), so a shared-helper change (tables.load, queries/_util)
always changes the fingerprint of every builder that uses it, while
comments, docstrings and import position never do.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _mod():
    spec = importlib.util.spec_from_file_location(
        "rewindow_check", REPO / "scripts" / "rewindow_check.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


BASE = '''
import os

THRESH = 3

def helper(x):
    """docstring."""
    # a comment
    return x + THRESH

def builder(spark, sf):
    """Builds the query."""
    return helper(1)

def unrelated(y):
    return y * 2
'''

# comment changed, docstrings changed, import hoisted below a def,
# blank lines moved — ZERO executable changes
TEXTUAL_ONLY = '''
THRESH = 3

def helper(x):
    """rewritten docstring."""
    # a DIFFERENT comment
    return x + THRESH

import os

def builder(spark, sf):
    return helper(1)


def unrelated(y):
    return y * 2
'''

# one executable line changed inside helper (in builder's call graph)
HELPER_CHANGED = BASE.replace("return x + THRESH", "return x + THRESH + 1")

# module constant the builder reaches transitively (via helper) changed
CONST_CHANGED = BASE.replace("THRESH = 3", "THRESH = 4")

# only the unreachable function changed
UNRELATED_CHANGED = BASE.replace("return y * 2", "return y * 3")


def _diff(mod, a: str, b: str) -> set[str]:
    da, db = mod._top_level_defs(a), mod._top_level_defs(b)
    return {n for n in set(da) | set(db) if da.get(n) != db.get(n)}


def test_textual_only_changes_never_flag():
    assert _diff(_mod(), BASE, TEXTUAL_ONLY) == set()


def test_executable_change_in_reachable_helper_flags_builder():
    mod = _mod()
    changed = _diff(mod, BASE, HELPER_CHANGED)
    assert changed == {"helper"}
    assert changed & mod.reachable(HELPER_CHANGED, "builder")


def test_constant_change_reachable_transitively_flags_builder():
    mod = _mod()
    changed = _diff(mod, BASE, CONST_CHANGED)
    assert changed == {"THRESH"}
    # builder -> helper -> THRESH: two hops
    assert changed & mod.reachable(CONST_CHANGED, "builder")


def test_change_in_unreachable_function_does_not_flag_builder():
    mod = _mod()
    changed = _diff(mod, BASE, UNRELATED_CHANGED)
    assert changed == {"unrelated"}
    assert not changed & mod.reachable(UNRELATED_CHANGED, "builder")


def test_last_binding_wins_for_reachability():
    # X is bound twice; at runtime the SECOND binding (via helper) wins,
    # so a change to helper must flag the builder even though the first
    # X binding mentions nothing.
    mod = _mod()
    src = """
def helper():
    return 1

X = 1
X = helper()

def builder(spark, sf):
    return X
"""
    changed_src = src.replace("return 1", "return 2")
    changed = _diff(mod, src, changed_src)
    assert changed == {"helper"}
    assert "helper" in mod.reachable(changed_src, "builder")


def test_tuple_unpacking_and_guarded_defs_are_tracked():
    mod = _mod()
    src = """
A, B = 1, 2
try:
    import nonexistent_thing as nt
except ImportError:
    nt = None
if True:
    GUARDED = 10
"""
    defs = mod._top_level_defs(src)
    assert {"A", "B", "nt", "GUARDED"} <= set(defs)
    assert _diff(mod, src, src.replace("1, 2", "1, 3")) == {"A", "B"}
    assert _diff(mod, src, src.replace("GUARDED = 10", "GUARDED = 11")) == {"GUARDED"}


# --------------------------------------------- cross-module dirtiness ----

HELPER_MOD = '''
def load(spark, sf, table):
    return spark.read.parquet(sf + "/" + table)

def epoch(col):
    return col * 1000
'''

QUERY_MOD = '''
from discogs_etl_spark.registry import register
from discogs_etl_spark.tables import load

def q_one(spark, sf):
    return load(spark, sf, "orders")

def q_two(spark, sf):
    # function-scoped import: still tracked for dirtiness
    from discogs_etl_spark.tables import epoch
    return epoch(5)

def q_three(spark, sf):
    return 42
'''

REGISTRY_MOD = '''
_ORDER_STATE = ("a", "b")

def register(name):
    def deco(fn):
        return fn
    return deco
'''


def _changed(base_sources, cur_sources, rel, fn) -> bool:
    """Does builder ``fn`` in module ``rel`` fingerprint differently?"""
    mod = _mod()
    builders = {fn: (rel, fn)}
    return mod.fingerprints(base_sources, builders) != mod.fingerprints(
        cur_sources, builders
    )


Q = "discogs_etl_spark/queries/q.py"


def _sources(helper, registry=REGISTRY_MOD):
    return {
        "discogs_etl_spark/tables.py": helper,
        Q: QUERY_MOD,
        "discogs_etl_spark/registry.py": registry,
    }


def _edit(src: str, old: str, new: str) -> str:
    assert src.count(old) == 1, old
    return src.replace(old, new)


def test_shared_helper_change_flags_importing_builders():
    # THE under-detection the r7 code review caught: tables.load changes,
    # query module is textually untouched — q_one (uses load) must
    # change, q_three (pure) must not.
    changed_helper = HELPER_MOD.replace('sf + "/" + table', 'sf + "//" + table')
    base, cur = _sources(HELPER_MOD), _sources(changed_helper)
    assert _changed(base, cur, Q, "q_one") is True
    assert _changed(base, cur, Q, "q_three") is False


def test_function_scoped_import_propagates_dirtiness():
    changed_helper = HELPER_MOD.replace("col * 1000", "col * 1_000_000")
    base, cur = _sources(HELPER_MOD), _sources(changed_helper)
    assert _changed(base, cur, Q, "q_two") is True
    assert _changed(base, cur, Q, "q_one") is False


def test_registry_window_rotation_does_not_flag_queries():
    # Query modules import only `register` (and, inside functions,
    # `_REGISTRY`) from registry.py, so editing registry state those do
    # not reach — the computed evidence-window order — must leave every
    # query fingerprint unchanged.
    rotated = REGISTRY_MOD.replace('("a", "b")', '("c", "d")')
    base, cur = _sources(HELPER_MOD), _sources(HELPER_MOD, rotated)
    for fn in ("q_one", "q_two", "q_three"):
        assert _changed(base, cur, Q, fn) is False
    # ...and on the real package: reverse the oldest-first window order.
    mod = _mod()
    reg = "discogs_etl_spark/registry.py"
    tree = mod.tree_sources()
    edited = dict(tree)
    edited[reg] = _edit(
        tree[reg],
        "key=lambda n: last_green.get(n, 0)",
        "key=lambda n: -last_green.get(n, 0)",
    )
    assert mod._top_level_defs(edited[reg], reg) != mod._top_level_defs(tree[reg], reg)
    builders = mod.builder_locations()
    assert mod.fingerprints(edited, builders) == mod.fingerprints(tree, builders)


def test_whole_module_import_dirty_on_any_change():
    src = """
import discogs_etl_spark.tables as tbl

def q_mod(spark, sf):
    return tbl.load(spark, sf, "orders")
"""
    changed_helper = HELPER_MOD.replace("col * 1000", "col * 999")
    # ANY change in a module imported wholesale changes the builder —
    # the tool cannot know which attributes get touched, so it
    # over-approximates.
    assert _changed(
        {"discogs_etl_spark/tables.py": HELPER_MOD, Q: src},
        {"discogs_etl_spark/tables.py": changed_helper, Q: src},
        Q,
        "q_mod",
    ) is True


def test_import_cycle_terminates_with_own_changes():
    a_mod = "from discogs_etl_spark.b import g\n\ndef f():\n    return g()\n"
    b_mod = "from discogs_etl_spark.a import f\n\ndef g():\n    return 1\n"
    b_changed = b_mod.replace("return 1", "return 2")
    assert _changed(
        {"discogs_etl_spark/a.py": a_mod, "discogs_etl_spark/b.py": b_mod},
        {"discogs_etl_spark/a.py": a_mod, "discogs_etl_spark/b.py": b_changed},
        "discogs_etl_spark/a.py",
        "f",
    ) is True


def test_decode_kernel_edit_changes_exactly_the_decode_stage_queries():
    # An edit to _decode_one's body in the real multimodal.py changes
    # the queries that ride the decode stage.  multimodal_phash_dedup
    # computes its perceptual hash in its OWN mapInPandas stage over
    # with_payload, so it does not reach _decode_one and keeps its
    # fingerprint.
    mod = _mod()
    rel = "discogs_etl_spark/multimodal.py"
    tree = mod.tree_sources()
    edited = dict(tree)
    edited[rel] = _edit(
        tree[rel],
        "    if real:  # pragma: no cover - exercised directly in tests, not via conf",
        "    if real and payload is not None:",
    )
    names = (
        "multimodal_decode_features",
        "multimodal_frame_sample",
        "multimodal_media_summary",
        "multimodal_phash_dedup",
    )
    builders = {n: loc for n, loc in mod.builder_locations().items() if n in names}
    assert set(builders) == set(names)
    before = mod.fingerprints(tree, builders)
    after = mod.fingerprints(edited, builders)
    assert {n for n in names if before[n] != after[n]} == set(names[:3])


# ------------------------------------------ textual-invariance sweep ----

import io
import tokenize

import pytest

_PKG_MODULES = sorted((REPO / "discogs_etl_spark").rglob("*.py"))


def _strip_comments(src: str) -> str:
    """Remove every comment token, preserving code layout."""
    out = []
    last_end = (1, 0)
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            continue
        (srow, scol), (erow, ecol) = tok.start, tok.end
        if srow > last_end[0]:
            out.append("\n" * (srow - last_end[0]))
            out.append(" " * scol)
        elif scol > last_end[1]:
            out.append(" " * (scol - last_end[1]))
        out.append(tok.string)
        last_end = tok.end
    return "".join(out)


def _rewrite_docstrings(src: str) -> str:
    import ast as _ast

    tree = _ast.parse(src)
    for node in _ast.walk(tree):
        body = getattr(node, "body", None)
        if (
            isinstance(body, list)
            and body
            and isinstance(body[0], _ast.Expr)
            and isinstance(body[0].value, _ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            body[0].value.value = "REWRITTEN"
    return _ast.unparse(tree)


@pytest.mark.parametrize(
    "path", _PKG_MODULES, ids=[str(p.relative_to(REPO)) for p in _PKG_MODULES]
)
def test_textual_transforms_invisible_to_rule_every_module(path):
    # Sweep the REAL package: for every module, stripping all comments
    # and rewriting every docstring must leave the rule's view of the
    # module bit-identical — the invariant that makes re-windowing
    # immune to the r6 import-hoist/comment class of slot waste.
    mod = _mod()
    src = path.read_text()
    rel = str(path.relative_to(REPO))
    base = mod._top_level_defs(src, rel)
    assert mod._top_level_defs(_strip_comments(src), rel) == base
    assert mod._top_level_defs(_rewrite_docstrings(src), rel) == base


# -------------------------- under-detection regressions (r7 review) ----


def test_member_import_flags_on_internal_helper_change():
    # 'from tables import load' where only load's INTERNAL helper
    # changed: the member's closure in the source module must be
    # followed, not just the member's own statement.
    helper = """
def _resolve(sf, table):
    return sf + "/" + table

def load(spark, sf, table):
    return spark.read.parquet(_resolve(sf, table))
"""
    changed = helper.replace('sf + "/" + table', 'sf + "//" + table')
    base = {"discogs_etl_spark/tables.py": helper, Q: QUERY_MOD}
    cur = {"discogs_etl_spark/tables.py": changed, Q: QUERY_MOD}
    assert _changed(base, cur, Q, "q_one") is True
    assert _changed(base, cur, Q, "q_three") is False


def test_cycle_truncation_is_not_memoized():
    # A<->B import cycle plus changed module C imported by B: if A is
    # evaluated FIRST, its recursion into B runs under cycle truncation;
    # reusing that truncated closure for B would drop C.  Results must
    # be order-independent.
    mod = _mod()
    c_mod = "def cf():\n    return 1\n"
    c_changed = c_mod.replace("return 1", "return 2")
    a_mod = "from discogs_etl_spark.b import bf\n\ndef af():\n    return bf()\n"
    b_mod = (
        "from discogs_etl_spark.a import af\n"
        "from discogs_etl_spark.c import cf\n\n"
        "def bf():\n    return cf()\n"
    )
    base = {
        "discogs_etl_spark/a.py": a_mod,
        "discogs_etl_spark/b.py": b_mod,
        "discogs_etl_spark/c.py": c_mod,
    }
    cur = {**base, "discogs_etl_spark/c.py": c_changed}
    for order in (("a", "b"), ("b", "a")):
        builders = {m: (f"discogs_etl_spark/{m}.py", f"{m}f") for m in order}
        old, new = mod.fingerprints(base, builders), mod.fingerprints(cur, builders)
        assert old["b"] != new["b"], f"order {order}: B lost C's change"
        assert old["a"] != new["a"], f"order {order}: A lost B's transitive change"


def test_from_package_import_submodule_propagates():
    # 'from discogs_etl_spark import tables' — the member IS a module;
    # any change inside it must dirty the alias (registry.py uses this
    # exact pattern for multimodal/scale/events).
    src = """
from discogs_etl_spark import tables

def q_sub(spark, sf):
    return tables.load(spark, sf, "orders")
"""
    changed_helper = HELPER_MOD.replace("col * 1000", "col * 999")
    base = {
        "discogs_etl_spark/__init__.py": "",
        "discogs_etl_spark/tables.py": HELPER_MOD,
        Q: src,
    }
    cur = {**base, "discogs_etl_spark/tables.py": changed_helper}
    assert _changed(base, cur, Q, "q_sub") is True


def test_same_alias_from_two_modules_unions_sources():
    # q_a and q_b both bind the local name 'helper' via function-scoped
    # imports from DIFFERENT modules; a change in either source module
    # must dirty the alias (first-import-wins dropped the second).
    src = """
def q_a(spark, sf):
    from discogs_etl_spark.x import helper
    return helper(1)

def q_b(spark, sf):
    from discogs_etl_spark.y import helper
    return helper(2)
"""
    x_mod = "def helper(v):\n    return v + 1\n"
    y_mod = "def helper(v):\n    return v + 2\n"
    y_changed = y_mod.replace("v + 2", "v + 3")
    base = {"discogs_etl_spark/x.py": x_mod, "discogs_etl_spark/y.py": y_mod, Q: src}
    cur = {**base, "discogs_etl_spark/y.py": y_changed}
    assert _changed(base, cur, Q, "q_b") is True


def test_branch_bindings_accumulate_not_overwrite():
    # try-branch and except-branch both bind LIMIT; editing EITHER
    # branch (and editing a preceding plain binding) must flag.
    mod = _mod()
    src = """
LIMIT = 1
try:
    LIMIT = compute(100)
except Exception:
    LIMIT = 10

def builder(spark, sf):
    return LIMIT
"""
    for mutation in (
        ("compute(100)", "compute(200)"),  # try branch
        ("LIMIT = 10", "LIMIT = 11"),  # except branch
        ("LIMIT = 1", "LIMIT = 2"),  # preceding plain binding
    ):
        changed = src.replace(*mutation)
        assert _diff(mod, src, changed) == {"LIMIT"}, mutation
        assert "LIMIT" in mod.reachable(changed, "builder")


def test_module_level_mutations_are_visible():
    mod = _mod()
    src = """
PATTERNS = {}
PATTERNS["a"] = "x"
THRESH = 1
THRESH += 2
SUFFIXES = []
SUFFIXES.append("ing")

def builder(spark, sf):
    return (PATTERNS, THRESH, SUFFIXES)
"""
    for mutation, name in (
        (('"x"', '"y"'), "PATTERNS"),  # subscript assignment
        (("THRESH += 2", "THRESH += 3"), "THRESH"),  # augmented assignment
        (('append("ing")', 'append("ed")'), "SUFFIXES"),  # method-call mutation
    ):
        changed = src.replace(*mutation)
        d = _diff(mod, src, changed)
        assert name in d, (mutation, d)
        assert name in mod.reachable(changed, "builder")


# ---------------------------------------------------------------------------
# UNMODELED sentinel battery (ADVICE r8): the statement forms the index
# cannot attribute to a name must dirty the WHOLE module when changed,
# that dirt must propagate through every import form, and the package's
# actual UNMODELED inventory is pinned so the weakened-attribution
# surface is always known.
# ---------------------------------------------------------------------------


def test_unmodeled_statement_forms_index_the_sentinel():
    mod = _mod()
    for snippet in (
        "setup()",  # bare Name-rooted side-effect call
        "del X",  # delete
        "raise SystemExit(1)",  # module-level raise
        "assert X > 0",  # module-level assert
        "if flag: setup()",  # bind-nothing compound
    ):
        src = f"X = 1\nflag = True\ndef setup(): pass\n{snippet}\n"
        defs = mod._top_level_defs(src)
        assert mod.UNMODELED in defs, snippet


def test_unmodeled_change_flags_every_builder_in_module():
    # Changing a bare side-effect call must flag builders that never
    # mention it — the index cannot bound what it mutated.
    src = "def setup(): pass\nsetup()\n\ndef builder(spark, sf):\n    return 42\n"
    changed = src.replace("def setup(): pass", "def setup(): return 1")
    m = "discogs_etl_spark/m.py"
    assert _changed({m: src}, {m: changed}, m, "builder") is True


def test_unmodeled_multiplicity_is_visible():
    # Deleting ONE of two identical statements changes how many times it
    # executes; the dedup the r8 review flagged made the indexes equal.
    mod = _mod()
    twice = "X = []\nX.append(1)\nX.append(1)\n"
    once = "X = []\nX.append(1)\n"
    assert _diff(mod, twice, once) == {"X"}
    setup_twice = "def setup(): pass\nsetup()\nsetup()\n"
    setup_once = "def setup(): pass\nsetup()\n"
    assert mod.UNMODELED in _diff(mod, setup_twice, setup_once)


def test_compound_with_binding_and_side_effect_is_unmodeled():
    # `if flag: x = 1; setup()` binds x, so pre-fix the WHOLE compound
    # was attributed to x and a setup()-only edit never flagged builders
    # that don't reach x.
    mod = _mod()
    src = (
        "flag = True\n"
        "def setup(): pass\n"
        "if flag:\n    x = 1\n    setup()\n"
        "def builder(spark, sf):\n    return 42\n"
    )
    defs = mod._top_level_defs(src)
    assert "x" in defs and mod.UNMODELED in defs
    changed = src.replace("setup()\ndef builder", "setup(2)\ndef builder")
    m = "discogs_etl_spark/m.py"
    assert _changed({m: src}, {m: changed}, m, "builder") is True


def test_compound_nested_side_effect_is_unmodeled():
    mod = _mod()
    src = "flag = True\ndef setup(): pass\ntry:\n    x = 1\n    if flag:\n        setup()\nexcept Exception:\n    pass\n"
    assert mod.UNMODELED in mod._top_level_defs(src)
    # ...but nested FUNCTION bodies are deferred execution, not import
    # effects: a compound defining a function whose body calls things
    # must NOT index the sentinel.
    deferred = "flag = True\nif flag:\n    def f():\n        setup()\n"
    assert mod.UNMODELED not in mod._top_level_defs(deferred)


UNMODELED_HELPER = "def helper(x): return x\nsetup_registry()\ndef setup_registry(): pass\n"


def _unmodeled_changed(importer_src) -> bool:
    changed = UNMODELED_HELPER.replace("setup_registry()\n", "setup_registry(1)\n", 1)
    return _changed(
        {"discogs_etl_spark/tables.py": UNMODELED_HELPER, Q: importer_src},
        {"discogs_etl_spark/tables.py": changed, Q: importer_src},
        Q,
        "builder",
    )


def test_unmodeled_propagates_through_member_import():
    src = "from discogs_etl_spark.tables import helper\ndef builder(spark, sf):\n    return helper(1)\n"
    assert _unmodeled_changed(src) is True


def test_unmodeled_propagates_through_module_import():
    src = "import discogs_etl_spark.tables as tbl\ndef builder(spark, sf):\n    return tbl.helper(1)\n"
    assert _unmodeled_changed(src) is True


def test_unmodeled_propagates_through_star_import():
    src = "from discogs_etl_spark.tables import *\ndef builder(spark, sf):\n    return helper(1)\n"
    assert _unmodeled_changed(src) is True


def test_package_unmodeled_inventory():
    # The EXACT set of package modules carrying UNMODELED statements.
    # If this test fails because a module was added to the set, the new
    # statement weakens change attribution for that whole module —
    # rewrite it in an attributable form (or consciously extend this
    # inventory and the comment above UNMODELED in rewindow_check.py).
    mod = _mod()
    carriers = {}
    for f in sorted((REPO / "discogs_etl_spark").rglob("*.py")):
        rel = str(f.relative_to(REPO))
        idx = mod.ModuleIndex(f.read_text(), rel)
        if mod.UNMODELED in idx.defs:
            carriers[rel] = len(idx.defs[mod.UNMODELED])
    assert carriers == {
        "discogs_etl_spark/__main__.py": 1,  # raise SystemExit(main())
        "discogs_etl_spark/cli.py": 1,  # __main__ guard's bare main() call
    }, carriers


def test_class_body_side_effect_is_unmodeled():
    # Class bodies execute at DEFINITION time, not on call — a bare
    # call inside one is an import-time side effect the class name
    # cannot bound (review r9: ClassDef was wrongly in the
    # attributable/deferred set).
    mod = _mod()
    src = (
        "Y = {}\n"
        "def setup(): Y['mode'] = 'fast'\n"
        "class C:\n    setup()\n"
        "def builder(spark, sf):\n    return Y\n"
    )
    assert mod.UNMODELED in mod._top_level_defs(src)
    # editing setup's body must flag builder (which mentions only Y)
    changed = src.replace("'fast'", "'slow'")
    m = "discogs_etl_spark/m.py"
    assert _changed({m: src}, {m: changed}, m, "builder") is True
    # ...same one nesting level down, inside a compound
    nested = "flag = True\ndef setup(): pass\nif flag:\n    class C:\n        setup()\n"
    assert mod.UNMODELED in mod._top_level_defs(nested)
    # a class of plain defs/assigns stays fully attributable
    clean = "class C:\n    x = 1\n    def m(self):\n        return other()\n"
    assert mod.UNMODELED not in mod._top_level_defs(clean)


def test_star_import_deletion_flags():
    # Removing `from m import *` used to change no def dump AND remove
    # the propagation edge in the same breath — zero flags for a
    # behavior change (review r9).
    with_star = "from discogs_etl_spark.tables import *\ndef builder(spark, sf):\n    return helper(1)\n"
    without = "def builder(spark, sf):\n    return helper(1)\n"
    tables = {"discogs_etl_spark/tables.py": UNMODELED_HELPER}
    base, cur = {**tables, Q: with_star}, {**tables, Q: without}
    assert _changed(base, cur, Q, "builder") is True


def test_nested_star_import_deletion_flags():
    # A star import nested inside a compound that ALSO binds a modeled
    # name escaped the top-level fix: ImportFrom is attributable, so
    # _has_unattributable never indexed UNMODELED for the compound, and
    # deleting the star line only changed the sibling binding's dump —
    # builders using star-imported names without mentioning the sibling
    # never flagged (ADVICE r9).
    mod = _mod()
    with_star = (
        "flag = True\n"
        "if flag:\n"
        "    x = 1\n"
        "    from discogs_etl_spark.tables import *\n"
        "def builder(spark, sf):\n"
        "    return helper(1)\n"
    )
    without = (
        "flag = True\n"
        "if flag:\n"
        "    x = 1\n"
        "def builder(spark, sf):\n"
        "    return helper(1)\n"
    )
    # the compound must index as unattributable on BOTH sides so the
    # star deletion dirties UNMODELED, not just x
    assert mod.UNMODELED in mod._top_level_defs(with_star)
    tables = {"discogs_etl_spark/tables.py": UNMODELED_HELPER}
    base, cur = {**tables, Q: with_star}, {**tables, Q: without}
    assert _changed(base, cur, Q, "builder") is True
