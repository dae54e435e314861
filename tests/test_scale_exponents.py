"""Scaling-exponent gate: super-linear growth must be deliberate.

Every wall-time gate before round 14 compared rounds at a FIXED sf, so
a query whose cost grows super-linearly in the data — stable
round-over-round, innocent plan, catastrophic at 1000x — reddened
nothing.  scripts/scale_exponents.py fits each registered query's
measured growth exponent between two whole-registry sweeps at different
scale factors, against the query's OWN input growth (the synthetic
tables scale unevenly: TPC-H planes 10x per decade, documents 10x only
in the top decade, embeddings 4x), and the committed
SCALE_EXPONENTS.json is gated here:

* every registered query is measured (adding a query reddens until the
  artifact is refreshed with the new name),
* every material super-linear reading is a DOCUMENTED baseline (the
  all-pairs exactness pair that calibrates the recall evals),
* every documented baseline is still actually flagged (a stale
  allowance reddens, so the allowlist can only shrink honestly — the
  plan-sweep ALLOWED rule),
* no row is UNGRADABLE (errored in a sweep — a crash at scale is the
  strongest super-linear signal, not a pass — or fit through the
  overhead-floor clamp with a material high reading, which would
  deflate a true quadratic below the flag), and
* the artifact is MACHINE-TIED to query code: its per-query
  code-closure fingerprints (rewindow_check's fingerprint closure
  rules) must match the working tree, so a rewritten query reddens
  until re-measured via the targeted refresh path (time_registry
  --only + scale_exponents --patch).
"""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

import pytest

from discogs_etl_spark import registry
from discogs_etl_spark.tables import TABLE_NAMES

REPO = Path(__file__).resolve().parent.parent
ARTIFACT = REPO / "SCALE_EXPONENTS.json"


def _load(name: str):
    spec = importlib.util.spec_from_file_location(
        name, REPO / "scripts" / f"{name}.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _mod():
    return _load("scale_exponents")


def _artifact() -> dict:
    return json.loads(ARTIFACT.read_text())


def _rows(artifact: dict) -> dict:
    return {n: r for n, r in artifact.items() if not n.startswith("_")}


def test_artifact_covers_every_registered_query():
    measured = set(_rows(_artifact()))
    registered = set(registry.all_specs())
    missing = sorted(registered - measured)
    assert missing == [], (
        f"{len(missing)} registered queries have no scaling-exponent "
        f"measurement: {missing[:10]} — refresh SCALE_EXPONENTS.json "
        "(two time_registry sweeps + scripts/scale_exponents.py --json, "
        "or the targeted --only/--patch path)"
    )
    stray = sorted(measured - registered)
    assert stray == [], f"artifact names unregistered queries: {stray[:10]}"


def test_no_undocumented_superlinear_growth():
    mod = _mod()
    bad = mod.undocumented_flags(_rows(_artifact()))
    assert bad == [], (
        f"material super-linear growth without a documented baseline "
        f"rationale: {bad} — audit the plan and match cardinality; if "
        "deliberate, add to SUPERLINEAR_BASELINES with the why"
    )


def test_no_ungradable_rows():
    mod = _mod()
    ungr = mod.ungradable(_rows(_artifact()))
    assert ungr == [], (
        f"ungradable exponent rows: {ungr} — errored sweeps or "
        "floor-clamped fits with material walls cannot pass silently; "
        "re-measure (error) or take a mid-sf reading (needs-midpoint)"
    )


def test_no_stale_superlinear_allowances():
    mod = _mod()
    stale = mod.stale_allowances(_rows(_artifact()))
    assert stale == [], (
        f"SUPERLINEAR_BASELINES entries no longer flagged by the "
        f"artifact: {stale} — the query was fixed or re-measured; prune "
        "the allowance"
    )


def test_allowlists_are_registered_queries():
    mod = _mod()
    registered = set(registry.all_specs())
    for name in list(mod.SUPERLINEAR_BASELINES) + list(mod.ANALYTIC_SUPERLINEAR) + list(
        mod.EXTRA_TABLES
    ):
        assert name in registered, f"allowlist names unregistered query {name}"
    for name, tables in mod.EXTRA_TABLES.items():
        assert set(tables) <= set(TABLE_NAMES), (name, tables)


def test_artifact_meta_matches_script_constants():
    # The artifact must have been generated under the SAME thresholds the
    # gate reasons with — a threshold change without regeneration would
    # silently grade old readings on a new curve.
    mod = _mod()
    meta = _artifact()["_meta"]
    assert meta["alpha_flag"] == mod.ALPHA_FLAG
    assert meta["material_sec"] == mod.MATERIAL_SEC
    assert meta["floor_sec"] == mod.FLOOR_SEC
    assert meta["min_data_ratio"] == mod.MIN_DATA_RATIO


def test_table_names_are_the_engine_registry():
    # One source of truth: a new synthetic plane added to tables.py must
    # be matchable here, or its queries would silently class fixed-input
    # and escape the gate forever.
    assert tuple(_mod().TABLE_NAMES) == tuple(TABLE_NAMES)


def test_code_fingerprints_match_working_tree():
    # The machine tie to code: a rewritten query (or a change to any
    # helper its builder reaches, per the fingerprint closure rules) must
    # redden here until its rows are re-measured.  Comments/docstrings
    # are excluded by construction, so annotation-only edits don't
    # force a re-sweep.
    mod = _mod()
    stale = mod.stale_fingerprints(_artifact(), mod.current_fingerprints())
    assert stale == [], (
        f"{len(stale)} queries' exponent rows predate their current "
        f"code: {stale[:10]} — refresh via time_registry --only "
        "'<names>' at both sfs + scale_exponents --patch "
        "SCALE_EXPONENTS.json"
    )


def test_stale_fingerprint_detection_can_fire():
    mod = _mod()
    current = mod.current_fingerprints()
    victim = sorted(current)[0]
    art = _artifact()
    # mutated stamp -> stale; missing stamp -> stale; matching -> clean
    art["_meta"]["code_fingerprints"][victim] = "0" * 16
    assert victim in mod.stale_fingerprints(art, current)
    del art["_meta"]["code_fingerprints"][victim]
    assert victim in mod.stale_fingerprints(art, current)


def test_exponent_math_and_gate_can_fail():
    mod = _mod()
    rows_lo = {t: 100 for t in TABLE_NAMES}
    rows_hi = {t: 1000 for t in TABLE_NAMES}
    lo = {"quad": 2.0, "lin": 2.0, "fixed": 2.0, "broken": None, "clamped": 0.03}
    hi = {"quad": 200.0, "lin": 20.0, "fixed": 2.0, "broken": 3.0, "clamped": 3.0}
    oracles = {
        "quad": "SELECT * FROM lineitem",
        "lin": "SELECT * FROM orders",
        "fixed": "SELECT 1",  # no scaling input
        "broken": "SELECT * FROM part",
        "clamped": "SELECT * FROM events",
    }
    table = mod.exponents(lo, hi, oracles, rows_lo, rows_hi)
    assert table["quad"]["alpha"] == 2.0 and table["quad"]["class"] == "superlinear"
    assert table["lin"]["alpha"] == 1.0 and table["lin"]["class"] == "linearish"
    assert table["fixed"]["class"] == "fixed-input"
    assert table["broken"]["class"] == "error"
    # the floor clamp would have fit alpha = log(3/0.15)/log(10) = 1.30
    # < ALPHA_FLAG — exactly the deflated-quadratic hole; it must be
    # ungradable, not silently linearish
    assert table["clamped"]["class"] == "needs-midpoint"
    assert mod.undocumented_flags(table) == ["quad"]
    assert mod.ungradable(table) == ["broken", "clamped"]


def test_immaterial_readings_are_recorded_not_gated():
    # A sub-floor wall with a steep exponent is visibility, not a flag:
    # single-run noise owns that region (documented instrument limit).
    mod = _mod()
    rows_lo = {t: 100 for t in TABLE_NAMES}
    rows_hi = {t: 1000 for t in TABLE_NAMES}
    table = mod.exponents(
        {"small": 0.02}, {"small": 1.5}, {"small": "SELECT * FROM events"},
        rows_lo, rows_hi,
    )
    assert table["small"]["class"] == "immaterial"
    assert table["small"]["alpha"] == 1.0  # floor-clamped fit still recorded
    assert mod.undocumented_flags(table) == []
    assert mod.ungradable(table) == []


def test_oracle_table_extraction_is_word_bounded_and_literal_blind():
    mod = _mod()
    assert mod.oracle_tables(
        "q", "SELECT o_orderkey FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
    ) == ["orders", "lineitem"]
    # column prefixes and substrings must not match
    assert mod.oracle_tables("q", "SELECT o_orderkey, l_partkey FROM foo") == []
    # table names inside string literals are not reads (r14 review): a
    # LIKE pattern or a path literal must not add rows to the ratio
    assert mod.oracle_tables("q", "SELECT * FROM foo WHERE note LIKE '%part%'") == []
    assert (
        mod.oracle_tables("q", "SELECT * FROM read_parquet('/lake/events/*')") == []
    )
    # ... unless the query declares its plane explicitly
    assert mod.oracle_tables("stream_events_lake_roundtrip", "SELECT 1") == ["events"]
    assert mod.oracle_tables("q", None) == []


def test_mixed_plane_rows_are_marked():
    mod = _mod()
    rows_lo = {t: 100 for t in TABLE_NAMES}
    rows_hi = {t: 1000 for t in TABLE_NAMES}
    rows_hi["embeddings"] = 400  # 4x vs everyone else's 10x
    table = mod.exponents(
        {"mix": 2.0},
        {"mix": 20.0},
        {"mix": "SELECT * FROM lineitem JOIN embeddings ON 1=1"},
        rows_lo,
        rows_hi,
    )
    assert table["mix"].get("mixed") is True
    # single-plane rows carry no marker
    table2 = mod.exponents(
        {"one": 2.0}, {"one": 20.0}, {"one": "SELECT * FROM lineitem"},
        rows_lo, rows_hi,
    )
    assert "mixed" not in table2["one"]


def test_no_mixed_plane_rows_in_current_artifact():
    # The dilution limit is documented but currently unexercised: no
    # registered oracle spans planes with materially different growth.
    # If one appears, this reddens so the row gets a per-plane look
    # (and this pin a conscious update), instead of a silently diluted
    # alpha.
    mixed = [n for n, r in _rows(_artifact()).items() if r.get("mixed")]
    assert mixed == [], f"mixed-plane rows appeared: {mixed} — see dilution limit"


def test_known_plane_ratios_in_artifact():
    # The per-table data ratio is the instrument's load-bearing
    # correction: the quadratic cosine baseline reads alpha ~2 only
    # against embeddings' true 4x growth (1.21 against raw sf labels).
    meta = _artifact()["_meta"]
    assert meta["hi_rows"]["lineitem"] / meta["lo_rows"]["lineitem"] == 10.0
    assert meta["hi_rows"]["documents"] / meta["lo_rows"]["documents"] == 10.0
    assert meta["hi_rows"]["embeddings"] / meta["lo_rows"]["embeddings"] == 4.0
    art = _artifact()
    assert art["dedup_embedding_cosine"]["ratio"] == 4.0
    # Quadratic-by-design positive control.  Since r19 the control is
    # the DEDICATED instrument gate_control_quadratic_join: both
    # previous controls were real baselines whose constant-factor
    # rewrites de-flagged them (r18 cut the cosine per-pair constant
    # ~9x, artifact alpha 1.207; r19 cut the prefix-filter verify
    # 182.8 -> ~8 s, its candidate growth is still super-quadratic but
    # the measured alpha fell under the flag — both recorded in
    # ANALYTIC_SUPERLINEAR).  The dedicated control has no production
    # purpose to optimize for: a fixed-bucket-space equi-join over
    # embeddings (n(n-1)/2 matches from an innocent plan — the gate's
    # blind-spot class) with a fixture-pinned 8-round md5 chain per
    # pair.  Calibrated alpha 1.70 (r19, min-of-3 per sf as
    # time_registry records it); the assertion
    # threshold is 1.35 (= ALPHA_FLAG: the allowance test already
    # requires class "superlinear", this pins the margin story), which
    # separates the control cleanly from the largest material
    # NON-baseline alpha on record (1.21) — a control that "failed"
    # toward that band would mean the instrument stopped seeing
    # quadratics, which is what this asserts against.
    assert art["gate_control_quadratic_join"]["alpha"] > 1.35  # quadratic by design


def test_artifact_meta_pins_mixed_constants():
    mod = _mod()
    meta = _artifact()["_meta"]
    assert meta["mixed_ratio_spread"] == mod.MIXED_RATIO_SPREAD
    assert meta["static_dim_ratio"] == mod.STATIC_DIM_RATIO


def test_static_dims_do_not_mark_mixed_but_slow_planes_do():
    # region/nation-style constant dims sit out the spread check (a
    # fact x dim join is not "mixed"), while a genuinely scaling plane
    # below MIN_DATA_RATIO (e.g. 1.9x) must still join it — the r14
    # review's escape: cutting at MIN_DATA_RATIO let a slow plane's
    # dilution go unmarked.
    mod = _mod()
    rows_lo = {t: 100 for t in TABLE_NAMES}
    rows_hi = {t: 1000 for t in TABLE_NAMES}
    rows_hi["nation"] = 100  # static dim, 1.0x
    rows_hi["embeddings"] = 190  # scaling, 1.9x
    t1 = mod.exponents(
        {"fact_dim": 2.0}, {"fact_dim": 20.0},
        {"fact_dim": "SELECT * FROM lineitem JOIN nation ON 1=1"},
        rows_lo, rows_hi,
    )
    assert "mixed" not in t1["fact_dim"]
    t2 = mod.exponents(
        {"slow": 2.0}, {"slow": 20.0},
        {"slow": "SELECT * FROM lineitem JOIN embeddings ON 1=1"},
        rows_lo, rows_hi,
    )
    assert t2["slow"].get("mixed") is True


def test_fingerprints_resolve_from_sweep_stamps_not_fit_time():
    # The stamp must describe the code the sweeps MEASURED (r14 review:
    # an edit between sweep and fit would get a fresh stamp on stale
    # readings), so only agreeing sweep stamps certify a row.
    # Disagreeing, one-sided and missing stamps all land in mismatched:
    # no stamp, stale until re-swept at both sfs.
    mod = _mod()
    lo = {"_code_fingerprints": {"a": "sweep_a", "b": "old_b"}}
    hi = {"_code_fingerprints": {"a": "sweep_a", "b": "new_b"}}
    fps, mismatched = mod.resolve_fingerprints(["a", "b", "c"], lo, hi)
    assert fps == {"a": "sweep_a"}
    assert mismatched == ["b", "c"]
    # fully legacy sweeps: nothing is certified
    assert mod.resolve_fingerprints(["a"], {}, {}) == ({}, ["a"])
    # one legacy + one stamped sweep: a between-sweep edit would be
    # invisible, so the single stamp certifies nothing
    stamped = {"_code_fingerprints": {"a": "sweep_a"}}
    assert mod.resolve_fingerprints(["a"], stamped, {}) == ({}, ["a"])
    assert mod.resolve_fingerprints(["a"], {}, stamped) == ({}, ["a"])
    # a sweep without its data-provenance stamp cannot be paired at all
    with pytest.raises(SystemExit):
        mod._check_provenance("--lo", {}, "sf_dir", {"orders": 1})


def test_oracle_table_extraction_survives_apostrophe_in_comment():
    """r15 ADVICE, confirmed by execution against the old two-regex
    order: an unpaired apostrophe in a -- comment (e.g. "Spark's")
    paired with a later REAL quote and swallowed the SQL between —
    table reads vanished and the query read as fixed-input, exempting
    it from the exponent gate.  The quote-aware scanner must keep the
    reads visible."""
    mod = _mod()
    sql = (
        "SELECT l_orderkey  -- Spark's rounding differs here\n"
        "FROM lineitem WHERE l_comment NOT LIKE '%fast%'"
    )
    assert mod.oracle_tables("q", sql) == ["lineitem"]
    # apostrophe in a block comment, same trap
    assert mod.oracle_tables(
        "q", "SELECT 1 /* DuckDB's default */ FROM orders"
    ) == ["orders"]
    # literals still blind: a '' escape must not flip the quote state
    assert mod.oracle_tables(
        "q", "SELECT * FROM foo WHERE note = 'it''s part of orders'"
    ) == []
    # and a -- inside a literal must not eat the rest of the line
    assert mod.oracle_tables(
        "q", "SELECT * FROM foo WHERE tag = '--x' UNION SELECT * FROM nation"
    ) == ["nation"]


def test_oracle_table_extraction_handles_quoted_identifiers():
    """Second review pass on the r15 scanner: a double-quoted
    identifier is a third region — its contents survive (a quoted
    table name is still a read) and comment/literal starters inside it
    are inert, so "a--b" cannot open a comment and swallow later
    reads."""
    mod = _mod()
    # -- inside a quoted identifier must not eat the rest of the line
    assert mod.oracle_tables(
        "q", 'SELECT "a--b" FROM orders'
    ) == ["orders"]
    # apostrophe inside a quoted identifier must not open a literal
    assert mod.oracle_tables(
        "q", "SELECT \"it's\" FROM nation JOIN region ON 1=1"
    ) == ["region", "nation"] or mod.oracle_tables(
        "q", "SELECT \"it's\" FROM nation JOIN region ON 1=1"
    ) == ["nation", "region"]
    # a quoted TABLE name still counts as a read
    assert mod.oracle_tables("q", 'SELECT 1 FROM "lineitem"') == ["lineitem"]
    # "" escape inside the identifier keeps the region closed correctly
    assert mod.oracle_tables(
        "q", 'SELECT "x""--y" FROM part'
    ) == ["part"]
