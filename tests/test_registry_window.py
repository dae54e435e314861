"""Evidence-rotation window regression tests.

The verification driver checks the FIRST 50 registered queries per round
and lands its verdict as ``CORRECTNESS_r<N>.json``.  ``registry.all_specs``
computes the order from those artifacts — a stable sort of
``registration_order()`` by last driver-green round, never-green names as
round 0 — so the window is the 50 stalest names by construction.  These
tests pin that order on the real artifacts and on synthetic ones, and
check that a newly landed artifact rotates the window with no source edit.
"""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

import pytest

from discogs_etl_spark import registry

REPO = Path(__file__).resolve().parent.parent
WINDOW = 50  # names the driver checks per round


def _audit_mod():
    spec = importlib.util.spec_from_file_location(
        "evidence_audit", REPO / "scripts" / "evidence_audit.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _land(artifacts_dir: Path, n: int, rows: dict[str, bool | str]) -> None:
    """Write a driver-shaped CORRECTNESS artifact for round ``n``: True is
    a green row, False a value mismatch, a string an error row (the
    driver leaves an erroring query's match flags null)."""
    body = {}
    for name, ok in rows.items():
        if isinstance(ok, str):
            body[name] = dict.fromkeys(("rows_match", "schema_match", "hash_match"))
            body[name]["err"] = ok
        else:
            body[name] = {"rows_match": True, "schema_match": True, "hash_match": ok, "err": None}
    (artifacts_dir / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(body))


def test_windowed_queries_all_have_oracles():
    specs = registry.all_specs()
    missing = [n for n in list(specs)[:WINDOW] if specs[n].oracle is None]
    assert not missing, f"windowed queries without oracles: {missing}"


def test_real_artifacts_order_is_oldest_evidence_first():
    # On the landed artifacts: every registered name exactly once,
    # last-green rounds nondecreasing, registration order among ties.
    names = list(registry.all_specs())
    reg = registry.registration_order()
    assert sorted(names) == sorted(reg) and len(names) == len(set(names))
    last = registry.last_green_round(registry.green_by_round())
    rounds = [last.get(n, 0) for n in names]
    assert rounds == sorted(rounds)
    pos = {n: i for i, n in enumerate(reg)}
    for r in set(rounds):
        tie = [n for n in names if last.get(n, 0) == r]
        assert tie == sorted(tie, key=pos.get), f"round-{r} ties left registration order"



@pytest.mark.parametrize(
    "row,green",
    [
        ({"rows_match": True, "schema_match": True, "hash_match": True, "err": None}, True),
        ({"rows_match": True, "err": None}, True),
        ({"rows_match": True, "schema_match": True, "hash_match": False, "err": None}, False),
        ({"rows_match": None, "schema_match": None, "hash_match": None, "err": "boom"}, False),
        ({"err": None}, False),
    ],
    ids=["oracle-green", "rows-only-green", "value-mismatch", "error", "no-flags"],
)
def test_is_green_row_shapes(row, green):
    assert registry.is_green(row) is green


def test_round_artifacts_sort_numerically_and_skip_strays(tmp_path):
    for name in ("CORRECTNESS_r10.json", "CORRECTNESS_r9.json", "CORRECTNESS_r02.json",
                 "CORRECTNESS_r10.json.bak", "CORRECTNESS_latest.json", "TIMINGS_r11.json"):
        (tmp_path / name).write_text("{}")
    assert [n for n, _ in registry.round_artifacts(tmp_path)] == [2, 9, 10]


def test_red_row_keeps_the_earlier_green_round():
    by_round = {1: {"a": True, "b": True, "c": False}, 2: {"a": False, "b": True}}
    assert registry.last_green_round(by_round) == {"a": 1, "b": 2}


def test_no_artifacts_means_registration_order(tmp_path):
    assert list(registry.all_specs(tmp_path)) == registry.registration_order()

def test_computed_order_on_synthetic_artifacts(tmp_path):
    reg = registry.registration_order()
    never_checked, never_green = reg[-2], reg[-1]
    refreshed_r2, refreshed_r3 = reg[100:150], reg[5:8]
    # r01 checks everything but one name; one name errors.  r02 refreshes
    # a block and mismatches reg[10] (a red row refreshes nothing).
    _land(tmp_path, 1, {n: n != never_green or "boom" for n in reg if n != never_checked})
    _land(tmp_path, 2, {**{n: True for n in refreshed_r2}, reg[10]: False})
    _land(tmp_path, 3, {n: True for n in refreshed_r3})

    later = set(refreshed_r2) | set(refreshed_r3)
    round1 = [n for n in reg if n not in later and n not in (never_checked, never_green)]
    expected = [never_checked, never_green] + round1 + refreshed_r2 + refreshed_r3
    assert list(registry.all_specs(tmp_path)) == expected


def test_landed_artifact_rotates_window_without_edit(tmp_path):
    mod = _audit_mod()
    bound = registry.MAX_EVIDENCE_AGE_ROUNDS
    reg = registry.registration_order()
    # Everything green in r01; r09 re-checks all but the first 30, so
    # those 30 are one round from breaching the freshness bound.
    _land(tmp_path, 1, {n: True for n in reg})
    _land(tmp_path, 9, {n: True for n in reg[30:]})
    stats = mod.audit(REPO, artifacts_dir=tmp_path)
    assert mod.endangered_names(stats, bound) == sorted(reg[:30])

    window = list(registry.all_specs(tmp_path))[:WINDOW]
    assert window == reg[:WINDOW]
    # Replay the driver for two full rotations: each round checks the
    # computed window, and nothing but the new artifact changes.
    for n in range(10, 10 + 2 * len(reg) // WINDOW):
        stats = mod.audit(REPO, artifacts_dir=tmp_path)
        assert set(mod.endangered_names(stats, bound)) <= set(window)
        assert mod.stale_names(stats, bound) == []
        _land(tmp_path, n, {name: True for name in window})
        nxt = list(registry.all_specs(tmp_path))[:WINDOW]
        assert not set(nxt) & set(window), f"round {n} did not rotate the window"
        window = nxt
