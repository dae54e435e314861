"""Evidence freshness is MACHINE-ENFORCED, not ritual (verdict r13 #1).

The driver re-checks the first 50 names of ``registry.all_specs()`` each
round, and that order is computed from the landed CORRECTNESS artifacts
(oldest driver evidence first), so the window cannot be skipped or
mis-composed.  What remains to enforce:

1. STALENESS SLO — no registered query's last driver-green round may
   trail the newest landed CORRECTNESS artifact by more than
   ``registry.MAX_EVIDENCE_AGE_ROUNDS`` rounds.  The bound is derived,
   not chosen: the driver re-checks 50 names per round, so a rotated
   registry revisits every name within ceil(registered/50) rounds
   (380/50 -> 8).  A dedicated test pins the constant to that formula
   so registry growth forces a conscious update.

2. WINDOW COVERAGE — every name that would breach the SLO once the next
   artifact lands is in the current window, and the window is the head
   of ``evidence_audit``'s stale order.

Both are driven by scripts/evidence_audit.py (same script-owns-logic /
thin-test pattern as the timing and plansweep gates) over the unbounded
basis: freshness is about the present.
"""

from __future__ import annotations

import importlib.util
import json
import math
from pathlib import Path

from discogs_etl_spark import registry

REPO = Path(__file__).resolve().parent.parent


def _mod():
    spec = importlib.util.spec_from_file_location(
        "evidence_audit", REPO / "scripts" / "evidence_audit.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_staleness_bound_is_derived_from_registry_size():
    stats = _mod().audit(REPO)
    expected = math.ceil(stats["registered"] / 50)
    assert registry.MAX_EVIDENCE_AGE_ROUNDS == expected, (
        f"MAX_EVIDENCE_AGE_ROUNDS={registry.MAX_EVIDENCE_AGE_ROUNDS} but "
        f"{stats['registered']} names / 50 driver checks per round needs "
        f"ceil = {expected} — update the constant and its rationale in "
        "registry.py together"
    )


def test_no_registered_query_evidence_exceeds_slo():
    mod = _mod()
    stats = mod.audit(REPO)  # unbounded: freshness is about the present
    stale = mod.stale_names(stats, registry.MAX_EVIDENCE_AGE_ROUNDS)
    assert stale == [], (
        f"{len(stale)} queries' driver evidence is older than "
        f"{registry.MAX_EVIDENCE_AGE_ROUNDS} rounds: {stale[:10]} — the "
        "driver skipped rounds or checked a window other than the first "
        "50 of registry.all_specs()"
    )


def test_staleness_check_flags_ancient_evidence(tmp_path):
    # Prove the SLO test CAN fail: rebuild the artifact set with one real
    # registered name stripped from every round after its first green, so
    # its last-green round goes ancient, and assert stale_names names it.
    mod = _mod()
    rounds = registry.round_artifacts()
    # any name green in the EARLIEST artifact works as the victim — its
    # first green is old enough to exceed the bound once later rows go
    earliest = json.loads(rounds[0][1].read_text())
    registered = set(registry.all_specs())
    victim = next(
        n for n, row in earliest.items() if n in registered and registry.is_green(row)
    )
    first_green = None
    for n, p in rounds:
        data = json.loads(p.read_text())
        if victim in data and first_green is None and registry.is_green(data[victim]):
            first_green = n
        elif first_green is not None:
            data.pop(victim, None)
        (tmp_path / p.name).write_text(json.dumps(data))
    assert first_green is not None, f"{victim} never green in real artifacts"
    stats = mod.audit(REPO, artifacts_dir=tmp_path)
    newest = max(stats["rounds"])
    assert newest - first_green > registry.MAX_EVIDENCE_AGE_ROUNDS, (
        "pick a victim whose first green round is old enough for this test"
    )
    stale = mod.stale_names(stats, registry.MAX_EVIDENCE_AGE_ROUNDS)
    assert victim in stale, "stale_names failed to flag ancient evidence"


def test_window_is_oldest_evidence_first_slice():
    # The order the driver is served and the audit's stale order are
    # one policy: the window is the head of the stale order.
    stats = _mod().audit(REPO)
    assert list(registry.all_specs())[:50] == stats["stale_order_names"][:50]


def test_every_registered_query_has_green_evidence():
    # Companion gate to the staleness SLO (r14 review): stale_names
    # exempts names with no last-green round, which is correct for
    # never-CHECKED names (the computed order puts them at the front)
    # but would also hide a never-GREEN name — checked, red on
    # every attempt — forever.  Never-green is a DEFECT and gets its own
    # unbounded assertion, so the exemption cannot be ridden.
    stats = _mod().audit(REPO)  # unbounded: about the present ledger
    # Assert the NAME SET, not a count comparison (r15 ADVICE): the
    # counts can coincide while a registered name is never-green if a
    # green unregistered name pads ever_green — correctness must not
    # lean on the separate checked_not_registered gate.
    assert stats["registered_never_green_names"] == [], (
        f"registered queries that have NEVER passed a driver check: "
        f"{stats['registered_never_green_names'][:10]} — these are "
        "defects the staleness SLO deliberately does not cover; fix "
        "them, do not wait for rotation"
    )


def test_registered_never_green_is_a_true_intersection(tmp_path):
    # Prove the fixed gate CAN fail where the old count comparison
    # could not: one registered name never green + one green
    # UNREGISTERED name keeps the counts equal, but the set names the
    # defect.
    mod = _mod()
    rounds = registry.round_artifacts()
    registered = set(registry.all_specs())
    earliest = json.loads(rounds[0][1].read_text())
    victim = next(
        n for n, row in earliest.items() if n in registered and registry.is_green(row)
    )
    # enough green unregistered ghosts to keep ever_green == registered:
    # one replacing the victim, plus one per registered-but-never-checked
    # name (queries registered mid-round before their first driver
    # window), so the count coincidence survives registry growth
    n_ghosts = 1 + len(mod.audit(REPO)["never_checked_names"])
    for n, p in rounds:
        data = json.loads(p.read_text())
        if victim in data:
            data[victim] = {"err": "synthetic never-green"}
            for g in range(n_ghosts):
                data[f"ghost_unregistered_query_{g}"] = {
                    "rows_match": True,
                    "schema_match": True,
                    "hash_match": True,
                    "err": None,
                }
        (tmp_path / p.name).write_text(json.dumps(data))
    stats = mod.audit(REPO, artifacts_dir=tmp_path)
    assert stats["ever_green"] == stats["registered"], (
        "synthetic ledger should reproduce the count coincidence the "
        "set assertion exists to break"
    )
    assert stats["registered_never_green_names"] == [victim]


def test_endangered_names_are_in_current_window():
    # Any name that would exceed the staleness bound once the NEXT
    # artifact lands must be in THIS window; more than 50 endangered
    # names at once means the bound no longer matches the registry size.
    mod = _mod()
    stats = mod.audit(REPO)  # unbounded: the next artifact lands on top
    endangered = mod.endangered_names(stats, registry.MAX_EVIDENCE_AGE_ROUNDS)
    window = set(list(registry.all_specs())[:50])
    missing = [n for n in endangered if n not in window]
    assert missing == [], (
        f"{len(missing)} names will violate the freshness SLO next round "
        f"but are not in the first 50 of registry.all_specs(): {missing[:10]}"
    )


def test_endangered_names_flags_crowded_out_slo_names():
    # Prove the endangered gate CAN fail: with the bound shrunk so the
    # current stalest cohort is one round from violating, the stalest
    # name must be reported endangered.
    mod = _mod()
    stats = mod.audit(REPO)
    newest = max(stats["rounds"])
    # the stalest name WITH evidence — never-checked names sort first in
    # stale order but have no last-green round, so the SLO skips them
    oldest_name = next(
        n for n in stats["stale_order_names"] if n in stats["last_green_round"]
    )
    oldest_round = stats["last_green_round"][oldest_name]
    tight = newest - oldest_round  # (newest+1) - oldest_round > tight
    endangered = mod.endangered_names(stats, tight)
    assert oldest_name in endangered
    # and with the real bound satisfied by the current window, nothing
    # endangered may be missing (covered live by the gate test above)


def test_rotation_basis_is_import_order_independent():
    """r18 regression: the stale-order tie-break is CANONICAL
    registration order (registry.registration_order), not _REGISTRY
    insertion order.  A process that imports curation (whose transitive
    imports register the llm block before analytics) before _load_all
    must still be served exactly the order a clean process computes."""
    import subprocess
    import sys

    def served(pre_import: str) -> str:
        code = (
            f"import sys; sys.path.insert(0, {str(REPO)!r});{pre_import}"
            "from discogs_etl_spark import registry;"
            "print('\\n'.join(registry.all_specs()))"
        )
        out = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True, timeout=600
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return out.stdout

    clean = served("")
    assert clean.split() == list(registry.all_specs())
    assert served("import discogs_etl_spark.curation;") == clean


def test_every_product_module_has_a_canonical_rank():
    # If a new query module joins _load_all without a _MODULE_RANK
    # entry, its names fall into the unknown-module bucket and the
    # canonical order silently diverges from the clean-process
    # insertion order — catch the drift at registration granularity.
    registry._load_all()
    unranked = sorted(
        {
            spec.fn.__module__
            for spec in registry._REGISTRY.values()
            if spec.fn.__module__ not in registry._MODULE_RANK
        }
    )
    assert unranked == [], (
        f"query modules missing from registry._MODULE_RANK: {unranked}"
    )
