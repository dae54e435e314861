"""Evidence-count bookkeeping is DERIVED from the CORRECTNESS artifacts.

scripts/evidence_audit.py computes every count from the per-round driver
artifacts plus the live registry; these tests pin its basis handling.
"""

from __future__ import annotations

import importlib.util
import shutil
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


def test_max_round_bounds_the_basis(tmp_path):
    # ``--max-round N`` must equal the audit of a tree where rounds > N
    # never landed.
    rounds = registry.round_artifacts()
    newest = rounds[-1][0]
    for _, p in rounds[:-1]:
        shutil.copy(p, tmp_path / p.name)
    mod = _mod()
    assert mod.audit(REPO, max_round=newest - 1) == mod.audit(REPO, artifacts_dir=tmp_path)


def test_audit_sees_no_unregistered_checked_names():
    stats = _mod().audit(REPO)
    assert stats["checked_not_registered"] == [], (
        "CORRECTNESS artifacts name queries the registry no longer has: "
        f"{stats['checked_not_registered']}"
    )
