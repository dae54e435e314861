"""Derive driver-evidence counts from the CORRECTNESS_r*.json artifacts.

Counts, the never-checked backlog, the oldest-evidence-first order and
the freshness-SLO helpers are all computed from the per-round driver
artifacts plus the live registry; nothing is hand-typed.  Artifact
parsing and the rotation order live in ``discogs_etl_spark.registry``
(``all_specs`` serves the registry in that order, so the driver's
window is its first 50 names); this script summarizes them.

Usage::

    python scripts/evidence_audit.py            # human summary
    python scripts/evidence_audit.py --json     # machine-readable
    python scripts/evidence_audit.py --never    # list never-checked names
    python scripts/evidence_audit.py --stale-order   # the rotation order
    python scripts/evidence_audit.py --max-round 6   # bound the basis
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def audit(
    repo: Path = REPO,
    max_round: int | None = None,
    artifacts_dir: Path | None = None,
) -> dict:
    """Compute evidence stats.  Importable for tests.

    ``max_round`` bounds the basis to artifacts from rounds <= N.
    ``artifacts_dir`` lets tests point at a synthetic artifact set
    without touching the repo; the registry is always imported from
    ``repo``.
    """
    sys.path.insert(0, str(repo))
    from discogs_etl_spark import registry

    per_round = registry.green_by_round(artifacts_dir or repo)
    if max_round is not None:
        per_round = {n: g for n, g in per_round.items() if n <= max_round}
    last_green = registry.last_green_round(per_round)
    ever_green = set(last_green)

    checked: set[str] = set()
    net_new_last = []
    last_round = max(per_round, default=0)
    for n in sorted(per_round):
        names = set(per_round[n])
        if n == last_round:
            net_new_last = sorted(names - checked)
        checked |= names

    # Oldest-evidence-first over canonical registration order — the
    # order ``registry.all_specs`` serves, so its first 50 names are
    # the driver's next window.
    stale_order = registry.stale_order(last_green)
    registered = set(stale_order)
    never_checked = [n for n in stale_order if n not in checked]

    return {
        "rounds": sorted(per_round),
        "registered": len(registered),
        "unique_checked": len(checked),
        "ever_green": len(ever_green),
        "never_green": len(checked - ever_green),
        "never_checked": len(never_checked),
        "net_new_last_round": len(net_new_last),
        "net_new_last_round_names": net_new_last,
        "never_checked_names": never_checked,
        "stale_order_names": stale_order,
        "last_green_round": last_green,
        "checked_not_registered": sorted(checked - registered),
        # Direct intersection, not a count comparison (r15 ADVICE): the
        # ever_green COUNT can equal the registered COUNT while a
        # registered name is never-green, if a green unregistered name
        # pads it — don't make correctness depend on the separate
        # checked_not_registered gate.  Never-green means CHECKED and
        # red on every attempt (a defect); never-CHECKED names are a
        # separate population the computed order puts at the front of
        # the rotation — stale_names' docstring has always
        # drawn this distinction, but the set here was computed as
        # registered - ever_green, which also swept up names registered
        # mid-round before their first driver window (found in r16, the
        # first round to register new queries after this gate landed).
        "registered_never_green_names": sorted(
            (registered & checked) - ever_green
        ),
    }


# Evidence-freshness enforcement (verdict r13 task #1): these helpers
# back the suite gate in tests/test_evidence_freshness.py, the same
# script-owned-logic/thin-test pattern as timing_compare/plan_sweep.


def stale_names(stats: dict, bound: int) -> list[str]:
    """Registered names whose last driver-green round trails the newest
    landed artifact by MORE than ``bound`` rounds.

    Names WITHOUT a last-green round are exempt here, which covers two
    distinct populations (r14 review): never-CHECKED names carry no
    evidence by definition and sort as round 0, i.e. to the front of
    the computed window, so they cannot hide; never-GREEN names
    (checked, red on every attempt) are a DEFECT, not a freshness
    problem, and are gated
    separately by ``test_every_registered_query_has_green_evidence``
    (ever_green == registered on the unbounded basis) so they cannot
    ride this exemption either.  An empty return means the freshness
    SLO holds.
    """
    newest = max(stats["rounds"], default=0)
    last_green = stats["last_green_round"]
    return sorted(
        n
        for n in stats["stale_order_names"]
        if n in last_green and newest - last_green[n] > bound
    )


def endangered_names(stats: dict, bound: int) -> list[str]:
    """Names whose evidence will EXCEED ``bound`` once the next round's
    artifact lands unless this round's window re-checks them — i.e. the
    names the CURRENT window must contain for the staleness SLO to be
    satisfiable at all.

    Endangered names are by construction the head of ``stale_order``,
    so the computed window (``list(registry.all_specs())[:50]``) holds
    them whenever fewer than 50 are endangered at once — the case the
    ``ceil(registered / 50)`` bound guarantees under full rotation.
    """
    newest = max(stats["rounds"], default=0)
    last_green = stats["last_green_round"]
    return sorted(
        n
        for n in stats["stale_order_names"]
        if n in last_green and (newest + 1) - last_green[n] > bound
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--json", action="store_true")
    ap.add_argument("--never", action="store_true", help="list never-checked names in registration order")
    ap.add_argument(
        "--stale-order",
        action="store_true",
        help="list ALL registered names oldest-evidence-first (last-green "
        "round ascending, registration order among ties) — the order "
        "registry.all_specs serves, whose first 50 are the driver window",
    )
    ap.add_argument("--max-round", type=int, default=None, help="bound the basis to rounds <= N")
    args = ap.parse_args()
    stats = audit(max_round=args.max_round)
    if args.json:
        # keep the machine-readable summary COMPACT: drop the per-query
        # collections (the *_names lists and the last_green_round dict),
        # not just keys matching the _names suffix convention
        print(
            json.dumps(
                {
                    k: v
                    for k, v in stats.items()
                    if not isinstance(v, (dict,))
                    and not k.endswith("_names")
                },
                indent=2,
            )
        )
    elif args.never:
        for name in stats["never_checked_names"]:
            print(name)
    elif args.stale_order:
        for name in stats["stale_order_names"]:
            print(name)
    else:
        print(
            f"rounds={stats['rounds']}  registered={stats['registered']}  "
            f"unique checked={stats['unique_checked']}  ever-green={stats['ever_green']}  "
            f"never-green={stats['never_green']}  never-checked={stats['never_checked']}  "
            f"net-new last round={stats['net_new_last_round']}"
        )
        if stats["checked_not_registered"]:
            print(f"WARNING checked-but-unregistered: {stats['checked_not_registered']}")


if __name__ == "__main__":
    main()
