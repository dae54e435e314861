"""Query/oracle registry.

Every operator the engine claims (SURVEY.md §2) is registered here as a
named query builder ``fn(spark, sf_dir) -> DataFrame`` together with an
equivalent ANSI/DuckDB SQL string (the correctness oracle).  The driver
contract (``__spark_entry__.py``) and the local pytest harness both consume
this registry, so "implemented" always means "oracle-checked".

Determinism rules every registered query follows (so the driver's
order-insensitive value-hash matches bit-for-bit):

- Money/measure sums go through ``DECIMAL`` so the result is independent of
  floating-point accumulation order (Spark sums partitions in parallel,
  DuckDB in its own order; double addition is not associative).  Pattern:
  ``CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`` on both sides.
- Derived floats are ``round()``-ed to a fixed scale on both sides.
- Every computed column is aliased identically on both sides.
- ``LIMIT`` always rides on a total ``ORDER BY`` with a unique tie-break.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}

# Canonical registration order, import-order-INDEPENDENT.  ``_REGISTRY``
# insertion order depends on which module a process happens to import
# first (a pytest session that touches ``curation`` before ``analytics``
# registers the llm block ahead of the analytics block), but the
# evidence-rotation basis ("registration order among last-green ties",
# ``stale_order``) must be reproducible in ANY process.  Each
# name therefore gets a (module rank, in-module sequence) key at
# registration time: ranks follow ``_load_all``'s import order — which
# a clean process realizes as one contiguous block per module — and the
# in-module sequence is file order, so sorting by this key reproduces
# the clean-process order exactly no matter who imported what first.
_MODULE_RANK: dict[str, int] = {
    "discogs_etl_spark.multimodal": 0,
    "discogs_etl_spark.scale": 1,
    "discogs_etl_spark.queries.analytics": 2,
    "discogs_etl_spark.queries.etl_roundtrip": 3,
    "discogs_etl_spark.queries.llm": 4,
    "discogs_etl_spark.queries.python_api": 5,
    "discogs_etl_spark.queries.stats": 6,
    "discogs_etl_spark.streaming.events": 7,
}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL twin; None → driver does rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""
    bench: bool = False  # include in bench.py's headline set


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query builder with its DuckDB oracle twin."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tuple(tags), doc=fn.__doc__ or "", bench=bench
        )
        return fn

    return deco


def registration_order() -> list[str]:
    """Registered names in CANONICAL registration order — the order a
    clean ``_load_all`` process inserts them — regardless of the import
    history of the calling process.  ``stale_order`` breaks last-green
    ties with it, so a pytest session that imported modules in a
    different order computes the same rotation.

    The key is DERIVED here, not recorded at registration time (keeping
    ``register``'s AST untouched keeps every query's rewindow closure
    clean): decorators run top-to-bottom within a module no matter who
    triggered the import, so each name's index within its own module's
    insertion subsequence is already import-order-invariant; only the
    inter-module order varies, and ``_MODULE_RANK`` pins that."""
    _load_all()
    counters: dict[str, int] = {}
    unknown = len(_MODULE_RANK)
    key: dict[str, tuple[int, int]] = {}
    for name, spec in _REGISTRY.items():
        mod = spec.fn.__module__
        seq = counters.get(mod, 0)
        counters[mod] = seq + 1
        # Unknown modules (test-local registrations) rank after every
        # product module; ties among them keep insertion order via
        # sorted()'s stability.
        key[name] = (_MODULE_RANK.get(mod, unknown), seq)
    return sorted(_REGISTRY, key=lambda n: key[n])


def _load_all() -> None:
    # Import for side effect: modules register their queries on import.
    from discogs_etl_spark import multimodal, scale  # noqa: F401
    from discogs_etl_spark.queries import (  # noqa: F401
        analytics,
        etl_roundtrip,
        llm,
        python_api,
        stats,
    )
    from discogs_etl_spark.streaming import events  # noqa: F401


# Evidence-rotation window.  The verification driver checks the FIRST 50
# registered queries per round and lands its verdict as
# CORRECTNESS_r<N>.json in the repo root.  ``all_specs`` orders the
# registry from those artifacts: oldest driver evidence first (last-green
# round ascending, never-green names as round 0, canonical registration
# order among ties), so the driver's next 50 are always the stalest names
# and a newly landed artifact rotates the window with no source edit.
_REPO_ROOT = Path(__file__).resolve().parent.parent


def round_artifacts(artifacts_dir: Path = _REPO_ROOT) -> list[tuple[int, Path]]:
    """(round, path) for every CORRECTNESS_r<N>.json, oldest round first."""
    out = []
    for p in artifacts_dir.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name)
        if m:
            out.append((int(m.group(1)), p))
    return sorted(out)


def is_green(row: dict) -> bool:
    """A driver row passed: no error and every ``*_match`` flag true.
    Oracle-backed rows carry three match flags, rows-only checks at least
    ``rows_match``."""
    if row.get("err"):
        return False
    flags = [v for k, v in row.items() if k.endswith("_match")]
    return bool(flags) and all(flags)


def green_by_round(artifacts_dir: Path = _REPO_ROOT) -> dict[int, dict[str, bool]]:
    """round -> {query name: driver-green?} over every landed artifact."""
    return {
        n: {name: is_green(row) for name, row in json.loads(p.read_text()).items()}
        for n, p in round_artifacts(artifacts_dir)
    }


def last_green_round(by_round: dict[int, dict[str, bool]]) -> dict[str, int]:
    """query name -> newest round whose driver row was green."""
    return {name: n for n in sorted(by_round) for name, ok in by_round[n].items() if ok}


def stale_order(last_green: dict[str, int]) -> list[str]:
    """Registered names oldest-evidence-first: a stable sort of
    ``registration_order()`` by last-green round, absent names as 0."""
    return sorted(registration_order(), key=lambda n: last_green.get(n, 0))


# Evidence-freshness bound enforced by tests/test_evidence_freshness.py.
# 380 names / 50 driver checks per round => every name re-verified
# within ceil(380/50) = 8 rounds under oldest-first rotation.
MAX_EVIDENCE_AGE_ROUNDS = 8


def all_specs(artifacts_dir: Path = _REPO_ROOT) -> dict[str, QuerySpec]:
    """Every registered spec, ordered by ``stale_order`` over the
    CORRECTNESS artifacts in ``artifacts_dir``."""
    order = stale_order(last_green_round(green_by_round(artifacts_dir)))
    return {name: _REGISTRY[name] for name in order}


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None
    }


def bench_specs() -> dict[str, QuerySpec]:
    return {name: s for name, s in all_specs().items() if s.bench}
