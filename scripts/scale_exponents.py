#!/usr/bin/env python
"""Registry-wide SCALING EXPONENTS — the gate fixed-sf timing cannot be.

Every existing wall-time instrument compares rounds at a FIXED scale
factor, so a query whose cost grows super-linearly in the data — the
canonical 100 TB killer: a small-constant quadratic that reads seconds
at sf0.1 and would read hours at 1000x — passes the timing gate forever
as long as it is STABLE round-over-round.  The plan gates catch the
structural spellings of quadratic work (nested loops, cartesians), but
not data-driven blowups with innocent plans: an equi-join whose MATCH
cardinality grows as n^2 (fixed bucket space), an explode whose fan-out
scales, a skewed groupBy whose hot key concentrates super-linearly.

This script consumes two whole-registry timing sweeps
(scripts/time_registry.py --json) taken at different scale factors and
fits each query's measured growth exponent

    alpha = log(t_hi / t_lo) / log(data_hi / data_lo)

where the DATA ratio is the query's own input growth, not the sf label:
the synthetic tables scale unevenly (TPC-H planes 10x per decade, but
documents 500 -> 5,000 and embeddings 500 -> 2,000 over sf0.01 -> 0.1),
so each query's ratio is computed from the total rows of the tables its
registered DuckDB oracle references, read from the parquet footers of
the two sweep directories.  Using the raw sf ratio instead depresses
embeddings-plane exponents by log(10)/log(4) ~ 1.7x — measured: the
deliberately-quadratic all-pairs cosine baseline reads alpha 1.21
against sf labels but 2.01 against its true 4x data growth.

alpha ~ 0 is overhead-bound, ~1 linear, >ALPHA_FLAG with a material
high-sf wall flags unless the name is a documented deliberate baseline
(the all-pairs exactness pair, alpha ~ 1.5-2 BY DESIGN: they calibrate
the recall evals of their bucketed production twins).

The committed artifact is MACHINE-TIED to query code: ``_meta`` carries
a per-query code-closure fingerprint (rewindow_check's fingerprint
closure rules — comments/docstrings excluded, import closure
included), and the suite test recomputes fingerprints against the
working tree, so a rewritten query reddens until its rows are
re-measured.  The targeted-refresh path avoids re-sweeping all 369
names::

    python scripts/time_registry.py --sf-dir /root/testdata/sf0.01 \\
        --only q1,q2 --json lo_patch.json
    python scripts/time_registry.py --sf-dir /root/testdata/sf0.1 \\
        --only q1,q2 --json hi_patch.json
    python scripts/scale_exponents.py --lo lo_patch.json \\
        --hi hi_patch.json --patch SCALE_EXPONENTS.json

Instrument limits, stated rather than papered over:

* Single-run readings: one cold outlier at either sf perturbs alpha.
  The material floor (t_hi >= MATERIAL_SEC) and the flag threshold
  (ALPHA_FLAG, comfortably above linear + shuffle-log noise) absorb
  ordinary variance; a flag still deserves a re-run before adjudication.
* MEASURED growth, not asymptotic class: a query whose quadratic term
  has a small constant can read sub-threshold while linear stages still
  dominate.  The one known instance (multimodal_phash_dedup's
  pigeonhole-forced 16-bucket banding, Theta(n^2/16) candidates under
  a decode-dominated measured alpha of 1.08) was found by analysis,
  documented in ANALYTIC_SUPERLINEAR, and FIXED in r15 — the registry
  keeps ANALYTIC_SUPERLINEAR as the place such findings live while
  they await their rewrite.  The artifact records every alpha
  precisely so such tails are visible before they are the wall.
* MIXED-PLANE DILUTION: the data ratio sums rows across every table a
  query references, so a query quadratic in a slow-growing plane that
  also reads a fast-growing one fits a diluted alpha (quadratic in
  embeddings' 4x while scanning lineitem's 10x: wall 16x over summed
  ~10x = alpha 1.21, under the flag).  No such mixed-plane query exists
  today; rows whose referenced tables grow at materially different
  rates (>1.5x apart) carry ``"mixed": true`` so one appearing is
  visible and can be adjudicated per-plane.
* A fit whose LOW reading sat under the overhead floor with a MATERIAL
  high reading cannot be graded (the clamp deflates a true quadratic
  below the flag: t_lo 0.03 s clamped to 0.15 s turns alpha 2.0 into
  1.30) — such rows class ``needs-midpoint`` and FAIL the gate until a
  mid-sf reading resolves them.
* Queries whose inputs do not scale with sf (VALUES oracles, fixture
  XML, region/nation-only) are classed ``fixed-input`` and exempt — the
  exponent of a constant-size input is meaningless.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# One source of truth for the synthetic planes (r14 review: a
# hand-copied list would silently exempt a future plane from the gate —
# unmatched oracle tables class as fixed-input).
from discogs_etl_spark.tables import TABLE_NAMES  # noqa: E402

# Flag threshold on the fitted exponent.  Linear work is alpha = 1;
# sort/shuffle adds log factors (~1.05-1.1 over a decade); partition
# step effects and single-run variance add more.  1.35 sits above all
# of that (largest observed non-baseline: 1.08) and well below the
# 1.5-2.0 of the genuinely quadratic baselines, so a flag means "much
# closer to quadratic than linear", not "noisy reading".
ALPHA_FLAG = 1.35

# Gate only where the high-sf reading is material: below this the
# exponent is recorded (visibility) but not acted on — single-run noise
# on sub-second walls swamps the fit, and the structural plan gates own
# the algorithmic question there.
MATERIAL_SEC = 2.0

# Readings below this floor are clamped before the ratio: at small sf a
# query's wall is dominated by fixed per-query overhead (plan, submit,
# noop-sink commit), and dividing by an 0.08 s reading fabricates
# exponents.  A clamped LOW fit with a MATERIAL high reading cannot be
# graded and classes needs-midpoint (gate failure) instead.
FLOOR_SEC = 0.15

# Inputs must grow at least this much between the sweeps for a fit to
# mean anything; below it the query is classed fixed-input.
MIN_DATA_RATIO = 2.0

# Referenced tables growing at rates more than this factor apart mark
# the row "mixed" (dilution visibility — see the docstring limit).
MIXED_RATIO_SPREAD = 1.5

# Tables at or below this growth are STATIC DIMENSIONS (region/nation
# style, constant by design) and sit out the mixed-spread check — a
# lineitem x nation join is not "mixed", it is a fact table with a
# constant dim.  Anything above it that still scales (even under
# MIN_DATA_RATIO, e.g. a hypothetical 1.9x plane) DOES join the spread
# check (r14 review: cutting at MIN_DATA_RATIO let a genuinely scaling
# slow plane escape the marker the docstring promises).
STATIC_DIM_RATIO = 1.25

# Oracles that read files derived from a scaling table rather than the
# table itself — word-matching the SQL cannot see through the path
# literal, so the input plane is declared here explicitly.
EXTRA_TABLES: dict[str, list[str]] = {
    # writes a lake from events, then reads it back via read_parquet
    "stream_events_lake_roundtrip": ["events"],
}

# Deliberate super-linear baselines — each must ALSO be flagged by the
# current artifact (a stale allowance fails the suite test, the same
# rule the plan-sweep ALLOWED list lives under).  Rationale per name:
SUPERLINEAR_BASELINES: dict[str, str] = {
    # The gate's DEDICATED quadratic positive control (r19): a
    # fixed-bucket-space equi-join over embeddings whose match
    # cardinality is n(n-1)/2 with a fixture-pinned 8-round md5 chain
    # per pair — the gate's own blind-spot class (innocent plan,
    # quadratic matches), registered solely so the flag threshold
    # always has one query provably tripping it.  Measured alpha ~1.55
    # vs ALPHA_FLAG 1.35 (calibration in the query docstring and
    # OPTIMIZATION_r19.md).  Unlike the two previous controls (cosine,
    # then jaccard-prefix — both real baselines whose constant-factor
    # rewrites de-flagged them), this one has no production purpose to
    # optimize FOR; a rewrite that accelerates it is by definition
    # breaking the instrument.
    "gate_control_quadratic_join": "exponent-gate quadratic positive control",
}

# Known-by-analysis super-linear queries whose MEASURED alpha is still
# sub-threshold because a linear stage dominates at the tested scales —
# documented so the instrument's blind spot is on the record, with the
# remedy that unlocks the next order of magnitude.  EMPTY since r15:
# the one entry (multimodal_phash_dedup's pigeonhole-forced 16-bucket
# banding, Theta(n^2/16) candidates) was fixed by the staged rewrite —
# 64-bit hash, 8-bit bands (256 buckets/band), exact-hash pre-grouping,
# and popcount verification over packed BIGINTs (sf0.1 wall 15.4 s →
# ~2 s).  The remaining super-linear term there is output-sized pair
# emission, which no pair-emitting dedup can avoid.
ANALYTIC_SUPERLINEAR: dict[str, str] = {
    # All-pairs exact cosine, O(n²) BY DESIGN (the exactness baseline
    # calibrating the LSH/IVF/bucketed recall evals) — but since the
    # r18 per-pair rewrite (unrolled in-order dot over hoisted norms,
    # cheap-conjunct-first: 83.7 → ~9 s at sf0.1, values bit-identical)
    # the per-pair constant is small enough that per-session fixed
    # overhead dominates BOTH fixture readings and the measured alpha
    # sits at 1.207 in the committed artifact (class linearish, under
    # the 1.35 flag).  The quadratic term is still there analytically
    # (125k pairs at sf0.01 → 2M at sf0.1) and would re-flag one order
    # of magnitude up; at 100 TB the production path remains the
    # bucketed/LSH twins.
    "dedup_embedding_cosine": "all-pairs exact cosine recall baseline",
    # Exact Jaccard via PPJoin prefix filtering: CANDIDATE growth is
    # measured super-quadratic on the fixtures (3.3k candidate pairs at
    # sf0.01 → 325k at sf0.1 after the r19 length+positional filters —
    # the synthetic low-vocabulary corpus is adversarial for prefix
    # pruning), but the r19 rewrite (compute-once shingle arrays
    # attached to candidates instead of per-pair re-shingling:
    # 182.8 → ~8 s at sf0.1) shrank the per-candidate constant until
    # fixed overhead dominates the LO reading and the measured alpha
    # sits under the flag.  Pair-emission cost remains candidate-bound
    # by construction; the gate's measured positive control is now the
    # dedicated gate_control_quadratic_join above.
    "dedup_jaccard_prefix_filter": "all-pairs exact Jaccard recall baseline",
}


def classify(alpha: float, t_lo: float, t_hi: float) -> str:
    if t_hi < MATERIAL_SEC:
        return "immaterial"
    if t_lo < FLOOR_SEC:
        return "needs-midpoint"  # clamped denominator: fit ungradable
    if alpha > ALPHA_FLAG:
        return "superlinear"
    if alpha > 0.5:
        return "linearish"
    return "overhead-bound"


def table_rows(sf_dir: str) -> dict[str, int]:
    """Row counts per table from the parquet footers (no scan)."""
    import pyarrow.parquet as pq

    return {
        t: pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows
        for t in TABLE_NAMES
    }


def _strip_sql(sql: str) -> str:
    """Drop string-literal contents and comments in ONE quote-aware
    pass.  The earlier two-regex version stripped literals before
    comments, so an unpaired apostrophe inside a ``--`` comment (e.g.
    "Spark's") paired with a later REAL quote and swallowed the SQL
    between them — table reads vanished and the query was misclassified
    as fixed-input, exempting it from the exponent gate (r15 ADVICE).
    A scanner has no ordering problem: a quote inside a comment never
    opens a literal, and ``--`` / ``/*`` inside a literal never opens
    a comment.  ``''`` escapes inside literals are honoured.
    Double-quoted identifiers are a third region (second review pass):
    their CONTENTS are kept (a quoted table name is still a read) but
    ``'`` / ``--`` / ``/*`` inside them are inert, so an identifier
    like ``"a--b"`` cannot open a comment and swallow later reads."""
    out: list[str] = []
    i, n = 0, len(sql)
    in_str = False
    in_ident = False
    while i < n:
        ch = sql[i]
        if in_str:
            if ch == "'":
                if i + 1 < n and sql[i + 1] == "'":  # '' escape
                    i += 2
                    continue
                in_str = False
                out.append("'")
            i += 1
            continue
        if in_ident:
            if ch == '"':
                if i + 1 < n and sql[i + 1] == '"':  # "" escape
                    out.append('""')
                    i += 2
                    continue
                in_ident = False
            out.append(ch)
            i += 1
            continue
        if ch == "'":
            in_str = True
            out.append("'")  # keep delimiters, drop contents
            i += 1
            continue
        if ch == '"':
            in_ident = True
            out.append(ch)
            i += 1
            continue
        if ch == "-" and sql.startswith("--", i):
            j = sql.find("\n", i)
            i = n if j == -1 else j  # keep the newline itself
            continue
        if ch == "/" and sql.startswith("/*", i):
            j = sql.find("*/", i)
            i = n if j == -1 else j + 2
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def oracle_tables(name: str, sql: str | None) -> list[str]:
    """Input tables a registered oracle references, by word-boundary
    match with single-quoted string literals AND SQL comments stripped
    first (a path, LIKE pattern, or '-- per-part revenue ...' comment
    containing a table name is not a read — r14 review; the comment
    case was live in supply_single_source_risk, harmless only because
    all TPC-H planes grow alike); file-dependent oracles declare their
    plane in EXTRA_TABLES.  Stripping is a single quote-state-aware
    scan (``_strip_sql``) so an apostrophe inside a comment cannot
    swallow table references (r15 ADVICE)."""
    if name in EXTRA_TABLES:
        return EXTRA_TABLES[name]
    if not sql:
        return []
    stripped = _strip_sql(sql)
    return [t for t in TABLE_NAMES if re.search(rf"\b{t}\b", stripped)]


def data_ratio(
    tables: list[str], rows_lo: dict, rows_hi: dict
) -> tuple[float | None, bool]:
    """(total-row growth of the query's inputs, mixed-plane marker);
    ratio None when the query reads nothing that scales (fixed-input)."""
    lo = sum(rows_lo[t] for t in tables)
    hi = sum(rows_hi[t] for t in tables)
    if lo <= 0 or hi / lo < MIN_DATA_RATIO:
        return None, False
    per = [
        rows_hi[t] / rows_lo[t]
        for t in tables
        if rows_lo[t] > 0 and rows_hi[t] / rows_lo[t] > STATIC_DIM_RATIO
    ]
    mixed = bool(per) and max(per) / min(per) > MIXED_RATIO_SPREAD
    return hi / lo, mixed


def exponents(
    lo: dict[str, float | None],
    hi: dict[str, float | None],
    oracles: dict[str, str | None],
    rows_lo: dict[str, int],
    rows_hi: dict[str, int],
) -> dict[str, dict]:
    """Per-query {t_lo, t_hi, ratio, alpha, class} over the names in
    BOTH sweeps (meta keys excluded)."""
    out: dict[str, dict] = {}
    for name in sorted(set(lo) & set(hi)):
        if name.startswith("_"):
            continue
        t_lo, t_hi = lo[name], hi[name]
        row: dict = {"t_lo": t_lo, "t_hi": t_hi}
        if t_lo is None or t_hi is None:
            out[name] = {**row, "ratio": None, "alpha": None, "class": "error"}
            continue
        ratio, mixed = data_ratio(
            oracle_tables(name, oracles.get(name)), rows_lo, rows_hi
        )
        if ratio is None:
            out[name] = {**row, "ratio": None, "alpha": None, "class": "fixed-input"}
            continue
        alpha = round(
            math.log(max(t_hi, FLOOR_SEC) / max(t_lo, FLOOR_SEC)) / math.log(ratio),
            3,
        )
        out[name] = {
            **row,
            "ratio": round(ratio, 2),
            "alpha": alpha,
            "class": classify(alpha, t_lo, t_hi),
        }
        if mixed:
            out[name]["mixed"] = True
    return out


def flagged(table: dict[str, dict]) -> list[str]:
    """Names whose measured growth is super-linear AND material."""
    return sorted(n for n, row in table.items() if row["class"] == "superlinear")


def undocumented_flags(table: dict[str, dict]) -> list[str]:
    return [n for n in flagged(table) if n not in SUPERLINEAR_BASELINES]


def ungradable(table: dict[str, dict]) -> list[str]:
    """error rows (a crash during a sweep is the strongest possible
    super-linear signal, not a pass — r14 review) plus clamped-low fits
    with material high readings: both FAIL the gate until resolved."""
    return sorted(
        n for n, row in table.items() if row["class"] in ("error", "needs-midpoint")
    )


def stale_allowances(table: dict[str, dict]) -> list[str]:
    """Allowlisted names the current artifact does NOT flag — prune them
    (the query got fixed or the baseline was removed) so the allowlist
    can only shrink honestly."""
    f = set(flagged(table))
    return sorted(n for n in SUPERLINEAR_BASELINES if n in table and n not in f)


def current_fingerprints() -> dict[str, str]:
    spec = importlib.util.spec_from_file_location(
        "rewindow_check",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "rewindow_check.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.current_fingerprints()


def resolve_fingerprints(names, lo: dict, hi: dict) -> tuple[dict[str, str], list[str]]:
    """(per-name fingerprint to stamp, names the two sweeps do not
    certify as ONE measured implementation).

    The stamp must describe the code the sweeps MEASURED, not whichever
    tree later runs the fit (r14 review: an edit between sweep and fit
    would get a fresh stamp on stale readings), so it comes only from
    the sweeps' own ``_code_fingerprints``.  Both sides must stamp a
    name and AGREE; a disagreement means the code changed between the
    two sweeps, and a missing stamp leaves that possibility open.
    Either way the name is mismatched: it gets no stamp and stays stale
    until it is re-swept at both sfs.
    """
    lo_fps = lo.get("_code_fingerprints", {})
    hi_fps = hi.get("_code_fingerprints", {})
    out: dict[str, str] = {}
    mismatched: list[str] = []
    for name in names:
        a, b = lo_fps.get(name), hi_fps.get(name)
        if a is not None and a == b:
            out[name] = a
        else:
            mismatched.append(name)
    return out, sorted(mismatched)


def stale_fingerprints(artifact: dict, current: dict[str, str]) -> list[str]:
    """Names whose measured rows predate their current code (fingerprint
    mismatch or never fingerprinted) — re-measure via the targeted
    refresh path.  Names present in ``current`` but absent from the
    artifact are the coverage test's job, not this one's."""
    stamped = artifact.get("_meta", {}).get("code_fingerprints", {})
    return sorted(
        n
        for n in current
        if n in artifact and stamped.get(n) != current[n]
    )


def _check_provenance(label: str, sweep: dict, sf_dir: str, rows: dict) -> None:
    """A sweep's stamped table rows must match the dir the exponents are
    being fit against; an unstamped sweep cannot be paired at all."""
    if "_table_rows" not in sweep:
        sys.exit(
            f"{label} sweep carries no _table_rows provenance stamp — "
            f"its pairing with {sf_dir} cannot be verified; re-sweep with "
            "scripts/time_registry.py --json"
        )
    if sweep["_table_rows"] != rows:
        sys.exit(
            f"{label} sweep was taken against different data than {sf_dir} "
            f"(stamped rows {sweep['_table_rows']} != footer rows {rows}) — "
            "mismatched sweep/dir pairing fabricates exponents"
        )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--lo", required=True, help="time_registry JSON at the LOW sf")
    ap.add_argument("--hi", required=True, help="time_registry JSON at the HIGH sf")
    ap.add_argument("--lo-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--hi-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--json", help="write the exponents artifact here")
    ap.add_argument(
        "--patch",
        help="existing artifact: replace ONLY the rows for names present "
        "in both --lo and --hi (targeted refresh after a query change), "
        "restamping just those names' code fingerprints — untouched "
        "names keep their old stamps so unrefreshed changes still redden",
    )
    ap.add_argument("--top", type=int, default=15)
    args = ap.parse_args()
    if args.patch and args.json:
        # A combined run would rebuild the FULL artifact with fresh
        # stamps for every name, defeating --patch's "untouched names
        # keep their old stamps so unrefreshed changes still redden".
        ap.error("--patch and --json are mutually exclusive")

    from discogs_etl_spark.registry import all_specs

    oracles = {n: s.oracle for n, s in all_specs().items()}
    rows_lo, rows_hi = table_rows(args.lo_dir), table_rows(args.hi_dir)
    lo, hi = json.load(open(args.lo)), json.load(open(args.hi))
    _check_provenance("--lo", lo, args.lo_dir, rows_lo)
    _check_provenance("--hi", hi, args.hi_dir, rows_hi)
    for label, sweep in (("--lo", lo), ("--hi", hi)):
        if "_only" in sweep and args.json:
            print(
                f"note: {label} is a PARTIAL sweep (--only "
                f"{len(sweep['_only'])} names) — a full artifact built "
                "from it will fail the registry-coverage test; use "
                "--patch for targeted refreshes"
            )
    table = exponents(lo, hi, oracles, rows_lo, rows_hi)

    fps, sweep_mismatch = resolve_fingerprints(sorted(table), lo, hi)

    if args.patch:
        artifact = json.loads(open(args.patch).read())
        unregistered = sorted(set(table) - set(oracles))
        if unregistered:
            sys.exit(
                f"sweeps time names that are no longer registered: "
                f"{unregistered} — re-sweep with --only over current names"
            )
        stamps = artifact.setdefault("_meta", {}).setdefault(
            "code_fingerprints", {}
        )
        for name, row in table.items():
            artifact[name] = row
            if name in fps:
                stamps[name] = fps[name]
            else:
                stamps.pop(name, None)  # mismatched sweeps: stays stale
        with open(args.patch, "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"patched {len(table)} rows into {args.patch}")
        table = {n: r for n, r in artifact.items() if not n.startswith("_")}

    ranked = sorted(
        (r["alpha"], n) for n, r in table.items() if r["alpha"] is not None
    )
    print(f"exponents over {len(table)} queries ({args.lo} -> {args.hi}):")
    for alpha, name in ranked[-args.top :][::-1]:
        r = table[name]
        mark = " *" if r["class"] == "superlinear" else ""
        print(
            f"  alpha={alpha:5.2f}  {name}  ({r['t_lo']:.2f}s -> "
            f"{r['t_hi']:.2f}s over {r['ratio']}x data){mark}"
        )
    n_fixed = sum(1 for r in table.values() if r["class"] == "fixed-input")
    n_mixed = sum(1 for r in table.values() if r.get("mixed"))
    print(f"({n_fixed} fixed-input queries exempt — inputs do not scale with sf)")
    if n_mixed:
        print(f"({n_mixed} mixed-plane rows — dilution limit applies, see docstring)")

    bad = undocumented_flags(table)
    ungr = ungradable(table)
    stale = stale_allowances(table)
    if args.json:
        artifact = {
            "_meta": {
                "lo_source": args.lo,
                "hi_source": args.hi,
                "lo_rows": rows_lo,
                "hi_rows": rows_hi,
                "alpha_flag": ALPHA_FLAG,
                "material_sec": MATERIAL_SEC,
                "floor_sec": FLOOR_SEC,
                "min_data_ratio": MIN_DATA_RATIO,
                "mixed_ratio_spread": MIXED_RATIO_SPREAD,
                "static_dim_ratio": STATIC_DIM_RATIO,
                "code_fingerprints": fps,
            },
            **table,
        }
        with open(args.json, "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {args.json}")
    for n in sweep_mismatch:
        print(
            f"SWEEP MISMATCH: {n} is not stamped with ONE code fingerprint "
            "by both sweeps (sweep-time fingerprints disagree or are "
            "missing) — the row fits no certified implementation; "
            "re-sweep it at both sfs"
        )

    for n in stale:
        print(
            f"STALE ALLOWANCE: {n} is in SUPERLINEAR_BASELINES but not "
            "flagged by this artifact — prune it"
        )
    for n in ungr:
        r = table[n]
        why = (
            "errored during a sweep — a crash at scale is the strongest "
            "super-linear signal, not a pass"
            if r["class"] == "error"
            else f"low reading {r['t_lo']}s sat under the {FLOOR_SEC}s "
            "overhead floor with a material high reading — the clamp "
            "would deflate a true quadratic; take a mid-sf reading"
        )
        print(f"UNGRADABLE: {n} ({r['class']}): {why}")
    if bad:
        for n in bad:
            r = table[n]
            print(
                f"SUPERLINEAR: {n} alpha={r['alpha']} ({r['t_lo']}s -> "
                f"{r['t_hi']}s over {r['ratio']}x data) — not a documented "
                "baseline; audit the plan and the match cardinality"
            )
    if bad or ungr or stale or sweep_mismatch:
        return 1
    print("gate PASS: every material super-linear query is a documented baseline")
    return 0


if __name__ == "__main__":
    sys.exit(main())
