"""Plane C — LLM-data-pipeline operators (SURVEY.md §2.12).

Dedup (exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine),
similarity search (brute-force top-k, sign-LSH bucketed ANN), and text
analysis (stats, quality scoring, token counting, fingerprinting,
corpus-learned language ID), all over the ``documents`` / ``embeddings``
fixture tables.

Design constraints:

- Every operator is a declarative DataFrame plan (joins + aggregates +
  windows + higher-order array functions) — no Python on the hot path, so
  the same plan scales to a 1000-executor cluster.
- Hashing uses md5 hex strings (identical across engines) and min() over
  them, so even the MinHash/LSH pipelines have exact DuckDB oracle twins —
  the LSH bucketing is deterministic, not merely "approximately checked".
- Cosine similarities are computed as in-order double folds (Spark
  ``aggregate`` ≡ DuckDB ``list_dot_product`` on DOUBLE[]), making the
  doubles bit-identical on both engines; displayed values are rounded.

Scale notes per operator describe the 100 TB shape (what shuffles on what
key, where candidate-pair explosion is capped).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from discogs_etl_spark.queries._util import half_up_long
from discogs_etl_spark.registry import register
from discogs_etl_spark.tables import load

# ---------------------------------------------------------------------------
# shared column builders
# ---------------------------------------------------------------------------


def _words(col: str = "text") -> Column:
    return F.split(F.col(col), " ")


# Distinct word-3-gram shingles over a WORD-ARRAY column {w}.  Two rules,
# both measured:
# - {w} must be a bare column reference (not the split expression): lambda
#   bodies re-evaluate their inputs per element, so handing split(text)
#   directly to transform re-splits the text once per shingle (3x slower).
#   Callers stage the split behind a projection (_with_shingles).
# - Expressions are SQL strings (selectExpr/F.expr), not F.* lambda
#   builders: each Python lambda costs a py4j function-wrapper round-trip
#   at plan-build time — SQL parses JVM-side in one call.
# Oracle twin: list_distinct(list_transform(range(1, len(w)-1),
# i -> array_to_string(w[i:i+2], ' '))).
_SHINGLES_SQL = (
    "array_distinct(CASE WHEN size({w}) >= 3 "
    "THEN transform(sequence(1, size({w}) - 2), i -> array_join(slice({w}, i, 3), ' ')) "
    "ELSE array() END)"
)


def _shingles_of(w: Column) -> Column:
    """Column-API shim over :data:`_SHINGLES_SQL` (kept for callers that
    already hold a Column)."""
    seq = F.sequence(F.lit(1), F.size(w) - 2)
    shingles = F.transform(seq, lambda i: F.array_join(F.slice(w, i, 3), " "))
    return F.array_distinct(
        F.when(F.size(w) >= 3, shingles).otherwise(F.array().cast("array<string>"))
    )


def _with_shingles(df: DataFrame, *keep: str) -> DataFrame:
    """Project ``keep`` columns plus a ``shingles`` array column, with the
    word split materialized in its own projection stage."""
    return df.selectExpr(*keep, "split(text, ' ') AS __w").selectExpr(
        *keep, _SHINGLES_SQL.format(w="__w") + " AS shingles"
    )


def _posting_pair_counts(sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_common) pair counts from an exploded
    ``(doc_id, sh)`` posting stream — the shared core of the exact
    set-similarity family (Jaccard, containment, threshold sweep and
    their compositions).

    r19 shape (guide §2.4): ONE collect_list per shingle key plus
    in-list pair emission, replacing the exploded self-join
    (``a JOIN b ON a.sh = b.sh AND a.doc_id < b.doc_id``).  The old
    join exchanged/sorted or hash-built the SAME exploded subtree
    twice and re-ran the shingle computation per side; this builds it
    once and emits pairs map-side off the grouped lists.  Equivalence:
    each posting list holds a doc at most once (shingles are
    array_distinct'ed), ``sort_array`` orders by doc_id, and (i, j>i)
    in-list emission yields exactly one (doc_a < doc_b) row per shared
    shingle — the identical multiset the join's groupBy counted.
    Measured 3.05 -> 1.93 s at sf0.1 for the bare pipeline.  Scale:
    a hot shingle's posting list is the same hot key the self-join
    had; the prefix-filter/MinHash variants remain the 100 TB paths."""
    posts = (
        sh.groupBy("sh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .where(F.size("ds") >= 2)
    )
    return (
        posts.select(F.posexplode("ds").alias("i", "doc_a"), "ds")
        .select(
            "doc_a",
            F.explode(F.expr("slice(ds, i + 2, size(ds) - i - 1)")).alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


_SQL_WORDS = "string_split(text, ' ')"
_SQL_TRIGRAMS = (
    "list_distinct(list_transform("
    f"range(1, greatest(len({_SQL_WORDS}) - 1, 1)), "
    f"i -> array_to_string(({_SQL_WORDS})[i:i+2], ' ')))"
)


# Fixture embedding width (all three fixture sets carry uniformly
# 64-wide vectors; the power-iteration start vector and the Matryoshka
# slices already assume it).  Passing it to _dot/_cosine unrolls the
# fold — see _dot.  Unrolled-dot call sites must take the width from
# _checked_emb_dim, never this constant directly: a[i] past the true
# array length is NULL, which propagates through the cosine and
# SILENTLY DROPS pairs from the join — a narrower regenerated fixture
# must fail loudly instead (r18 ADVICE).
_EMB_DIM = 64

_EMB_DIM_CHECKED: dict[tuple[str, str], int] = {}


def _checked_emb_dim(spark: SparkSession, sf_dir: str) -> int:
    """``_EMB_DIM``, runtime-asserted against the actual embeddings
    table once per (session, sf_dir) — one min/max(size) aggregate over
    the id-and-width projection (footer-cheap), memoized like
    session_memo's caches.  Raises if ANY vector's width differs, so
    the unrolled fold can never silently NULL out pairs."""
    app = spark.sparkContext.applicationId
    for k in [k for k in _EMB_DIM_CHECKED if k[0] != app]:
        del _EMB_DIM_CHECKED[k]
    key = (app, sf_dir)
    if key not in _EMB_DIM_CHECKED:
        row = (
            load(spark, sf_dir, "embeddings")
            .agg(
                F.min(F.size("embedding")).alias("lo"),
                F.max(F.size("embedding")).alias("hi"),
            )
            .first()
        )
        if row.lo != _EMB_DIM or row.hi != _EMB_DIM:
            raise ValueError(
                f"embeddings at {sf_dir} carry widths "
                f"[{row.lo}, {row.hi}] but the unrolled dot product is "
                f"compiled for fixed width {_EMB_DIM}; regenerate the "
                "fixture at that width or update _EMB_DIM — out-of-"
                "bounds indexing would silently drop pairs, not error"
            )
        _EMB_DIM_CHECKED[key] = _EMB_DIM
    return _EMB_DIM


def _dot(a: Column, b: Column, w: int | None = None) -> Column:
    """In-order double dot product — same accumulation order as DuckDB's
    list_dot_product, so results are bit-identical.

    When the fixed array width ``w`` is known (every embeddings column:
    _EMB_DIM), the fold is UNROLLED into a flat left-associated Add
    chain — term-for-term the identical double sequence (same 0.0 seed,
    same per-element products, same accumulation order → bit-identical),
    but compiled by expression codegen instead of interpreted per
    element: ``aggregate``'s lambda evaluation walks an interpreted
    closure per array cell, measured 5-7x slower than the compiled
    chain on the pair-join hot paths (guide §1.2 per-task work;
    OPTIMIZATION_r18.md batch 3)."""
    if w is not None:
        acc: Column = F.lit(0.0)
        for i in range(w):
            acc = acc + (a[i] * b[i])
        return acc
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _cosine(a: Column, b: Column, w: int | None = None) -> Column:
    return _dot(a, b, w) / (F.sqrt(_dot(a, a, w)) * F.sqrt(_dot(b, b, w)))


_SQL_COS = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
)


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
        SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
        FROM documents
        GROUP BY text
    """,
    tags=("dedup", "exact"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on full content, keep the smallest doc_id.

    Scale: shuffling full document text as the group key is wasteful at
    100 TB — use dedup_exact_hash (64-byte key) instead; this variant is
    the semantic baseline."""
    return (
        load(spark, sf_dir, "documents")
        .groupBy("text")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_doc_id", "n_copies")
    )


@register(
    "dedup_exact_hash",
    oracle="""
        SELECT sha256(text) AS content_sha256,
               MIN(doc_id) AS keep_doc_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY sha256(text)
    """,
    tags=("dedup", "exact", "hash"),
    bench=True,
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash exact dedup — the 100 TB shape: map-side sha256 turns
    arbitrarily long documents into fixed 64-char shuffle keys; partial
    aggregation dedupes within partitions before the exchange."""
    return (
        load(spark, sf_dir, "documents")
        .groupBy(F.sha2("text", 256).alias("content_sha256"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


_NGRAM_ORACLE = f"""
    WITH sh AS (
        SELECT doc_id, unnest({_SQL_TRIGRAMS}) AS sh FROM documents
    ),
    m AS (SELECT doc_id, COUNT(*) AS m FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(CAST(n_common AS DOUBLE) / (ma.m + mb.m - n_common), 6) AS jaccard
    FROM inter
    JOIN m ma ON doc_a = ma.doc_id
    JOIN m mb ON doc_b = mb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (ma.m + mb.m - n_common) >= 0.3
"""


@register(
    "dedup_ngram_jaccard",
    oracle=_NGRAM_ORACLE,
    tags=("dedup", "ngram", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact word-3-gram Jaccard ≥ 0.3.

    Candidate pairs come from an inverted index on shingles (only docs
    sharing a shingle are compared — never a cross join).  r19: the
    index is consumed as POSTING LISTS (one collect_list per shingle +
    in-list position-ordered pair emission) instead of an exploded
    self-join — the shingle subtree builds ONCE instead of twice, and
    the build-a-hash-relation/probe machinery of the self-join is gone;
    per-pair emission and the (doc_a, doc_b) count are unchanged, so
    n_common is the identical multiset (oracle-exact at all three
    fixture sfs; guide §2.4, OPTIMIZATION_r19.md).  Scale: posting
    lists blow up on very common shingles exactly where the old join's
    hot keys did; the prefix-filter variant and the MinHash variant
    below are the 100 TB paths, this one is the exact verifier."""
    docs = _with_shingles(load(spark, sf_dir, "documents"), "doc_id")
    sh = docs.select("doc_id", F.explode("shingles").alias("sh"))
    # |shingle set| is the ARRAY SIZE — shingles is array_distinct'ed, so
    # size(shingles) equals the old explode+count per doc exactly (docs
    # with zero shingles gain an m row, but m is only ever inner-joined
    # to pair docs, which by construction have >= 1 shingle).  Removes a
    # full shingle re-explode + aggregation exchange per query (r18,
    # guide §2.4); the doc-sized m side broadcasts as before.
    m = docs.select("doc_id", F.size("shingles").cast("bigint").alias("m"))
    inter = _posting_pair_counts(sh)
    ma = m.select(F.col("doc_id").alias("doc_a"), F.col("m").alias("m_a"))
    mb = m.select(F.col("doc_id").alias("doc_b"), F.col("m").alias("m_b"))
    jacc = F.col("n_common").cast("double") / (
        F.col("m_a") + F.col("m_b") - F.col("n_common")
    )
    return (
        inter.join(ma, "doc_a")
        .join(mb, "doc_b")
        .where(jacc >= 0.3)
        .select("doc_a", "doc_b", F.round(jacc, 6).alias("jaccard"))
    )


@register(
    "dedup_jaccard_prefix_filter",
    oracle=_NGRAM_ORACLE,
    tags=("dedup", "ngram", "jaccard", "prefix_filter"),
)
def dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard ≥ 0.3 pairs via PREFIX FILTERING (PPJoin/AllPairs,
    Xiao'08 / Bayardo'07): order each doc's shingles RARE-FIRST by global
    frequency and index only the first L − ⌈t·L⌉ + 1 of them — two docs
    with Jaccard ≥ t MUST share a prefix token (pigeonhole on the
    overlap bound), so candidates shrink with NO false negatives and the
    output is bit-identical to dedup_ngram_jaccard (same oracle).

    This is the exact-similarity-join scale fix the full inverted-index
    self-join lacks: the index drops every doc's frequent tail, so the
    hot-shingle posting lists that blow up the naive join (the weakness
    dedup_ngram_jaccard documents) mostly never enter it.  MinHash LSH
    remains the approximate alternative when even prefixes are too many.

    r19 rewrite (182.8 -> ~8 s at sf0.1, values byte-identical —
    oracle-exact at all three fixture sfs; OPTIMIZATION_r19.md):

    * The old verify tail re-split and re-shingled BOTH texts per
      candidate PAIR — at sf0.1 the synthetic corpus is adversarial for
      prefix filtering (648k candidates from 5k docs, 256 true pairs),
      so that was ~1.3M shingle-chain evaluations, 142 of the 183 s.
      Shingle arrays are now computed ONCE per doc (a localCheckpoint
      shared by the index build and the verify) and attached to pairs
      by two doc-keyed joins (guide §2.3: move decisions to a
      lightweight proxy, attach the heavy column once).
    * PPJoin's other two exact filters now prune candidates before the
      verify, in INTEGER form so t = 3/10 never touches a double
      boundary: length (10*Lb >= 3*La and symmetric; J >= t requires
      t*La <= Lb) and positional (13*(1 + min(La-pa, Lb-pb)) >=
      3*(La+Lb); overlap from match positions (pa, pb) onward is at
      most 1 + min of the remaining suffixes, and J >= t requires
      overlap >= t/(1+t)*(La+Lb)).  648k -> 325k candidates, no false
      negatives (both bounds are necessary conditions).
    * The candidate self-join became posting-list pair generation: one
      collect_list per prefix shingle + position-ordered in-list pairs,
      so the window/frequency prefix pipeline runs ONCE, not once per
      join side (guide §2.4; posting lists are doc-count bounded here,
      see dedup_ngram_jaccard's scale note for the hot-shingle story).
    * The scored pairs are localCheckpoint'ed (3 longs/row) before the
      threshold filter: Catalyst otherwise pushes the filter into the
      attach join's condition and evaluates the array_intersect TWICE
      per candidate (condition + projection) — measured ~3 s of the
      residual.

    Scale: global frequency is one shingle-keyed count; rare-first
    ranking is a doc-partitioned window; candidates come from PREFIX
    postings only; verification touches only candidate pairs."""
    t = 0.3  # exact rational 3/10 — the integer filters below assume it
    raw = load(spark, sf_dir, "documents")
    docs = _with_shingles(raw, "doc_id")
    sized = (
        docs.select("doc_id", "shingles", F.size("shingles").alias("L"))
        .where(F.col("L") > 0)
        .localCheckpoint()
    )
    ex = sized.select("doc_id", "L", F.explode("shingles").alias("sh"))
    freq = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("gf"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("gf"), F.asc("sh"))
    prefix = (
        ex.join(freq, "sh")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= F.col("L") - F.ceil(F.lit(t) * F.col("L")) + 1)
        .select("sh", F.struct("doc_id", "L", "rn").alias("p"))
    )
    # posting-list pair generation: sort_array orders each list by
    # doc_id (first struct field), so in-list (i, j>i) pairs satisfy
    # doc_a < doc_b by construction
    posts = (
        prefix.groupBy("sh")
        .agg(F.sort_array(F.collect_list("p")).alias("ps"))
        .where(F.size("ps") >= 2)
    )
    cand = (
        posts.select(F.posexplode("ps").alias("i", "a"), "ps")
        .select("a", F.explode(F.expr("slice(ps, i + 2, size(ps) - i - 1)")).alias("b"))
        .where("10 * b.L >= 3 * a.L AND 10 * a.L >= 3 * b.L")
        .where("13 * (1 + least(a.L - a.rn, b.L - b.rn)) >= 3 * (a.L + b.L)")
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sha = sized.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sha"))
    shb = sized.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("shb"))
    pairs = cand.join(F.broadcast(sha), "doc_a").join(F.broadcast(shb), "doc_b")
    n_common = F.size(F.array_intersect("sha", "shb"))
    jacc = F.round(
        n_common.cast("double") / (F.size("sha") + F.size("shb") - n_common), 6
    )
    scored = pairs.select("doc_a", "doc_b", jacc.alias("jaccard")).localCheckpoint()
    return scored.where(F.col("jaccard") >= t)


# Per-pair md5 chain depth for the exponent gate's positive control
# below.  8 rounds puts the LO-sf reading well above the gate's 0.15 s
# overhead-floor clamp and the measured alpha at ~1.55 (ratio ~8.5 over
# the embeddings plane's 4x growth) — comfortably past the 1.35 flag
# with margin, per the calibration measurements in OPTIMIZATION_r19.md.
_GATE_CONTROL_MD5_ROUNDS = 8


@register(
    "gate_control_quadratic_join",
    oracle=f"""
        WITH p AS (
            SELECT ('0x' || substr(
                       {"md5(" * 8}a.vec_id || '|' || b.vec_id{")" * 8},
                       1, 12))::BIGINT AS h
            FROM embeddings a
            JOIN embeddings b
              ON (a.vec_id % 1) = (b.vec_id % 1) AND a.vec_id < b.vec_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN h % 97 < 13 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_sampled,
               CAST(SUM(h % 1000003) AS BIGINT) AS checksum
        FROM p
    """,
    tags=("gate", "control", "quadratic", "instrument"),
)
def gate_control_quadratic_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE EXPONENT GATE'S QUADRATIC POSITIVE CONTROL — deliberately
    super-linear; DO NOT OPTIMIZE.  scripts/scale_exponents.py's flag
    threshold is only trustworthy while at least one registered query
    provably trips it; this query exists to be that proof, replacing
    dedup_jaccard_prefix_filter whose r19 rewrite (182.8 -> ~8 s)
    dropped its measured alpha below the flag, exactly as the r18
    cosine rewrite had de-flagged the previous control.

    Shape: the gate's own documented blind-spot class — an EQUI-join
    with an innocent plan whose MATCH cardinality grows as n² because
    the key space is fixed (here the degenerate 1-bucket key
    vec_id % 1; production spellings are status codes, tenant ids,
    truncated hash buckets).  No nested loop, no cartesian — the plan
    gates cannot see it; only measured growth can.  Per-pair work is a
    fixture-pinned 8-round md5 chain over the pair ids, reduced to
    three order-independent integer aggregates, so the result is
    non-factorable (no marginal-sum shortcut exists) and every pair
    must actually be enumerated and hashed.

    Calibration (r19, local[32], min-of-3 per sf — the one sweep run
    plus two re-runs scripts/time_registry.py records for controls,
    the readings the gate compares): 0.559 s at sf0.01 (125k pairs)
    -> 5.932 s at sf0.1 (2M pairs), alpha 1.70 against the embeddings
    plane's 4x growth — above ALPHA_FLAG = 1.35 with ~0.35 margin,
    material at the high sf, above the overhead floor at the low sf.  Any rewrite that accelerates this query defeats the
    gate's calibration and reddens tests/test_scale_exponents.py's
    stale-allowance check; the correct response to that red is a NEW
    measured control, never a silent allowance edit."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", (F.col("vec_id") % F.lit(1)).alias("bkt")
    )
    a = e.select(F.col("vec_id").alias("ida"), "bkt")
    b = e.select(F.col("vec_id").alias("idb"), "bkt")
    pairs = a.join(b, "bkt").where(F.col("ida") < F.col("idb"))
    s = F.concat(F.col("ida").cast("string"), F.lit("|"), F.col("idb").cast("string"))
    for _ in range(_GATE_CONTROL_MD5_ROUNDS):
        s = F.md5(s)
    h = F.conv(F.substring(s, 1, 12), 16, 10).cast("long")
    return pairs.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("h") % 97 < 13, 1).otherwise(0))
        .cast("long")
        .alias("n_sampled"),
        F.sum(F.col("h") % 1000003).cast("long").alias("checksum"),
    )


_MINHASH_SEEDS = 16
_MINHASH_BAND_ROWS = 4
_MINHASH_VERIFY = 0.35
_MINHASH_P = 1_000_000_007
# Universal-hash family mh_i(s) = (A_i * h(s) + B_i) mod P over a 48-bit
# md5-prefix base hash; fixed constants so Spark and the DuckDB oracle
# evaluate the identical function.
_MINHASH_A = [((2 * i + 1) * 2654435761) % _MINHASH_P for i in range(_MINHASH_SEEDS)]
_MINHASH_B = [(i * 40503 + 12345) % _MINHASH_P for i in range(_MINHASH_SEEDS)]

_SQL_MINS = ",\n               ".join(
    f"list_min(list_transform(hs, h -> ({_MINHASH_A[i]} * h + {_MINHASH_B[i]}) % {_MINHASH_P}))"
    f" AS mh{i}"
    for i in range(_MINHASH_SEEDS)
)
_SQL_BANDS = "\n        UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, concat_ws('|', "
    + ", ".join(f"mh{b * _MINHASH_BAND_ROWS + i}" for i in range(_MINHASH_BAND_ROWS))
    + ") AS band_sig FROM sig"
    for b in range(_MINHASH_SEEDS // _MINHASH_BAND_ROWS)
)

# Shared MinHash-oracle fragments (shingle -> base hash -> signatures ->
# banded bucket memberships; the candidate join; the exact-Jaccard
# verify tail).  Factored so the capped twins below cannot drift from
# the uncapped pipeline's SQL; the composed _MINHASH_ORACLE stays
# byte-identical to its long-green text.
_MINHASH_PRE_SQL = f"""shl AS (
        SELECT doc_id, {_SQL_TRIGRAMS} AS shingles FROM documents
    ),
    hs AS (
        SELECT doc_id,
               list_transform(shingles,
                              s -> ('0x' || substr(md5(s), 1, 12))::BIGINT % {_MINHASH_P}) AS hs
        FROM shl WHERE len(shingles) > 0
    ),
    sig AS (
        SELECT doc_id,
               {_SQL_MINS}
        FROM hs
    ),
    bands AS (
        {_SQL_BANDS}
    )"""


def _minhash_cand_sql(bands_src: str = "bands") -> str:
    return f""",
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM {bands_src} a
        JOIN {bands_src} b ON a.band = b.band AND a.band_sig = b.band_sig
                     AND a.doc_id < b.doc_id
    )"""


_MINHASH_VERIFY_SQL = f"""
    SELECT doc_a, doc_b, jaccard
    FROM (
        SELECT c.doc_a, c.doc_b,
               round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                     / (len(sa.shingles) + len(sb.shingles)
                        - len(list_intersect(sa.shingles, sb.shingles))), 6) AS jaccard
        FROM cand c
        JOIN shl sa ON c.doc_a = sa.doc_id
        JOIN shl sb ON c.doc_b = sb.doc_id
    )
    WHERE jaccard >= {_MINHASH_VERIFY}
"""

_MINHASH_ORACLE = f"""
    WITH {_MINHASH_PRE_SQL}{_minhash_cand_sql()}{_MINHASH_VERIFY_SQL}"""


@register(
    "dedup_minhash_lsh",
    oracle=_MINHASH_ORACLE,
    tags=("dedup", "minhash", "lsh"),
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dedup (shingle → minhash → band → bucket
    join → exact-Jaccard verify), with 16 hash functions in 4 bands of 4.

    The "hash family" is md5 over a seed-prefixed shingle; the per-seed
    signature is the lexicographic MIN of the hex digests — deterministic
    and engine-independent, hence fully oracle-checkable (the classic
    random-permutation construction is equivalent up to hash choice).

    Scale: this is the 100 TB near-dedup path — candidate generation cost
    is O(docs x bands) shuffle keyed on (band, band_sig); only bucket
    collisions are verified.  Band width/row count trade recall vs
    candidate volume (4x4 targets Jaccard ≳ 0.5)."""
    return minhash_pairs_df(load(spark, sf_dir, "documents"))


def minhash_bands_df(raw: DataFrame) -> DataFrame:
    """LSH bucket memberships (doc_id, band, band_sig) over ANY
    (doc_id, text) DataFrame — the signature half of the MinHash
    pipeline, factored out so the curation API can checkpoint it once
    and share it between pair generation and the bucket-skew report."""
    docs = _with_shingles(raw, "doc_id")
    # Signatures are 100% row-local: one md5 per shingle (staged so the
    # lambda sees a bare column), then 16 universal hashes derived by
    # integer arithmetic and reduced with array_min — zero shuffles until
    # the (tiny) band self-join below.  This is the 100 TB shape: the
    # signature pass is map-only and embarrassingly parallel.
    hs = docs.selectExpr(
        "doc_id",
        "transform(shingles, s -> CAST(conv(substring(md5(s), 1, 12), 16, 10) AS BIGINT)"
        f" % {_MINHASH_P}L) AS hs",
    )
    # 16 separate minhash columns, but built as ONE selectExpr (a single
    # py4j round-trip; SQL-parsed JVM-side) — the lambda-per-column F.*
    # construction cost the driver a measured 2.3s of cold latency.
    # Keeping `hs` multiply-referenced (16 columns) also blocks
    # CollapseProject from inlining the md5 stage into each seed's
    # transform (a single-reference nested form got re-inlined and ran
    # the hash stage 16x — measured 3x slower end to end).
    mins = hs.selectExpr(
        "doc_id",
        *[
            f"array_min(transform(hs, h -> ({_MINHASH_A[i]}L * h + {_MINHASH_B[i]}L)"
            f" % {_MINHASH_P}L)) AS mh{i}"
            for i in range(_MINHASH_SEEDS)
        ],
    )
    _n_bands = _MINHASH_SEEDS // _MINHASH_BAND_ROWS
    band_structs = F.expr(
        "array("
        + ", ".join(
            "struct(CAST({b} AS BIGINT) AS band, concat_ws('|', {cols}) AS band_sig)".format(
                b=b,
                cols=", ".join(
                    f"mh{b * _MINHASH_BAND_ROWS + i}" for i in range(_MINHASH_BAND_ROWS)
                ),
            )
            for b in range(_n_bands)
        )
        + ")"
    )
    # Empty-shingle docs yield all-null minhashes → concat_ws('') sigs;
    # dropping them HERE (a cheap string compare on the generated column,
    # never pushed below the Generate) matches the oracle's
    # WHERE len(shingles) > 0 without re-evaluating the shingle expression.
    return (
        mins.select("doc_id", F.explode(band_structs).alias("bs"))
        .select("doc_id", "bs.band", "bs.band_sig")
        .where(F.col("band_sig") != "")
    )


def minhash_bucket_counts(bands: DataFrame) -> DataFrame:
    """Per-LSH-bucket membership counts (band, band_sig, n_docs) — the
    mergeable aggregation (safe on any skew) the cap filter and the
    dropped-bucket report both derive from.  Callers that need both
    should compute this ONCE (checkpointed) and pass it to each."""
    return bands.groupBy("band", "band_sig").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def minhash_dropped_buckets(bucket_counts: DataFrame, max_bucket: int) -> DataFrame:
    """Oversized-bucket accounting for the skew guard: one row per LSH
    bucket whose membership exceeds ``max_bucket`` (the buckets
    ``minhash_pairs_df(..., max_bucket=...)`` excludes from pair
    generation).  Takes the ``minhash_bucket_counts`` output so the
    counts aggregation runs once per corpus, not once per consumer."""
    return bucket_counts.where(F.col("n_docs") > max_bucket)


def minhash_pairs_df(
    raw: DataFrame,
    bands: DataFrame | None = None,
    max_bucket: int | None = None,
    bucket_counts: DataFrame | None = None,
) -> DataFrame:
    """The MinHash pipeline over ANY (doc_id, text) DataFrame — the
    registered query binds it to the fixture table; the curation API
    (discogs_etl_spark.curation.dedup_corpus) binds it to user corpora.
    Returns verified near-dup pairs (doc_a, doc_b, jaccard).

    ``bands`` lets a caller supply precomputed (checkpointed) bucket
    memberships.  ``max_bucket`` is the OPT-IN skew guard for production
    corpora: a degenerate bucket (boilerplate text hashing k docs to one
    (band, band_sig)) would otherwise collect k ids into one row and emit
    O(k²) candidate pairs — one hot key OOMing an executor at 100 TB.
    With the cap, bucket sizes are pre-counted (``bucket_counts``, or
    derived here) and oversized buckets are excluded BEFORE collect_list;
    use minhash_dropped_buckets for the accounting.  Registered oracle
    queries never set it (exactness).

    Cost note: a caller that passes ``bands`` WITHOUT ``bucket_counts``
    under a cap pays one extra aggregation over the bands here (the
    counts are re-derived); the curation path passes both, computed once
    over the same checkpointed bands.  When ``bands`` is derived HERE
    under a cap it is localCheckpointed first (see below), so the
    signature pipeline still runs exactly once either way."""
    if bands is None:
        bands = minhash_bands_df(raw)
        if max_bucket is not None:
            # the cap filter makes bands BOTH the aggregate input and the
            # join probe side — without materialization those are two
            # different subtrees and the whole map-only signature
            # pipeline (the dominant cost) would execute twice
            bands = bands.localCheckpoint()
    if max_bucket is not None:
        if bucket_counts is None:
            bucket_counts = minhash_bucket_counts(bands)
        ok = bucket_counts.where(F.col("n_docs") <= max_bucket).select(
            "band", "band_sig"
        )
        # same shuffle key as the groupBy below — no extra exchange for
        # the probe side after the join
        bands = bands.join(ok, ["band", "band_sig"])
    # Candidate pairs via ONE hash aggregation instead of a self-join (a
    # self-join would run the whole signature pipeline twice): group each
    # LSH bucket, then emit its doc-id pairs row-locally.  At 100 TB the
    # per-bucket pair blowup is the usual LSH skew risk — band width is
    # the knob (wider sigs → smaller buckets), and max_bucket above is
    # the hard bound the curation entry point opts into.
    cand = (
        bands.groupBy("band", "band_sig")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, greatest(size(ids) - i - 1, 0)), "
                    "y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    # Exact verify only on bucket collisions: join the (tiny) candidate set
    # to the raw text FIRST, then compute shingle arrays above the join —
    # shingling runs only for colliding docs, and the intersection is an
    # in-memory array op (no inverted-index self-join over the corpus).
    ta = raw.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("__ta"))
    tb = raw.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("__tb"))
    pairs = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .selectExpr(
            "doc_a", "doc_b", "split(__ta, ' ') AS wa", "split(__tb, ' ') AS wb"
        )
        .selectExpr(
            "doc_a",
            "doc_b",
            _SHINGLES_SQL.format(w="wa") + " AS sha",
            _SHINGLES_SQL.format(w="wb") + " AS shb",
        )
    )
    n_common = F.size(F.array_intersect("sha", "shb"))
    jacc = F.round(
        n_common.cast("double") / (F.size("sha") + F.size("shb") - n_common), 6
    )
    return (
        pairs.select("doc_a", "doc_b", jacc.alias("jaccard"))
        .where(F.col("jaccard") >= _MINHASH_VERIFY)
    )


# Fixed cap for the two registered capped-path queries (driver evidence
# for the production skew guard, mirroring the phash pair in
# multimodal.py).  2 is the widest cap that still drops buckets at
# every fixture sf (sf0.01 has 3 width-3 buckets and 1 width-4; sf0.1
# has 104 buckets wider than 2, the widest 12) while leaving the
# width-2 buckets' pairs as survivors, so both effects of the guard
# carry driver rows.
_MINHASH_MAX_BUCKET = 2

# The capped pipeline's full oracle, factored (r17) so the end-to-end
# curation_dedup_corpus oracle embeds the IDENTICAL capped pair graph
# instead of restating it — the composed text below stays byte-identical
# to dedup_minhash_capped_pairs' r16-green inline form.
_MINHASH_CAPPED_ORACLE = f"""
        WITH {_MINHASH_PRE_SQL},
    bwidths AS (
        SELECT band, band_sig, COUNT(*) AS n_docs
        FROM bands GROUP BY band, band_sig
    ),
    bands_ok AS (
        SELECT bd.doc_id, bd.band, bd.band_sig
        FROM bands bd
        JOIN bwidths w ON w.band = bd.band AND w.band_sig = bd.band_sig
        WHERE w.n_docs <= {_MINHASH_MAX_BUCKET}
    ){_minhash_cand_sql("bands_ok")}{_MINHASH_VERIFY_SQL}"""


@register(
    "dedup_minhash_capped_pairs",
    oracle=_MINHASH_CAPPED_ORACLE,
    tags=("dedup", "minhash", "lsh", "skew"),
)
def dedup_minhash_capped_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash ``max_bucket`` skew guard under DRIVER evidence: the
    exact pipeline of ``dedup_minhash_lsh`` but with LSH buckets wider
    than 2 docs excluded from candidate generation BEFORE collect_list
    (``minhash_pairs_df(max_bucket=)`` — the guard the curation API's
    ``dedup_corpus`` opts into on real corpora).  The oracle recomputes
    the identical bucket widths over the banded memberships in SQL and
    filters both join sides the same way, so the cap's semantics — a
    pair survives iff SOME shared bucket stays under the cap — are
    value-checked cross-engine, completing the local-only evidence the
    guard has carried since its round.

    Scale: this is the 100 TB configuration — a boilerplate-heavy
    corpus hashes thousands of docs into one (band, band_sig), whose
    O(k²) in-bucket pair emission would OOM one executor; the width
    filter joins on the same key as the bucket groupBy, so no extra
    exchange."""
    return minhash_pairs_df(
        load(spark, sf_dir, "documents"), max_bucket=_MINHASH_MAX_BUCKET
    )


@register(
    "dedup_minhash_dropped_buckets",
    oracle=f"""
        WITH {_MINHASH_PRE_SQL}
    SELECT CAST(band AS BIGINT) AS band, band_sig, COUNT(*) AS n_docs
    FROM bands GROUP BY band, band_sig
    HAVING COUNT(*) > {_MINHASH_MAX_BUCKET}
    """,
    tags=("dedup", "minhash", "lsh", "skew", "accounting"),
)
def dedup_minhash_dropped_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capped MinHash run's ACCOUNTING under driver evidence: every
    (band, band_sig) bucket the cap excludes, with its doc membership
    count (``minhash_bucket_counts`` -> ``minhash_dropped_buckets`` —
    the report ``dedup_corpus(max_bucket=)`` folds into its accounting
    columns).  The oracle recomputes the widths over the banded
    memberships and applies the same > cap filter.

    Scale: one mergeable aggregation over the band memberships (4 rows
    per doc) — safe on any skew, and the observability pass a
    production run logs before choosing its cap."""
    bands = minhash_bands_df(load(spark, sf_dir, "documents"))
    return minhash_dropped_buckets(
        minhash_bucket_counts(bands), _MINHASH_MAX_BUCKET
    )


@register(
    "curation_dedup_corpus",
    oracle=f"""
        WITH RECURSIVE
        pairs AS ({_MINHASH_CAPPED_ORACLE}),
        edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                  UNION SELECT doc_b, doc_a FROM pairs),
        nodes AS (SELECT DISTINCT u AS node FROM edges),
        reach(node, lbl) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node
        ),
        comp AS (SELECT node AS doc_id, MIN(lbl) AS component_id
                 FROM reach GROUP BY node),
        losers AS (SELECT doc_id FROM comp WHERE doc_id <> component_id),
        alldocs AS (SELECT doc_id FROM documents),
        surv AS (SELECT doc_id FROM alldocs
                 WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
        acct AS (
            WITH {_MINHASH_PRE_SQL},
            bwidths AS (
                SELECT band, band_sig, COUNT(*) AS n_docs
                FROM bands GROUP BY band, band_sig
            ),
            dropped AS (
                SELECT band, band_sig FROM bwidths
                WHERE n_docs > {_MINHASH_MAX_BUCKET}
            )
            SELECT (SELECT COUNT(*) FROM dropped) AS n_dropped_buckets,
                   (SELECT COUNT(DISTINCT bd.doc_id)
                    FROM bands bd
                    JOIN dropped d ON d.band = bd.band
                                  AND d.band_sig = bd.band_sig)
                       AS n_docs_in_dropped_buckets
        ),
        report AS (
            SELECT 'minhash' AS method,
                   (SELECT COUNT(*) FROM alldocs) AS n_input,
                   (SELECT COUNT(*) FROM surv) AS n_survivors,
                   (SELECT COUNT(*) FROM alldocs)
                       - (SELECT COUNT(*) FROM surv) AS n_removed,
                   a.n_dropped_buckets,
                   a.n_docs_in_dropped_buckets
            FROM acct a
        )
        SELECT s.doc_id, r.method, r.n_input, r.n_survivors, r.n_removed,
               r.n_dropped_buckets, r.n_docs_in_dropped_buckets
        FROM surv s, report r
    """,
    tags=("dedup", "minhash", "lsh", "skew", "curation", "roundtrip", "graph"),
)
def curation_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END driver evidence for the user-facing ``dedup_corpus``
    TEXT API (r16 verdict task #1 — the text twin of r16's
    ``curation_dedup_media``): the engine's flagship curation pipeline —
    MinHash signatures -> banded LSH candidates -> exact-Jaccard verify
    -> large-star/small-star connected components -> keep min-id — run
    through ``curation.dedup_corpus`` itself (the function the CLI's
    ``dedup --method minhash`` calls) over the documents corpus, WITH
    the production skew guard ENGAGED (``max_bucket=_MINHASH_MAX_BUCKET``,
    the same cap the registered capped twins pin), so the API's
    accounting columns (n_dropped_buckets, n_docs_in_dropped_buckets)
    carry NONZERO driver-checked values for the first time.  Returns
    the survivor set with the one-row report broadcast onto every
    survivor, so the keep-set, the counts, and the cap accounting are
    all value-hashed in one result.

    The oracle composes three already-green fragments: the capped pair
    graph (``dedup_minhash_capped_pairs``' oracle, embedded verbatim via
    ``_MINHASH_CAPPED_ORACLE``), the recursive-CTE transitive closure
    (``dedup_connected_components``' pattern), and the dropped-bucket
    accounting recomputed from ``_MINHASH_PRE_SQL``'s banded
    memberships — survivors = all docs minus component non-minima,
    cross-joined with the recomputed report row.

    Scale: composition of oracle-checked stages — the signature pass is
    checkpointed ONCE and shared by pair generation and the accounting;
    the width filter joins on the same (band, band_sig) key as the
    bucket groupBy (no extra exchange); CC is the O(log n)
    star-contraction; the report attach is a broadcast of ONE row (this
    query's only cross join, hinted)."""
    from discogs_etl_spark.curation import dedup_corpus

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    survivors, report = dedup_corpus(
        spark, docs, method="minhash", max_bucket=_MINHASH_MAX_BUCKET
    )
    return survivors.select("doc_id").crossJoin(F.broadcast(report))


@register(
    "dedup_simhash",
    oracle="""
        WITH w AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        ),
        bits AS (
            SELECT doc_id, b.i,
                   SUM(CASE WHEN (('0x' || substr(md5(w), 1, 4))::BIGINT >> b.i) & 1 = 1
                            THEN 1 ELSE -1 END) AS balance
            FROM w, (SELECT unnest(range(16)) AS i) b
            GROUP BY doc_id, b.i
        )
        SELECT doc_id,
               CAST(SUM(CASE WHEN balance > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS simhash16
        FROM bits
        GROUP BY doc_id
    """,
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprint per document (frequency-weighted bit
    balance over md5-derived word hashes).  Near-dup candidates are docs
    whose fingerprints differ in ≤k bits; here we emit the fingerprint
    itself (the pairing is a trivial self-join on bit-neighborhoods).

    Scale: map-side explode + two bounded aggregations keyed by doc_id —
    no pairwise work at all."""
    docs = load(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.explode(_words()).alias("w"))
    bits = (
        w.withColumn("hv", F.conv(F.substring(F.md5("w"), 1, 4), 16, 10).cast("long"))
        .withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(15))))
        .groupBy("doc_id", "i")
        .agg(
            F.sum(
                F.when(F.expr("(shiftright(hv, cast(i AS INT)) & 1) = 1"), 1).otherwise(-1)
            ).alias("balance")
        )
    )
    return bits.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.col("balance") > 0,
                F.expr("shiftleft(cast(1 AS BIGINT), cast(i AS INT))"),
            ).otherwise(0)
        ).alias("simhash16")
    )


_EMB_DEDUP_ORACLE = f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_SQL_COS.format(a='a.embedding', b='b.embedding')}, 6) AS cos
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_SQL_COS.format(a='a.embedding', b='b.embedding')} >= 0.42
"""


@register(
    "dedup_embedding_cosine",
    oracle=_EMB_DEDUP_ORACLE,
    tags=("dedup", "embedding", "cosine"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ threshold over all pairs.

    Scale: all-pairs is O(n²) — correct but only viable per-bucket; the
    production path routes through similarity_ann_signlsh-style bucketing
    first.  Kept as the exact semantics definition."""
    # Pair-loop shape, tuned per guide §1.2 "per-task work" with values
    # bit-identical (A/B: 0 divergences over every pair at sf0.1):
    # - norms hoisted to one sqrt-dot per VECTOR instead of two per PAIR
    #   (sqrt(dot(x,x)) is a pure function of the array, so the hoisted
    #   double is the same double);
    # - the cheap vec_a < vec_b conjunct leads the join condition so the
    #   64-dim dot short-circuits for the mirrored half of the cross;
    # - unrolled dot (see _dot) + the hugeMethodLimit fallback keep the
    #   pair predicate JIT-compiled.  75 -> ~10 s at sf0.1.
    emb = load(spark, sf_dir, "embeddings")
    w = _checked_emb_dim(spark, sf_dir)
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").cast("array<double>").alias("ea")
    ).withColumn("na", F.sqrt(_dot(F.col("ea"), F.col("ea"), w)))
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").cast("array<double>").alias("eb")
    ).withColumn("nb", F.sqrt(_dot(F.col("eb"), F.col("eb"), w)))
    cos = _dot(F.col("ea"), F.col("eb"), w) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, (F.col("vec_a") < F.col("vec_b")) & (cos >= 0.42))
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cos"))
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_TOPK_ORACLE = f"""
    SELECT q_vec_id, vec_id, rank, cos
    FROM (
        SELECT q.vec_id AS q_vec_id, v.vec_id AS vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_SQL_COS.format(a='q.embedding', b='v.embedding')} DESC,
                            v.vec_id
               ) AS rank,
               round({_SQL_COS.format(a='q.embedding', b='v.embedding')}, 6) AS cos
        FROM (SELECT * FROM embeddings WHERE vec_id < 5) q
        JOIN embeddings v ON v.vec_id <> q.vec_id
    )
    WHERE rank <= 5
"""


@register(
    "similarity_topk_bruteforce",
    oracle=_TOPK_ORACLE,
    tags=("similarity", "topk", "knn"),
    bench=True,
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: each query vector scores every corpus
    vector, keeps the 5 best.  The exactness baseline for ANN.

    Scale: queries broadcast (small side), corpus streams — one pass over
    the corpus per batch of queries, then a per-query top-k (window with
    group-limit pushdown).  JVM-side higher-order functions, no Python."""
    emb = load(spark, sf_dir, "embeddings")
    q = (
        emb.where(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("q_vec_id"),
            F.col("embedding").cast("array<double>").alias("q_emb"),
        )
    )
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v_emb"))
    cos = _cosine(F.col("q_emb"), F.col("v_emb"))
    w = Window.partitionBy("q_vec_id").orderBy(F.desc("raw_cos"), F.asc("vec_id"))
    return (
        v.join(F.broadcast(q), F.col("vec_id") != F.col("q_vec_id"))
        .select("q_vec_id", "vec_id", cos.alias("raw_cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("q_vec_id", "vec_id", "rank", F.round("raw_cos", 6).alias("cos"))
    )


def _sql_sign_bucket(col: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN ({col})[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)" for i in range(8)
    )
    return f"({terms})"


_ANN_ORACLE = f"""
    WITH bucketed AS (
        SELECT vec_id, embedding, {_sql_sign_bucket('embedding')} AS bucket
        FROM embeddings
    )
    SELECT q_vec_id, vec_id, rank, cos
    FROM (
        SELECT q.vec_id AS q_vec_id, v.vec_id AS vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_SQL_COS.format(a='q.embedding', b='v.embedding')} DESC,
                            v.vec_id
               ) AS rank,
               round({_SQL_COS.format(a='q.embedding', b='v.embedding')}, 6) AS cos
        FROM (SELECT * FROM bucketed WHERE vec_id < 20) q
        JOIN bucketed v ON v.bucket = q.bucket AND v.vec_id <> q.vec_id
    )
    WHERE rank <= 3
"""


def _sign_bucket(emb: Column) -> Column:
    """8-bit sign-LSH bucket: bit i = sign of dimension i (axis-aligned
    random-hyperplane LSH with fixed hyperplanes)."""
    b = F.lit(0)
    for i in range(8):
        b = b + F.when(F.element_at(emb, i + 1) > 0, F.lit(1 << i)).otherwise(0)
    return b


@register(
    "similarity_ann_signlsh",
    oracle=_ANN_ORACLE,
    tags=("similarity", "ann", "lsh"),
)
def similarity_ann_signlsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN: 8-bit sign-LSH partitions the corpus into 256 buckets;
    each query searches only its own bucket (approximate top-3).

    Scale: candidate set shrinks ~256x vs brute force; the join is an
    equi-join on bucket — shuffle-partitionable by bucket, no broadcast of
    the corpus needed.  Recall is tuned by bucket bits / multiprobe."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        _sign_bucket(F.col("embedding")).alias("bucket"),
    )
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("emb").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
    )
    cos = _cosine(F.col("q_emb"), F.col("emb"))
    w = Window.partitionBy("q_vec_id").orderBy(F.desc("raw_cos"), F.asc("vec_id"))
    return (
        emb.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("q_vec_id")),
        )
        .select("q_vec_id", "vec_id", cos.alias("raw_cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("q_vec_id", "vec_id", "rank", F.round("raw_cos", 6).alias("cos"))
    )


_EMB_DEDUP_BUCKETED_ORACLE = f"""
    WITH bucketed AS (
        SELECT vec_id, embedding, {_sql_sign_bucket('embedding')} AS bucket
        FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_SQL_COS.format(a='a.embedding', b='b.embedding')}, 6) AS cos
    FROM bucketed a
    JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_SQL_COS.format(a='a.embedding', b='b.embedding')} >= 0.42
"""


@register(
    "dedup_embedding_bucketed",
    oracle=_EMB_DEDUP_BUCKETED_ORACLE,
    tags=("dedup", "embedding", "cosine", "lsh", "scale"),
)
def dedup_embedding_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, production form: sign-LSH buckets first,
    exact cosine only WITHIN each bucket — the scale path for
    ``dedup_embedding_cosine`` (whose all-pairs non-equi join plans a
    nested loop).  This is an equi-join on bucket: shuffle-partitionable,
    per-bucket pair counts are bounded by bucket occupancy, no broadcast
    of the corpus.

    Approximation: cross-bucket near-dups are missed (sign-LSH collision
    probability 1 - θ/π per bit); at 100 TB run b independent bucket
    families (multiprobe / band-OR like MinHash-LSH) to drive miss rate
    down — same plan shape, b map-side bucket columns.

    Scale: one exchange on bucket; within-bucket self-join is
    O(Σ bucket²) ≪ O(n²) for any non-degenerate hash; skewed buckets are
    handled by AQE skew-join splitting."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        _sign_bucket(F.col("embedding")).alias("bucket"),
    )
    # Norms hoisted per VECTOR + cheap conjuncts first, as in
    # dedup_embedding_cosine — bit-identical values.  The dot stays the
    # higher-order fold here: the bucketed residual evaluates only
    # ~n²/256 pairs, too few to amortize the unrolled chain's per-stage
    # compile cost (measured +1.3 s for no per-pair win at sf0.1).
    a = emb.select(
        F.col("bucket"), F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea")
    ).withColumn("na", F.sqrt(_dot(F.col("ea"), F.col("ea"))))
    b = emb.select(
        F.col("bucket").alias("bucket_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("eb"),
    ).withColumn("nb", F.sqrt(_dot(F.col("eb"), F.col("eb"))))
    cos = _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(
            b,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("vec_a") < F.col("vec_b"))
            & (cos >= 0.42),
        )
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cos"))
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@register(
    "text_stats_by_lang",
    oracle="""
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               (CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)) AS avg_chars,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        FROM documents
        GROUP BY lang
    """,
    tags=("text", "stats"),
    bench=True,
)
def text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics (doc counts, char/token totals)."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.sum(F.size(_words()).cast("long")).cast("long").alias("total_tokens"),
    )


_STOPWORDS = ("the", "a", "data", "value", "key", "row")
_SQL_STOPLIST = "(" + ", ".join(f"'{w}'" for w in _STOPWORDS) + ")"


@register(
    "text_quality_score",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   string_split(text, ' ') AS w
            FROM documents
        )
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq_tokens,
               round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) AS type_token_ratio,
               round(CAST(len(list_filter(w, x -> x IN {_SQL_STOPLIST})) AS DOUBLE)
                     / len(w), 6) AS stopword_ratio,
               round(CAST(len(array_to_string(w, '')) AS DOUBLE) / len(w), 6) AS avg_token_len,
               CAST(len(w) >= 30 AND len(w) <= 2000
                    AND CAST(len(list_filter(w, x -> x IN {_SQL_STOPLIST})) AS DOUBLE)
                        / len(w) <= 0.5 AS INT) AS is_quality
        FROM t
    """,
    tags=("text", "quality"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality scoring: token counts, type-token ratio,
    stopword ratio, mean token length, and a pass/fail gate — the standard
    pre-training corpus filter shape, entirely in JVM array functions."""
    w = _words()
    n = F.size(w)
    n_uniq = F.size(F.array_distinct(w))
    n_stop = F.size(F.filter(w, lambda x: x.isin(*_STOPWORDS)))
    total_len = F.length(F.array_join(w, ""))
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        n_uniq.cast("long").alias("n_uniq_tokens"),
        F.round(n_uniq.cast("double") / n, 6).alias("type_token_ratio"),
        F.round(n_stop.cast("double") / n, 6).alias("stopword_ratio"),
        F.round(total_len.cast("double") / n, 6).alias("avg_token_len"),
        (
            (n >= 30) & (n <= 2000) & ((n_stop.cast("double") / n) <= 0.5)
        ).cast("int").alias("is_quality"),
    )


@register(
    "text_token_count",
    oracle="""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS re_tokens
        FROM documents
    """,
    tags=("text", "tokens"),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    scan — both JVM-side (regexp_extract_all), no Python."""
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(_words()).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0)).cast("long").alias("re_tokens"),
    )


@register(
    "text_fingerprint",
    oracle="""
        WITH f AS (
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
                       AS fingerprint
            FROM documents
        )
        SELECT doc_id, fingerprint,
               COUNT(*) OVER (PARTITION BY fingerprint) AS n_same_fingerprint
        FROM f
    """,
    tags=("text", "fingerprint", "dedup"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words collision fingerprint (md5 of the sorted distinct word
    set): catches word-reorder duplicates that exact dedup misses; the
    window count exposes collision-group sizes."""
    fp = F.md5(F.array_join(F.array_sort(F.array_distinct(_words())), " "))
    d = load(spark, sf_dir, "documents").select("doc_id", fp.alias("fingerprint"))
    w = Window.partitionBy("fingerprint")
    return d.select(
        "doc_id", "fingerprint", F.count(F.lit(1)).over(w).alias("n_same_fingerprint")
    )


@register(
    "lang_id_corpus",
    oracle="""
        WITH w AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
        ),
        cnt AS (SELECT lang, w, COUNT(*) AS c FROM w GROUP BY lang, w),
        top AS (
            SELECT lang, w FROM (
                SELECT lang, w,
                       ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, w) AS rn
                FROM cnt
            ) WHERE rn <= 10
        ),
        score AS (
            SELECT d.doc_id, t.lang AS cand_lang, COUNT(*) AS s
            FROM w d JOIN top t ON d.w = t.w
            GROUP BY d.doc_id, t.lang
        ),
        pred AS (
            SELECT doc_id, cand_lang AS pred_lang FROM (
                SELECT doc_id, cand_lang, s,
                       ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, cand_lang) AS rn
                FROM score
            ) WHERE rn = 1
        )
        SELECT d.doc_id, d.lang AS true_lang,
               COALESCE(p.pred_lang, 'unknown') AS pred_lang,
               CAST(d.lang = COALESCE(p.pred_lang, 'unknown') AS INT) AS correct
        FROM documents d LEFT JOIN pred p ON d.doc_id = p.doc_id
    """,
    tags=("text", "langid"),
)
def lang_id_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-learned language ID: build a top-10 word profile per language
    from the labeled corpus, score each doc by profile hits, predict the
    argmax (integer scores + deterministic tie-breaks — no float argmax).

    Scale: profiles are tiny → broadcast join against the exploded corpus;
    one shuffle keyed by (doc, lang) for scoring."""
    docs = load(spark, sf_dir, "documents")
    w = docs.select("doc_id", "lang", F.explode(_words()).alias("w"))
    cnt = w.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("c"))
    wtop = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("w"))
    top = (
        cnt.withColumn("rn", F.row_number().over(wtop))
        .where(F.col("rn") <= 10)
        .select(F.col("lang").alias("cand_lang"), "w")
    )
    score = (
        w.join(F.broadcast(top), "w")
        .groupBy("doc_id", "cand_lang")
        .agg(F.count(F.lit(1)).alias("s"))
    )
    wpred = Window.partitionBy("doc_id").orderBy(F.desc("s"), F.asc("cand_lang"))
    pred = (
        score.withColumn("rn", F.row_number().over(wpred))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("cand_lang").alias("pred_lang"))
    )
    return (
        docs.join(pred, "doc_id", "left")
        .select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.coalesce("pred_lang", F.lit("unknown")).alias("pred_lang"),
            (F.col("lang") == F.coalesce("pred_lang", F.lit("unknown"))).cast("int").alias("correct"),
        )
    )


@register(
    "lang_id_confusion",
    oracle="""
        WITH w AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
        ),
        cnt AS (SELECT lang, w, COUNT(*) AS c FROM w GROUP BY lang, w),
        top AS (
            SELECT lang, w FROM (
                SELECT lang, w,
                       ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, w) AS rn
                FROM cnt
            ) WHERE rn <= 10
        ),
        score AS (
            SELECT d.doc_id, t.lang AS cand_lang, COUNT(*) AS s
            FROM w d JOIN top t ON d.w = t.w
            GROUP BY d.doc_id, t.lang
        ),
        pred AS (
            SELECT doc_id, cand_lang AS pred_lang FROM (
                SELECT doc_id, cand_lang, s,
                       ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, cand_lang) AS rn
                FROM score
            ) WHERE rn = 1
        )
        SELECT d.lang AS true_lang,
               COALESCE(p.pred_lang, 'unknown') AS pred_lang,
               COUNT(*) AS n_docs,
               CAST(SUM(CAST(d.lang = COALESCE(p.pred_lang, 'unknown') AS INT))
                    AS BIGINT) AS n_correct
        FROM documents d LEFT JOIN pred p ON d.doc_id = p.doc_id
        GROUP BY d.lang, COALESCE(p.pred_lang, 'unknown')
    """,
    tags=("text", "langid", "eval", "confusion"),
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier EVALUATION as a query: the (true_lang, pred_lang)
    confusion matrix of the corpus-learned language-ID against the
    labeled column — per-cell doc counts and correct counts, from which
    precision/recall per language read off directly.  Model-quality
    reporting belongs in the same declarative plan as the model's
    application (one pass, no exported predictions).

    Scale: identical dataflow to lang_id_corpus (tiny broadcast
    profiles, one (doc, lang)-keyed shuffle) plus one languages²-sized
    aggregate — the evaluation itself adds no corpus-sized motion."""
    preds = lang_id_corpus(spark, sf_dir)
    return preds.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("correct").cast("long").alias("n_correct"),
    )


# ---------------------------------------------------------------------------
# Multimodal columns
# ---------------------------------------------------------------------------

@register(
    "multimodal_binary_meta",
    oracle="""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
               md5(text) AS content_md5,
               lower(substr(hex(encode(text)), 1, 16)) AS head_hex
        FROM documents
    """,
    tags=("multimodal", "binary"),
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column plumbing (Plane C spec): materialize a
    BinaryType payload column and compute typed metadata over it (byte
    length, content hash, leading bytes).  The decode/feature-extraction
    stage for real media runs over mapInPandas — see
    discogs_etl_spark.llm.multimodal."""
    payload = F.encode("text", "UTF-8")
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.octet_length(payload).cast("long").alias("byte_len"),
        F.md5("text").alias("content_md5"),
        F.lower(F.substring(F.hex(payload), 1, 16)).alias("head_hex"),
    )


# ---------------------------------------------------------------------------
# Pipeline utilities: reproducible sampling/splits, normalization, vectors
# ---------------------------------------------------------------------------

@register(
    "sample_deterministic_split",
    oracle="""
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
                   AS bucket,
               CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80
                    THEN 'train'
                    WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
                    THEN 'val' ELSE 'test' END AS split
        FROM documents
    """,
    tags=("sampling", "split", "deterministic"),
)
def sample_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test assignment by content-key hash — the
    standard corpus-split op: engine-independent, stable across re-runs and
    partitionings (unlike rand()-based sampling), and joins consistently
    from any table keyed on the same id.

    Scale: pure map-side expression; the split column also works as a
    partition or Z-order key downstream."""
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
    )


@register(
    "text_normalize",
    oracle="""
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                   ' +', ' ', 'g')) AS norm_text
        FROM documents
    """,
    tags=("text", "normalize"),
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (lowercase → strip non-alphanumerics →
    collapse whitespace → trim): the first stage of every dedup/quality
    pipeline, all JVM-side regex."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return load(spark, sf_dir, "documents").select("doc_id", norm.alias("norm_text"))


@register(
    "sample_stratified_per_lang",
    oracle="""
        SELECT doc_id, lang FROM (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
            FROM documents
        ) WHERE rn <= 20
    """,
    tags=("sampling", "stratified"),
)
def sample_stratified_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified per-language sample (first 20 doc_ids per lang):
    deterministic quota sampling for balanced eval sets.  Spark's
    WindowGroupLimit pushes the rn<=k into the sort, so only k rows per
    group survive the shuffle."""
    w = Window.partitionBy("lang").orderBy("doc_id")
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 20)
        .select("doc_id", "lang")
    )


@register(
    "sample_weighted_per_source",
    oracle="""
        SELECT source, doc_id, n_chars, priority FROM (
            SELECT source, doc_id, n_chars,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                       // greatest(coalesce(n_chars, 1), 1) AS priority,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                                // greatest(coalesce(n_chars, 1), 1), doc_id) AS rn
            FROM documents
        ) WHERE rn <= 10
    """,
    tags=("sampling", "weighted", "reservoir"),
)
def sample_weighted_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED per-group sampling, deterministic: 10 docs per source,
    selection priority = hash(doc_id) DIV weight (weight = n_chars), so
    longer documents are proportionally likelier to draw a small priority
    and be picked — the distributed-reservoir idea of
    Efraimidis-Spirakis A-Res (priority u^(1/w)), replayed with EXACT
    integer arithmetic (hash DIV weight) instead of a float pow/log key,
    so the sample is reproducible run-to-run, engine-to-engine, and
    under task retry — the property a training-data sampler actually
    needs (no RNG state on executors).

    Scale: map-only priority computation, then a per-group top-k that
    plans as WindowGroupLimit — k rows per group survive each shuffle
    stage, never the full corpus."""
    pri = F.expr(
        # coalesce BEFORE greatest: Spark's greatest skips NULLs but
        # DuckDB's returns NULL, so a NULL weight would silently diverge
        # on a generic corpus (fixtures are non-null; this is armor)
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) AS BIGINT)"
        " DIV greatest(coalesce(n_chars, 1), 1)"
    )
    w = Window.partitionBy("source").orderBy("priority", "doc_id")
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars", pri.alias("priority"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("source", "doc_id", "n_chars", "priority")
    )


_KMEANS_K = 8
_KMEANS_ITERS = 3
_KMEANS_DIST_SQL = (
    "CAST(round(list_reduce(list_transform(list_zip(t.v, c.cv), "
    "p -> (p[1]-p[2])*(p[1]-p[2])), (a,b)->a+b),9) AS DECIMAL(38,9))"
)


def _kmeans_oracle() -> str:
    parts = []
    for i in range(_KMEANS_ITERS):
        parts.append(
            f"""a{i} AS (
            SELECT vec_id, v, cid, dist FROM (
                SELECT t.vec_id, t.v, c.cid, {_KMEANS_DIST_SQL} AS dist,
                       ROW_NUMBER() OVER (PARTITION BY t.vec_id
                                          ORDER BY {_KMEANS_DIST_SQL}, c.cid) AS rn
                FROM vv t CROSS JOIN c{i} c
            ) WHERE rn = 1
        )"""
        )
        if i < _KMEANS_ITERS - 1:
            parts.append(
                f"""c{i + 1} AS (
            SELECT cid, list(cval ORDER BY pos) AS cv FROM (
                SELECT cid, pos,
                       round(CAST(SUM(CAST(round(val,9) AS DECIMAL(38,9)))
                                  AS DOUBLE)/COUNT(*),9) AS cval
                FROM (SELECT cid, gs.i AS pos, v[gs.i+1] AS val
                      FROM a{i},
                           LATERAL (SELECT unnest(range(len(v))) AS i) gs)
                GROUP BY cid, pos
            ) GROUP BY cid
        )"""
            )
    body = ",\n        ".join(parts)
    return f"""
        WITH vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
        c0 AS (SELECT vec_id AS cid, v AS cv FROM vv WHERE vec_id < {_KMEANS_K}),
        {body}
        SELECT vec_id, cid AS cluster, CAST(dist AS DOUBLE) AS dist
        FROM a{_KMEANS_ITERS - 1}
    """


@register(
    "kmeans_embeddings_fixed",
    oracle=_kmeans_oracle(),
    tags=("embedding", "kmeans", "clustering", "iterative"),
    bench=True,
)
def kmeans_embeddings_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-MEANS clustering over the embedding corpus, made EXACTLY
    reproducible: k=8 centroids seeded from vec_id < 8 (deterministic
    init — the k-means++ RNG is what makes library k-means
    unreplayable), 3 Lloyd iterations, squared-L2 assignment with ties
    broken on (distance, centroid id).  Unlike similarity_ivf_topk
    (pyspark.ml KMeans, checked by invariants), every assignment here
    hash-matches a DuckDB oracle that unrolls the same 3 iterations.

    Exactness: distances fold left-to-right over identical terms (Spark
    ``aggregate`` ≡ DuckDB ``list_reduce``), then round to 9 dp into
    DECIMAL(38,9) so the argmin comparison is exact on both engines;
    centroid updates are per-(cluster, dim) DECIMAL means rounded to
    9 dp before re-use.

    Scale: the centroid table is K×dims — always broadcast, so
    assignment is MAP-ONLY over the corpus; the update is one
    (cluster, dim)-keyed aggregation with map-side partials (K·dims
    output rows regardless of corpus size).  3 rounds = 3 such passes;
    a long-running job would localCheckpoint per round to cut lineage
    (the CC-loop pattern), and k-means|| init replaces the fixed seed
    when determinism is not required.

    The machinery lives in curation.cluster_corpus (seeded from the k
    smallest ids — identical to vec_id < 8 on the dense fixture ids);
    this query binds it to the fixture table, and the same code path
    backs `python -m discogs_etl_spark cluster` over arbitrary parquet."""
    from discogs_etl_spark.curation import cluster_corpus

    return cluster_corpus(
        spark,
        load(spark, sf_dir, "embeddings"),
        id_col="vec_id",
        vec_col="embedding",
        k=_KMEANS_K,
        iters=_KMEANS_ITERS,
    )


@register(
    "embedding_centroid_by_label",
    oracle="""
        SELECT label, pos,
               round(CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
                   AS centroid_val
        FROM (
            SELECT label, gs.i AS pos, CAST(embedding[gs.i + 1] AS DOUBLE) AS v
            FROM embeddings,
                 LATERAL (SELECT unnest(range(len(embedding))) AS i) gs
        )
        GROUP BY label, pos
    """,
    tags=("embedding", "centroid", "vector"),
)
def embedding_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, one row per (label, dimension): the building
    block of IVF coarse quantization and k-means.  Decimal accumulation
    makes the mean independent of partition order.

    Scale: explode is dim-bounded (x64); the aggregation shuffles
    (label, pos) pairs with map-side partial sums — O(labels x dims)
    output regardless of corpus size."""
    emb = load(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    )
    return exploded.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("v").cast("decimal(28,12)")).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("centroid_val")
    )


@register(
    "embedding_l2_normalize",
    # Emitted exploded (vec_id, pos, unit_val) rather than as an array column:
    # array-valued result cells are unhashable in the driver's canonicalizer,
    # and float→string joins aren't format-stable across engines.  Scalar
    # cells are both.  DuckDB zips unnest with generate_subscripts.
    oracle="""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
        SELECT vec_id,
               generate_subscripts(emb, 1) - 1 AS pos,
               round(unnest(emb) / sqrt(list_dot_product(emb, emb)), 6) AS unit_val
        FROM e
    """,
    tags=("embedding", "normalize", "vector"),
)
def embedding_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize vectors (map-only, JVM higher-order functions) — makes
    downstream cosine = dot, halving similarity compute.  The norm is
    staged behind a projection so the transform lambda doesn't re-fold it
    per element.  Output is posexploded to scalar cells for the driver's
    hasher; the array-valued form is the same plan minus the explode."""
    emb = F.col("emb")
    dot = _dot(emb, emb)
    return (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .select("vec_id", "emb", F.sqrt(dot).alias("nrm"))
        .select(
            "vec_id",
            F.posexplode(
                F.transform("emb", lambda x: F.round(x / F.col("nrm"), 6))
            ).alias("pos", "unit_val"),
        )
    )


_CC_ORACLE = f"""
    WITH RECURSIVE
    pairs AS ({_MINHASH_ORACLE}),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach(node, lbl) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node
    )
    SELECT node AS doc_id, MIN(lbl) AS component_id FROM reach GROUP BY node
"""


# The near-dup pair graph is consumed by BOTH connected-component variants
# (and any future keep-one pipeline); rebuilding the full MinHash pipeline
# per consumer cost ~3.3s of the 4.7s headline CC time.  Materialize it
# ONCE per (application, sf_dir) behind a localCheckpoint and share the
# checkpointed frame — the graph is tiny relative to the corpus (hundreds
# of pairs from 60k docs), so pinning it is free, and every consumer sees
# the identical edge set.  dedup_minhash_lsh itself stays uncached so its
# bench number keeps measuring the real signature pipeline.
_PAIR_GRAPH_CACHE: dict[tuple[str, str], DataFrame] = {}


def minhash_scored_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memoized pair graph WITH its verified jaccard scores — the
    r19 widening that lets score-consuming pipelines (medoid distances,
    the minhash-vs-exact eval) share the one materialized signature
    pass instead of re-running it (~2.5 s each at sf0.1).  Three
    columns checkpoint as cheaply as two; edge-only consumers go
    through minhash_pair_graph's projection so their shapes are
    unchanged."""
    from discogs_etl_spark.queries._util import session_memo

    return session_memo(
        _PAIR_GRAPH_CACHE,
        spark,
        sf_dir,
        lambda: dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b", "jaccard"),
    )


def minhash_pair_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_scored_graph(spark, sf_dir).select("doc_a", "doc_b")


@register(
    "dedup_connected_components",
    oracle=_CC_ORACLE,
    tags=("dedup", "graph", "iterative"),
    bench=True,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS: connected components over the MinHash pair graph,
    labeling every involved doc with min(doc_id) of its component — the
    canonical keep-one-per-group id that completes the dedup pipeline
    (pairs alone can't dedupe transitive chains A~B~C).

    Implementation: iterative min-label MESSAGE PASSING to fixpoint — the
    engine's pattern for iterative graph algorithms.  Each round is ONE
    join (messages along edges) + ONE grouped min over messages ∪ current
    labels — no second join for the convergence check: labels only ever
    decrease, so the exact decimal Σ(lbl) strictly decreases until the
    fixpoint and equality detects convergence for free on the same pass.
    ``localCheckpoint`` cuts lineage so round N doesn't replay rounds
    1..N-1; rounds are bounded by component diameter (near-dup clusters
    are shallow).  The oracle is a DuckDB recursive-CTE transitive
    closure over the identical pair set.

    Scale: at 100 TB swap min-propagation for the large-star/small-star
    contraction (O(log n) rounds) — same loop skeleton, same oracle."""
    # Materialized pair set (shared per-session cache): a union of the raw
    # plan with its swap would execute the whole MinHash pipeline twice
    # (measured 2x edge-build cost), and iterations must not replay it
    # either — the localCheckpoint inside minhash_pair_graph covers both.
    pairs = minhash_pair_graph(spark, sf_dir)
    # Size the loop's shuffles to the MATERIALIZED pair graph, not the
    # corpus: the checkpoint makes count() free, and the near-dup graph is
    # orders of magnitude smaller than the corpus that produced it
    # (256 pairs from 60k docs at sf0.1).  ~500k pairs per partition keeps
    # every iteration's join+agg at task counts the data warrants — tiny
    # graphs stop paying 32-partition scheduling latency per round
    # (measured 1.0s -> 0.67s/round), huge graphs still fan out to the
    # session's full parallelism.
    n_pairs = pairs.count()
    cur_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    loop_parts = max(1, min(cur_parts, n_pairs // 500_000 + 1))
    prev_conf = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    edges = (
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("u", "v")
        .repartition(loop_parts, "u")
    )
    # Round 1 fused into initialization: min(node, direct neighbors) is one
    # grouped min over edges ∪ self-loops — same shuffle the old
    # distinct-then-propagate init paid for labels alone, one fewer
    # join+agg round on the wire (measured ~1s/round of fixed latency at
    # small scale; at 100 TB a full map-reduce pass saved per run).
    try:
        labels = (
            edges.union(edges.select(F.col("u"), F.col("u")))
            .groupBy("u")
            .agg(F.min("v").alias("lbl"))
            .withColumnRenamed("u", "node")
            .cache()
        )
        prev_sum = labels.agg(F.sum(F.col("lbl").cast("decimal(38,0)"))).first()[0]
        prev_labels = labels
        while True:
            msgs = edges.join(labels, edges.u == labels.node).select(
                F.col("v").alias("node"), "lbl"
            )
            labels = (
                msgs.unionByName(labels)
                .groupBy("node")
                .agg(F.min("lbl").alias("lbl"))
                .cache()  # one action below both materializes this round and
                # tests convergence; lineage stays bounded via the cached parent
            )
            # decimal sum: exact at any node count, immune to long overflow
            cur_sum = labels.agg(F.sum(F.col("lbl").cast("decimal(38,0)"))).first()[0]
            if prev_labels is not None:
                prev_labels.unpersist()
            prev_labels = labels
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
    finally:
        # Labels are cached+materialized by the convergence actions, so the
        # returned plan reads the cache — restoring the session's shuffle
        # sizing here cannot re-plan the loop's exchanges.
        spark.conf.set("spark.sql.shuffle.partitions", prev_conf)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("component_id")
    )


def similarity_ivf_topk_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: a k-means coarse quantizer (nlist=16,
    seed=42) partitions the corpus into inverted lists; each query scores
    only its own list (nprobe=1).  The pyspark.ml path of the similarity
    family — sign-LSH (similarity_ann_signlsh) is the hash-based
    alternative, brute force the exactness baseline.

    Scale: fit() sees a sample-sized problem (centroids are k x dim);
    transform is a broadcast of k centroids + map-side argmin.  The
    candidate join shuffles on list_id — at nlist=sqrt(N) the expected
    candidate set per query is sqrt(N), the classic IVF operating point.

    Deliberately NOT optimized (r19 audit): ~4-6 s of this query's wall
    is KMeans.fit's Breeze/RDD path, which is the point — this is the
    engine's pyspark.ml API-surface exerciser, and the fitted model is
    RESULT-PINNED (seed=42; swapping in the broadcast-argmin Lloyd from
    curation.cluster_corpus would change the seeding and therefore the
    emitted rows).  In-run centroid caching has nothing to share: the
    fit runs once per build and similarity_ivf_topk is its only
    consumer.  The exact-arithmetic similarity family (bruteforce /
    signlsh / bucketed) is where similarity-search optimization work
    lands."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        array_to_vector(F.col("embedding").cast("array<double>")).alias("vec"),
    )
    if emb.isEmpty():
        # The coarse quantizer cannot fit on zero vectors, and an empty
        # corpus has no neighbors anyway — return the stable
        # (q_vec_id, vec_id, rank, cos) schema with no rows (r11
        # empty-input hardening; isEmpty is a limit(1) probe, not a scan).
        return emb.select(
            F.col("vec_id").alias("q_vec_id"),
            "vec_id",
            F.lit(1).alias("rank"),
            F.lit(0.0).alias("cos"),
        )
    model = KMeans(k=16, seed=42, featuresCol="vec", predictionCol="list_id").fit(emb)
    assigned = model.transform(emb).select("vec_id", "emb", "list_id")
    q = assigned.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("emb").alias("q_emb"),
        F.col("list_id").alias("q_list_id"),
    )
    cos = _cosine(F.col("q_emb"), F.col("emb"))
    w = Window.partitionBy("q_vec_id").orderBy(F.desc("raw_cos"), F.asc("vec_id"))
    return (
        assigned.join(
            F.broadcast(q),
            (F.col("list_id") == F.col("q_list_id"))
            & (F.col("vec_id") != F.col("q_vec_id")),
        )
        .select("q_vec_id", "vec_id", cos.alias("raw_cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("q_vec_id", "vec_id", "rank", F.round("raw_cos", 6).alias("cos"))
    )


@register(
    "similarity_ivf_topk",
    # Floating k-means assignments aren't SQL-expressible, so the registered
    # form verifies ITSELF against the brute-force baseline with invariants
    # that hold for ANY clustering: per query, the result set is ranked and
    # bounded by k, and the best IVF cosine can never exceed the best exact
    # cosine (IVF candidates ⊆ all pairs; identical float path per pair).
    # Those booleans are deterministic, so the oracle is a constant table.
    oracle="""
        SELECT vec_id AS q_vec_id,
               1 AS results_bounded,
               1 AS ranks_contiguous,
               1 AS ivf_le_exact
        FROM embeddings
        WHERE vec_id < 20
    """,
    tags=("similarity", "ann", "ivf", "kmeans"),
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying IVF ANN (see ``similarity_ivf_topk_raw`` for the
    actual top-k result surface): emits one row per query asserting
    (1) ≤k ranked results, (2) contiguous ranks 1..n, (3) IVF's best
    cosine ≤ brute-force's best cosine.  All three are clustering-
    independent, so the driver gets a real value-hash green instead of a
    rows-only pass."""
    raw = similarity_ivf_topk_raw(spark, sf_dir)
    per_q = raw.groupBy("q_vec_id").agg(
        F.count(F.lit(1)).alias("n_res"),
        F.max("rank").alias("max_rank"),
        F.max("cos").alias("ivf_best"),  # rounded; compared to rounded exact
    )
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_vec_id"), F.col("emb").alias("q_emb")
    )
    cos = _cosine(F.col("q_emb"), F.col("emb"))
    exact_best = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("q_vec_id"))
        .select("q_vec_id", cos.alias("raw_cos"))
        .groupBy("q_vec_id")
        # round is monotone, so max(round(x)) == round(max(x)) and the
        # subset inequality survives rounding on both sides.
        .agg(F.round(F.max("raw_cos"), 6).alias("exact_best"))
    )
    return (
        q.select("q_vec_id")
        .join(per_q, "q_vec_id", "left")
        .join(exact_best, "q_vec_id", "left")
        .select(
            "q_vec_id",
            F.coalesce(F.col("n_res") <= 3, F.lit(True)).cast("int").alias(
                "results_bounded"
            ),
            F.coalesce(F.col("max_rank") == F.col("n_res"), F.lit(True))
            .cast("int")
            .alias("ranks_contiguous"),
            F.coalesce(F.col("ivf_best") <= F.col("exact_best"), F.lit(True))
            .cast("int")
            .alias("ivf_le_exact"),
        )
    )


@register(
    "dedup_keep_best",
    oracle="""
        WITH scored AS (
            SELECT doc_id, md5(text) AS grp,
                   len(list_distinct(string_split(text, ' '))) AS n_uniq
            FROM documents
        )
        SELECT doc_id, grp, n_uniq FROM (
            SELECT doc_id, grp, n_uniq,
                   ROW_NUMBER() OVER (PARTITION BY grp
                                      ORDER BY n_uniq DESC, doc_id) AS rn
            FROM scored
        ) WHERE rn = 1
    """,
    tags=("dedup", "quality", "keep_best"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup + quality selection fused: within each exact-content group,
    keep the highest-quality row (here: most unique tokens, doc_id
    tie-break) — the keep-policy layer every production dedup needs on
    top of group detection.  One window over the content-hash shuffle."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5("text").alias("grp"),
        F.size(F.array_distinct(_words())).alias("n_uniq"),
    )
    w = Window.partitionBy("grp").orderBy(F.desc("n_uniq"), F.asc("doc_id"))
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "grp", "n_uniq")
    )


@register(
    "ngram_bigram_counts",
    oracle="""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        bg AS (
            SELECT unnest(list_transform(range(1, len(w)),
                          i -> w[i] || ' ' || w[i + 1])) AS bigram
            FROM w WHERE len(w) >= 2
        )
        SELECT bigram, COUNT(*) AS n
        FROM bg GROUP BY bigram HAVING COUNT(*) >= 5
    """,
    tags=("text", "ngram", "lm"),
)
def ngram_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts (n-gram LM / tokenizer-training prep), with a
    min-count floor.  Map-side: per-doc bigram arrays built row-locally
    (staged split, no per-element re-split); one shuffle on the bigram
    key with partial aggregation."""
    d = load(spark, sf_dir, "documents").selectExpr("split(text, ' ') AS w")
    bg = d.where(F.size("w") >= 2).selectExpr(
        "explode(transform(sequence(1, size(w) - 1),"
        " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))) AS bigram"
    )
    return (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 5)
    )


@register(
    "tfidf_top_terms",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        ),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
        df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
        n AS (SELECT COUNT(*) AS n FROM documents)
        SELECT doc_id, term, round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
        FROM (
            SELECT t.doc_id, t.term,
                   t.tf, d.df, n.n,
                   ROW_NUMBER() OVER (
                       PARTITION BY t.doc_id
                       ORDER BY t.tf * ln(CAST(n.n AS DOUBLE) / d.df) DESC, t.term
                   ) AS rn
            FROM tf t JOIN df d USING (term) CROSS JOIN n
        ) WHERE rn <= 5
    """,
    tags=("text", "tfidf", "ranking"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document — the classic relevance/keyword
    operator, all relational: tf and df are two aggregations over one
    tokenize pass, idf joins back by term (broadcast — vocabulary is
    small relative to the corpus), top-k via window group-limit.

    Determinism: tf/df/N are integers; ln and the product are evaluated
    in the same double precision on both engines; ties broken by term."""
    tok = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(_words()).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = load(spark, sf_dir, "documents").count()  # one tiny driver-side agg
    score = F.col("tf") * F.log(F.lit(float(n)) / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        tf.join(F.broadcast(df), "term")
        .withColumn("score", score)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("doc_id", "term", F.round("score", 6).alias("tfidf"))
    )


_RECALL_ORACLE = f"""
    WITH exact AS (
        SELECT q_vec_id, vec_id FROM (
            SELECT q.vec_id AS q_vec_id, v.vec_id AS vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_SQL_COS.format(a='q.embedding', b='v.embedding')} DESC,
                                v.vec_id
                   ) AS rank
            FROM (SELECT * FROM embeddings WHERE vec_id < 20) q
            JOIN embeddings v ON v.vec_id <> q.vec_id
        ) WHERE rank <= 3
    ),
    bucketed AS (
        SELECT vec_id, embedding, {_sql_sign_bucket('embedding')} AS bucket
        FROM embeddings
    ),
    approx AS (
        SELECT q_vec_id, vec_id FROM (
            SELECT q.vec_id AS q_vec_id, v.vec_id AS vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_SQL_COS.format(a='q.embedding', b='v.embedding')} DESC,
                                v.vec_id
                   ) AS rank
            FROM (SELECT * FROM bucketed WHERE vec_id < 20) q
            JOIN bucketed v ON v.bucket = q.bucket AND v.vec_id <> q.vec_id
        ) WHERE rank <= 3
    )
    SELECT e.q_vec_id,
           COUNT(a.vec_id) AS n_hit,
           COUNT(*) AS k,
           round(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall_at_k
    FROM exact e
    LEFT JOIN approx a ON e.q_vec_id = a.q_vec_id AND e.vec_id = a.vec_id
    GROUP BY e.q_vec_id
"""


@register(
    "similarity_ann_recall",
    oracle=_RECALL_ORACLE,
    tags=("similarity", "ann", "recall", "evaluation"),
)
def similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@3 of sign-LSH ANN against the exact brute-force
    neighbors — the evaluation harness that turns 'approximate' into a
    measured number.  Both pipelines are deterministic, so even the
    EVALUATION is oracle-checked.

    Scale: the same measurement runs on a sampled query set at any size;
    recall-vs-bucket-bits is the tuning curve for the LSH scheme."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_vec_id"), F.col("emb").alias("q_emb")
    )
    cos = _cosine(F.col("q_emb"), F.col("emb"))
    w = Window.partitionBy("q_vec_id").orderBy(F.desc("raw_cos"), F.asc("vec_id"))
    exact = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("q_vec_id"))
        .select("q_vec_id", "vec_id", cos.alias("raw_cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("q_vec_id", "vec_id")
    )
    approx = similarity_ann_signlsh(spark, sf_dir).select("q_vec_id", "vec_id")
    hit = approx.withColumn("hit", F.lit(1))
    return (
        exact.join(hit, ["q_vec_id", "vec_id"], "left")
        .groupBy("q_vec_id")
        .agg(
            F.count("hit").alias("n_hit"),
            F.count(F.lit(1)).alias("k"),
            F.round(F.count("hit").cast("double") / F.count(F.lit(1)), 6).alias(
                "recall_at_k"
            ),
        )
    )


@register(
    "corpus_curate_pipeline",
    oracle="""
        WITH normed AS (
            SELECT doc_id, lang,
                   trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                       ' +', ' ', 'g')) AS norm_text
            FROM documents
        ),
        gated AS (
            SELECT doc_id, lang, norm_text,
                   len(string_split(norm_text, ' ')) AS n_tokens
            FROM normed
            WHERE len(string_split(norm_text, ' ')) BETWEEN 30 AND 2000
        ),
        deduped AS (
            SELECT doc_id, lang, n_tokens FROM (
                SELECT doc_id, lang, n_tokens,
                       ROW_NUMBER() OVER (PARTITION BY md5(norm_text)
                                          ORDER BY doc_id) AS rn
                FROM gated
            ) WHERE rn = 1
        )
        SELECT doc_id, lang, n_tokens,
               CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80
                    THEN 'train'
                    WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
                    THEN 'val' ELSE 'test' END AS split
        FROM deduped
    """,
    tags=("pipeline", "composition", "dedup", "quality", "split"),
    bench=True,
)
def corpus_curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE declarative plan: normalize →
    length-gate → exact dedup on normalized content (keep lowest doc_id)
    → deterministic train/val/test assignment.  Composition is the point:
    every stage is one of this engine's registered operators, and fusing
    them costs one window shuffle plus map work — Catalyst pipelines the
    rest.  This is the query a reference user runs nightly at 100 TB."""
    # Stage the regex normalization ONCE: the derived projection references
    # norm_text in TWO non-cheap expressions (md5 + size∘split), which
    # blocks CollapseProject from re-inlining the regex chain, and the
    # length gate runs AFTER the dedup window — identical norm_text implies
    # identical n_tokens, so gating whole groups there is semantically
    # identical while keeping filter pushdown from cloning the
    # normalization into a pre-scan filter.  Without this staging the
    # normalization runs 4x per row (measured: 8 regexp_replace nodes in
    # the physical plan, ~2.4x slower end-to-end).
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    normed = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", norm.alias("norm_text")
    )
    derived = normed.select(
        "doc_id",
        "lang",
        F.md5("norm_text").alias("content_md5"),
        F.size(F.split("norm_text", " ")).alias("n_tokens"),
    )
    w = Window.partitionBy("content_md5").orderBy("doc_id")
    deduped = (
        derived.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & F.col("n_tokens").between(30, 2000))
        .select("doc_id", "lang", "n_tokens")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return deduped.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
    )


_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24  # 8-token overlap


@register(
    "text_chunk_sliding",
    oracle=f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        SELECT doc_id,
               CAST((s.start - 1) / {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
               array_to_string(w[s.start : s.start + {_CHUNK_SIZE} - 1], ' ')
                   AS chunk_text,
               CAST(least({_CHUNK_SIZE}, len(w) - s.start + 1) AS BIGINT)
                   AS chunk_tokens
        FROM t, LATERAL (
            SELECT unnest(range(1, len(w) + 1, {_CHUNK_STRIDE})) AS start
        ) s
    """,
    tags=("text", "chunking", "training"),
    bench=True,
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (32-token chunks, 24-token stride
    → 8-token overlap): the op that turns a corpus into training
    sequences.  Chunk starts come from a stepped sequence; each chunk is
    a row-local array slice — map-only, no shuffle, no Python.

    Scale: output rows ≈ tokens/stride; chunk boundaries are
    deterministic so re-runs and incremental processing align."""
    d = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", "split(text, ' ') AS w"
    )
    return d.selectExpr(
        "doc_id",
        f"explode(sequence(1, size(w), {_CHUNK_STRIDE})) AS start",
        "w",
    ).selectExpr(
        "doc_id",
        f"CAST((start - 1) DIV {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx",
        f"array_join(slice(w, start, {_CHUNK_SIZE}), ' ') AS chunk_text",
        f"CAST(least({_CHUNK_SIZE}, size(w) - start + 1) AS BIGINT) AS chunk_tokens",
    )


_PACK_BIN_TOKENS = 512


@register(
    "pack_sequences_by_budget",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tokens,
                   SUM(len(string_split(text, ' ')))
                       OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS tokens_before
            FROM documents
        )
        SELECT doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(COALESCE(tokens_before, 0) // {_PACK_BIN_TOKENS} AS BIGINT)
                   AS bin_id
        FROM t
    """,
    tags=("text", "packing", "training"),
)
def pack_sequences_by_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: assign documents (in stable doc_id order)
    to ~512-token bins by cumulative token count — the standard
    sequence-packing pass before writing training shards.  One prefix-sum
    window; bin assignment is a pure function of the running total, so
    packing is reproducible across runs/partitionings.

    Scale: a single global ordering is the textbook bottleneck — shard
    first (e.g. by split/lang), pack within shards; the window here runs
    per-partition after such a repartition."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(_words()).alias("n_tokens")
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    return d.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / _PACK_BIN_TOKENS)
        .cast("long")
        .alias("bin_id"),
    )


@register(
    "pack_sequences_sharded",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang, source,
                   len(string_split(text, ' ')) AS n_tokens,
                   SUM(len(string_split(text, ' ')))
                       OVER (PARTITION BY lang, source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS tokens_before
            FROM documents
        )
        SELECT doc_id, lang, source,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(COALESCE(tokens_before, 0) // {_PACK_BIN_TOKENS} AS BIGINT)
                   AS bin_id
        FROM t
    """,
    tags=("text", "packing", "training", "scale"),
)
def pack_sequences_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, production form: pack WITHIN (lang, source) shards
    instead of one global doc_id order — the prefix-sum window gets a
    partition key, so the sort is per-shard and every shard packs in
    parallel.  ``pack_sequences_by_budget`` (global order, single-task
    sort) is kept as the semantic baseline; this is the one to run at
    100 TB.  Bins are per-shard, so a training shard is identified by
    (lang, source, bin_id) — exactly how packed shards are laid out on
    disk anyway.

    Scale: shuffle keys are (lang, source) — add a deterministic sub-shard
    (e.g. crc32(doc_id) % k) to the partition key if one shard outgrows a
    task; semantics per sub-shard are unchanged."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", F.size(_words()).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return d.select(
        "doc_id",
        "lang",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / _PACK_BIN_TOKENS)
        .cast("long")
        .alias("bin_id"),
    )


# ---------------------------------------------------------------------------
# Corpus hygiene: repetition, cross-doc duplication, decontamination
# ---------------------------------------------------------------------------

@register(
    "text_repetition_score",
    oracle="""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        g AS (
            SELECT doc_id,
                   CASE WHEN len(w) >= 2
                        THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                        ELSE [] END AS bg,
                   CASE WHEN len(w) >= 3
                        THEN list_transform(range(1, len(w) - 1),
                                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                        ELSE [] END AS tg
            FROM t
        )
        SELECT doc_id,
               CAST(len(bg) AS BIGINT) AS n_bigrams,
               round(CASE WHEN len(bg) > 0
                          THEN 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
                          ELSE 0.0 END, 6) AS dup_bigram_frac,
               round(CASE WHEN len(tg) > 0
                          THEN 1.0 - CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg)
                          ELSE 0.0 END, 6) AS dup_trigram_frac
        FROM g
    """,
    tags=("text", "quality", "repetition", "gopher"),
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals (the Gopher-rules family):
    duplicate-bigram and duplicate-trigram fractions.  Boilerplate- and
    loop-generated text scores high and gets gated before training.

    Map-only: n-grams are row-local array transforms (JVM lambdas); the
    word split and the n-gram arrays are staged behind projections so
    lambda inputs aren't re-evaluated per element.  No shuffle at all —
    at 100 TB this runs at scan speed."""
    d = load(spark, sf_dir, "documents").selectExpr("doc_id", "split(text, ' ') AS w")
    g = d.selectExpr(
        "doc_id",
        "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1), "
        "i -> concat(element_at(w, i), ' ', element_at(w, i + 1))) "
        "ELSE array() END AS bg",
        "CASE WHEN size(w) >= 3 THEN transform(sequence(1, size(w) - 2), "
        "i -> concat(element_at(w, i), ' ', element_at(w, i + 1), ' ', element_at(w, i + 2))) "
        "ELSE array() END AS tg",
    )
    return g.selectExpr(
        "doc_id",
        "CAST(size(bg) AS BIGINT) AS n_bigrams",
        "round(CASE WHEN size(bg) > 0 "
        "THEN 1.0D - CAST(size(array_distinct(bg)) AS DOUBLE) / size(bg) "
        "ELSE 0.0D END, 6) AS dup_bigram_frac",
        "round(CASE WHEN size(tg) > 0 "
        "THEN 1.0D - CAST(size(array_distinct(tg)) AS DOUBLE) / size(tg) "
        "ELSE 0.0D END, 6) AS dup_trigram_frac",
    )


_CROSSDOC_ORACLE = f"""
    WITH sh AS (
        SELECT doc_id, unnest({_SQL_TRIGRAMS}) AS s FROM documents
    ),
    freq AS (
        SELECT s, COUNT(*) AS df FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           COUNT(*) AS n_shingles,
           round(CAST(COUNT(*) FILTER (WHERE freq.df > 1) AS DOUBLE) / COUNT(*), 6)
               AS crossdoc_dup_frac
    FROM sh JOIN freq ON sh.s = freq.s
    GROUP BY sh.doc_id
"""


@register(
    "dedup_ngram_crossdoc",
    oracle=_CROSSDOC_ORACLE,
    tags=("dedup", "ngram", "crossdoc", "contamination"),
)
def dedup_ngram_crossdoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of 3-gram shingles shared with ANY other
    document — the corpus-level duplication profile that decides between
    exact dedup, near dedup, and span-level scrubbing for a crawl.

    Plan: one map-only shingle explode, one shuffle to count shingle
    document-frequency, one equi-join back on shingle, one per-doc agg.
    The inverted index (shingle → df) is the same artifact the
    dedup_ngram_jaccard verifier builds; here it only carries counts, so
    there is no pair blowup — output is one row per document regardless
    of duplication structure.  At 100 TB the join shuffles on the shingle
    key and AQE splits hot (boilerplate) shingles."""
    docs = load(spark, sf_dir, "documents")
    sh = _with_shingles(docs, "doc_id").select(
        "doc_id", F.explode("shingles").alias("s")
    )
    freq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(freq, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(
                F.sum(F.when(F.col("df") > 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("crossdoc_dup_frac"),
        )
    )


_DECON_ORACLE = f"""
    WITH sh AS (
        SELECT doc_id, unnest({_SQL_TRIGRAMS}) AS s FROM documents
    ),
    eval_sh AS (
        SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0
    )
    SELECT sh.doc_id,
           COUNT(*) AS n_overlap_shingles
    FROM sh JOIN eval_sh ON sh.s = eval_sh.s
    WHERE sh.doc_id % 97 <> 0
    GROUP BY sh.doc_id
"""


@register(
    "decontaminate_eval_overlap",
    oracle=_DECON_ORACLE,
    tags=("dedup", "decontamination", "eval"),
)
def decontaminate_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination report: for every training document,
    the number of 3-gram shingles it shares with the held-out eval set
    (stand-in: doc_id % 97 == 0) — the docs to drop or scrub before
    training.  Anti-joining this report against the corpus IS the
    decontamination pass.

    Plan: the eval shingle set is tiny relative to the corpus (eval
    benchmarks vs a crawl), so it BROADCASTS; the corpus side stays a
    map-only explode + broadcast-hash join + per-doc agg — zero
    corpus-sized shuffles, which is what makes decontamination cheap
    enough to run on every training refresh at 100 TB."""
    docs = load(spark, sf_dir, "documents")
    sh = _with_shingles(docs, "doc_id").select(
        "doc_id", F.explode("shingles").alias("s")
    )
    eval_sh = (
        sh.where(F.col("doc_id") % 97 == 0).select("s").distinct()
    )
    return (
        sh.where(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(eval_sh), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap_shingles"))
    )


# ---------------------------------------------------------------------------
# Corpus production ops: redaction, mixture sampling, shuffle-sharding,
# boilerplate detection
# ---------------------------------------------------------------------------

@register(
    "text_redact_pii",
    oracle=r"""
        WITH pat AS (
            SELECT doc_id,
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(text,
                               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
                               '<EMAIL>', 'g'),
                           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                       '\bspark\b', '<TERM>', 'g') AS redacted,
                   CAST(regexp_extract_all(text,
                        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}') AS VARCHAR[])
                       AS _em,
                   CAST(regexp_extract_all(text,
                        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b') AS VARCHAR[]) AS _ip,
                   CAST(regexp_extract_all(text, '\bspark\b') AS VARCHAR[]) AS _tm
            FROM documents
        )
        SELECT doc_id, redacted,
               CAST(len(_em) + len(_ip) + len(_tm) AS BIGINT) AS n_redactions
        FROM pat
        WHERE len(_em) + len(_ip) + len(_tm) > 0
        ORDER BY doc_id
    """,
    tags=("text", "pii", "redaction"),
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / blocklist redaction: replace email addresses, IPv4 addresses,
    and blocklisted terms with typed placeholder tokens, reporting the
    per-document redaction count — the standard scrub pass before any
    corpus leaves the curation pipeline.  (The synthetic fixtures carry no
    real PII, so a present term exercises the replacement path; the
    email/IP patterns are live for real corpora.)

    Scale: pure map-side regexp chain, whole-stage codegen, no shuffle;
    the count filter prunes clean documents before they reach the sink."""
    email = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
    ipv4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
    term = r"\bspark\b"
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), email, "<EMAIL>"), ipv4, "<IP>"
        ),
        term,
        "<TERM>",
    )
    n_red = (
        F.regexp_count(F.col("text"), F.lit(email))
        + F.regexp_count(F.col("text"), F.lit(ipv4))
        + F.regexp_count(F.col("text"), F.lit(term))
    ).cast("long")
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", redacted.alias("redacted"), n_red.alias("n_redactions"))
        .where(F.col("n_redactions") > 0)
        .orderBy("doc_id")
    )


@register(
    "corpus_mix_sources",
    oracle="""
        WITH rated AS (
            SELECT doc_id, source,
                   CASE (('0x' || substr(md5(source), 1, 8))::BIGINT % 4)
                        WHEN 0 THEN 1.00 WHEN 1 THEN 0.50
                        WHEN 2 THEN 0.25 ELSE 0.10 END AS rate,
                   (('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                        % 10000) / 10000.0 AS u
            FROM documents
        )
        SELECT source,
               CAST(ROUND(ANY_VALUE(rate) * 100) AS BIGINT) AS rate_pct,
               COUNT(*) AS n_docs,
               COUNT(*) FILTER (WHERE u < rate) AS n_kept
        FROM rated
        GROUP BY source
        ORDER BY source
    """,
    tags=("sampling", "mixture", "deterministic"),
)
def corpus_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling: each source gets a target sampling rate
    (here derived deterministically from the source name; in production a
    supplied weights table) and documents are kept by comparing a
    content-keyed uniform hash against it — the op that turns raw crawl
    proportions into the training mixture.  Reported per source: rate,
    population, and kept count.

    Scale: rate lookup and keep-decision are map-side (the weights table
    broadcasts when real); the only shuffle is the per-source count agg.
    Hash-based keeps are reproducible across runs, partitionings, and
    engines — rand() sampling is none of these."""
    docs = load(spark, sf_dir, "documents")
    rate = (
        F.when(F.conv(F.substring(F.md5("source"), 1, 8), 16, 10).cast("long") % 4 == 0, 1.00)
        .when(F.conv(F.substring(F.md5("source"), 1, 8), 16, 10).cast("long") % 4 == 1, 0.50)
        .when(F.conv(F.substring(F.md5("source"), 1, 8), 16, 10).cast("long") % 4 == 2, 0.25)
        .otherwise(0.10)
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 10000
    ) / 10000.0
    return (
        docs.select("doc_id", "source", rate.alias("rate"), u.alias("u"))
        .groupBy("source")
        .agg(
            F.round(F.any_value("rate") * 100).cast("long").alias("rate_pct"),
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("u") < F.col("rate"), 1)).alias("n_kept"),
        )
        .orderBy("source")
    )


@register(
    "corpus_shuffle_shards",
    oracle="""
        SELECT doc_id,
               ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
                   AS shard,
               ROW_NUMBER() OVER (
                   PARTITION BY ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
                   ORDER BY md5('pos:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS pos
        FROM documents
    """,
    tags=("sampling", "shuffle", "shard", "deterministic"),
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + sharding for training: every document
    gets a shard (keyed hash — shards are balanced in expectation) and a
    reproducible pseudo-random position within it (ordering by a second,
    independent hash).  This is the "shuffle the corpus before training"
    op, with none of rand()'s run-to-run drift.

    Scale: ONE shuffle on the shard key, then a per-shard sort — each
    shard sorts independently (no global order), so the sort parallelism
    equals the shard count; writers consume shards as files directly."""
    shard = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 8
    )
    pos_key = F.md5(F.concat(F.lit("pos:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("shard").orderBy("pos_key", "doc_id")
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", shard.alias("shard"), pos_key.alias("pos_key"))
        .select("doc_id", "shard", F.row_number().over(w).alias("pos"))
    )


@register(
    "boilerplate_prefix_groups",
    oracle="""
        WITH pref AS (
            SELECT doc_id,
                   array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')
                       AS prefix
            FROM documents
        )
        SELECT md5(prefix) AS prefix_hash,
               COUNT(*) AS n_docs,
               MIN(doc_id) AS first_doc_id
        FROM pref
        GROUP BY md5(prefix)
        HAVING COUNT(*) > 1
        ORDER BY n_docs DESC, prefix_hash
    """,
    tags=("text", "boilerplate", "dedup"),
)
def boilerplate_prefix_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate / template detection: documents sharing an identical
    8-word prefix (hashed) are grouped — repeated prefixes across unrelated
    documents are the signature of scraped headers, cookie banners, and
    license stubs that dedup-by-whole-content misses.

    Scale: map-side prefix hash, one partial-agg-friendly shuffle on the
    16-byte hash, HAVING prunes singletons before the sink — the same
    shape (and cost) as exact-hash dedup."""
    prefix = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 8), " ")
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.md5(prefix).alias("prefix_hash"))
        .groupBy("prefix_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc_id"))
        .where(F.col("n_docs") > 1)
        .orderBy(F.desc("n_docs"), "prefix_hash")
    )


# ---------------------------------------------------------------------------
# End-to-end fuzzy dedup (pairs → components → keep-one) and quantile
# quality gating
# ---------------------------------------------------------------------------

_FUZZY_KEEP_ORACLE = f"""
    WITH RECURSIVE
    pairs AS ({_MINHASH_ORACLE}),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach(node, lbl) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node AS doc_id, MIN(lbl) AS component_id
             FROM reach GROUP BY node),
    scored AS (
        SELECT doc_id,
               len(list_distinct(string_split(text, ' '))) AS n_uniq
        FROM documents
    ),
    lab AS (
        SELECT s.doc_id,
               COALESCE(c.component_id, s.doc_id) AS component_id,
               s.n_uniq
        FROM scored s LEFT JOIN comp c ON s.doc_id = c.doc_id
    )
    SELECT component_id, doc_id AS keep_doc_id, n_members
    FROM (
        SELECT component_id, doc_id, n_uniq,
               COUNT(*) OVER (PARTITION BY component_id) AS n_members,
               ROW_NUMBER() OVER (PARTITION BY component_id
                                  ORDER BY n_uniq DESC, doc_id) AS rn
        FROM lab
    ) WHERE rn = 1
"""


@register(
    "dedup_fuzzy_keep_one",
    oracle=_FUZZY_KEEP_ORACLE,
    tags=("dedup", "pipeline", "keep_best", "graph"),
)
def dedup_fuzzy_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE near-dedup product: MinHash-LSH pairs → connected
    components → highest-quality survivor per component (most unique
    tokens, doc_id tie-break), with untouched documents kept as their own
    singleton components.  The output IS the deduplicated corpus roster —
    what pairs (dedup_minhash_lsh) and groups (dedup_connected_components)
    each only contribute a stage of.

    Plan: reuses the CC labels (already materialized + cached by the
    fixpoint loop — the near-dup graph is orders of magnitude smaller
    than the corpus), BROADCASTS them into a corpus-side left join, then
    one window shuffle on component_id picks survivors and counts
    members in the same exchange.

    Scale: the only corpus-sized cost after the MinHash stage is that
    single component_id window; labels stay broadcast-sized because only
    docs with a near-dup pair ever enter the graph."""
    labels = dedup_connected_components(spark, sf_dir)
    scored = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.array_distinct(_words())).cast("long").alias("n_uniq")
    )
    lab = (
        scored.join(F.broadcast(labels), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", "doc_id").alias("component_id"),
            "n_uniq",
        )
    )
    wc = Window.partitionBy("component_id")
    wr = Window.partitionBy("component_id").orderBy(F.desc("n_uniq"), F.asc("doc_id"))
    return (
        lab.withColumn("n_members", F.count(F.lit(1)).over(wc))
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select("component_id", F.col("doc_id").alias("keep_doc_id"), "n_members")
    )


@register(
    "quality_gate_quantile",
    oracle="""
        WITH scored AS (
            SELECT doc_id, lang,
                   round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                         / len(string_split(text, ' ')), 6) AS score
            FROM documents
        ),
        thr AS (
            SELECT lang, quantile_disc(score, 0.75) AS thr
            FROM scored GROUP BY lang
        )
        SELECT s.doc_id, s.lang, s.score, t.thr
        FROM scored s JOIN thr t USING (lang)
        WHERE s.score >= t.thr
    """,
    tags=("text", "quality", "quantile", "gate"),
)
def quality_gate_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative quality gating: keep each language's top quartile by
    type-token ratio — the data-driven alternative to fixed thresholds
    (text_quality_score) that survives distribution shift between
    languages and crawl snapshots.

    Plan: two-pass broadcast-threshold shape — pass 1 reduces the corpus
    to one exact-percentile row per language (percentile_disc SELECTS a
    member value, so both engines pick the identical rounded double —
    no interpolation arithmetic to diverge); pass 2 re-scans with the
    tiny threshold table broadcast into a map-side join + filter.

    Scale: the corpus is never shuffled — pass 1's exchange carries only
    (lang, score) pairs into ~|langs| groups, pass 2 is map-only.  At
    100 TB swap percentile_disc for approx_percentile in pass 1 (same
    broadcast shape) when exactness isn't required."""
    w = _words()
    scored = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.round(
            F.size(F.array_distinct(w)).cast("double") / F.size(w), 6
        ).alias("score"),
    )
    thr = scored.groupBy("lang").agg(
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY score)").alias("thr")
    )
    return (
        scored.join(F.broadcast(thr), "lang")
        .where(F.col("score") >= F.col("thr"))
        .select("doc_id", "lang", "score", "thr")
    )


def connected_components_star(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """Connected components of an undirected pair graph by LARGE-STAR /
    SMALL-STAR contraction (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): O(log n) rounds vs the component
    diameter that bounds min-label propagation.  ``pairs`` must have two
    numeric columns (an edge per row, either orientation); returns
    (doc_id, component_id = min id of the component) for every node that
    appears in an edge.

    Per round, two grouped contractions over the CURRENT edge set:

    - large-star: per node u (full symmetric adjacency), hook every
      strictly-larger neighbor to m = min(N(u) ∪ u) — breaks long chains
      logarithmically;
    - small-star: edges oriented max→min, per node u hook all its
      smaller neighbors (and u itself) to their minimum.

    Both are one shuffle each on the grouping node; a hub contracts its
    whole neighborhood inside one group, which is what makes the star
    formulation degree-skew-safe at 100 TB.  Convergence = edge set
    unchanged across a round: a cheap exact-decimal signature
    (count + Σ(u·K+v)) filters candidate fixpoints, then an exceptAll
    set comparison CONFIRMS equality (the radix sum alone can collide —
    {(10,1),(20,5)} and {(10,5),(20,1)} share count and sum), so
    convergence is exact, never probabilistic.  A fixpoint of the
    combined map is a star forest (the paper's potential argument), and
    each edge then points node→component-min.  localCheckpoint cuts
    lineage per round."""
    a, b = pairs.columns[0], pairs.columns[1]
    n_pairs = pairs.count()
    prev_conf = spark.conf.get("spark.sql.shuffle.partitions")
    loop_parts = max(1, min(int(prev_conf), n_pairs // 500_000 + 1))
    spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))

    def _signature(e):
        return e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("u").cast("decimal(38,0)") * F.lit(4294967311).cast("decimal(38,0)"))
                + F.col("v").cast("decimal(38,0)")
            ).alias("s"),
        ).first()

    try:
        # canonical u > v; self-loops contribute nothing and are dropped
        edges = (
            pairs.select(F.greatest(a, b).alias("u"), F.least(a, b).alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        sig = _signature(edges)
        while True:
            # ---- large-star: group the full symmetric adjacency by u;
            # hook neighbors > u to the group min (≤ u, so emitted pairs
            # stay canonical big→small)
            adj = edges.union(edges.select(F.col("v"), F.col("u"))).toDF("u", "v")
            # No distinct here: large-star output may repeat a (w, m)
            # pair across source groups, but the small-star aggregation
            # below dedups it for free — collect_set merges duplicates
            # map-side during its partial aggregation, where the former
            # ls.distinct() paid a full extra exchange of the edge set
            # every round (guide §2.4).
            ls = (
                adj.groupBy("u")
                .agg(F.collect_list("v").alias("nbrs"))
                .select(
                    "u",
                    F.least(F.array_min("nbrs"), F.col("u")).alias("m"),
                    F.explode("nbrs").alias("w"),
                )
                .where(F.col("w") > F.col("u"))
                .select(F.col("w").alias("u"), F.col("m").alias("v"))
            )
            # ---- small-star: ls edges are oriented max→min already; per
            # u hook all (smaller) neighbors and u itself to the minimum
            ss = (
                ls.groupBy("u")
                .agg(F.collect_set("v").alias("nbrs"))
                .select(
                    "u",
                    F.array_min("nbrs").alias("m"),
                    F.explode(F.array_union("nbrs", F.array(F.col("u")))).alias("w"),
                )
                .where(F.col("w") != F.col("m"))
                .select(F.col("w").alias("u"), F.col("m").alias("v"))
                .distinct()
                .localCheckpoint()
            )
            new_sig = _signature(ss)
            prev_edges, edges = edges, ss
            if (new_sig["n"], new_sig["s"]) == (sig["n"], sig["s"]):
                # candidate fixpoint — confirm set equality exactly
                # (counts already equal, so one-sided difference suffices)
                if ss.exceptAll(prev_edges).isEmpty():
                    break
            sig = new_sig
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_conf)
    # star forest: every edge points node→root(min); roots label themselves
    return (
        edges.select(F.col("u").alias("doc_id"), F.col("v").alias("component_id"))
        .union(edges.select(F.col("v"), F.col("v")))
        .distinct()
    )


@register(
    "dedup_cc_starcontraction",
    oracle=_CC_ORACLE,
    tags=("dedup", "graph", "iterative", "starcontraction"),
    bench=True,
)
def dedup_cc_starcontraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the MinHash near-dup graph by large-star /
    small-star contraction (see ``connected_components_star``) — the
    O(log n)-round 100 TB path that min-label propagation
    (dedup_connected_components) documents as its scale swap; this makes
    the swap real.  Identical output contract (every pair-graph node →
    min doc_id of its component) and the identical recursive-CTE
    oracle.  Benched head-to-head with the min-label variant (both share
    the cached pair graph, so the numbers isolate the loop itself)."""
    return connected_components_star(spark, minhash_pair_graph(spark, sf_dir))


@register(
    "embedding_quantize_int8",
    oracle="""
        WITH base AS (
            SELECT vec_id, label,
                   CAST(embedding AS DOUBLE[]) AS emb,
                   list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                           x -> abs(x))) AS amax
            FROM embeddings
        ),
        q AS (
            SELECT vec_id, label, emb, amax / 127.0 AS scale,
                   CASE WHEN amax = 0 THEN list_transform(emb, x -> 0)
                        ELSE list_transform(emb,
                             x -> CAST(floor(x / (amax / 127.0) + 0.5) AS INT))
                   END AS qvec
            FROM base
        )
        SELECT vec_id, label,
               round(scale, 9) AS scale_r,
               CAST(len(qvec) AS INT) AS n_dims,
               CAST(list_max(list_transform(qvec, x -> abs(x))) AS INT) AS q_absmax,
               CAST(list_sum(list_transform(qvec, x -> CAST(x AS BIGINT))) AS BIGINT)
                   AS q_checksum,
               round(list_max(list_transform(list_zip(emb, qvec),
                     p -> abs(p[1] - p[2] * scale))), 9) AS max_abs_err
        FROM q
    """,
    tags=("embedding", "quantization", "compression"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector INT8 quantization of the embedding column —
    the storage/bandwidth workhorse of vector search at scale (4x smaller
    than float32, SIMD-friendly dot products).  scale = max|x| / 127;
    q_i = round-half-up(x_i / scale); reported per vector: the scale, the
    quantized checksum/absmax (pins the integer lattice exactly), and the
    max reconstruction error |x - q*scale| (bounded by scale/2).

    Everything is JVM higher-order functions over the array column — no
    UDF, map-only, zero shuffles; at 100 TB this pipelines inside one
    codegen stage with the parquet scan.  Half-up rounding is spelled
    floor(x/s + 0.5) so both engines evaluate the identical IEEE
    expression (DuckDB round() is away-from-zero, Spark's is HALF_UP —
    they disagree at negative .5 boundaries)."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    amax = F.array_max(F.expr("transform(emb, x -> abs(x))"))
    base = emb.withColumn("amax", amax).withColumn(
        "scale", F.col("amax") / F.lit(127.0)
    )
    q = base.withColumn(
        "qvec",
        F.when(
            F.col("amax") == 0, F.expr("transform(emb, x -> 0)")
        ).otherwise(
            F.expr("transform(emb, x -> CAST(floor(x / (amax / 127.0) + 0.5) AS INT))")
        ),
    )
    return q.select(
        "vec_id",
        "label",
        F.round("scale", 9).alias("scale_r"),
        F.size("qvec").cast("int").alias("n_dims"),
        F.array_max(F.expr("transform(qvec, x -> abs(x))")).cast("int").alias("q_absmax"),
        F.expr("aggregate(qvec, CAST(0 AS BIGINT), (acc, x) -> acc + x)").alias(
            "q_checksum"
        ),
        F.round(
            F.array_max(
                F.expr("zip_with(emb, qvec, (x, qi) -> abs(x - qi * scale))")
            ),
            9,
        ).alias("max_abs_err"),
    )


@register(
    "dedup_cluster_stats",
    oracle=f"""
        WITH comp AS ({_CC_ORACLE}),
        sizes AS (
            SELECT component_id, COUNT(*) AS cluster_size
            FROM comp GROUP BY component_id
        )
        SELECT cluster_size,
               COUNT(*) AS n_clusters,
               CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
               CAST(SUM(cluster_size - 1) AS BIGINT) AS n_removable
        FROM sizes GROUP BY cluster_size
    """,
    tags=("dedup", "graph", "stats"),
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster size DISTRIBUTION — the dedup pipeline's report
    card: how many clusters of each size, how many docs they cover, and
    how many rows keep-one-per-cluster would remove.  This is the number
    a data-curation run actually publishes (dedup rate), computed from
    the same connected-components labeling the keep-one path uses.

    Scale: input is the component labeling (graph-node-sized, not
    corpus-sized); two cheap grouped counts.  Shares the per-session
    MinHash pair graph, so in a curation session this costs only the two
    aggregations."""
    comp = dedup_connected_components(spark, sf_dir)
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
        F.sum(F.col("cluster_size") - 1).alias("n_removable"),
    )


@register(
    "text_search_inverted_topk",
    oracle="""
        WITH tok AS (
            SELECT doc_id, w, COUNT(*) AS tf FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
            ) WHERE len(w) > 3
            GROUP BY doc_id, w
        ),
        q AS (
            SELECT doc_id AS q_id, w, tf AS tfq FROM tok WHERE doc_id % 100 = 0
        ),
        scored AS (
            SELECT q.q_id, t.doc_id,
                   CAST(SUM(CASE WHEN q.tfq < t.tf THEN q.tfq ELSE t.tf END)
                        AS BIGINT) AS score
            FROM q JOIN tok t ON q.w = t.w
            WHERE t.doc_id <> q.q_id
            GROUP BY q.q_id, t.doc_id
        )
        SELECT q_id, doc_id, score FROM (
            SELECT q_id, doc_id, score,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY score DESC, doc_id) AS rn
            FROM scored
        ) WHERE rn <= 3
    """,
    tags=("text", "search", "inverted_index", "topk"),
    bench=True,
)
def text_search_inverted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval via an INVERTED INDEX — the sparse counterpart to
    the embedding ANN family: postings are (term, doc, tf); a query's
    terms join the postings lists, candidates score by Σ min(tf_q, tf_d)
    (histogram-intersection — integer-exact, hence oracle-hashable where
    float BM25 would be 1-ulp fragile), and a per-query window takes the
    top 3.  Query set: every 100th document's terms, self-match excluded.

    Scale: the postings join shuffles on the TERM — classic hot-term skew
    (stopwords); the len > 3 gate is the stopword gate, and at 100 TB the
    posting lists of the head terms get the salting treatment
    (join_skew_salted) or an impact-ordered cutoff.  Scoring then reduces
    on (query, doc) and the top-k is a WindowGroupLimit, never a global
    sort.

    Postings come from the session-cached materialization shared with
    BM25 (_postings): a lone query was marginally faster re-deriving the
    query side via filter pushdown, but the cache amortizes the index
    build across the whole retrieval family, which is how a deployment
    actually serves an inverted index."""
    tok = _postings(spark, sf_dir)
    q = tok.where(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("q_id"), "w", F.col("tf").alias("tfq")
    )
    scored = (
        q.join(tok, "w")
        .where(F.col("doc_id") != F.col("q_id"))
        .groupBy("q_id", "doc_id")
        .agg(F.sum(F.least("tfq", "tf")).alias("score"))
    )
    wtop = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(wtop))
        .where(F.col("rn") <= 3)
        .select("q_id", "doc_id", "score")
    )


_POSTINGS_CACHE: dict[tuple[str, str], DataFrame] = {}


def _postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, term, tf) postings table over the documents corpus
    (terms gated len > 3), MATERIALIZED once per (session, sf_dir) —
    minhash_pair_graph's cache shape.  Both lexical-retrieval queries
    (histogram-intersection and BM25) and their df/dl side tables derive
    from this; at 100 TB this materialization IS the persisted inverted
    index, built once and served to every query."""
    from discogs_etl_spark.queries._util import session_memo

    return session_memo(
        _POSTINGS_CACHE,
        spark,
        sf_dir,
        lambda: (
            load(spark, sf_dir, "documents")
            .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
            .where(F.length("w") > 3)
            .groupBy("doc_id", "w")
            .agg(F.count(F.lit(1)).alias("tf"))
        ),
    )


_BM25_K1, _BM25_B = 1.2, 0.75


def bm25_contribution() -> Column:
    """Per-(query, doc, term) BM25 contribution as an exact decimal —
    THE scoring definition (k1/b constants, 6-dp rounding) shared by the
    registered queries and curation.search_corpus so the two can't
    drift.  Expects columns tf, df, dl, n_docs, sum_dl in scope.

    Every scoring call site accumulates the FIXED-POINT twin
    (``bm25_contribution_micros``) instead — the _util.fixed idiom: the
    6-dp-rounded contribution carried as an int64 of 1e-6 units so the
    grouped sum is a primitive long, not a decimal buffer (guide §2.3
    "narrower types"; measured ~2.5x on the scoring aggregation).  The
    decimal form stays as the definitional reference; the two were
    A/B-verified bit-equal over every (query, doc, term) contribution
    at sf0.001/0.01/0.1 (0 divergences in 3.66M rows), and the
    micros-sum → double finalizer reproduces the oracle's
    DECIMAL(38,6)→DOUBLE cast exactly (the dsum argument)."""
    return (
        F.round(bm25_idf() * _bm25_tfnorm(bm25_dnorm()), 6)
        .cast("decimal(28,6)")
    )


def bm25_idf() -> Column:
    """The per-TERM Robertson-Spärck Jones idf component (expects df,
    n_docs) — factored so a caller that wants to precompute it on the
    vocabulary-sized term table can (it depends on the term alone)."""
    return F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )


def bm25_dnorm() -> Column:
    """The per-DOC length-normalization denominator constant
    k1·(1−b+b·dl/avgdl) (expects dl, n_docs, sum_dl) — factored like
    bm25_idf (it depends on the document alone)."""
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    return F.lit(_BM25_K1) * (
        F.lit(1 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / avgdl
    )


def _bm25_tfnorm(dnorm: Column) -> Column:
    return (F.col("tf") * (_BM25_K1 + 1)) / (F.col("tf") + dnorm)


def bm25_contribution_micros(
    idf: Column | None = None, dnorm: Column | None = None
) -> Column:
    """``bm25_contribution`` as an int64 of 1e-6 units (see its
    docstring): round(idf·tfnorm · 1e6) — the identical double product,
    scaled and rounded once.  Pass staged ``idf``/``dnorm`` columns when
    they were precomputed per term / per doc; defaults evaluate the
    shared definitions inline (expects tf, df, dl, n_docs, sum_dl)."""
    idf = bm25_idf() if idf is None else idf
    dnorm = bm25_dnorm() if dnorm is None else dnorm
    # r19 (guide §1.2 per-task work): half-up via floor(x + 0.5) instead
    # of F.round — Spark's Round on a DOUBLE allocates a BigDecimal per
    # row (BigDecimal.valueOf(x).setScale(0, HALF_UP)), measured ~2.2 ->
    # ~1.6 s on the 3.6M-row scoring projection.  floor(x + 0.5) IS
    # HALF_UP for the strictly-positive contribution (idf > 0 because
    # the log argument exceeds 1 — df <= n_docs makes the ratio
    # positive; tfnorm > 0 for tf >= 1 and dnorm > 0), and was
    # A/B-verified equal to F.round on EVERY contribution row at all
    # three fixture sfs (0 divergences in 3.66M rows).
    return F.floor(idf * _bm25_tfnorm(dnorm) * 1_000_000 + F.lit(0.5)).cast("long")


def bm25_micros_to_score(sc: Column) -> Column:
    """Finalize a summed micros column to the published double score —
    cast-then-divide, the exact order _util.dsum documents as equal to
    the oracle's DECIMAL(38,6)→DOUBLE cast."""
    return sc.cast("double") / 1_000_000


@register(
    "text_search_bm25_topk",
    oracle="""
        WITH tok AS (
            SELECT doc_id, w, COUNT(*) AS tf FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
            ) WHERE len(w) > 3
            GROUP BY doc_id, w
        ),
        dl AS (SELECT doc_id, SUM(tf) AS dl FROM tok GROUP BY doc_id),
        stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
        dfreq AS (SELECT w, COUNT(*) AS df FROM tok GROUP BY w),
        q AS (SELECT doc_id AS q_id, w FROM tok WHERE doc_id % 100 = 0),
        scored AS (
            SELECT q.q_id, t.doc_id,
                   SUM(CAST(round(
                       ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                       * (t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * d.dl
                             / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
                   , 6) AS DECIMAL(28,6))) AS sc
            FROM q JOIN tok t ON q.w = t.w
                 JOIN dfreq f ON t.w = f.w
                 JOIN dl d ON t.doc_id = d.doc_id
                 CROSS JOIN stats s
            WHERE t.doc_id <> q.q_id
            GROUP BY q.q_id, t.doc_id
        )
        SELECT q_id, doc_id, CAST(sc AS DOUBLE) AS score FROM (
            SELECT q_id, doc_id, sc,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY sc DESC, doc_id) AS rn
            FROM scored
        ) WHERE rn <= 3
    """,
    tags=("text", "search", "bm25", "topk"),
    bench=True,
)
def text_search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the inverted index — the standard
    lexical relevance function (Robertson-Spärck Jones idf, tf saturation
    k1=1.2, length normalization b=0.75), queries = every 100th document's
    unique terms, top 3 per query, self-match excluded.

    Float-exactness: BM25 is float math, but it oracle-hashes exactly by
    the repo's exact-accumulation rule — each (query, doc, term)
    contribution is computed from integer inputs (tf, df, dl, N, Σdl)
    through deterministic scalar double ops, ROUNDED to 6 dp, then summed
    as DECIMAL(28,6), so grouped-sum ORDER can't smear the score and the
    top-k ORDER BY compares exact decimals on both engines.

    Scale: same shape as text_search_inverted_topk — postings shuffle on
    the term (hot-term skew gated by len > 3; salting/impact-ordering are
    the 100 TB knobs), df and dl attach as term-/doc-keyed joins that
    reuse the postings' partitioning, the corpus stats (N, Σdl) broadcast
    as a 1-row aggregate, scoring reduces on (query, doc), and top-k is a
    WindowGroupLimit — never a global sort."""
    # tok feeds FOUR subplans (dl, df, the query side, and the postings
    # join) — un-checkpointed, the corpus tokenization ran 4x (measured
    # ~3x the whole query); the session-cached materialization serves
    # every retrieval query.
    #
    # r18 (guide §2.3 "narrower types"): profiled at sf0.1, 3.7 of 4.4 s
    # was the scoring aggregation — 3.6M joined rows summed into a
    # DECIMAL(28,6) buffer.  The per-row contribution is now carried as
    # int64 micros so the grouped sum is a primitive long
    # (bm25_contribution_micros; A/B-verified bit-equal at all three
    # sfs — measured 4.39 → 2.85 s on the scoring aggregate; staging
    # idf/dnorm onto the side tables was ALSO tried and bought nothing
    # beyond the fixed point, so the join shape stays untouched).
    # Values and the published schema are unchanged.
    tok = _postings(spark, sf_dir)
    dl = tok.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl"))
    dfreq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    q = tok.where(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("q_id"), "w"
    )
    joined = (
        q.join(tok.join(dfreq, "w").join(dl, "doc_id"), "w")
        .where(F.col("doc_id") != F.col("q_id"))
        .join(F.broadcast(stats))
    )
    scored = (
        joined.select("q_id", "doc_id", bm25_contribution_micros().alias("c"))
        .groupBy("q_id", "doc_id")
        .agg(F.sum("c").alias("sc"))
    )
    wtop = Window.partitionBy("q_id").orderBy(F.desc("sc"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(wtop))
        .where(F.col("rn") <= 3)
        .select("q_id", "doc_id", bm25_micros_to_score(F.col("sc")).alias("score"))
    )


# Fixed free-text query for the end-to-end search-API driver row: five
# high-frequency fixture-vocabulary terms (each >3 chars, present at
# every sf), exercising multi-term accumulation and the len-gate.
_SEARCH_CORPUS_QUERY = "hash join merge column filter"


@register(
    "curation_search_corpus",
    oracle="""
        WITH tok AS (
            SELECT doc_id, w, COUNT(*) AS tf FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
            ) WHERE len(w) > 3
            GROUP BY doc_id, w
        ),
        dl AS (SELECT doc_id, SUM(tf) AS dl FROM tok GROUP BY doc_id),
        stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
        hits AS (
            SELECT * FROM tok
            WHERE w IN ('column', 'filter', 'hash', 'join', 'merge')
        ),
        dfreq AS (SELECT w, COUNT(*) AS df FROM hits GROUP BY w),
        scored AS (
            SELECT h.doc_id,
                   SUM(CAST(round(
                       ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                       * (h.tf * 2.2) / (h.tf + 1.2 * (0.25 + 0.75 * d.dl
                             / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
                   , 6) AS DECIMAL(28,6))) AS sc
            FROM hits h JOIN dfreq f ON h.w = f.w
                 JOIN dl d ON h.doc_id = d.doc_id
                 CROSS JOIN stats s
            GROUP BY h.doc_id
        )
        SELECT doc_id, CAST(sc AS DOUBLE) AS score FROM (
            SELECT doc_id, sc FROM scored
            ORDER BY sc DESC, doc_id
            LIMIT 10
        )
    """,
    tags=("text", "search", "bm25", "curation", "roundtrip"),
)
def curation_search_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END driver evidence for the user-facing ``search_corpus``
    API — the same evidence closure the dedup APIs got
    (curation_dedup_corpus / curation_dedup_media_capped): the function
    behind the CLI's ``search`` command runs ITSELF over the documents
    corpus with a fixed free-text query (five fixture-vocabulary terms),
    returning its top-10 (doc_id, score).  ``text_search_bm25_topk``
    proves the scoring math over the fixture query set; this row proves
    the API's OWN composition — free-text term extraction (>3-char
    gate, sorted dedup), its one-checkpoint postings build, hit-scoped
    df, and the global top-k — none of which the shared
    ``bm25_contribution`` column could pin by itself.

    The oracle recomputes the identical pipeline in SQL with the same
    literal term set and the repo's exact-accumulation rule (per-term
    contribution rounded to 6 dp, summed as DECIMAL(28,6), ties broken
    by doc_id), so the top-10 hashes exactly.

    Scale: the query terms are a literal in-filter pushed into the
    postings aggregation (only matching terms' postings shuffle);
    corpus stats broadcast; top-k is a TakeOrderedAndProject."""
    from discogs_etl_spark.curation import search_corpus

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return search_corpus(spark, docs, _SEARCH_CORPUS_QUERY, k=10)


# Postings kept per term in the impact-ordered index of the
# production-path BM25 twin (by descending length-normalized impact,
# ties by doc_id — deterministic, so the oracle mirrors the cut exactly).
_BM25_PRUNE_TOP_M = 64


def _bm25_side_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(tok, dl, stats, dfreq) — the BM25 side tables every lexical
    scorer derives from the one cached postings materialization."""
    tok = _postings(spark, sf_dir)
    dl = tok.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl"))
    dfreq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    return tok, dl, stats, dfreq


def _bm25_pruned_index(
    tok: DataFrame, dl: DataFrame, stats: DataFrame, dfreq: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """THE static prune rule — (kept terms, pruned postings) — shared by
    the production twin AND its recall eval so a threshold retune or
    rule change can never drift between the measured thing and the
    measurement (review r9).  Stopping: drop terms above the
    vocabulary's median df; impact ordering: keep each surviving term's
    top-64 postings by length-normalized tf saturation (ties doc_id)."""
    med = dfreq.agg(F.expr("percentile(df, 0.5)").alias("df_med"))
    kept = (
        dfreq.crossJoin(F.broadcast(med))
        .where(F.col("df") <= F.col("df_med"))
        .select("w", "df")
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    impact = F.round(
        (F.col("tf") * (_BM25_K1 + 1))
        / (F.col("tf") + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / avgdl)),
        6,
    )
    wimp = Window.partitionBy("w").orderBy(F.desc("impact"), F.asc("doc_id"))
    pruned = (
        tok.join(dl, "doc_id")
        .join(kept, "w")
        .crossJoin(F.broadcast(stats))
        .withColumn("impact", impact)
        .withColumn("rn", F.row_number().over(wimp))
        .where(F.col("rn") <= _BM25_PRUNE_TOP_M)
        .select("w", "doc_id", "tf", "df", "dl")
    )
    return kept, pruned


@register(
    "text_search_bm25_pruned_topk",
    oracle="""
        WITH tok AS (
            SELECT doc_id, w, COUNT(*) AS tf FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
            ) WHERE len(w) > 3
            GROUP BY doc_id, w
        ),
        dl AS (SELECT doc_id, SUM(tf) AS dl FROM tok GROUP BY doc_id),
        stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
        dfreq AS (SELECT w, COUNT(*) AS df FROM tok GROUP BY w),
        kept AS (
            SELECT w, df FROM dfreq
            WHERE df <= (SELECT median(df) FROM dfreq)
        ),
        pruned AS (
            SELECT w, doc_id, tf, df, dl FROM (
                SELECT t.w, t.doc_id, t.tf, k.df, d.dl,
                       ROW_NUMBER() OVER (
                           PARTITION BY t.w
                           ORDER BY round((t.tf * 2.2)
                                    / (t.tf + 1.2 * (0.25 + 0.75 * d.dl
                                       / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
                               , 6) DESC,
                               t.doc_id
                       ) AS rn
                FROM tok t JOIN kept k ON t.w = k.w
                     JOIN dl d ON t.doc_id = d.doc_id
                     CROSS JOIN stats s
            ) WHERE rn <= 64
        ),
        q AS (
            SELECT t.doc_id AS q_id, t.w
            FROM tok t JOIN kept k ON t.w = k.w
            WHERE t.doc_id % 100 = 0
        ),
        scored AS (
            SELECT q.q_id, p.doc_id,
                   SUM(CAST(round(
                       ln(1.0 + (s.n_docs - p.df + 0.5) / (p.df + 0.5))
                       * (p.tf * 2.2) / (p.tf + 1.2 * (0.25 + 0.75 * p.dl
                             / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
                   , 6) AS DECIMAL(28,6))) AS sc
            FROM q JOIN pruned p ON q.w = p.w
                 CROSS JOIN stats s
            WHERE p.doc_id <> q.q_id
            GROUP BY q.q_id, p.doc_id
        )
        SELECT q_id, doc_id, CAST(sc AS DOUBLE) AS score FROM (
            SELECT q_id, doc_id, sc,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY sc DESC, doc_id) AS rn
            FROM scored
        ) WHERE rn <= 3
    """,
    tags=("text", "search", "bm25", "topk", "pruning", "impact_ordering"),
)
def text_search_bm25_pruned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATICALLY PRUNED BM25 — the production-path twin of
    text_search_bm25_topk (which stays the exact baseline), implementing
    the two 100 TB knobs that query's docstring names:

    1. *Stopping* (relative df pruning): terms with df above the
       vocabulary's MEDIAN df are dropped from the index AND the query
       side.  The hottest terms are precisely the longest postings
       lists, the shuffle-skew keys, and the lowest-idf (least
       informative) contributors, so the cut removes the most work per
       unit of score.  A RELATIVE cut (df rank), not an absolute df/N
       fraction: it discriminates on any corpus, including this
       fixture's 24-term vocabulary where every term sits near the same
       df.  The median of integer dfs is exactly representable (x.0 or
       x.5) so both engines cut identically.
    2. *Impact ordering* (static index pruning, Anh & Moffat): each
       surviving term keeps only its 64 highest-IMPACT postings, where
       impact is BM25's length-normalized tf saturation
       tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) rounded to 6 dp (idf is
       constant within a term, so this IS the per-term score order —
       the kept prefix is each term's best-scoring head, favoring
       high-tf/short documents exactly as BM25's top ranks do).  Every
       query term then joins a BOUNDED posting list — per-query cost is
       O(terms × 64) regardless of corpus size.

    Scoring, stats (N, Σdl from the FULL corpus — standard for pruned
    indexes), 6-dp decimal accumulation, and the top-3 WindowGroupLimit
    are identical to the exact baseline, so the score of any surviving
    (query, doc) pair equals the baseline's score restricted to kept
    terms.  Measured at sf0.1: ~3.5x faster than the exact baseline
    (best-of-3 1.1 s vs 3.8 s); the approximation cost on this fixture
    is large and is recorded honestly in SCALE_NOTES §Round 9 — the
    synthetic corpus has a 24-term vocabulary with near-uniform df
    (every doc shares ~77% of all terms), so the ranking signal is
    whole-vocabulary coverage, which NO per-term static prune can
    preserve; on a real Zipfian corpus the df long tail is exactly what
    survives the cut.

    Scale: the per-term top-64 is a WindowGroupLimit riding the SAME
    term-keyed shuffle the postings join needs (no extra exchange; dl
    attaches doc-keyed BEFORE the term shuffle, as a real impact-ordered
    index precomputes quantized impacts at build time); after pruning
    the join's per-key fan-out is capped at 64, which is the skew cap
    the exact query's hot-term gate only approximates.  At 100 TB the
    pruned index is ~64-per-term sized — it is what you PERSIST, while
    the exact index stays cold storage for the long-tail rescoring
    pass."""
    tok, dl, stats, dfreq = _bm25_side_tables(spark, sf_dir)
    kept, pruned = _bm25_pruned_index(tok, dl, stats, dfreq)
    q = (
        tok.where(F.col("doc_id") % 100 == 0)
        .join(kept.select("w"), "w")
        .select(F.col("doc_id").alias("q_id"), "w")
    )
    joined = (
        q.join(pruned, "w")
        .where(F.col("doc_id") != F.col("q_id"))
        .join(F.broadcast(stats))
    )
    scored = (
        # fixed-point accumulation (r18): int64 micros instead of a
        # decimal sum buffer — see text_search_bm25_topk's r18 note
        joined.select("q_id", "doc_id", bm25_contribution_micros().alias("c"))
        .groupBy("q_id", "doc_id")
        .agg(F.sum("c").alias("sc"))
    )
    wtop = Window.partitionBy("q_id").orderBy(F.desc("sc"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(wtop))
        .where(F.col("rn") <= 3)
        .select("q_id", "doc_id", bm25_micros_to_score(F.col("sc")).alias("score"))
    )


@register(
    "text_search_bm25_pruned_recall",
    oracle="""
        WITH tok AS (
            SELECT doc_id, w, COUNT(*) AS tf FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
            ) WHERE len(w) > 3
            GROUP BY doc_id, w
        ),
        dl AS (SELECT doc_id, SUM(tf) AS dl FROM tok GROUP BY doc_id),
        stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
        dfreq AS (SELECT w, COUNT(*) AS df FROM tok GROUP BY w),
        q AS (SELECT doc_id AS q_id, w FROM tok WHERE doc_id % 100 = 0),
        scored_exact AS (
            SELECT q.q_id, t.doc_id,
                   SUM(CAST(round(
                       ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                       * (t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * d.dl
                             / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
                   , 6) AS DECIMAL(28,6))) AS sc
            FROM q JOIN tok t ON q.w = t.w
                 JOIN dfreq f ON t.w = f.w
                 JOIN dl d ON t.doc_id = d.doc_id
                 CROSS JOIN stats s
            WHERE t.doc_id <> q.q_id
            GROUP BY q.q_id, t.doc_id
        ),
        top_exact AS (
            SELECT q_id, doc_id, sc FROM (
                SELECT q_id, doc_id, sc,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                                          ORDER BY sc DESC, doc_id) AS rn
                FROM scored_exact
            ) WHERE rn <= 3
        ),
        kept AS (
            SELECT w, df FROM dfreq
            WHERE df <= (SELECT median(df) FROM dfreq)
        ),
        pruned AS (
            SELECT w, doc_id, tf, df, dl FROM (
                SELECT t.w, t.doc_id, t.tf, k.df, d.dl,
                       ROW_NUMBER() OVER (
                           PARTITION BY t.w
                           ORDER BY round((t.tf * 2.2)
                                    / (t.tf + 1.2 * (0.25 + 0.75 * d.dl
                                       / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
                               , 6) DESC,
                               t.doc_id
                       ) AS rn
                FROM tok t JOIN kept k ON t.w = k.w
                     JOIN dl d ON t.doc_id = d.doc_id
                     CROSS JOIN stats s
            ) WHERE rn <= 64
        ),
        scored_pruned AS (
            SELECT q.q_id, p.doc_id,
                   SUM(CAST(round(
                       ln(1.0 + (s.n_docs - p.df + 0.5) / (p.df + 0.5))
                       * (p.tf * 2.2) / (p.tf + 1.2 * (0.25 + 0.75 * p.dl
                             / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
                   , 6) AS DECIMAL(28,6))) AS sc
            FROM (SELECT t.doc_id AS q_id, t.w
                  FROM tok t JOIN kept k ON t.w = k.w
                  WHERE t.doc_id % 100 = 0) q
                 JOIN pruned p ON q.w = p.w
                 CROSS JOIN stats s
            WHERE p.doc_id <> q.q_id
            GROUP BY q.q_id, p.doc_id
        ),
        top_pruned AS (
            SELECT q_id, doc_id FROM (
                SELECT q_id, doc_id,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                                          ORDER BY sc DESC, doc_id) AS rn
                FROM scored_pruned
            ) WHERE rn <= 3
        )
        SELECT e.q_id,
               CAST(COUNT(p.doc_id) AS BIGINT) AS n_overlap,
               -- an overlapping pick's exact score IS this row's e.sc
               -- (scored_exact is unique per (q_id, doc_id)); no third
               -- join needed
               round(CAST(SUM(CASE WHEN p.doc_id IS NOT NULL
                                   THEN e.sc ELSE CAST(0 AS DECIMAL(28,6))
                              END) AS DOUBLE)
                     / CAST(SUM(e.sc) AS DOUBLE), 6) AS pick_score_share
        FROM top_exact e
        LEFT JOIN top_pruned p
               ON e.q_id = p.q_id AND e.doc_id = p.doc_id
        GROUP BY e.q_id
    """,
    tags=("text", "search", "bm25", "recall", "eval"),
)
def text_search_bm25_pruned_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECALL/EFFECTIVENESS EVAL of the statically-pruned BM25 twin
    against the exact baseline, as a registered, driver-checked number —
    the honesty loop the similarity plane already has (sign-LSH /
    Matryoshka / int8 recall evals) closed for lexical retrieval.  Per
    query: n_overlap = |pruned top-3 ∩ exact top-3| and
    pick_score_share = exact-BM25 score mass of the overlapping picks /
    score mass of the true top-3 (0 when disjoint) — both computed from
    the same exact-decimal score tables both engines share, so the eval
    itself oracle-hashes exactly even though it MEASURES an
    approximation.  On this fixture the expected result is honest and
    bleak (overlap 0 — see SCALE_NOTES §Round 9: a 24-term
    near-uniform-df vocabulary is static pruning's structural worst
    case); the eval exists so any future corpus change, threshold
    retune, or prune-rule fix shows up as a measured recall shift in
    the driver artifact, not an unquantified claim.

    Scale: both scoring pipelines derive from the one cached postings
    materialization (_postings); the exact side is the same join shape
    as text_search_bm25_topk, the pruned side is fan-out-capped at 64
    per term, and the eval join runs on two k·|queries|-row tops —
    negligible against either scoring pass."""
    tok, dl, stats, dfreq = _bm25_side_tables(spark, sf_dir)
    q = tok.where(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("q_id"), "w"
    )
    scored_exact = (
        # fixed-point accumulation (r18): int64 micros instead of a
        # decimal sum buffer — see text_search_bm25_topk's r18 note
        q.join(tok.join(dfreq, "w").join(dl, "doc_id"), "w")
        .where(F.col("doc_id") != F.col("q_id"))
        .join(F.broadcast(stats))
        .select("q_id", "doc_id", bm25_contribution_micros().alias("c"))
        .groupBy("q_id", "doc_id")
        .agg(F.sum("c").alias("sc"))
    )
    wtop = Window.partitionBy("q_id").orderBy(F.desc("sc"), F.asc("doc_id"))
    top_exact = (
        scored_exact.withColumn("rn", F.row_number().over(wtop))
        .where(F.col("rn") <= 3)
        .select("q_id", "doc_id", "sc")
    )
    kept, pruned = _bm25_pruned_index(tok, dl, stats, dfreq)
    scored_pruned = (
        q.join(kept.select("w"), "w")
        .join(pruned, "w")
        .where(F.col("doc_id") != F.col("q_id"))
        .join(F.broadcast(stats))
        .select("q_id", "doc_id", bm25_contribution_micros().alias("c"))
        .groupBy("q_id", "doc_id")
        .agg(F.sum("c").alias("sc"))
    )
    top_pruned = (
        scored_pruned.withColumn("rn", F.row_number().over(wtop))
        .where(F.col("rn") <= 3)
        .select(
            F.col("q_id").alias("p_q_id"), F.col("doc_id").alias("p_doc_id")
        )
    )
    # An overlapping pick's exact score IS the top_exact row's own sc
    # (scored_exact is unique per (q_id, doc_id) and the join keys force
    # the same pair), so no third join against scored_exact is needed —
    # credit sc when the pick matched, 0 decimal otherwise (review r9).
    return (
        top_exact.join(
            top_pruned,
            (F.col("q_id") == F.col("p_q_id"))
            & (F.col("doc_id") == F.col("p_doc_id")),
            "left",
        )
        .groupBy("q_id")
        .agg(
            F.count("p_doc_id").cast("bigint").alias("n_overlap"),
            # each micros sum finalizes to its double score FIRST (the
            # oracle's decimal→double cast), then the ratio divides the
            # two doubles in the oracle's order
            F.round(
                bm25_micros_to_score(
                    F.sum(
                        F.when(
                            F.col("p_doc_id").isNotNull(), F.col("sc")
                        ).otherwise(F.lit(0).cast("long"))
                    )
                )
                / bm25_micros_to_score(F.sum("sc")),
                6,
            ).alias("pick_score_share"),
        )
    )


@register(
    "embedding_random_projection",
    oracle="""
        SELECT vec_id, k.k,
               round(list_reduce(
                   list_transform(list_zip(emb, range(len(emb))),
                       p -> CASE WHEN (31 * k.k + 17 * p[2]) % 2 = 0
                                 THEN p[1] ELSE -p[1] END),
                   (a, b) -> a + b), 6) AS v
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
             (SELECT unnest(range(8)) AS k) k
    """,
    tags=("embedding", "projection", "jl", "dimensionality"),
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss SIGN projection: reduce every embedding to
    k=8 dims with a pseudo-random ±1 matrix derived from (31k + 17d)
    parity — the cheap, data-independent dimension reduction that front-
    ends ANN indexing (distances preserved within (1±ε) w.h.p.; signs
    instead of Gaussians per Achlioptas'03).  The matrix is ARITHMETIC,
    not stored — at 100 TB nothing ships to executors and the stage is
    map-only, one codegen pass with the scan.

    Float determinism: both engines fold the per-row array LEFT-TO-RIGHT
    (Spark ``aggregate``, DuckDB ``list_reduce``) over identical terms,
    so the doubles are bit-identical before the final round — no
    order-dependent groupBy SUM anywhere."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    ks = emb.select("vec_id", "emb", F.explode(F.expr("sequence(0, 7)")).alias("k"))
    v = F.expr(
        "aggregate(zip_with(emb, sequence(0, size(emb) - 1), "
        "(x, d) -> CASE WHEN (31 * k + 17 * d) % 2 = 0 THEN x ELSE -x END), "
        "CAST(0 AS DOUBLE), (a, b) -> a + b)"
    )
    return ks.select("vec_id", "k", F.round(v, 6).alias("v"))


_MULTIPROBE_ORACLE = f"""
    WITH bucketed AS (
        SELECT vec_id, embedding, {_sql_sign_bucket('embedding')} AS bucket
        FROM embeddings
    ),
    probes AS (
        SELECT q.vec_id AS q_vec_id, q.embedding AS q_embedding,
               CASE WHEN p.i = 8 THEN q.bucket
                    ELSE xor(q.bucket, 1 << p.i) END AS pb
        FROM (SELECT * FROM bucketed WHERE vec_id < 20) q,
             (SELECT unnest(range(9)) AS i) p
    )
    SELECT q_vec_id, vec_id, rank, cos
    FROM (
        SELECT pr.q_vec_id, v.vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY pr.q_vec_id
                   ORDER BY {_SQL_COS.format(a='pr.q_embedding', b='v.embedding')} DESC,
                            v.vec_id
               ) AS rank,
               round({_SQL_COS.format(a='pr.q_embedding', b='v.embedding')}, 6) AS cos
        FROM probes pr
        JOIN bucketed v ON v.bucket = pr.pb AND v.vec_id <> pr.q_vec_id
    )
    WHERE rank <= 3
"""


@register(
    "similarity_ann_multiprobe",
    oracle=_MULTIPROBE_ORACLE,
    tags=("similarity", "ann", "lsh", "multiprobe"),
)
def similarity_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIPROBE sign-LSH ANN: each query searches its own bucket AND the
    8 buckets at Hamming distance 1 (one sign bit flipped) — 9 probes.
    Near-threshold vectors (a dimension close to 0) land one bit away;
    probing those buckets recovers them without adding hash tables, the
    classic recall/cost knob (Lv et al., multi-probe LSH, VLDB'07).

    Scale: candidates grow 9/256 of the corpus instead of 1/256 — still
    a ~28x cut vs brute force — and the probe fan-out is on the QUERY
    side (explode of 9 bucket keys), so the corpus is still touched via
    one bucket equi-join, shuffle-partitionable, no broadcast of the
    corpus.  Recall vs probes is measured by
    similarity_ann_multiprobe_recall."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        _sign_bucket(F.col("embedding")).alias("bucket"),
    )
    q = (
        emb.where(F.col("vec_id") < 20)
        .select(
            F.col("vec_id").alias("q_vec_id"),
            F.col("emb").alias("q_emb"),
            F.explode(
                F.expr(
                    "array(bucket, "
                    + ", ".join(f"bucket ^ {1 << i}" for i in range(8))
                    + ")"
                )
            ).alias("pb"),
        )
    )
    cos = _cosine(F.col("q_emb"), F.col("emb"))
    w = Window.partitionBy("q_vec_id").orderBy(F.desc("raw_cos"), F.asc("vec_id"))
    return (
        emb.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("pb")) & (F.col("vec_id") != F.col("q_vec_id")),
        )
        .select("q_vec_id", "vec_id", cos.alias("raw_cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("q_vec_id", "vec_id", "rank", F.round("raw_cos", 6).alias("cos"))
    )


_MULTIPROBE_RECALL_ORACLE = f"""
    WITH exact AS (
        SELECT q_vec_id, vec_id FROM (
            SELECT q.vec_id AS q_vec_id, v.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_SQL_COS.format(a='q.embedding', b='v.embedding')} DESC,
                                v.vec_id) AS rank
            FROM (SELECT * FROM embeddings WHERE vec_id < 20) q
            JOIN embeddings v ON v.vec_id <> q.vec_id
        ) WHERE rank <= 3
    ),
    approx AS (SELECT q_vec_id, vec_id FROM ({_MULTIPROBE_ORACLE}))
    SELECT e.q_vec_id,
           COUNT(a.vec_id) AS n_hit,
           COUNT(*) AS k,
           round(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall_at_k
    FROM exact e
    LEFT JOIN approx a ON e.q_vec_id = a.q_vec_id AND e.vec_id = a.vec_id
    GROUP BY e.q_vec_id
"""


@register(
    "similarity_ann_multiprobe_recall",
    oracle=_MULTIPROBE_RECALL_ORACLE,
    tags=("similarity", "ann", "multiprobe", "recall", "evaluation"),
)
def similarity_ann_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of MULTIPROBE sign-LSH vs exact brute force, per query —
    the measured counterpart of the multiprobe claim: at Hamming-1
    probing the recall must dominate single-probe
    (similarity_ann_recall) on the same query set, for ~9x the candidate
    cost.  Both pipelines deterministic; the evaluation itself is
    oracle-checked."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_vec_id"), F.col("emb").alias("q_emb")
    )
    cos = _cosine(F.col("q_emb"), F.col("emb"))
    w = Window.partitionBy("q_vec_id").orderBy(F.desc("raw_cos"), F.asc("vec_id"))
    exact = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("q_vec_id"))
        .select("q_vec_id", "vec_id", cos.alias("raw_cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("q_vec_id", "vec_id")
    )
    approx = similarity_ann_multiprobe(spark, sf_dir).select("q_vec_id", "vec_id")
    hit = approx.withColumn("hit", F.lit(1))
    return (
        exact.join(hit, ["q_vec_id", "vec_id"], "left")
        .groupBy("q_vec_id")
        .agg(
            F.count("hit").alias("n_hit"),
            F.count(F.lit(1)).alias("k"),
            F.round(F.count("hit").cast("double") / F.count(F.lit(1)), 6).alias(
                "recall_at_k"
            ),
        )
    )


@register(
    "vocab_oov_rate",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        ),
        vocab AS (
            SELECT w FROM (
                SELECT w, COUNT(*) AS c,
                       ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS rn
                FROM tok GROUP BY w
            ) WHERE rn <= 64
        )
        SELECT t.doc_id,
               COUNT(*) AS n_tokens,
               CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_oov,
               round(CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS oov_rate
        FROM tok t LEFT JOIN vocab v ON t.w = v.w
        GROUP BY t.doc_id
    """,
    tags=("text", "vocab", "tokenizer", "coverage"),
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary COVERAGE: build a top-64 corpus vocabulary,
    then measure each document's out-of-vocabulary token rate — the
    metric that decides whether a tokenizer/vocab fits a corpus before
    training starts (high OOV → wasted UNK mass).

    Scale: the vocab is two aggregations and then TINY (top-N rows), so
    the coverage join is a broadcast against the exploded corpus — the
    corpus is touched once, map-side, and re-aggregated per doc.  Counts
    are integers; only the final rate divides."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    wtop = Window.orderBy(F.desc("c"), F.asc("w"))
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rn", F.row_number().over(wtop))
        .where(F.col("rn") <= 64)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
    )


@register(
    "ngram_next_word_top",
    oracle="""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        big AS (
            SELECT ws[g.i] AS w, ws[g.i + 1] AS nxt
            FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) g
        ),
        cnt AS (SELECT w, nxt, COUNT(*) AS c FROM big GROUP BY w, nxt),
        tot AS (SELECT w, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY w)
        SELECT c.w, c.nxt AS top_next, c.c AS pair_count, t.n AS word_count
        FROM (
            SELECT w, nxt, c,
                   ROW_NUMBER() OVER (PARTITION BY w ORDER BY c DESC, nxt) AS rn
            FROM cnt
        ) c JOIN tot t ON c.w = t.w
        WHERE c.rn = 1 AND t.n >= 50
    """,
    tags=("text", "ngram", "lm"),
)
def ngram_next_word_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LANGUAGE-MODEL table: for every frequent word (≥50
    continuations in the corpus), its most likely next word with the
    pair and unigram counts — the count side of a Kneser-Ney/perplexity
    pipeline, kept in integers so the oracle is exact (probabilities
    divide these counts downstream).

    Scale: bigrams explode map-side from consecutive token pairs; two
    grouped counts (pair-keyed, then word-keyed) and a per-word argmax
    window — all shuffles on word-ish keys, head-word skew handled by
    partial aggregation."""
    docs = load(spark, sf_dir, "documents")
    big = docs.select(
        F.explode(
            F.expr(
                "transform(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), "
                "(x, i) -> struct(x AS w, element_at(split(text, ' '), i + 2) AS nxt))"
            )
        ).alias("p")
    ).select("p.w", "p.nxt")
    cnt = big.groupBy("w", "nxt").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("w").agg(F.sum("c").alias("n"))
    wtop = Window.partitionBy("w").orderBy(F.desc("c"), F.asc("nxt"))
    return (
        cnt.withColumn("rn", F.row_number().over(wtop))
        .where(F.col("rn") == 1)
        .join(tot, "w")
        .where(F.col("n") >= 50)
        .select(
            "w",
            F.col("nxt").alias("top_next"),
            F.col("c").alias("pair_count"),
            F.col("n").alias("word_count"),
        )
    )


@register(
    "similarity_sparse_cosine_pairs",
    oracle="""
        WITH tok AS (
            SELECT doc_id, w, COUNT(*) AS tf FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents WHERE doc_id < 100
            ) WHERE len(w) > 3
            GROUP BY doc_id, w
        ),
        norms AS (
            SELECT doc_id, SUM(tf * tf) AS n2 FROM tok GROUP BY doc_id
        ),
        dots AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   SUM(a.tf * b.tf) AS dot
            FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT d.doc_a, d.doc_b,
               round(CAST(d.dot AS DOUBLE)
                     / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
                     6) AS cos
        FROM dots d
        JOIN norms na ON d.doc_a = na.doc_id
        JOIN norms nb ON d.doc_b = nb.doc_id
        WHERE CAST(d.dot AS DOUBLE)
              / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.5
    """,
    tags=("similarity", "sparse", "cosine", "inverted_index"),
)
def similarity_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARSE cosine similarity without embeddings: documents as TF
    vectors, pairwise dot products accumulated through the inverted
    index (never a dense all-pairs pass), norms from one per-doc
    aggregate, pairs kept at cosine ≥ 0.5.  All accumulations are
    INTEGER (tf products / squared norms), so parallel reduction order
    cannot perturb the hash — the float appears only in the final
    per-pair expression.

    Scale: the term join is the inverted-index pattern of
    text_search_inverted_topk — candidate pairs exist only where terms
    co-occur; hot-term postings are the skew lever (df cutoff or
    salting).  This is THE dedup/similarity path when embeddings don't
    exist yet — ingest-time near-dup at zero model cost.  (Query scoped
    to doc_id < 100 to keep the oracle's pair space small; the Spark
    plan is size-independent.)"""
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    tok = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") > 3)
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    norms = tok.groupBy("doc_id").agg(F.sum(F.col("tf") * F.col("tf")).alias("n2"))
    a = tok.select(F.col("doc_id").alias("doc_a"), "w", F.col("tf").alias("tfa"))
    b = tok.select(F.col("doc_id").alias("doc_b"), "w", F.col("tf").alias("tfb"))
    dots = (
        a.join(b, "w")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("tfa") * F.col("tfb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .where(cos >= 0.5)
        .select("doc_a", "doc_b", F.round(cos, 6).alias("cos"))
    )


@register(
    "contrastive_pair_mining",
    oracle=f"""
        WITH anchors AS (
            SELECT vec_id AS a_id, embedding AS a_emb, label AS a_label
            FROM embeddings WHERE vec_id < 20
        ),
        scored AS (
            SELECT a.a_id, a.a_label, v.vec_id, v.label,
                   {_SQL_COS.format(a='a.a_emb', b='v.embedding')} AS cos
            FROM anchors a JOIN embeddings v ON v.vec_id <> a.a_id
        ),
        hard_neg AS (
            SELECT a_id, vec_id AS neg_id, round(cos, 6) AS neg_cos FROM (
                SELECT a_id, vec_id, cos,
                       ROW_NUMBER() OVER (PARTITION BY a_id
                                          ORDER BY cos DESC, vec_id) AS rn
                FROM scored WHERE label <> a_label
            ) WHERE rn = 1
        ),
        pos AS (
            SELECT a_id, vec_id AS pos_id, round(cos, 6) AS pos_cos FROM (
                SELECT a_id, vec_id, cos,
                       ROW_NUMBER() OVER (PARTITION BY a_id
                                          ORDER BY cos DESC, vec_id) AS rn
                FROM scored WHERE label = a_label
            ) WHERE rn = 1
        )
        SELECT h.a_id AS anchor_id, p.pos_id, p.pos_cos, h.neg_id, h.neg_cos,
               CAST(p.pos_cos > h.neg_cos AS INT) AS margin_ok
        FROM hard_neg h JOIN pos p ON h.a_id = p.a_id
    """,
    tags=("embedding", "contrastive", "mining", "training"),
)
def contrastive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTRASTIVE training-pair mining: per anchor, the most similar
    SAME-label vector (positive) and the most similar OTHER-label vector
    (the HARD negative — the one that actually moves a contrastive
    loss), plus a margin flag (positive still closer than the hardest
    negative).  This is the data-side half of metric learning /
    embedding finetuning: mining runs in the warehouse, training
    elsewhere.

    Scale: anchors broadcast (mini-batch-sized), one corpus pass scores
    both candidate sets, two per-anchor argmax windows — identical
    dataflow to similarity_topk_bruteforce; at full scale the scored
    join routes through the ANN bucketing (similarity_ann_multiprobe)
    instead of brute force."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"), "label"
    )
    anchors = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("a_id"),
        F.col("emb").alias("a_emb"),
        F.col("label").alias("a_label"),
    )
    cos = _cosine(F.col("a_emb"), F.col("emb"))
    scored = (
        emb.join(F.broadcast(anchors), F.col("vec_id") != F.col("a_id"))
        .select("a_id", "a_label", "vec_id", "label", cos.alias("cos"))
    )
    w = Window.partitionBy("a_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    hard_neg = (
        scored.where(F.col("label") != F.col("a_label"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "a_id",
            F.col("vec_id").alias("neg_id"),
            F.round("cos", 6).alias("neg_cos"),
        )
    )
    pos = (
        scored.where(F.col("label") == F.col("a_label"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "a_id",
            F.col("vec_id").alias("pos_id"),
            F.round("cos", 6).alias("pos_cos"),
        )
    )
    return (
        hard_neg.join(pos, "a_id")
        .select(
            F.col("a_id").alias("anchor_id"),
            "pos_id",
            "pos_cos",
            "neg_id",
            "neg_cos",
            (F.col("pos_cos") > F.col("neg_cos")).cast("int").alias("margin_ok"),
        )
    )


_BPE_ITERS = 3


def _bpe_oracle() -> str:
    steps = ["t0 AS (SELECT text AS t FROM documents)"]
    for i in range(_BPE_ITERS):
        steps.append(
            f"""p{i} AS (
            SELECT w[gs.i] AS a, w[gs.i + 1] AS b, COUNT(*) AS n
            FROM (SELECT string_split(t, ' ') AS w FROM t{i}),
                 LATERAL (SELECT unnest(range(1, len(w))) AS i) gs
            GROUP BY 1, 2
        ),
        top{i} AS (SELECT a, b, n FROM p{i} ORDER BY n DESC, a, b LIMIT 1)"""
        )
        steps.append(
            f"""t{i + 1} AS (
            SELECT trim(replace(
                replace(' ' || replace(t, ' ', '  ') || ' ',
                        ' ' || (SELECT a FROM top{i}) || '  '
                            || (SELECT b FROM top{i}) || ' ',
                        ' ' || (SELECT a FROM top{i}) || '_'
                            || (SELECT b FROM top{i}) || ' '),
                '  ', ' ')) AS t
            FROM t{i}
        )"""
        )
    finals = " UNION ALL ".join(
        f"SELECT CAST({i + 1} AS INT) AS step, a AS token_a, b AS token_b,"
        f" n AS pair_count FROM top{i}"
        for i in range(_BPE_ITERS)
    )
    return "WITH " + ",\n        ".join(steps) + "\n        " + finals


@register(
    "bpe_learn_merges",
    oracle=_bpe_oracle(),
    tags=("text", "bpe", "tokenizer", "iterative"),
)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style TOKENIZER TRAINING, word-level: 3 rounds of "count all
    adjacent token pairs, merge the most frequent one everywhere" — the
    byte-pair-encoding loop (Sennrich'16) that produces a tokenizer's
    merge table, run over the corpus as the training set.  Output is the
    learned merge table (step, pair, count) — the actual artifact a
    tokenizer trainer persists.

    Greedy-merge parity: re-tokenization is a literal string REPLACE over
    the double-spaced text (" a  b " → " a_b ") — replace() scans
    left-to-right non-overlapping on BOTH engines, which is exactly
    BPE's greedy application order, and the double-space join keeps each
    token gap self-delimiting so adjacent matches can't swallow each
    other's boundary.  Tie-break: (count DESC, pair lexicographic).

    Scale: each round is one corpus-sized pair count (map-side partials,
    (a,b)-keyed shuffle) + one MAP-ONLY rewrite; the argmax-per-round
    driver pull is inherent to BPE (the merge is a global decision —
    production trainers batch thousands of such rounds the same way).
    The 1-row top-pair collect is the only driver traffic.  A corpus
    with no adjacent pair left (empty, or all single-token docs) simply
    stops merging — the merge table has the rounds learned so far,
    possibly zero rows (r11 empty-input hardening)."""
    texts = load(spark, sf_dir, "documents").select(F.col("text").alias("t"))
    rules = []
    for it in range(_BPE_ITERS):
        toks = texts.select(F.split("t", " ").alias("w"))
        pair = toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), i -> "
                    "struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))"
                )
            ).alias("p")
        )
        cnt = pair.groupBy("p.a", "p.b").agg(F.count(F.lit(1)).alias("n"))
        top = cnt.orderBy(F.desc("n"), F.asc("a"), F.asc("b")).first()
        if top is None:
            break
        a, b, n = top["a"], top["b"], top["n"]
        rules.append((it + 1, a, b, n))
        s2 = F.concat(
            F.lit(" "), F.replace("t", F.lit(" "), F.lit("  ")), F.lit(" ")
        )
        s3 = F.replace(s2, F.lit(f" {a}  {b} "), F.lit(f" {a}_{b} "))
        texts = texts.select(F.trim(F.replace(s3, F.lit("  "), F.lit(" "))).alias("t"))
    return spark.createDataFrame(
        rules, "step int, token_a string, token_b string, pair_count bigint"
    )


@register(
    "keywords_per_doc",
    oracle="""
        WITH tok AS (
            SELECT doc_id, w, COUNT(*) AS tf FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
            ) WHERE len(w) > 3 GROUP BY doc_id, w
        ),
        dfreq AS (SELECT w, COUNT(*) AS df FROM tok GROUP BY w),
        nn AS (SELECT COUNT(*) AS n FROM documents),
        scored AS (
            SELECT doc_id, w, round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
            FROM tok JOIN dfreq USING (w) CROSS JOIN nn
        )
        SELECT doc_id, CAST(rn AS INT) AS rank, w AS keyword, tfidf FROM (
            SELECT doc_id, w, tfidf,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY tfidf DESC, w) AS rn
            FROM scored
        ) WHERE rn <= 3
    """,
    tags=("text", "keywords", "tfidf"),
)
def keywords_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYWORD EXTRACTION: each document's top-3 terms by tf·idf — the
    per-DOCUMENT twin of tfidf_top_terms (which ranks corpus-wide): the
    tagging/snippet primitive of a document-processing pipeline.  Ties
    break lexicographically; idf = ln(N/df) on integer inputs, rounded
    to 6 dp so the rank comparison is exact.

    Scale: one (doc, term) count, one term-keyed df aggregate joined
    back on the term, a broadcast 1-row N, and a WindowGroupLimit top-3
    per doc — nothing bigger than the token table ever shuffles."""
    docs = load(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") > 3)
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    nn = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tok.join(dfreq, "w")
        .join(F.broadcast(nn))
        .select(
            "doc_id",
            "w",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("w"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "doc_id",
            F.col("rn").cast("int").alias("rank"),
            F.col("w").alias("keyword"),
            "tfidf",
        )
    )


@register(
    "vocab_hapax_rate",
    oracle="""
        WITH tf AS (
            SELECT lang, w, COUNT(*) AS c FROM (
                SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
            ) WHERE len(w) > 3
            GROUP BY lang, w
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS vocab_size,
               CAST(COUNT(*) FILTER (c = 1) AS BIGINT) AS n_hapax,
               round(COUNT(*) FILTER (c = 1) / CAST(COUNT(*) AS DOUBLE), 6)
                   AS hapax_rate
        FROM tf GROUP BY lang
    """,
    tags=("text", "vocabulary", "hapax"),
)
def vocab_hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAPAX LEGOMENA rate per language: the fraction of the vocabulary
    appearing exactly once — the corpus-level vocabulary-richness signal
    (natural text runs ~40-60%; heavy dedup or template text crushes it,
    synthetic small-vocab text reads near zero), complementing the
    per-doc type-token ratio in text_stats_by_lang and the corpus OOV
    rate in vocab_oov_rate.

    Scale: one (lang, term) count with map-side partials, then a
    vocabulary-sized conditional aggregate per lang."""
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") > 3)
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.count(F.lit(1))
    hap = F.count(F.when(F.col("c") == 1, 1))
    return tf.groupBy("lang").agg(
        n.cast("bigint").alias("vocab_size"),
        hap.cast("bigint").alias("n_hapax"),
        F.round(hap / n.cast("double"), 6).alias("hapax_rate"),
    )


@register(
    "dedup_containment",
    oracle=f"""
        WITH sh AS (
            SELECT doc_id, unnest({_SQL_TRIGRAMS}) AS sh FROM documents
        ),
        m AS (SELECT doc_id, COUNT(*) AS m FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b,
               round(CAST(n_common AS DOUBLE) / least(ma.m, mb.m), 6) AS containment
        FROM inter
        JOIN m ma ON doc_a = ma.doc_id
        JOIN m mb ON doc_b = mb.doc_id
        WHERE CAST(n_common AS DOUBLE) / least(ma.m, mb.m) >= 0.5
    """,
    tags=("dedup", "ngram", "containment"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by CONTAINMENT similarity |A∩B| / min(|A|, |B|) ≥ 0.5
    over word-3-gram shingle sets — the asymmetric complement of Jaccard:
    a short excerpt embedded verbatim inside a long document scores ~1.0
    here but near 0 on Jaccard (the union is dominated by the long doc),
    so this is the operator that catches quote/excerpt/subset duplication
    that dedup_ngram_jaccard structurally cannot.

    Scale: identical shape to the Jaccard pipeline — inverted-index
    posting lists (docs must share a shingle; never a cross join,
    r19 posting-pair form — see _posting_pair_counts) feeding one
    (doc_a, doc_b) count, sizes joined back per side.  The same prefix-
    filter and MinHash escalations apply when posting lists explode."""
    docs = _with_shingles(load(spark, sf_dir, "documents"), "doc_id")
    sh = docs.select("doc_id", F.explode("shingles").alias("sh"))
    # |shingle set| is the ARRAY SIZE — shingles is array_distinct'ed, so
    # size(shingles) equals the old explode+count per doc exactly (docs
    # with zero shingles gain an m row, but m is only ever inner-joined
    # to pair docs, which by construction have >= 1 shingle).  Removes a
    # full shingle re-explode + aggregation exchange per query (r18,
    # guide §2.4); the doc-sized m side broadcasts as before.
    m = docs.select("doc_id", F.size("shingles").cast("bigint").alias("m"))
    inter = _posting_pair_counts(sh)
    ma = m.select(F.col("doc_id").alias("doc_a"), F.col("m").alias("m_a"))
    mb = m.select(F.col("doc_id").alias("doc_b"), F.col("m").alias("m_b"))
    cont = F.col("n_common").cast("double") / F.least("m_a", "m_b")
    return (
        inter.join(ma, "doc_a")
        .join(mb, "doc_b")
        .where(cont >= 0.5)
        .select("doc_a", "doc_b", F.round(cont, 6).alias("containment"))
    )


@register(
    "lm_bigram_surprisal",
    bench=True,
    oracle="""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        inst AS (
            SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i + 1] AS bigram
            FROM w, unnest(range(1, len(w))) AS t(i)
            WHERE len(w) >= 2
        ),
        bg AS (SELECT w1, bigram, COUNT(*) AS c2 FROM inst GROUP BY w1, bigram),
        ctx AS (SELECT w1, SUM(c2) AS c1 FROM bg GROUP BY w1),
        v AS (
            SELECT COUNT(DISTINCT tok) AS v
            FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        ),
        lm AS (
            SELECT bigram,
                   round(-ln((c2 + 1) / CAST(c1 + v AS DOUBLE)), 6) AS s
            FROM bg JOIN ctx USING (w1) CROSS JOIN v
        ),
        per AS (
            SELECT doc_id, bigram, COUNT(*) AS k FROM inst GROUP BY doc_id, bigram
        )
        SELECT doc_id, n_bigrams, mean_surprisal
        FROM (
            SELECT per.doc_id,
                   CAST(SUM(k) AS BIGINT) AS n_bigrams,
                   round(CAST(SUM(CAST(round(k * s, 6) AS DECIMAL(28,6))) AS DOUBLE)
                         / SUM(k), 6) AS mean_surprisal
            FROM per JOIN lm USING (bigram)
            GROUP BY per.doc_id
        )
        ORDER BY mean_surprisal DESC, doc_id
        LIMIT 50
    """,
    tags=("text", "lm", "quality", "surprisal"),
)
def lm_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM perplexity filter (the CCNet/Gopher quality signal): train
    an add-one-smoothed bigram model ON the corpus itself, then score each
    document's mean surprisal −ln p(w_i | w_{i−1}); the 50 most surprising
    documents — the boilerplate/garbled/off-distribution tail a real
    pretraining pipeline routes to review or drops.

    Scale: the LM is two aggregations over one bigram-instance pass
    (map-side partials); scoring is a single shuffle join keyed by bigram
    between per-doc bigram multiplicities and the LM table — the LM is
    vocabulary²-bounded, far smaller than the corpus, but not assumed
    broadcastable; AQE splits the stop-bigram skew.  The vocabulary size
    V is the one driver-side scalar (tfidf_top_terms precedent).

    Determinism: c1/c2/k/V are exact integers; each distinct bigram's
    surprisal is one double ln rounded to 6 dp; per-doc totals accumulate
    k·s as DECIMAL (order-free); the final mean is one double divide
    rounded to 6 dp — bit-identical on both engines, so the top-50 cut
    (doc_id tie-break) agrees."""
    docs = load(spark, sf_dir, "documents")
    wdf = docs.selectExpr("doc_id", "split(text, ' ') AS w")
    inst = (
        wdf.where(F.size("w") >= 2)
        .selectExpr(
            "doc_id",
            "explode(transform(sequence(1, size(w) - 1),"
            " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))) AS bigram",
        )
    )
    # One pass over the bigram instances: the per-doc multiplicities are
    # materialized once (localCheckpoint) and BOTH the LM and the scoring
    # probe read them — the unshared-subtree form re-ran the corpus
    # explode once per consumer (3 documents scans in the plan; guide
    # §2.4 "remove shuffles outright" / §1.2 "don't compute things
    # twice").  The LM's context totals c1 come from a w1-window over the
    # bigram counts instead of a second aggregation + join (one exchange
    # fewer); w1 is recovered from the bigram string (its prefix before
    # the first space — tokens cannot contain the delimiter they were
    # split on), so the instance pass needn't carry it.
    per = (
        inst.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("k"))
        .localCheckpoint()
    )
    bg = per.groupBy("bigram").agg(F.sum("k").alias("c2"))
    v = docs.select(F.explode(F.split("text", " ")).alias("tok")).distinct().count()
    wctx = Window.partitionBy(F.substring_index("bigram", " ", 1))
    lm = bg.select(
        "bigram",
        F.round(
            -F.log(
                (F.col("c2") + 1)
                / (F.sum("c2").over(wctx) + F.lit(int(v))).cast("double")
            ),
            6,
        ).alias("s"),
    )
    # r19: the per-row contribution rides as int64 micros (the
    # _util.fixed idiom, via half_up_long — no per-row BigDecimal from
    # either the 6-dp round or the decimal cast) and the grouped sum is
    # a primitive long.  Σ half_up_long(k·s·1e6) was A/B-verified equal
    # to Σ round(k·s, 6)·1e6 on EVERY (doc, bigram) row at all three
    # fixture sfs (0 divergences in 308k rows), and the long→double→
    # ÷1e6 finalizer is the same exact integer the decimal sum cast —
    # so mean_surprisal is bit-identical to the oracle's
    # DECIMAL(28,6)-sum form.
    from discogs_etl_spark.queries._util import half_up_long

    return (
        per.join(lm, "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum(half_up_long(F.col("k") * F.col("s") * 1_000_000)).cast(
                    "double"
                )
                / 1_000_000
                / F.sum("k"),
                6,
            ).alias("mean_surprisal"),
        )
        .orderBy(F.desc("mean_surprisal"), F.asc("doc_id"))
        .limit(50)
    )


@register(
    "quality_percentile_by_lang",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang,
                   round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                         / len(string_split(text, ' ')), 6) AS ttr
            FROM documents
        )
        SELECT doc_id, lang, ttr,
               round(PERCENT_RANK() OVER (PARTITION BY lang ORDER BY ttr), 6)
                   AS q_pct,
               CAST(PERCENT_RANK() OVER (PARTITION BY lang ORDER BY ttr) >= 0.25
                    AS INT) AS keep
        FROM t
    """,
    tags=("text", "quality", "calibration"),
)
def quality_percentile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality-score CALIBRATION: each document's type-token
    ratio mapped to its percentile WITHIN its language, with a drop-the-
    bottom-quartile gate.  A single global threshold over-prunes
    whichever language naturally scores lower (the classic multilingual-
    curation bug); per-lang percent_rank makes the gate
    distribution-aware — the rank twin of quality_gate_quantile's
    threshold join.

    Scale: one lang-partitioned window over a (doc, score) projection —
    no joins; score ties share a rank in both engines so the rounded
    percentile is engine-independent."""
    t = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.round(
            F.size(F.array_distinct(_words())).cast("double") / F.size(_words()), 6
        ).alias("ttr"),
    )
    w = Window.partitionBy("lang").orderBy("ttr")
    pct = F.percent_rank().over(w)
    return t.select(
        "doc_id",
        "lang",
        "ttr",
        F.round(pct, 6).alias("q_pct"),
        (pct >= 0.25).cast("int").alias("keep"),
    )


@register(
    "embedding_dispersion_by_label",
    oracle="""
        WITH e AS (
            SELECT vec_id, label, gs.i AS pos,
                   CAST(embedding[gs.i + 1] AS DOUBLE) AS v
            FROM embeddings,
                 LATERAL (SELECT unnest(range(len(embedding))) AS i) gs
        ),
        cent AS (
            SELECT label, pos,
                   round(CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE)
                         / COUNT(*), 6) AS c
            FROM e GROUP BY label, pos
        ),
        parts AS (
            SELECT e.vec_id, e.label,
                   CAST(SUM(CAST(round(e.v * c.c, 12) AS DECIMAL(38,12)))
                        AS DOUBLE) AS dot,
                   CAST(SUM(CAST(round(e.v * e.v, 12) AS DECIMAL(38,12)))
                        AS DOUBLE) AS nv,
                   CAST(SUM(CAST(round(c.c * c.c, 12) AS DECIMAL(38,12)))
                        AS DOUBLE) AS nc
            FROM e JOIN cent c ON e.label = c.label AND e.pos = c.pos
            GROUP BY e.vec_id, e.label
        )
        SELECT label,
               COUNT(*) AS n_vectors,
               round(CAST(SUM(CAST(round(dot / (sqrt(nv) * sqrt(nc)), 6)
                                   AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
                   AS mean_cos_to_centroid
        FROM parts GROUP BY label
    """,
    tags=("embedding", "clustering", "cohesion"),
)
def embedding_dispersion_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-cohesion report: per label, the mean cosine of each member
    to its label centroid — the dispersion/quality metric that tells you
    whether labels (or k-means clusters / IVF cells) are tight enough to
    prune against, complementing embedding_centroid_by_label (which
    outputs the centroids this consumes).

    Scale: the centroid table is labels x dims (tiny → broadcast); the
    member-side explode is dim-bounded; per-vector dot/norms and the
    per-label mean all accumulate as rounded DECIMAL so no double sum
    depends on partition order."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    )
    cent = e.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("v").cast("decimal(28,12)")).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("c")
    )
    parts = (
        e.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.round(F.col("v") * F.col("c"), 12).cast("decimal(38,12)"))
            .cast("double")
            .alias("dot"),
            F.sum(F.round(F.col("v") * F.col("v"), 12).cast("decimal(38,12)"))
            .cast("double")
            .alias("nv"),
            F.sum(F.round(F.col("c") * F.col("c"), 12).cast("decimal(38,12)"))
            .cast("double")
            .alias("nc"),
        )
    )
    cos = F.round(F.col("dot") / (F.sqrt("nv") * F.sqrt("nc")), 6)
    return parts.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(
            F.sum(cos.cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_cos_to_centroid"),
    )


@register(
    "dedup_substring_windows",
    oracle="""
        WITH winds AS (
            SELECT doc_id, substr(text, t.i, 48) AS window_text
            FROM documents, unnest(range(1, len(text) - 46)) AS t(i)
            WHERE len(text) >= 48
        )
        SELECT window_text,
               COUNT(*) AS n_occurrences,
               COUNT(DISTINCT doc_id) AS n_docs
        FROM winds
        GROUP BY window_text
        HAVING COUNT(DISTINCT doc_id) >= 2
        ORDER BY n_occurrences DESC, window_text
        LIMIT 100
    """,
    tags=("dedup", "substring", "exact"),
)
def dedup_substring_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring-level duplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): every 48-character
    sliding window, grouped corpus-wide; windows appearing in ≥2 distinct
    documents are verbatim cross-document substrings — the memorization
    hazard document-level dedup (Jaccard/MinHash) cannot see when only a
    passage is shared.  Top-100 by occurrence count.

    Scale: window generation is map-only but emits ~len(text) rows per
    doc; at 100 TB you (a) hash each window to 8 bytes before the
    shuffle (the group key here stays textual only because the oracle
    compares values), and (b) stride the windows (every k-th offset) —
    a duplicated run of length ≥ 48+k−1 is still caught, trading recall
    floor for k× less shuffle.  The ≥2-docs filter is HAVING on the
    grouped result, so partial aggregation still compacts singletons
    map-side."""
    winds = (
        load(spark, sf_dir, "documents")
        .where(F.length("text") >= 48)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(text) - 47),"
                    " i -> substring(text, i, 48))"
                )
            ).alias("window_text"),
        )
    )
    # r18 AUDITED, left alone: a manual (window, doc) pre-agg rollup was
    # tried and measured NEUTRAL (4.32 → 4.22 s at sf0.1, noise) —
    # Spark 4.1's single-distinct rewrite already plans this count +
    # countDistinct pair as the identical two-stage aggregation (no
    # Expand; see plans/r18/dedup_substring_windows_before.txt), so the
    # built-in form stays.
    return (
        winds.groupBy("window_text")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_occurrences"), F.asc("window_text"))
        .limit(100)
    )


@register(
    "text_search_phrase",
    oracle="""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        post AS (
            SELECT doc_id, t.i AS pos, w[t.i] AS term
            FROM w, unnest(range(1, len(w) + 1)) AS t(i)
        )
        SELECT doc_id, n_matches FROM (
            SELECT a.doc_id, COUNT(*) AS n_matches
            FROM post a JOIN post b
              ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
            WHERE a.term = 'table' AND b.term = 'value'
            GROUP BY a.doc_id
        )
        ORDER BY n_matches DESC, doc_id
        LIMIT 50
    """,
    tags=("search", "phrase", "positional_index"),
)
def text_search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PHRASE search ("table value") via a positional inverted
    index: per-term postings carry token positions, and the phrase match
    is a postings self-join with the adjacency constraint pos_b =
    pos_a + 1 — the classic IR positional-index operator that bag-of-
    words scoring (text_search_inverted_topk / BM25) cannot express.
    Top-50 docs by phrase frequency.

    Scale: both join sides filter to ONE term's postings before the join
    (predicate pushdown under the explode), so the join is posting-list-
    sized, equi-keyed on (doc_id, pos) — n-term phrases chain n−1 such
    joins, each pruned to its term."""
    post = load(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(_words()).alias("pos0", "term")
    )
    a = post.where(F.col("term") == "table").select(
        "doc_id", (F.col("pos0") + 1).alias("pos_a")
    )
    b = post.where(F.col("term") == "value").select(
        "doc_id", (F.col("pos0") + 1).alias("pos_b")
    )
    return (
        a.join(b, (a["doc_id"] == b["doc_id"]) & (b["pos_b"] == a["pos_a"] + 1))
        .groupBy(a["doc_id"].alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .orderBy(F.desc("n_matches"), F.asc("doc_id"))
        .limit(50)
    )


_FEATHASH_DIM = 1024


@register(
    "feature_hashing_vectorize",
    bench=True,
    oracle=f"""
        WITH tf AS (
            SELECT doc_id, t.term, COUNT(*) AS cnt
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents) t
            GROUP BY doc_id, t.term
        ),
        h AS (
            SELECT doc_id,
                   ('0x' || substr(md5(term), 1, 8))::BIGINT % {_FEATHASH_DIM}
                       AS feat_idx,
                   CASE WHEN (('0x' || substr(md5(term), 1, 8))::BIGINT
                              // {_FEATHASH_DIM}) % 2 = 0
                        THEN cnt ELSE -cnt END AS signed_cnt
            FROM tf
        )
        SELECT doc_id, CAST(feat_idx AS BIGINT) AS feat_idx,
               CAST(SUM(signed_cnt) AS BIGINT) AS feat_val
        FROM h
        GROUP BY doc_id, feat_idx
        HAVING SUM(signed_cnt) <> 0
    """,
    tags=("features", "hashing_trick", "vectorize"),
)
def feature_hashing_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): token counts folded
    into a fixed {_FEATHASH_DIM}-dim sparse feature vector per document —
    index = hash(term) mod D, value accumulated with a hash-derived ±1
    sign so collisions cancel in expectation instead of biasing upward.
    The vocabulary-free vectorizer that feeds linear quality classifiers
    (fastText-style) without a fitted dictionary.

    Scale: vocabulary-independent by construction — no vocab table, no
    broadcast, no OOV path; one (doc, term) count then one (doc, idx)
    sum, both with map-side partials.  Emitted sparse (COO) — exactly
    what a downstream trainer consumes.  Cross-engine md5 hash idiom;
    zero-sum cells drop on both sides (true sparsity)."""
    # ONE aggregation, not two (r18, guide §2.4): Σ±cnt over (doc, term)
    # groups equals Σ±1 over raw token instances (the sign depends only
    # on the term), so the (doc, term) pre-count and its exchange are
    # dropped and the single (doc, idx) aggregation partial-aggregates
    # map-side straight off the explode.  hv stays multiply-referenced
    # behind a projection so the md5 evaluates once per instance.
    hv = F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long")
    h = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(_words()).alias("term"))
        .select("doc_id", hv.alias("hv"))
        .select(
            "doc_id",
            (F.col("hv") % _FEATHASH_DIM).alias("feat_idx"),
            F.when((F.floor(F.col("hv") / _FEATHASH_DIM) % 2) == 0, F.lit(1))
            .otherwise(F.lit(-1))
            .alias("signed"),
        )
    )
    return (
        h.groupBy("doc_id", F.col("feat_idx").cast("bigint").alias("feat_idx"))
        .agg(F.sum("signed").cast("bigint").alias("feat_val"))
        .where(F.col("feat_val") != 0)
    )


def _semdedup_oracle() -> str:
    kmeans = _kmeans_oracle()
    cos = _SQL_COS.format(a="xv.v", b="yv.v")
    return f"""
        WITH asn AS ({kmeans}),
        vv2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT x.cluster, x.vec_id AS vec_a, y.vec_id AS vec_b,
               round({cos}, 6) AS cos_sim
        FROM asn x JOIN asn y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        JOIN vv2 xv ON xv.vec_id = x.vec_id
        JOIN vv2 yv ON yv.vec_id = y.vec_id
        WHERE {cos} >= 0.42
    """


@register(
    "dedup_semdedup",
    oracle=_semdedup_oracle(),
    tags=("dedup", "embedding", "semdedup", "kmeans"),
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup scoped INSIDE k-means
    clusters — cluster the embedding corpus (the deterministic 3-round
    Lloyd of kmeans_embeddings_fixed), then compare pairs only within a
    cluster and flag cosine ≥ 0.42 near-duplicates.  The clustering is
    the blocking structure: O(Σ cluster²) instead of O(n²), with the
    miss-rate argument that cross-cluster pairs are far by construction
    (they were assigned to different centroids).  The third member of
    the embedding-dedup triad: exact all-pairs (the baseline), sign-LSH
    buckets (data-independent blocking), SemDeDup (data-ADAPTIVE
    blocking — tighter buckets where the corpus is dense).

    Keep-policy downstream is dedup_keep_best / dedup_fuzzy_keep_one's
    job; this emits the scored pair graph (SemDeDup's paper policy —
    keep the member farthest from the centroid — is one ORDER BY on the
    carried assignment's dist column).

    Scale: assignment is map-only under broadcast centroids; the
    within-cluster self-join shuffles on the cluster key; a skewed giant
    cluster is handled by raising k (the paper runs k ≈ 11k for 100M
    docs — cluster size, not corpus size, bounds the quadratic term)."""
    from discogs_etl_spark.curation import cluster_corpus

    emb = load(spark, sf_dir, "embeddings")
    # localCheckpoint: the assignment feeds BOTH sides of the self-join —
    # without the cut Spark inlines the 3-round k-means plan twice.  The
    # remaining cost at sf0.1 (~10s) is the within-cluster quadratic
    # itself (k=8 → ~2.5k-vector clusters → ~25M cosine folds): k is the
    # knob, and at fixture scale the shared-oracle k stays small on
    # purpose (the DuckDB twin unrolls the same Lloyd rounds).
    asn = (
        cluster_corpus(
            spark, emb, id_col="vec_id", vec_col="embedding",
            k=_KMEANS_K, iters=_KMEANS_ITERS,
        )
        .select("vec_id", "cluster")
        .localCheckpoint()
    )
    # Within-cluster pair loop tuned like dedup_embedding_cosine: the
    # norm is computed once per VECTOR (on the corpus-sized v, before
    # both pair sides), the cheap conjuncts lead, the dot is unrolled —
    # bit-identical cosine doubles, ~3x less per-pair arithmetic in the
    # O(Σ cluster²) stage that dominates this query.
    w = _checked_emb_dim(spark, sf_dir)
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"), w)))
    x = asn.join(v, "vec_id").select(
        F.col("vec_id").alias("vec_a"), "cluster", F.col("v").alias("va"),
        F.col("nrm").alias("nra"),
    )
    y = asn.join(v, "vec_id").select(
        F.col("vec_id").alias("vec_b"), F.col("cluster").alias("cl_b"),
        F.col("v").alias("vb"), F.col("nrm").alias("nrb"),
    )
    cos = _dot(F.col("va"), F.col("vb"), w) / (F.col("nra") * F.col("nrb"))
    return (
        x.join(
            y,
            (F.col("cluster") == F.col("cl_b"))
            & (F.col("vec_a") < F.col("vec_b"))
            & (cos >= 0.42),
        )
        .select("cluster", "vec_a", "vec_b", F.round(cos, 6).alias("cos_sim"))
    )


@register(
    "privacy_k_anonymity_report",
    oracle="""
        WITH q AS (
            SELECT lang, source,
                   CAST(floor(n_chars / 100) AS BIGINT) AS chars_bucket
            FROM documents
        )
        SELECT lang, source, chars_bucket, COUNT(*) AS group_size
        FROM q
        GROUP BY lang, source, chars_bucket
        HAVING COUNT(*) < 5
    """,
    tags=("privacy", "k_anonymity", "audit"),
)
def privacy_k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-ANONYMITY audit (k = 5) over the quasi-identifier tuple
    (lang, source, length-bucket): every combination shared by fewer
    than k documents is a re-identification risk cell — the privacy
    screen a dataset release runs BEFORE publication, complementing
    text_redact_pii (which removes direct identifiers; quasi-identifier
    joins are how "anonymized" data gets re-identified anyway).
    Remediation is generalization (coarser buckets) or suppression
    (drop the flagged cells) — both expressible as follow-up filters.

    Scale: one grouped count over the quasi-identifier key with
    map-side partials; the HAVING keeps only risk cells, so output is
    small even when the input isn't."""
    q = load(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.floor(F.col("n_chars") / 100).cast("bigint").alias("chars_bucket"),
    )
    return (
        q.groupBy("lang", "source", "chars_bucket")
        .agg(F.count(F.lit(1)).alias("group_size"))
        .where(F.col("group_size") < 5)
    )


@register(
    "vocab_coverage_curve",
    oracle="""
        WITH tf AS (
            SELECT t.term, COUNT(*) AS c
            FROM (SELECT unnest(string_split(text, ' ')) AS term
                  FROM documents) t
            GROUP BY t.term
        ),
        tot AS (SELECT SUM(c) AS total FROM tf),
        ranked AS (
            SELECT term, c,
                   ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rnk,
                   SUM(c) OVER (ORDER BY c DESC, term
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_c
            FROM tf
        )
        SELECT CAST(rnk AS BIGINT) AS vocab_size,
               CAST(cum_c AS BIGINT) AS cum_tokens,
               round(cum_c / CAST(total AS DOUBLE), 6) AS coverage
        FROM ranked CROSS JOIN tot
        WHERE rnk IN (5, 10, 20)
    """,
    tags=("text", "vocabulary", "coverage"),
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary COVERAGE curve: what fraction of all corpus tokens the
    top-5 / top-10 / top-20 terms account for (marks sized to the
    fixture vocabulary; production marks are 1k/10k/100k) — the curve that sizes
    a tokenizer's vocabulary (and, with vocab_oov_rate, its OOV budget).
    Frequency ranks tie-break on the term string so the curve is
    engine-stable.

    Scale: the vocabulary count is the only corpus-sized aggregation;
    the ranked cumulative window runs over the VOCABULARY (≪ corpus —
    Heaps' law), and integer cumulative counts divide by the total once
    at the three report marks."""
    tf = (
        load(spark, sf_dir, "documents")
        .select(F.explode(_words()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = tf.agg(F.sum("c").alias("total"))
    w = Window.orderBy(F.desc("c"), F.asc("term"))
    ranked = tf.select(
        "term",
        "c",
        F.row_number().over(w).alias("rnk"),
        F.sum("c")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_c"),
    )
    return (
        ranked.where(F.col("rnk").isin(5, 10, 20))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("rnk").cast("bigint").alias("vocab_size"),
            F.col("cum_c").cast("bigint").alias("cum_tokens"),
            F.round(F.col("cum_c") / F.col("total").cast("double"), 6).alias(
                "coverage"
            ),
        )
    )


@register(
    "similarity_matryoshka_recall",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
                   CAST(embedding[1:16] AS DOUBLE[]) AS emb16
            FROM embeddings
        ),
        q AS (SELECT vec_id AS q_vec_id, emb AS q_emb, emb16 AS q_emb16
              FROM e WHERE vec_id < 20),
        exact AS (
            SELECT q_vec_id, vec_id FROM (
                SELECT q.q_vec_id, v.vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.q_vec_id
                           ORDER BY {_SQL_COS.format(a='q.q_emb', b='v.emb')} DESC,
                                    v.vec_id) AS rank
                FROM q JOIN e v ON v.vec_id <> q.q_vec_id
            ) WHERE rank <= 3
        ),
        trunc AS (
            SELECT q_vec_id, vec_id FROM (
                SELECT q.q_vec_id, v.vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.q_vec_id
                           ORDER BY {_SQL_COS.format(a='q.q_emb16', b='v.emb16')} DESC,
                                    v.vec_id) AS rank
                FROM q JOIN e v ON v.vec_id <> q.q_vec_id
            ) WHERE rank <= 3
        )
        SELECT x.q_vec_id,
               COUNT(t.vec_id) AS n_hit,
               COUNT(*) AS k,
               round(COUNT(t.vec_id) / CAST(COUNT(*) AS DOUBLE), 6)
                   AS recall_at_k
        FROM exact x LEFT JOIN trunc t
          ON x.q_vec_id = t.q_vec_id AND x.vec_id = t.vec_id
        GROUP BY x.q_vec_id
    """,
    tags=("similarity", "matryoshka", "recall", "eval"),
)
def similarity_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA truncation eval (Kusupati et al. 2022): recall@3 of
    top-k search run on the embeddings' FIRST 16 OF 64 dimensions
    against the full-dimension exact neighbors — the measurement behind
    the 4× memory/compute cut of prefix-truncated vectors (and the
    shortlist-then-rerank pattern: truncated search recalls a candidate
    set, full vectors re-rank it).  Same harness shape as
    similarity_ann_recall, different approximation axis: LSH approximates
    the SEARCH, truncation approximates the VECTORS.

    Scale: truncation is free at scan time (array slice projects before
    the shuffle — 4× less data moved); both top-k passes are
    broadcast-query one-pass scans with window group-limits."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        F.slice(F.col("embedding").cast("array<double>"), 1, 16).alias("emb16"),
    )
    q = e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("emb").alias("q_emb"),
        F.col("emb16").alias("q_emb16"),
    )
    def topk(vec_col: str, qcol: str) -> DataFrame:
        cos = _cosine(F.col(qcol), F.col(vec_col))
        w = Window.partitionBy("q_vec_id").orderBy(F.desc("c"), F.asc("vec_id"))
        return (
            e.join(F.broadcast(q), F.col("vec_id") != F.col("q_vec_id"))
            .select("q_vec_id", "vec_id", cos.alias("c"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
            .select("q_vec_id", "vec_id")
        )
    exact = topk("emb", "q_emb")
    trunc = topk("emb16", "q_emb16").withColumn("hit", F.lit(1))
    return (
        exact.join(trunc, ["q_vec_id", "vec_id"], "left")
        .groupBy("q_vec_id")
        .agg(
            F.count("hit").alias("n_hit"),
            F.count(F.lit(1)).alias("k"),
            F.round(F.count("hit").cast("double") / F.count(F.lit(1)), 6).alias(
                "recall_at_k"
            ),
        )
    )


@register(
    "terms_pmi_cooccurrence",
    oracle="""
        WITH dt AS (
            SELECT DISTINCT doc_id, t.term
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents) t
        ),
        n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM dt),
        df AS (SELECT term, COUNT(*) AS df FROM dt GROUP BY term),
        pair AS (
            SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS n_ab
            FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
            GROUP BY a.term, b.term
            HAVING COUNT(*) >= 5
        )
        SELECT term_a, term_b, CAST(n_ab AS BIGINT) AS n_ab,
               round(ln((n_ab * CAST(n.n_docs AS DOUBLE))
                        / (da.df * CAST(db.df AS DOUBLE))), 6) AS pmi
        FROM pair
        JOIN df da ON da.term = term_a
        JOIN df db ON db.term = term_b
        CROSS JOIN n
        ORDER BY pmi DESC, term_a, term_b
        LIMIT 20
    """,
    tags=("text", "pmi", "cooccurrence", "lm"),
)
def terms_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of term CO-OCCURRENCE at document
    scope: ln(P(a,b) / P(a)P(b)) over per-doc distinct term pairs —
    the collocation/query-expansion signal (ngram_bigram_counts sees
    only ADJACENT pairs; PMI sees topical affinity anywhere in the doc).
    Top-20 associated pairs with a min-support floor.

    Scale: the per-doc distinct projection caps each doc's fan-out at
    vocabulary², and the pair count shuffles (term, term) keys with
    map-side partials; document frequencies broadcast.  On a corpus with
    open vocabulary, the support floor (≥5) is what keeps the pair space
    bounded (standard collocation practice)."""
    dt = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(_words()).alias("term"))
        .distinct()
    )
    n_docs = dt.select("doc_id").distinct().count()
    df = dt.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    a, b = dt.alias("a"), dt.alias("b")
    pair = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.term") < F.col("b.term")))
        .groupBy(F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 5)
    )
    pmi = F.log(
        (F.col("n_ab") * F.lit(float(n_docs)))
        / (F.col("da") * F.col("db").cast("double"))
    )
    return (
        pair.join(F.broadcast(df.select(F.col("term").alias("term_a"), F.col("df").alias("da"))), "term_a")
        .join(F.broadcast(df.select(F.col("term").alias("term_b"), F.col("df").alias("db"))), "term_b")
        .select(
            "term_a",
            "term_b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("term_a"), F.asc("term_b"))
        .limit(20)
    )


@register(
    "dedup_minhash_eval",
    oracle=f"""
        WITH mh AS ({_MINHASH_ORACLE}),
        ex AS ({_NGRAM_ORACLE})
        SELECT n_exact, n_minhash, n_common,
               round(n_common / CAST(NULLIF(n_minhash, 0) AS DOUBLE), 6)
                   AS precision,
               round(n_common / CAST(NULLIF(n_exact, 0) AS DOUBLE), 6) AS recall
        FROM (
            SELECT (SELECT COUNT(*) FROM ex) AS n_exact,
                   (SELECT COUNT(*) FROM mh) AS n_minhash,
                   (SELECT COUNT(*) FROM mh JOIN ex
                     ON mh.doc_a = ex.doc_a AND mh.doc_b = ex.doc_b) AS n_common
        )
    """,
    tags=("dedup", "minhash", "eval", "recall"),
)
def dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH dedup EVALUATED against the exact Jaccard join:
    precision/recall of the banded approximation vs ground truth — the
    number that justifies (or indicts) the banding parameters (16
    hashes, 4 bands × 4 rows).  Precision is 1.0 by construction (LSH
    candidates are verified with exact Jaccard before emission); recall
    measures pairs whose signatures never collided in any band — the
    knob is bands × rows, and this query is how you tune it.  The
    similarity_ann_recall pattern applied to the dedup plane.

    Scale: both pipelines are the already-scale-shaped registered ops,
    and each executes ONCE — the three counts ride a single full-outer
    join of the two pair sets as one in-plan aggregate (the r10 recsys
    discipline: driver-side `.count()` probes re-execute their whole
    subplan per action, which here ran the exact all-pairs join twice —
    warm sf0.1 wall ~7 s → ~3.5 s; the cold first run is dominated by
    building the shared pair-graph cache either way).  The comparison
    join is
    (doc_a, doc_b)-keyed and pair-set-sized, not corpus-sized.  A
    dup-free (or empty) corpus has no pairs on either side:
    precision/recall are NULL via NULLIF, not 0/0, and both engines
    emit the same single row (r11 hardening)."""
    ex = dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("__ex")
    )
    # r19: the minhash side reads the shared per-session pair-graph
    # checkpoint (minhash_pair_graph — the same materialization the CC
    # family consumes) instead of re-running the signature pipeline;
    # the evaluated pair SET is identical by construction.
    mh = minhash_pair_graph(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("__mh")
    )
    both = F.count(F.when(F.col("__ex").isNotNull() & F.col("__mh").isNotNull(), 1))
    return ex.join(mh, ["doc_a", "doc_b"], "full").agg(
        F.count("__ex").cast("bigint").alias("n_exact"),
        F.count("__mh").cast("bigint").alias("n_minhash"),
        both.cast("bigint").alias("n_common"),
        F.round(
            both / F.nullif(F.count("__mh").cast("double"), F.lit(0.0)), 6
        ).alias("precision"),
        F.round(
            both / F.nullif(F.count("__ex").cast("double"), F.lit(0.0)), 6
        ).alias("recall"),
    )


_SAFETY_LEXICON = ("error", "slow", "fail", "crash", "broken", "deprecated")
_SQL_SAFETY_LEX = "(" + ", ".join(f"'{w}'" for w in _SAFETY_LEXICON) + ")"


@register(
    "safety_lexicon_filter",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        )
        SELECT doc_id,
               CAST(len(list_filter(w, x -> x IN {_SQL_SAFETY_LEX})) AS BIGINT)
                   AS n_flagged,
               round(CAST(len(list_filter(w, x -> x IN {_SQL_SAFETY_LEX})) AS DOUBLE)
                     / len(w), 6) AS flag_rate,
               CAST(CAST(len(list_filter(w, x -> x IN {_SQL_SAFETY_LEX})) AS DOUBLE)
                    / len(w) > 0.05 AS INT) AS blocked
        FROM t
        WHERE len(list_filter(w, x -> x IN {_SQL_SAFETY_LEX})) > 0
    """,
    tags=("safety", "lexicon", "filter"),
)
def safety_lexicon_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based SAFETY screen: per-document hit count and rate
    against a blocklist (here a stand-in term list; production swaps in
    the real toxicity/NSFW lexicon as a broadcast table), with a
    block-gate at 5% density — the first, cheapest tier of a safety
    stack (tier 2 is a fastText-style classifier over
    feature_hashing_vectorize's output; tier 3 an LLM judge).  Rate,
    not raw count, so long documents aren't over-flagged.

    Scale: map-only array intersection per row (JVM higher-order
    filter, no explode, no shuffle); only flagged docs are emitted so
    output tracks the violation rate, not the corpus size."""
    w = _words()
    n_flag = F.size(F.filter(w, lambda x: x.isin(*_SAFETY_LEXICON)))
    rate = n_flag.cast("double") / F.size(w)
    return (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            n_flag.cast("bigint").alias("n_flagged"),
            F.round(rate, 6).alias("flag_rate"),
            (rate > 0.05).cast("int").alias("blocked"),
        )
        .where(F.col("n_flagged") > 0)
    )


@register(
    "fuzzy_join_levenshtein_blocked",
    oracle="""
        WITH d AS (
            SELECT doc_id, text, substr(text, 1, 16) AS blk FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev_dist
        FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE levenshtein(a.text, b.text) <= 5
    """,
    tags=("fuzzy_join", "levenshtein", "blocking"),
)
def fuzzy_join_levenshtein_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY STRING JOIN: document pairs within Levenshtein distance 5,
    made joinable by PREFIX BLOCKING (equal first 16 chars) — the
    edit-distance counterpart of the set-similarity joins (Jaccard /
    containment): catches typo-level and truncation-level near-copies
    that shingle overlap scores poorly on short texts.  Both engines
    implement the identical classic edit distance, so the verified
    pairs hash-match.

    Blocking recall: a prefix-16 block misses pairs whose edits touch
    the first 16 chars; production stacks passes over several blocking
    keys (prefix, suffix, sorted-q-gram sample) and unions candidates —
    each pass is this same plan with a different block column.  The
    O(len²) Levenshtein kernel runs ONLY on blocked candidates, never
    all pairs.

    Scale: block key is a map-side projection; the self-join shuffles on
    the 16-char key; skewed blocks (boilerplate prefixes) surface in
    boilerplate_prefix_groups and cap/salt the same way."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "text", F.substring("text", 1, 16).alias("blk")
    )
    a, b = d.alias("a"), d.alias("b")
    # Banded Levenshtein (r18, guide §1.2 per-task work): the 3-arg
    # threshold form computes only the |i−j| ≤ k diagonal band and bails
    # the moment every band cell exceeds k — O(k·n) per candidate pair
    # instead of the full O(n²) matrix, returning -1 past the threshold
    # and the EXACT distance within it.  Every emitted pair's lev_dist
    # is the same exact distance as before (≤ 5 ⇔ banded ≥ 0), so the
    # oracle is untouched.
    lev = F.levenshtein(F.col("a.text"), F.col("b.text"), 5)
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (lev >= 0),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            lev.cast("bigint").alias("lev_dist"),
        )
    )


@register(
    "dedup_provenance_matrix",
    oracle=f"""
        WITH px AS ({_NGRAM_ORACLE})
        SELECT least(da.source, db.source) AS src_a,
               greatest(da.source, db.source) AS src_b,
               COUNT(*) AS n_dup_pairs,
               CAST(least(da.source, db.source) = greatest(da.source, db.source)
                    AS INT) AS within_source
        FROM px
        JOIN documents da ON da.doc_id = px.doc_a
        JOIN documents db ON db.doc_id = px.doc_b
        GROUP BY 1, 2
    """,
    tags=("dedup", "provenance", "diagnostics"),
)
def dedup_provenance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate PROVENANCE matrix: near-duplicate pairs (the exact
    3-gram Jaccard join's output) rolled up by the UNORDERED source pair
    they span — the diagnostic that distinguishes internal re-posting
    (within-source duplication: fix the crawler) from cross-source
    syndication (mirror/scraper overlap: fix the source list), which
    dedup pair counts alone can't separate.

    Scale: the pair set is the already-scale-shaped inverted-index
    join; source attribution is two doc-keyed joins (dimension side
    prunable to (doc_id, source)); the matrix is sources² small."""
    px = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    j = (
        px.join(src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")), "doc_a")
        .join(src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")), "doc_b")
    )
    src_a = F.least(F.col("sa"), F.col("sb"))
    src_b = F.greatest(F.col("sa"), F.col("sb"))
    return (
        j.groupBy(src_a.alias("src_a"), src_b.alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
        .select(
            "src_a",
            "src_b",
            "n_dup_pairs",
            (F.col("src_a") == F.col("src_b")).cast("int").alias("within_source"),
        )
    )


@register(
    "dedup_winnowing_fingerprints",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
            WHERE len(string_split(text, ' ')) >= 6
        ),
        hs AS (
            SELECT doc_id,
                   list_transform(range(1, len(w) - 1),
                       i -> ('0x' || substr(md5(array_to_string(w[i:i+2], ' ')),
                                            1, 12))::BIGINT % {_MINHASH_P})
                       AS hs
            FROM w
        ),
        sel AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(range(1, len(hs) - 2),
                       j -> list_min(hs[j:j+3])))) AS fp
            FROM hs
        )
        SELECT doc_a, doc_b, n_shared FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
            FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING COUNT(*) >= 3
        )
        ORDER BY n_shared DESC, doc_a, doc_b
        LIMIT 50
    """,
    tags=("dedup", "winnowing", "fingerprint", "moss"),
)
def dedup_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING document fingerprints (Schleimer et al. 2003 — the MOSS
    algorithm): hash every POSITIONAL word-3-gram, slide a window of 4
    hashes, keep each window's minimum — winnowing's guarantee is that
    any shared run of ≥ 6 words yields at least one shared fingerprint,
    with a fingerprint density of ~2/(w+1) instead of every-gram.  Pairs
    sharing ≥ 3 selected fingerprints, top-50 — the local, position-
    robust plagiarism/copy detector next to MinHash (global set
    resemblance) and the substring-window join (exact but dense).

    Scale: selection is row-local (the whole winnow happens inside one
    higher-order expression — no explode until the already-thinned
    fingerprints), so the shuffle carries ~2/(w+1) of the gram stream;
    the pair join is the standard inverted-index self-join on
    fingerprint keys."""
    w = (
        load(spark, sf_dir, "documents")
        .selectExpr("doc_id", "split(text, ' ') AS w")
        .where(F.size("w") >= 6)
    )
    hs = w.selectExpr(
        "doc_id",
        "transform(sequence(1, size(w) - 2),"
        " i -> CAST(conv(substring(md5(array_join(slice(w, i, 3), ' ')), 1, 12),"
        f" 16, 10) AS BIGINT) % {_MINHASH_P}L) AS hs",
    )
    sel = hs.selectExpr(
        "doc_id",
        "explode(array_distinct(transform(sequence(1, size(hs) - 3),"
        " j -> array_min(slice(hs, j, 4))))) AS fp",
    )
    a, b = sel.alias("a"), sel.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 3)
        .orderBy(F.desc("n_shared"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(50)
    )


@register(
    "lm_next_word_accuracy",
    oracle="""
        WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        inst AS (
            SELECT doc_id, lang, w[i] AS w1, w[i + 1] AS w2
            FROM w, unnest(range(1, len(w))) AS t(i)
            WHERE len(w) >= 2
        ),
        bg AS (SELECT w1, w2, COUNT(*) AS c FROM inst GROUP BY w1, w2),
        pred AS (
            SELECT w1, w2 AS predicted FROM (
                SELECT w1, w2,
                       ROW_NUMBER() OVER (PARTITION BY w1
                                          ORDER BY c DESC, w2) AS rn
                FROM bg
            ) WHERE rn = 1
        )
        SELECT i.lang,
               COUNT(*) AS n_predictions,
               CAST(COUNT(*) FILTER (i.w2 = p.predicted) AS BIGINT) AS n_correct,
               round(COUNT(*) FILTER (i.w2 = p.predicted)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
        FROM inst i JOIN pred p ON i.w1 = p.w1
        GROUP BY i.lang
    """,
    tags=("text", "lm", "eval", "accuracy"),
)
def lm_next_word_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-word prediction ACCURACY of the corpus bigram argmax model,
    per language: for every bigram instance, does the globally most
    frequent continuation of w1 (ties → lexicographic) equal the actual
    next word?  The intrinsic-eval twin of lm_bigram_surprisal — the
    0-R baseline every fancier LM must beat, and a per-language
    difficulty read (in-corpus fit; hold-out via
    sample_deterministic_split for generalization).

    Scale: the model is one (w1, w2) count + a w1-partitioned argmax
    over the VOCABULARY² table; scoring joins instances on w1 (the
    model table broadcasts at sane vocabularies); accuracy is one
    grouped conditional count."""
    wdf = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", "lang", "split(text, ' ') AS w"
    )
    inst = (
        wdf.where(F.size("w") >= 2)
        .selectExpr(
            "doc_id",
            "lang",
            "explode(transform(sequence(1, size(w) - 1),"
            " i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))) AS s",
        )
        .select("doc_id", "lang", "s.w1", "s.w2")
    )
    bg = inst.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    wp = Window.partitionBy("w1").orderBy(F.desc("c"), F.asc("w2"))
    pred = (
        bg.withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") == 1)
        .select("w1", F.col("w2").alias("predicted"))
    )
    return (
        inst.join(F.broadcast(pred), "w1")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_predictions"),
            F.count(F.when(F.col("w2") == F.col("predicted"), 1))
            .cast("bigint")
            .alias("n_correct"),
            F.round(
                F.count(F.when(F.col("w2") == F.col("predicted"), 1))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("accuracy"),
        )
    )


def _power_iter_oracle(cov_prelude: str, iters: int = 3) -> str:
    """Power-iteration oracle body shared by the exact (centered
    self-join) query and its Gram-matrix one-pass twin: the caller
    supplies the CTE chain that ends in ``cov(i, j, c)`` and this
    appends the identical 3-round matvec+normalize trajectory, so the
    two oracles can never drift in the iteration arithmetic (the same
    shared-helper discipline as the BM25 prune rule)."""
    parts = [
        """v0 AS (SELECT unnest(range(64)) AS i, 0.125 AS v)"""
    ]
    for k in range(iters):
        parts.append(f"""w{k} AS (
            SELECT c.i,
                   CAST(SUM(CAST(round(c.c * v.v, 6) AS DECIMAL(38,6)))
                        AS DOUBLE) AS wv
            FROM cov c JOIN v{k} v ON c.j = v.i GROUP BY c.i
        )""")
        parts.append(f"""n{k} AS (
            SELECT sqrt(CAST(SUM(CAST(round(wv * wv, 6) AS DECIMAL(38,6)))
                             AS DOUBLE)) AS nn
            FROM w{k}
        )""")
        parts.append(f"""v{k + 1} AS (
            SELECT i, round(wv / nn, 6) AS v FROM w{k} CROSS JOIN n{k}
        )""")
    body = ",\n        ".join(parts)
    return f"""
        WITH {cov_prelude},
        {body}
        SELECT CAST(i AS BIGINT) AS pos, v AS loading,
               round((SELECT nn FROM n{iters - 1}), 6) AS eigenvalue
        FROM v{iters}
    """


_POWER_ITER_COV_EXACT = """e AS (
            SELECT vec_id, gs.i AS pos, CAST(embedding[gs.i + 1] AS DOUBLE) AS v
            FROM embeddings,
                 LATERAL (SELECT unnest(range(len(embedding))) AS i) gs
        ),
        nv AS (SELECT COUNT(DISTINCT vec_id) AS n FROM e),
        mu AS (
            SELECT pos,
                   round(CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE)
                         / COUNT(*), 9) AS mu
            FROM e GROUP BY pos
        ),
        cent AS (
            SELECT e.vec_id, e.pos, e.v - mu.mu AS cv
            FROM e JOIN mu ON e.pos = mu.pos
        ),
        cov AS (
            SELECT a.pos AS i, b.pos AS j,
                   round(CAST(SUM(CAST(round(a.cv * b.cv, 9) AS DECIMAL(38,9)))
                              AS DOUBLE) / nv.n, 9) AS c
            FROM cent a JOIN cent b ON a.vec_id = b.vec_id CROSS JOIN nv
            GROUP BY a.pos, b.pos, nv.n
        )"""

_POWER_ITER_COV_GRAM = """pairs AS (
            SELECT a.i AS i, b.i AS j,
                   CAST(embedding[a.i + 1] AS DOUBLE) AS vi,
                   CAST(embedding[b.i + 1] AS DOUBLE) AS vj
            FROM embeddings,
                 LATERAL (SELECT unnest(range(len(embedding))) AS i) a,
                 LATERAL (SELECT unnest(range(len(embedding))) AS i) b
        ),
        cov AS (
            SELECT i, j,
                   round(CAST(SUM(CAST(round(vi * vj, 9) AS DECIMAL(38,9)))
                              AS DOUBLE) / COUNT(*)
                         - round(CAST(SUM(CAST(vi AS DECIMAL(28,12)))
                                      AS DOUBLE) / COUNT(*), 9)
                           * round(CAST(SUM(CAST(vj AS DECIMAL(28,12)))
                                        AS DOUBLE) / COUNT(*), 9),
                         9) AS c
            FROM pairs GROUP BY i, j
        )"""


def _power_iterate(spark: SparkSession, cov: DataFrame, iters: int = 3) -> DataFrame:
    """Spark-side twin of :func:`_power_iter_oracle`'s iteration body:
    3 matvec+normalize rounds over a materialized ``cov(i, j, c)``, every
    step DECIMAL-rounded so both engines walk the identical trajectory.
    The 64x64 matrix and 64-vector are broadcast-trivial regardless of
    corpus size — only the cov construction (the caller's job) touches
    the corpus."""
    v = spark.range(64).select(
        F.col("id").cast("int").alias("i"), F.lit(0.125).alias("v")
    )
    last_norm = None
    for _ in range(iters):
        w = (
            cov.join(F.broadcast(v.select(F.col("i").alias("j"), "v")), "j")
            .groupBy("i")
            .agg(
                F.sum(F.round(F.col("c") * F.col("v"), 6).cast("decimal(38,6)"))
                .cast("double")
                .alias("wv")
            )
        )
        nrm = w.agg(
            F.sqrt(
                F.sum(F.round(F.col("wv") * F.col("wv"), 6).cast("decimal(38,6)")).cast(
                    "double"
                )
            ).alias("nn")
        )
        last_norm = nrm
        v = w.crossJoin(F.broadcast(nrm)).select(
            "i", F.round(F.col("wv") / F.col("nn"), 6).alias("v")
        )
    return v.crossJoin(F.broadcast(last_norm)).select(
        F.col("i").cast("bigint").alias("pos"),
        F.col("v").alias("loading"),
        F.round("nn", 6).alias("eigenvalue"),
    )


@register(
    "embedding_power_iteration_pc1",
    oracle=_power_iter_oracle(_POWER_ITER_COV_EXACT),
    tags=("embedding", "pca", "linear_algebra"),
)
def embedding_power_iteration_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top PRINCIPAL COMPONENT by power iteration, fully relational: the
    64×64 covariance matrix is one dim-pair aggregation over row-locally
    CENTERED vectors, then 3 fixed matvec+normalize rounds from a
    uniform start — PCA's workhorse eigensolver expressed as relational
    ops, no BLAS, every step DECIMAL-rounded so both engines walk the
    identical trajectory (the k-means exactness discipline applied to
    linear algebra).  Output: the 64 loadings plus the final Rayleigh
    norm (the dominant eigenvalue estimate — the "explained variance"
    numerator).

    Scale: two corpus scans (μ, then centered products), NO corpus-sized
    shuffle — since r18 the centered products use the Gram twin's
    map-side shape (broadcast μ array, row-local centering, dim-pair
    explode collapsed by partial aggregation to 4096-row buffers per
    task); before r18 this was a vec_id-keyed self-join that shuffled
    the exploded corpus twice for the same bit-identical cells.  The
    twin ``embedding_power_iteration_pc1_gram`` remains the ONE-scan
    form (Σxxᵀ/n − μμᵀ); this exact centered form stays as the
    numerically-gentler baseline (centered products avoid the Gram
    form's cancellation when μ ≫ σ) and its oracle is unchanged.  The
    iteration itself touches 64²-sized tables — broadcast-trivial
    regardless of corpus.  More components = deflate and repeat (or
    Lanczos)."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    )
    # n rides the SAME aggregate as μ (verdict r8 #4: the old separate
    # distinct().count() was a second corpus-sized pass for one scalar),
    # as a per-pos COUNT(DISTINCT vec_id) — the oracle's exact n even if
    # a vec_id row were ever duplicated; embeddings are fixed-width (the
    # 64-wide start vector already assumes it), so every pos sees every
    # vec and the per-pos distinct count IS the corpus count.  The
    # 64-row result is localCheckpoint-ed so the μ scan runs ONCE and
    # both consumers (nv, the centering join) read the materialized
    # rows — without it Catalyst re-derives each subtree from the scan
    # (column pruning defeats exchange reuse) and the "fold" would not
    # exist physically.
    mu = (
        e.groupBy("pos")
        .agg(
            F.round(
                F.sum(F.col("v").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mu"),
            F.count_distinct(F.col("vec_id")).alias("n_vec"),
        )
        .localCheckpoint()
    )
    nv = mu.agg(F.max("n_vec").cast("double").alias("n_corpus"))
    # Covariance via the GRAM TWIN'S physical shape over CENTERED arrays
    # (r18 optimization; guide §2.3/§2.4): μ rolls up into one 64-wide
    # broadcast array, each vector centers ROW-LOCALLY
    # (transform-with-index — the same (v - mu) double the old per-pos
    # centering join produced), and the dim-pair double-posexplode feeds
    # ONE (i, j) aggregate whose ×4096 fan-out never leaves the map side
    # (4096-row partial buffers per task).  The old shape shuffled the
    # whole exploded corpus TWICE through a vec_id self-join to form the
    # same products.  Every per-(vec, i, j) term is round(cv_i·cv_j, 9)
    # exactly as before and the DECIMAL(38,9) sum is exact and
    # order-independent, so the covariance cells are bit-identical —
    # oracle unchanged (verified at all three sfs).  19.3 → ~4 s sf0.1.
    mu_row = mu.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mu"))),
            lambda s: s.mu,
        ).alias("mus")
    )
    try:
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n_shuffle = spark.sparkContext.defaultParallelism
    carr = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("arr"))
        # spread the compact rows before the ×4096 explode — the gram
        # twin's scale rationale verbatim (AQE-exempt explicit count).
        .repartition(n_shuffle, "vec_id")
        .crossJoin(F.broadcast(mu_row))
        .select(
            F.transform(
                "arr", lambda x, i: x - F.element_at(F.col("mus"), i + 1)
            ).alias("carr")
        )
    )
    # r19: the corpus-sized (i, j) partial products ride as int64 nanos
    # (half_up_long — no per-row BigDecimal from the 9-dp round or the
    # decimal cast) and the grouped sum is a primitive long: 8.2M rows
    # at sf0.1 through the one corpus-sized aggregation of this query.
    # A/B: 0 divergences vs the decimal form over every centered
    # product at all three sfs (12.3M rows); the long→double→÷1e9
    # finalizer is the same exact integer the decimal sum cast (Σ per
    # group ≤ 2k·|vi·vj|·1e9 ≪ 2^52, so the cast is exact).
    cov = (
        carr.select("carr", F.posexplode("carr").alias("i", "vi"))
        .select("i", "vi", F.posexplode("carr").alias("j", "vj"))
        .groupBy("i", "j")
        .agg(
            (
                F.sum(half_up_long((F.col("vi") * F.col("vj")) * 1_000_000_000))
                .cast("double")
                / 1_000_000_000
            ).alias("s")
        )
        .crossJoin(F.broadcast(nv))
        .select("i", "j", F.round(F.col("s") / F.col("n_corpus"), 9).alias("c"))
        .localCheckpoint()
    )
    return _power_iterate(spark, cov)


@register(
    "embedding_power_iteration_pc1_gram",
    oracle=_power_iter_oracle(_POWER_ITER_COV_GRAM),
    tags=("embedding", "pca", "linear_algebra", "gram", "single_pass"),
)
def embedding_power_iteration_pc1_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRAM-MATRIX one-pass twin of ``embedding_power_iteration_pc1``:
    C = (Σ x xᵀ)/n − μ μᵀ, so the covariance needs ONE corpus scan — the
    per-vector dim-pair explode feeds a single (i, j) aggregate that
    carries Σ xᵢxⱼ, Σ xᵢ, Σ xⱼ, and n together, and the centering
    happens AFTER aggregation on the 64×64 result instead of via the
    exact baseline's per-row centering join + vec_id-keyed self-join
    (two corpus-sized scan branches).  Same 3-round DECIMAL-rounded
    power iteration (shared helpers ``_power_iterate`` /
    ``_power_iter_oracle``), own oracle: the Gram form changes the
    covariance arithmetic (raw products rounded at 9 dp instead of
    centered products), so the twin registers its own DuckDB twin
    rather than pretending to hash-match the baseline.

    Scale: THIS is the 100 TB path (verdict r9 #1).  The dim-pair
    fan-out (×4096 per vector) never leaves the map side — partial hash
    aggregation collapses each task to a 4096-cell buffer (literally
    the partial Gram matrix), so the shuffle is 4096 rows per task
    regardless of corpus size, vs the exact baseline shuffling the
    whole exploded corpus by vec_id for its self-join.  One FileScan,
    no joins until the 64×64 stage (executed-plan scan count recorded
    in SCALE_NOTES r10)."""
    try:
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # e.g. "auto" under some AQE setups
        # Fall back to the cluster's actual parallelism, not a constant:
        # the whole point of the explicit count is that the pre-explode
        # spread tracks cluster size (a hardcoded 32 would cap the
        # fan-out stage on a 1000-core cluster).
        n_shuffle = spark.sparkContext.defaultParallelism
    pairs = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("arr"))
        # spread the COMPACT vector rows before the x4096 explode: the
        # heavy map-side aggregate then parallelizes across all cores
        # even when the scan yields few splits (one small local file =
        # one task doing the whole fan-out — measured 36 s -> 6.8 s at
        # sf0.1/local[8]).  This shuffles only n x 64-float rows (the
        # table itself, pre-explode) — strictly fewer bytes than the
        # exact twin's vec_id self-join, which shuffles the n x 64
        # EXPLODED triples.  The partition count is EXPLICIT and sized
        # from the session's shuffle knob, deliberately: the exchange is
        # tiny in bytes but every row fans out x4096 in the next stage,
        # so AQE's byte-based coalescing (which applies to a count-less
        # repartition-by-column) would fold it back to one task and
        # undo the parallelism; an explicit count is AQE-exempt and
        # scales with the cluster's configured parallelism instead of a
        # hardcoded constant.  The scale invariant is downstream: the
        # aggregate emits 4096 rows per task regardless of corpus size,
        # so no corpus-sized shuffle exists after the explode.
        .repartition(n_shuffle, "vec_id")
        .select("arr", F.posexplode("arr").alias("i", "vi"))
        .select("i", "vi", F.posexplode("arr").alias("j", "vj"))
    )
    cov = (
        pairs.groupBy("i", "j")
        .agg(
            # r19: the corpus-sized product sum rides as int64 nanos
            # (same swap, A/B and envelope as the pc1 cov above); the
            # sxi/sxj RAW-value decimal sums stay — they carry no
            # per-row round, and their scale-12 long twin's Σ envelope
            # is not provably inside the exact double cast.
            (
                F.sum(half_up_long((F.col("vi") * F.col("vj")) * 1_000_000_000))
                .cast("double")
                / 1_000_000_000
            ).alias("sxx"),
            F.sum(F.col("vi").cast("decimal(28,12)")).cast("double").alias("sxi"),
            F.sum(F.col("vj").cast("decimal(28,12)")).cast("double").alias("sxj"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "i",
            "j",
            F.round(
                F.col("sxx") / F.col("n")
                - F.round(F.col("sxi") / F.col("n"), 9)
                * F.round(F.col("sxj") / F.col("n"), 9),
                9,
            ).alias("c"),
        )
        # materialize the 64x64 result once: the iteration reuses cov in
        # every matvec round and Catalyst would otherwise re-derive the
        # whole corpus aggregate per round (same localCheckpoint
        # necessity the exact baseline documents)
        .localCheckpoint()
    )
    return _power_iterate(spark, cov)


@register(
    "text_char_entropy",
    oracle="""
        WITH ch AS (
            SELECT doc_id,
                   substr(text, t.i, 2) AS bg
            FROM documents, unnest(range(1, len(text))) AS t(i)
        ),
        cnt AS (
            SELECT doc_id, bg, COUNT(*) AS c FROM ch GROUP BY doc_id, bg
        ),
        tot AS (SELECT doc_id, SUM(c) AS t FROM cnt GROUP BY doc_id)
        SELECT c.doc_id,
               CAST(ANY_VALUE(t.t) AS BIGINT) AS n_transitions,
               round(CAST(SUM(CAST(round(-(c.c / CAST(t.t AS DOUBLE))
                                         * ln(c.c / CAST(t.t AS DOUBLE)), 9)
                                   AS DECIMAL(28,9))) AS DOUBLE), 6)
                   AS char_entropy
        FROM cnt c JOIN tot t ON c.doc_id = t.doc_id
        GROUP BY c.doc_id
    """,
    tags=("text", "entropy", "gibberish", "quality"),
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER-transition entropy per document: Shannon entropy of the
    2-char sliding window distribution — the gibberish detector
    (keyboard mash and random strings run near the uniform ceiling;
    natural text sits well below; template/repeated text near zero) that
    complements the WORD-level signals (text_repetition_score,
    lm_bigram_surprisal) at the granularity where "asdfjkl;" and
    base64 blobs actually live.

    Scale: the window explode is map-side (×len fan-out, same budget as
    dedup_substring_windows but 2-char), the count shuffles on
    (doc, bigram), and the entropy sum is per-doc DECIMAL-accumulated —
    exact p·ln p contributions from integer count ratios."""
    ch = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 1),"
                " i -> substring(text, i, 2))"
            )
        ).alias("bg"),
    )
    cnt = ch.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("doc_id").agg(F.sum("c").alias("t"))
    p = F.col("c") / F.col("t").cast("double")
    # r18 audit note: a per-doc window total (replacing tot + the join)
    # was TRIED and measured 15% slower at sf0.1 — the doc-sized tot is
    # a broadcast build here, so the join costs no exchange while the
    # window pays a (doc, bg)-stream sort.  Kept as-is.
    return (
        cnt.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.first("t").cast("bigint").alias("n_transitions"),
            # r19: the per-(doc, bigram) entropy contribution rides as
            # int64 nanos via half_up_long (no per-row BigDecimal; A/B
            # 0 divergences over all 556k contribution rows at the
            # three sfs — p·ln p is irrational off the p=1 endpoint,
            # so the decimal-tie family that blocks this swap elsewhere
            # cannot occur) and the grouped sum is a primitive long.
            F.round(
                F.sum(half_up_long(-p * F.log(p) * 1_000_000_000)).cast("double")
                / 1_000_000_000,
                6,
            ).alias("char_entropy"),
        )
    )


@register(
    "dedup_doc_duplication_score",
    oracle="""
        WITH winds AS (
            SELECT doc_id, substr(text, t.i, 48) AS w
            FROM documents, unnest(range(1, len(text) - 46)) AS t(i)
            WHERE len(text) >= 48
        ),
        dupw AS (
            SELECT w FROM winds GROUP BY w HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        per AS (
            SELECT wi.doc_id,
                   COUNT(*) AS n_windows,
                   COUNT(*) FILTER (wi.w IN (SELECT w FROM dupw)) AS n_dup
            FROM winds wi
            GROUP BY wi.doc_id
        )
        SELECT doc_id, CAST(n_windows AS BIGINT) AS n_windows,
               CAST(n_dup AS BIGINT) AS n_dup,
               round(n_dup / CAST(n_windows AS DOUBLE), 6) AS dup_coverage
        FROM per
        WHERE n_dup > 0
        ORDER BY dup_coverage DESC, doc_id
        LIMIT 50
    """,
    tags=("dedup", "substring", "coverage"),
)
def dedup_doc_duplication_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DUPLICATION COVERAGE: the fraction of a doc's 48-char
    window positions whose window also appears in another document — the
    doc-level removal signal built on dedup_substring_windows' corpus
    view (Lee et al. drop or trim docs above a coverage threshold;
    pair-level output can't rank docs).  Top-50 most-duplicated docs.

    Scale: windows are generated once and reused for both the duplicate
    set (grouped, distinct-doc floor) and the per-doc position counts;
    the membership test is a semi-join on the window key (hash the key
    at 100 TB, stride the windows — same mitigations as the base op)."""
    # r18 (guide §2.3/§2.4): the old shape generated the corpus-sized
    # window set TWICE (duplicate-set branch + membership join) and
    # shuffled the full 48-char-keyed window stream through a join.  One
    # (w, doc_id) aggregation now compacts the windows to per-doc
    # multiplicities map-side; a w-window counts the distinct docs per
    # window (the countDistinct, for free on the same key), and the
    # per-doc rollup sums the multiplicities — window generation runs
    # once and the membership join is gone.  n_windows = Σk and
    # n_dup = Σk over nd≥2 windows are the identical integers.
    # r19 audit: the posting-list form (one groupBy(w) collect_list, as
    # in _posting_pair_counts) was A/B'd here and REVERTED — with k≈1
    # the groups are 1.3M mostly-singletons, and per-group array
    # allocation measured 4.1 -> 5.3 s, slower than the (w, doc_id)
    # hash aggregate it would replace.
    winds = (
        load(spark, sf_dir, "documents")
        .where(F.length("text") >= 48)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(text) - 47),"
                    " i -> substring(text, i, 48))"
                )
            ).alias("w"),
        )
    )
    wcounts = winds.groupBy("w", "doc_id").agg(F.count(F.lit(1)).alias("k"))
    nd = F.count(F.lit(1)).over(Window.partitionBy("w"))
    per = (
        wcounts.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_windows"),
            F.sum(F.when(F.col("nd") >= 2, F.col("k")).otherwise(0)).alias("n_dup"),
        )
    )
    return (
        per.where(F.col("n_dup") > 0)
        .select(
            "doc_id",
            F.col("n_windows").cast("bigint").alias("n_windows"),
            F.col("n_dup").cast("bigint").alias("n_dup"),
            F.round(F.col("n_dup") / F.col("n_windows").cast("double"), 6).alias(
                "dup_coverage"
            ),
        )
        .orderBy(F.desc("dup_coverage"), F.asc("doc_id"))
        .limit(50)
    )


def _ensemble_oracle() -> str:
    from discogs_etl_spark.registry import _REGISTRY

    j = _REGISTRY["dedup_ngram_jaccard"].oracle
    c = _REGISTRY["dedup_containment"].oracle
    w = _REGISTRY["dedup_winnowing_fingerprints"].oracle
    return f"""
        WITH mj AS ({j}), mc AS ({c}), mw AS ({w}),
        votes AS (
            SELECT doc_a, doc_b, 'jaccard' AS method FROM mj
            UNION ALL
            SELECT doc_a, doc_b, 'containment' FROM mc
            UNION ALL
            SELECT doc_a, doc_b, 'winnowing' FROM mw
        )
        SELECT doc_a, doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_methods,
               array_to_string(list_sort(list(method)), ',') AS methods
        FROM votes
        GROUP BY doc_a, doc_b
        HAVING COUNT(*) >= 2
    """


@register(
    "dedup_ensemble_vote",
    oracle=_ensemble_oracle(),
    tags=("dedup", "ensemble", "voting"),
)
def dedup_ensemble_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENSEMBLE near-dup detection: a pair counts as duplicate only when
    flagged by ≥ 2 of 3 INDEPENDENT detectors — word-3-gram Jaccard
    (global set overlap), containment (subset/excerpt), and winnowing
    fingerprints (local runs).  Majority voting suppresses each method's
    characteristic false positives (short-text Jaccard flukes, common-
    boilerplate winnow hits) at a small recall tax — the production
    posture when a deletion decision needs to be defensible.  The
    methods column records WHICH detectors agreed (the audit trail).

    Scale: each member is its registered, scale-shaped pipeline; the
    vote is one (doc_a, doc_b)-keyed count over their unioned outputs —
    pair-set-sized."""
    j = dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit("jaccard").alias("method")
    )
    c = dedup_containment(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit("containment").alias("method")
    )
    w = dedup_winnowing_fingerprints(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit("winnowing").alias("method")
    )
    votes = j.unionAll(c).unionAll(w)
    return (
        votes.groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_methods"),
            F.concat_ws(",", F.sort_array(F.collect_list("method"))).alias("methods"),
        )
        .where(F.col("n_methods") >= 2)
    )


@register(
    "embedding_triplet_check",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        anchors AS (SELECT * FROM e WHERE vec_id < 50),
        pos AS (
            SELECT a.vec_id AS aid, MIN(p.vec_id) AS pid
            FROM anchors a JOIN e p
              ON p.label = a.label AND p.vec_id > a.vec_id
            GROUP BY a.vec_id
        ),
        neg AS (
            SELECT a.vec_id AS aid, MIN(n.vec_id) AS nid
            FROM anchors a JOIN e n
              ON n.label <> a.label AND n.vec_id > a.vec_id
            GROUP BY a.vec_id
        ),
        t AS (
            SELECT a.vec_id AS aid, p.pid, n.nid,
                   {_SQL_COS.format(a='a.v', b='pv.v')} AS cp,
                   {_SQL_COS.format(a='a.v', b='nv.v')} AS cn
            FROM anchors a
            JOIN pos p ON p.aid = a.vec_id
            JOIN neg n ON n.aid = a.vec_id
            JOIN e pv ON pv.vec_id = p.pid
            JOIN e nv ON nv.vec_id = n.nid
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triplets,
               CAST(COUNT(*) FILTER (cp > cn) AS BIGINT) AS n_satisfied,
               round(COUNT(*) FILTER (cp > cn)
                     / CAST(NULLIF(COUNT(*), 0) AS DOUBLE), 6)
                   AS satisfaction_rate
        FROM t
    """,
    tags=("embedding", "eval", "triplet", "metric_learning"),
)
def embedding_triplet_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIPLET satisfaction rate: for deterministic (anchor, positive =
    next same-label id, negative = next other-label id) triplets, how
    often cos(a, p) > cos(a, n) — the metric-learning health check that
    says whether the embedding space actually respects the labels
    (rate ≈ 0.5 means the labels are invisible to the geometry; a
    trained encoder should sit far above).  Complements
    embedding_dispersion_by_label (within-cluster tightness) with a
    RELATIVE between-class test.

    Scale: anchors are a fixed slice; positive/negative selection is two
    grouped MINs over label-keyed joins; three vector fetch joins and a
    2-count aggregate — anchor-set-sized throughout.  Zero triplets
    (empty/single-label corpus) rates NULL via NULLIF, not 0/0 (r11)."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    anchors = e.where(F.col("vec_id") < 50)
    pos = (
        anchors.alias("a")
        .join(
            e.alias("p"),
            (F.col("p.label") == F.col("a.label"))
            & (F.col("p.vec_id") > F.col("a.vec_id")),
        )
        .groupBy(F.col("a.vec_id").alias("aid"))
        .agg(F.min("p.vec_id").alias("pid"))
    )
    neg = (
        anchors.alias("a")
        .join(
            e.alias("n"),
            (F.col("n.label") != F.col("a.label"))
            & (F.col("n.vec_id") > F.col("a.vec_id")),
        )
        .groupBy(F.col("a.vec_id").alias("aid"))
        .agg(F.min("n.vec_id").alias("nid"))
    )
    t = (
        anchors.select(F.col("vec_id").alias("aid"), F.col("v").alias("av"))
        .join(pos, "aid")
        .join(neg, "aid")
        .join(e.select(F.col("vec_id").alias("pid"), F.col("v").alias("pv")), "pid")
        .join(e.select(F.col("vec_id").alias("nid"), F.col("v").alias("nv")), "nid")
        .select(
            _cosine(F.col("av"), F.col("pv")).alias("cp"),
            _cosine(F.col("av"), F.col("nv")).alias("cn"),
        )
    )
    return t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triplets"),
        F.count(F.when(F.col("cp") > F.col("cn"), 1)).cast("bigint").alias(
            "n_satisfied"
        ),
        F.round(
            F.count(F.when(F.col("cp") > F.col("cn"), 1))
            / F.nullif(F.count(F.lit(1)).cast("double"), F.lit(0.0)),
            6,
        ).alias("satisfaction_rate"),
    )


@register(
    "sample_balance_classes",
    oracle="""
        WITH sized AS (
            SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
        ),
        target AS (SELECT MIN(n) AS m FROM sized),
        ranked AS (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY ('0x' || substr(md5('bal:' || CAST(doc_id AS VARCHAR)),
                                                1, 8))::BIGINT, doc_id) AS rn
            FROM documents
        )
        SELECT lang, COUNT(*) AS n_kept,
               CAST(MIN(doc_id) AS BIGINT) AS min_kept_doc
        FROM ranked CROSS JOIN target
        WHERE rn <= m
        GROUP BY lang
    """,
    tags=("sampling", "balance", "downsample"),
)
def sample_balance_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASS-BALANCED downsampling: every language keeps exactly
    min-class-count documents, selected by a content-keyed hash order —
    the majority-class downsampling step before training a classifier on
    skewed data (a quality or language-ID model trained on the raw mix
    learns the prior, not the signal).  Hash ordering makes the kept set
    reproducible across runs, partitionings, and engines — rand() is
    none of these; summary emitted per class, the kept rows are the same
    plan minus the final aggregate.

    Scale: class sizes are one tiny aggregate; selection is a
    lang-partitioned window over hash-ranked rows; no joins beyond the
    1-row target broadcast."""
    docs = load(spark, sf_dir, "documents")
    sized = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    target = sized.agg(F.min("n").alias("m"))
    hkey = F.conv(
        F.substring(F.md5(F.concat(F.lit("bal:"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    ranked = docs.select(
        "doc_id",
        "lang",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy(hkey, F.asc("doc_id")))
        .alias("rn"),
    )
    return (
        ranked.crossJoin(F.broadcast(target))
        .where(F.col("rn") <= F.col("m"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("doc_id").cast("bigint").alias("min_kept_doc"),
        )
    )


@register(
    "boilerplate_ngram_discovery",
    oracle=f"""
        WITH sh AS (
            SELECT doc_id, unnest({_SQL_TRIGRAMS}) AS sh FROM documents
        ),
        n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM sh),
        df AS (
            SELECT sh, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY sh
        )
        SELECT sh AS ngram, CAST(df AS BIGINT) AS doc_freq,
               round(df / CAST(nd AS DOUBLE), 6) AS doc_frac
        FROM df CROSS JOIN n
        WHERE df >= 2
        ORDER BY doc_freq DESC, ngram
        LIMIT 50
    """,
    tags=("text", "boilerplate", "stoplist"),
)
def boilerplate_ngram_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOILERPLATE n-gram DISCOVERY: the 50 word-3-grams shared by the
    most documents — phrases that frequent ("cookie policy", nav chrome,
    license headers) are template, not content, and this df-ranked list
    is the auto-generated stop-PHRASE table that text cleaning strips
    before dedup (boilerplate inflates every similarity metric) and LM
    training (it's memorized instantly).  A crawl corpus shows a sharp
    knee (gate at doc_frac ≥ 0.3 there); the fixtures' random text tops
    out near 1% — the honest no-boilerplate readout.  Complements
    boilerplate_prefix_groups (which only sees document HEADS) with
    position-independent discovery.

    Scale: per-doc DISTINCT shingles bound each doc's contribution; the
    df count is one shingle-keyed aggregation with map-side partials;
    the corpus size is a 1-row broadcast."""
    sh = (
        _with_shingles(load(spark, sf_dir, "documents"), "doc_id")
        .select("doc_id", F.explode("shingles").alias("sh"))
    )
    nd = sh.select("doc_id").distinct().count()
    df = sh.groupBy("sh").agg(F.countDistinct("doc_id").alias("df"))
    return (
        df.where(F.col("df") >= 2)
        .select(
            F.col("sh").alias("ngram"),
            F.col("df").cast("bigint").alias("doc_freq"),
            F.round(F.col("df") / F.lit(float(nd)), 6).alias("doc_frac"),
        )
        .orderBy(F.desc("doc_freq"), F.asc("ngram"))
        .limit(50)
    )


@register(
    "text_msttr_diversity",
    oracle="""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
            WHERE len(string_split(text, ' ')) >= 25
        ),
        seg AS (
            SELECT doc_id, g.s AS seg_idx,
                   w[(g.s * 25 + 1):(g.s * 25 + 25)] AS seg
            FROM w, unnest(range(len(w) // 25)) AS g(s)
        ),
        ttr AS (
            SELECT doc_id, seg_idx,
                   round(len(list_distinct(seg)) / 25.0, 6) AS seg_ttr
            FROM seg
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_segments,
               round(CAST(SUM(CAST(seg_ttr AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*), 6) AS msttr
        FROM ttr GROUP BY doc_id
    """,
    tags=("text", "diversity", "msttr"),
)
def text_msttr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEAN SEGMENTAL type-token ratio (MSTTR-25): lexical diversity
    computed over fixed 25-token segments and averaged — the
    length-ROBUST diversity metric (plain TTR mechanically falls with
    document length, so text_stats_by_lang's per-doc TTR can't compare a
    tweet to an essay; fixed segments can).  Trailing partial segments
    are dropped per the standard definition; docs under one segment are
    excluded.

    Scale: segmentation is a row-local array slice (no explode until
    the bounded per-segment rows); per-segment TTR is array_distinct
    over 25 elements; the per-doc mean accumulates rounded DECIMAL."""
    w = (
        load(spark, sf_dir, "documents")
        .selectExpr("doc_id", "split(text, ' ') AS w")
        .where(F.size("w") >= 25)
    )
    seg = w.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(w) DIV 25 - 1),"
                " s -> slice(w, s * 25 + 1, 25))"
            )
        ).alias("seg"),
    )
    ttr = seg.select(
        "doc_id",
        F.round(F.size(F.array_distinct("seg")) / 25.0, 6).alias("seg_ttr"),
    )
    return ttr.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.round(
            F.sum(F.col("seg_ttr").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("msttr"),
    )


@register(
    "embedding_norm_outliers",
    oracle="""
        WITH nrm AS (
            SELECT vec_id, label,
                   round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                               CAST(embedding AS DOUBLE[]))), 6)
                       AS l2
            FROM embeddings
        ),
        s AS (
            SELECT COUNT(*) AS n,
                   CAST(SUM(CAST(round(l2, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sl,
                   CAST(SUM(CAST(round(l2 * l2, 8) AS DECIMAL(38,8))) AS DOUBLE)
                       AS sll
            FROM nrm
        )
        SELECT vec_id, label, l2, z,
               CAST(abs(z) > 3 OR l2 < 1e-6 AS INT) AS is_outlier
        FROM (
            SELECT vec_id, label, l2,
                   round((l2 - sl / n)
                         / sqrt(greatest((sll - sl * sl / n) / (n - 1), 1e-12)), 4)
                       AS z
            FROM nrm CROSS JOIN s
        )
        ORDER BY abs(z) DESC, vec_id
        LIMIT 10
    """,
    tags=("embedding", "qa", "outliers"),
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING QA: vectors whose L2 norm sits more than 3σ from the
    corpus mean, or is numerically zero — the two failure signatures of
    a broken encoder run (zero vectors from padded/failed inputs,
    exploding norms from fp overflow or un-normalized mixtures), both of
    which silently poison cosine math downstream (zero vectors make
    cosine NaN; giant norms dominate any dot-product index).  Run this
    BEFORE the similarity/dedup planes.

    Scale: the norm is row-local (JVM fold); moments are one DECIMAL
    aggregate broadcast back; output tracks the violation rate."""
    nrm = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.round(F.sqrt(_dot(F.col("embedding").cast("array<double>"),
                            F.col("embedding").cast("array<double>"))), 6).alias("l2"),
    )
    s = nrm.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round("l2", 6).cast("decimal(28,6)")).cast("double").alias("sl"),
        F.sum(F.round(F.col("l2") * F.col("l2"), 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("sll"),
    )
    mean = F.col("sl") / F.col("n")
    sd = F.sqrt(
        F.greatest(
            (F.col("sll") - F.col("sl") * F.col("sl") / F.col("n")) / (F.col("n") - 1),
            F.lit(1e-12),
        )
    )
    z = (F.col("l2") - mean) / sd
    return (
        nrm.crossJoin(F.broadcast(s))
        .select("vec_id", "label", "l2", F.round(z, 4).alias("z"))
        .withColumn(
            "is_outlier",
            ((F.abs("z") > 3) | (F.col("l2") < 1e-6)).cast("int"),
        )
        .orderBy(F.desc(F.abs("z")), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "corpus_jsd_sources",
    oracle="""
        WITH tf AS (
            SELECT source, t.term, COUNT(*) AS c
            FROM (SELECT source, unnest(string_split(text, ' ')) AS term
                  FROM documents) t
            GROUP BY source, t.term
        ),
        tot AS (SELECT source, SUM(c) AS n FROM tf GROUP BY source),
        p AS (
            SELECT tf.source, tf.term, tf.c / CAST(tot.n AS DOUBLE) AS p
            FROM tf JOIN tot ON tf.source = tot.source
        ),
        pairs AS (
            SELECT a.source AS src_a, b.source AS src_b, a.term,
                   COALESCE(a.p, 0.0) AS pa, COALESCE(b.p, 0.0) AS pb
            FROM p a JOIN p b ON a.term = b.term AND a.source < b.source
        ),
        contrib AS (
            SELECT src_a, src_b,
                   round(0.5 * pa * ln(pa / ((pa + pb) / 2))
                         + 0.5 * pb * ln(pb / ((pa + pb) / 2)), 9) AS js
            FROM pairs WHERE pa > 0 AND pb > 0
        )
        SELECT src_a, src_b,
               round(CAST(SUM(CAST(js AS DECIMAL(28,9))) AS DOUBLE), 6)
                   AS jsd_shared_terms
        FROM contrib GROUP BY src_a, src_b
    """,
    tags=("text", "divergence", "jsd", "corpus_comparison"),
)
def corpus_jsd_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JENSEN-SHANNON divergence between sources' unigram distributions
    (shared-vocabulary term): which crawl sources speak the same
    language statistically — near-zero pairs are redundant acquisitions,
    high pairs genuinely diversify the mixture (the corpus-level
    companion to stats_psi_value_drift's within-stream drift).  Computed
    over terms present in BOTH sources (the smoothed full-vocabulary JSD
    adds the disjoint mass; shared-term JSD is the comparable core and
    stays log-safe without epsilons).

    Scale: per-source distributions are one (source, term) count; the
    pairwise join keys on term with source-pair fan-out bounded by
    sources²; contributions accumulate as rounded DECIMAL."""
    tf = (
        load(spark, sf_dir, "documents")
        .select("source", F.explode(_words()).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = tf.groupBy("source").agg(F.sum("c").alias("n"))
    p = tf.join(tot, "source").select(
        "source", "term", (F.col("c") / F.col("n").cast("double")).alias("p")
    )
    a, b = p.alias("a"), p.alias("b")
    pairs = a.join(
        b,
        (F.col("a.term") == F.col("b.term")) & (F.col("a.source") < F.col("b.source")),
    ).select(
        F.col("a.source").alias("src_a"),
        F.col("b.source").alias("src_b"),
        F.col("a.p").alias("pa"),
        F.col("b.p").alias("pb"),
    )
    m = (F.col("pa") + F.col("pb")) / 2
    js = F.round(
        0.5 * F.col("pa") * F.log(F.col("pa") / m)
        + 0.5 * F.col("pb") * F.log(F.col("pb") / m),
        9,
    )
    return (
        pairs.where((F.col("pa") > 0) & (F.col("pb") > 0))
        .groupBy("src_a", "src_b")
        .agg(
            F.round(
                F.sum(js.cast("decimal(28,9)")).cast("double"), 6
            ).alias("jsd_shared_terms")
        )
    )


@register(
    "corpus_heaps_law_fit",
    oracle="""
        WITH firstseen AS (
            SELECT t.term, MIN(doc_id) AS first_doc
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents) t
            GROUP BY t.term
        ),
        toks AS (
            SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
        ),
        grid AS (SELECT unnest([49, 99, 149, 199, 249, 299, 349, 399, 449, 499])
                     AS cut),
        pts AS (
            SELECT g.cut,
                   (SELECT SUM(n_tok) FROM toks WHERE doc_id <= g.cut) AS n_tokens,
                   (SELECT COUNT(*) FROM firstseen WHERE first_doc <= g.cut)
                       AS vocab
            FROM grid g
        ),
        ln_pts AS (
            -- empty checkpoints (a cut below every doc_id) carry no
            -- information for the log-log OLS: drop them instead of
            -- feeding ln(NULL)/ln(0) into the moments
            SELECT round(ln(CAST(n_tokens AS DOUBLE)), 9) AS x,
                   round(ln(CAST(vocab AS DOUBLE)), 9) AS y
            FROM pts
            WHERE COALESCE(n_tokens, 0) > 0 AND vocab > 0
        ),
        s AS (
            SELECT COUNT(*) AS n,
                   CAST(SUM(CAST(x AS DECIMAL(28,9))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(y AS DECIMAL(28,9))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(38,9))) AS DOUBLE)
                       AS sxy,
                   CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(38,9))) AS DOUBLE)
                       AS sxx
            FROM ln_pts
        )
        SELECT CAST(n AS BIGINT) AS n_checkpoints,
               round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS heaps_beta,
               round(exp((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                         / n), 4) AS heaps_k
        FROM s
    """,
    tags=("text", "heaps_law", "scaling", "vocabulary"),
)
def corpus_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS' LAW fit: vocabulary growth V(n) = K·n^β estimated by OLS in
    log-log space over 10 corpus-prefix checkpoints — the vocabulary
    SCALING LAW that predicts how big the token table gets at 100× the
    corpus (β ≈ 0.4-0.6 for natural text; the fixtures' closed synthetic
    vocabulary drives β → 0, which is exactly what the fit should say —
    compare vocab_coverage_curve's static view).  V at each checkpoint
    comes from FIRST-APPEARANCE aggregation (one min per term + a
    membership count), never ten recomputed distinct-counts over
    prefixes.

    Scale: one (term → min doc) aggregation and one token-count pass;
    each pass computes ALL 10 checkpoints as conditional sums in a
    single Aggregate (no grid join — a crossJoin-then-filter would
    materialize 10 copies of the token table before pruning); the OLS
    is the repo's DECIMAL-moment idiom over 10 points."""
    docs = load(spark, sf_dir, "documents")
    firstseen = (
        docs.select("doc_id", F.explode(_words()).alias("term"))
        .groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    toks = docs.select("doc_id", F.size(_words()).alias("n_tok"))
    cuts = [49, 99, 149, 199, 249, 299, 349, 399, 449, 499]
    nt_row = toks.agg(
        *[
            F.sum(F.when(F.col("doc_id") <= F.lit(c), F.col("n_tok"))).alias(
                f"nt_{c}"
            )
            for c in cuts
        ]
    )
    vb_row = firstseen.agg(
        *[
            F.count(F.when(F.col("first_doc") <= F.lit(c), F.lit(1))).alias(
                f"vb_{c}"
            )
            for c in cuts
        ]
    )
    pts = (
        nt_row.crossJoin(F.broadcast(vb_row))  # 1 row x 1 row
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.col(f"nt_{c}").alias("n_tokens"),
                            F.col(f"vb_{c}").alias("vocab"),
                        )
                        for c in cuts
                    ]
                )
            ).alias("p")
        )
        .select("p.*")
    )
    # Empty checkpoints (a cut below every doc_id) yield NULL n_tokens
    # from the conditional SUM (and vocab 0 from the conditional COUNT);
    # the pre-rewrite crossJoin+groupBy form dropped such cuts entirely,
    # so the single-pass form filters them the same way before the logs —
    # otherwise ln(NULL) points would silently shrink the OLS moments.
    ln_pts = pts.where(
        (F.coalesce(F.col("n_tokens"), F.lit(0)) > 0) & (F.col("vocab") > 0)
    ).select(
        F.round(F.log(F.col("n_tokens").cast("double")), 9).alias("x"),
        F.round(F.log(F.col("vocab").cast("double")), 9).alias("y"),
    )
    s = ln_pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(28,9)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(28,9)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("sxx"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_checkpoints"),
        F.round(beta, 6).alias("heaps_beta"),
        F.round(F.exp((F.col("sy") - beta * F.col("sx")) / F.col("n")), 4).alias(
            "heaps_k"
        ),
    )


@register(
    "dedup_transitivity_audit",
    oracle=f"""
        WITH px AS ({_NGRAM_ORACLE}),
        e AS (SELECT doc_a AS u, doc_b AS v FROM px),
        und AS (
            SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e
        ),
        wedges AS (
            SELECT x.a AS u, x.b AS mid, y.b AS w
            FROM und x JOIN und y ON x.b = y.a AND x.a < y.b
        ),
        closed AS (
            SELECT wg.u, wg.mid, wg.w
            FROM wedges wg JOIN e ON e.u = wg.u AND e.v = wg.w
        )
        SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_pairs,
               CAST((SELECT COUNT(*) FROM wedges) AS BIGINT) AS n_wedges,
               CAST((SELECT COUNT(*) FROM closed) AS BIGINT) AS n_closed,
               round((SELECT COUNT(*) FROM closed)
                     / CAST(greatest((SELECT COUNT(*) FROM wedges), 1) AS DOUBLE),
                     6) AS transitivity
    """,
    tags=("dedup", "transitivity", "audit", "graph"),
)
def dedup_transitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSITIVITY audit of the near-dup graph: of all 2-paths a~b~c in
    the Jaccard-pair graph, what fraction close into a~c — the number
    that says whether connected-components dedup is SAFE at this
    threshold (CC treats similarity as transitive; low closure means
    components chain dissimilar docs together and keep-one-per-component
    over-deletes — raise the threshold or switch to star-contraction
    with verification).  The graph family's clustering coefficient
    aimed at the dedup plane's own output.

    Scale: the pair graph is pair-set-sized; wedges and closures are the
    triangle-count shapes over it — tiny relative to the corpus
    pipelines that produced the pairs."""
    e = dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).localCheckpoint()
    und = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    x, y = und.alias("x"), und.alias("y")
    wedges = x.join(
        y, (F.col("x.b") == F.col("y.a")) & (F.col("x.a") < F.col("y.b"))
    ).select(F.col("x.a").alias("wu"), F.col("y.b").alias("ww"))
    closed = wedges.join(
        e, (F.col("wu") == F.col("u")) & (F.col("ww") == F.col("v"))
    )
    n_pairs = e.count()
    n_wedges = wedges.count()
    n_closed = closed.count()
    return (
        load(spark, sf_dir, "documents")
        .limit(1)
        .select(
            F.lit(n_pairs).cast("bigint").alias("n_pairs"),
            F.lit(n_wedges).cast("bigint").alias("n_wedges"),
            F.lit(n_closed).cast("bigint").alias("n_closed"),
            F.round(
                F.lit(n_closed) / F.lit(float(max(n_wedges, 1))), 6
            ).alias("transitivity"),
        )
    )


def _medoid_oracle() -> str:
    from discogs_etl_spark.registry import _REGISTRY

    cc = _REGISTRY["dedup_connected_components"].oracle
    mh = _REGISTRY["dedup_minhash_lsh"].oracle
    return f"""
        WITH cc AS ({cc}), px AS ({mh}),
        dist AS (
            SELECT doc_a AS doc_id, round(1 - jaccard, 6) AS d FROM px
            UNION ALL
            SELECT doc_b, round(1 - jaccard, 6) FROM px
        ),
        per AS (
            SELECT doc_id,
                   CAST(SUM(CAST(d AS DECIMAL(18,6))) AS DOUBLE) AS dist_sum
            FROM dist GROUP BY doc_id
        ),
        ranked AS (
            SELECT c.component_id, c.doc_id, p.dist_sum,
                   ROW_NUMBER() OVER (PARTITION BY c.component_id
                                      ORDER BY p.dist_sum, c.doc_id) AS rn
            FROM cc c JOIN per p ON p.doc_id = c.doc_id
        )
        SELECT component_id, doc_id AS medoid_doc,
               round(dist_sum, 6) AS dist_sum
        FROM ranked WHERE rn = 1
    """


@register(
    "dedup_medoid_selection",
    oracle=_medoid_oracle(),
    tags=("dedup", "medoid", "canonical"),
)
def dedup_medoid_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDOID canonical selection: within each near-dup component, keep
    the member with the smallest total Jaccard DISTANCE to its
    neighbors — the principled "most representative survivor"
    (dedup_keep_best's quality heuristic picks the richest doc;
    dedup_fuzzy_keep_one the best-scoring; the medoid picks the one
    closest to everything it replaces, which matters when the kept doc
    stands in for the deleted ones in citations or training mixtures
    — ties break to the smallest id).

    Scale: distances re-use the verified MinHash pair graph (both
    directions, pair-set-sized); per-doc sums and the per-component
    argmin window shuffle on component keys."""
    cc = dedup_connected_components(spark, sf_dir).localCheckpoint()
    # r19: the scored graph comes from the shared per-session
    # materialization (minhash_scored_graph) instead of re-running the
    # whole signature pipeline — this query already consumed that
    # checkpoint through dedup_connected_components, so the second
    # full MinHash build (~2.5 s at sf0.1) bought nothing.
    px = minhash_scored_graph(spark, sf_dir)
    dist = px.select(
        F.col("doc_a").alias("doc_id"), F.round(1 - F.col("jaccard"), 6).alias("d")
    ).unionAll(
        px.select(
            F.col("doc_b").alias("doc_id"),
            F.round(1 - F.col("jaccard"), 6).alias("d"),
        )
    )
    per = dist.groupBy("doc_id").agg(
        F.sum(F.col("d").cast("decimal(18,6)")).cast("double").alias("dist_sum")
    )
    w = Window.partitionBy("component_id").orderBy(F.asc("dist_sum"), F.asc("doc_id"))
    return (
        cc.join(per, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "component_id",
            F.col("doc_id").alias("medoid_doc"),
            F.round("dist_sum", 6).alias("dist_sum"),
        )
    )


def _bpe_compression_oracle() -> str:
    # Reuse the learning chain's CTEs; report corpus token totals instead
    # of the merge table.
    base = _bpe_oracle()
    with_body = base[: base.rindex("SELECT CAST(1")]
    return f"""{with_body}
        SELECT CAST(b.n0 AS BIGINT) AS tokens_before,
               CAST(a.n3 AS BIGINT) AS tokens_after,
               CAST(b.n0 - a.n3 AS BIGINT) AS merges_applied,
               round(a.n3 / CAST(b.n0 AS DOUBLE), 6) AS compression_ratio
        FROM (SELECT SUM(len(string_split(t, ' '))) AS n0 FROM t0) b,
             (SELECT SUM(len(string_split(t, ' '))) AS n3
              FROM t{_BPE_ITERS}) a
    """


@register(
    "bpe_compression_eval",
    oracle=_bpe_compression_oracle(),
    tags=("text", "bpe", "tokenizer", "eval"),
)
def bpe_compression_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER EVAL: corpus token count before vs after applying the 3
    learned BPE merges — the compression ratio is the number a tokenizer
    is actually judged by (fewer tokens per corpus = more text per
    context window = cheaper training).  Note merges_applied ≠ the
    training pair counts: greedy non-overlapping application merges
    "a a a" once, not twice — which is why this eval RE-COUNTS instead
    of subtracting the learn-phase statistics (the standard
    train/apply skew).

    Scale: the same 3 map-only rewrite passes as training, then two
    corpus token counts — all map-side with scalar outputs.  Empty
    corpus: one all-NULL row, matching the oracle's cross join of two
    1-row global aggregates (SUM over empty = NULL) — the same shape
    dedup_minhash_eval and retrieval_rank_agreement settled on in r11;
    a pair-free corpus stops merging early, same as the trainer.  Both
    branches carry the scalars on spark.range(1), not a documents
    limit(1): the counts are already driver-side, so a table scan as a
    row carrier is a wasted FileScan (and zero rows when empty)."""
    texts = load(spark, sf_dir, "documents").select(F.col("text").alias("t"))
    n0 = texts.agg(F.sum(F.size(F.split("t", " ")))).first()[0]
    if n0 is None:
        null_b = F.lit(None).cast("bigint")
        return (
            spark.range(1)
            .select(
                null_b.alias("tokens_before"),
                null_b.alias("tokens_after"),
                null_b.alias("merges_applied"),
                F.lit(None).cast("double").alias("compression_ratio"),
            )
        )
    for _ in range(_BPE_ITERS):
        toks = texts.select(F.split("t", " ").alias("w"))
        pair = toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), i -> "
                    "struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))"
                )
            ).alias("p")
        )
        cnt = pair.groupBy("p.a", "p.b").agg(F.count(F.lit(1)).alias("n"))
        top = cnt.orderBy(F.desc("n"), F.asc("a"), F.asc("b")).first()
        if top is None:
            break
        a, b = top["a"], top["b"]
        s2 = F.concat(
            F.lit(" "), F.replace("t", F.lit(" "), F.lit("  ")), F.lit(" ")
        )
        s3 = F.replace(s2, F.lit(f" {a}  {b} "), F.lit(f" {a}_{b} "))
        texts = texts.select(F.trim(F.replace(s3, F.lit("  "), F.lit(" "))).alias("t"))
    n3 = texts.agg(F.sum(F.size(F.split("t", " ")))).first()[0]
    return (
        spark.range(1)
        .select(
            F.lit(int(n0)).cast("bigint").alias("tokens_before"),
            F.lit(int(n3)).cast("bigint").alias("tokens_after"),
            F.lit(int(n0 - n3)).cast("bigint").alias("merges_applied"),
            F.round(F.lit(float(n3)) / F.lit(float(n0)), 6).alias(
                "compression_ratio"
            ),
        )
    )


@register(
    "embedding_ncm_probe_accuracy",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        cent AS (
            SELECT label AS cid, list(cval ORDER BY pos) AS cv FROM (
                SELECT label, gs.i AS pos,
                       round(CAST(SUM(CAST(round(v[gs.i + 1], 9) AS DECIMAL(38,9)))
                                  AS DOUBLE) / COUNT(*), 9) AS cval
                FROM e, LATERAL (SELECT unnest(range(len(v))) AS i) gs
                WHERE vec_id % 2 = 0
                GROUP BY label, gs.i
            ) GROUP BY label
        ),
        assigned AS (
            SELECT vec_id, label, cid FROM (
                SELECT t.vec_id, t.label, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY t.vec_id
                                          ORDER BY {_KMEANS_DIST_SQL}, c.cid) AS rn
                FROM (SELECT * FROM e WHERE vec_id % 2 = 1) t
                CROSS JOIN cent c
            ) WHERE rn = 1
        )
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(COUNT(*) FILTER (cid = label) AS BIGINT) AS n_correct,
               round(COUNT(*) FILTER (cid = label) / CAST(COUNT(*) AS DOUBLE), 6)
                   AS accuracy
        FROM assigned GROUP BY label
    """,
    tags=("embedding", "probe", "eval", "ncm"),
)
def embedding_ncm_probe_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-CLASS-MEAN probe: class centroids fitted on the even
    vec_ids, odd vec_ids classified to the nearest centroid, accuracy
    per label — the cheapest linear probe of representation quality
    (if class means can't separate held-out points, no linear head
    will; NCM accuracy tracks linear-probe accuracy closely at zero
    training cost).  Completes the embedding-eval triad: dispersion
    (within-class), triplet (relative), NCM (held-out decision).

    Scale: centroids are labels × dims (broadcast); assignment is the
    k-means map-only argmin under the same DECIMAL distance discipline;
    the deterministic parity split replaces rand() sampling."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    train = e.where(F.col("vec_id") % 2 == 0)
    cent = (
        train.select("label", F.posexplode("v").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            F.round(
                F.sum(F.round("val", 9).cast("decimal(38,9)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("cval")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pc"))
        .select(
            F.col("label").alias("cid"),
            F.expr("transform(pc, x -> x.cval)").alias("cv"),
        )
    )
    test = e.where(F.col("vec_id") % 2 == 1)
    dist = F.expr(
        "CAST(round(aggregate(zip_with(v, cv, (x, y) -> (x - y) * (x - y)),"
        " CAST(0.0 AS DOUBLE), (a, b) -> a + b), 9) AS DECIMAL(38,9))"
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("cid"))
    assigned = (
        test.crossJoin(F.broadcast(cent))
        .withColumn("dist", dist)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return assigned.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.count(F.when(F.col("cid") == F.col("label"), 1))
        .cast("bigint")
        .alias("n_correct"),
        F.round(
            F.count(F.when(F.col("cid") == F.col("label"), 1))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("accuracy"),
    )


def _dedup_impact_oracle() -> str:
    from discogs_etl_spark.registry import _REGISTRY

    cc = _REGISTRY["dedup_connected_components"].oracle
    fz = _REGISTRY["dedup_fuzzy_keep_one"].oracle
    return f"""
        WITH cc AS ({cc}), fz AS ({fz}),
        removed AS (
            SELECT c.doc_id FROM cc c
            WHERE c.doc_id NOT IN (SELECT keep_doc_id FROM fz)
        ),
        tot AS (
            SELECT COUNT(*) AS n_docs,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
            FROM documents
        ),
        rem AS (
            SELECT COUNT(*) AS r_docs,
                   CAST(COALESCE(SUM(len(string_split(d.text, ' '))), 0) AS BIGINT)
                       AS r_tokens
            FROM removed r JOIN documents d ON d.doc_id = r.doc_id
        )
        SELECT CAST(tot.n_docs AS BIGINT) AS docs_before,
               CAST(tot.n_docs - rem.r_docs AS BIGINT) AS docs_after,
               tot.n_tokens AS tokens_before,
               CAST(tot.n_tokens - rem.r_tokens AS BIGINT) AS tokens_after,
               round(rem.r_tokens / CAST(tot.n_tokens AS DOUBLE), 6)
                   AS token_reduction
        FROM tot CROSS JOIN rem
    """


@register(
    "dedup_impact_report",
    oracle=_dedup_impact_oracle(),
    tags=("dedup", "impact", "report"),
)
def dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP IMPACT summary: corpus document and token counts before and
    after the full fuzzy keep-one pipeline (pairs → components → best
    survivor) — the one-row readout that justifies the dedup compute
    spend ("we removed X% of tokens") and, tracked across ingests, the
    drift signal that a source started syndicating.  Removed docs =
    component members minus survivors; untouched docs pass through.

    Scale: reuses the session-cached pair graph and component labels;
    the report adds one anti-join (members vs survivors) and two
    aggregates over the already-reduced sets."""
    cc = dedup_connected_components(spark, sf_dir).select("doc_id")
    fz = dedup_fuzzy_keep_one(spark, sf_dir).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    removed = cc.join(fz, "doc_id", "left_anti")
    docs = load(spark, sf_dir, "documents")
    tot = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
    )
    rem = removed.join(docs, "doc_id").agg(
        F.count(F.lit(1)).alias("r_docs"),
        F.coalesce(F.sum(F.size(F.split("text", " "))), F.lit(0))
        .cast("bigint")
        .alias("r_tokens"),
    )
    return tot.crossJoin(F.broadcast(rem)).select(
        F.col("n_docs").cast("bigint").alias("docs_before"),
        (F.col("n_docs") - F.col("r_docs")).cast("bigint").alias("docs_after"),
        F.col("n_tokens").alias("tokens_before"),
        (F.col("n_tokens") - F.col("r_tokens")).cast("bigint").alias("tokens_after"),
        F.round(F.col("r_tokens") / F.col("n_tokens").cast("double"), 6).alias(
            "token_reduction"
        ),
    )


def _effective_tokens_oracle() -> str:
    from discogs_etl_spark.registry import _REGISTRY

    cc = _REGISTRY["dedup_connected_components"].oracle
    return f"""
        WITH cc AS ({cc}),
        sized AS (
            SELECT component_id, COUNT(*) AS csize FROM cc GROUP BY component_id
        ),
        docs AS (
            SELECT d.doc_id,
                   len(string_split(d.text, ' ')) AS n_tok,
                   COALESCE(s.csize, 1) AS csize
            FROM documents d
            LEFT JOIN cc ON cc.doc_id = d.doc_id
            LEFT JOIN sized s ON s.component_id = cc.component_id
        )
        SELECT CAST(SUM(n_tok) AS BIGINT) AS raw_tokens,
               round(CAST(SUM(CAST(round(n_tok / CAST(csize AS DOUBLE), 6)
                                   AS DECIMAL(28,6))) AS DOUBLE), 2)
                   AS effective_tokens,
               round(1 - CAST(SUM(CAST(round(n_tok / CAST(csize AS DOUBLE), 6)
                                       AS DECIMAL(28,6))) AS DOUBLE)
                       / SUM(n_tok), 6) AS duplication_discount
        FROM docs
    """


@register(
    "corpus_effective_tokens",
    oracle=_effective_tokens_oracle(),
    tags=("scaling", "dedup", "effective_data"),
)
def corpus_effective_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EFFECTIVE TOKEN COUNT: each document's tokens down-weighted by its
    near-dup cluster size (a doc in a 4-way cluster contributes 1/4
    weight), so the corpus's unique-information budget is one number —
    the data-constrained-scaling accounting (Muennighoff et al. 2023:
    repeated data is worth less than fresh data per token) that raw
    token counts overstate exactly when dedup matters most.  Singleton
    docs keep full weight.

    Scale: component sizes from the session-cached CC labels; one
    doc-keyed join and a DECIMAL-weighted sum — the accounting costs
    one pass over the corpus plus the dedup pipeline it already ran."""
    cc = dedup_connected_components(spark, sf_dir).localCheckpoint()
    sized = cc.groupBy("component_id").agg(F.count(F.lit(1)).alias("csize"))
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("n_tok"))
        .join(cc, "doc_id", "left")
        .join(sized, "component_id", "left")
        .select("n_tok", F.coalesce("csize", F.lit(1)).alias("csize"))
    )
    eff = F.sum(
        F.round(F.col("n_tok") / F.col("csize").cast("double"), 6).cast(
            "decimal(28,6)"
        )
    ).cast("double")
    return docs.agg(
        F.sum("n_tok").cast("bigint").alias("raw_tokens"),
        F.round(eff, 2).alias("effective_tokens"),
        F.round(1 - eff / F.sum("n_tok"), 6).alias("duplication_discount"),
    )


@register(
    "pack_efficiency_curve",
    oracle="""
        WITH d AS (
            SELECT len(string_split(text, ' ')) AS n_tok FROM documents
        ),
        sizes AS (SELECT unnest([64, 128, 256]) AS ctx)
        SELECT CAST(ctx AS BIGINT) AS context_size,
               CAST(SUM((n_tok + ctx - 1) // ctx) AS BIGINT) AS n_chunks,
               CAST(SUM(n_tok) AS BIGINT) AS used_tokens,
               CAST(SUM(((n_tok + ctx - 1) // ctx) * ctx - n_tok) AS BIGINT)
                   AS padding_tokens,
               round(SUM(((n_tok + ctx - 1) // ctx) * ctx - n_tok)
                     / CAST(SUM(((n_tok + ctx - 1) // ctx) * ctx) AS DOUBLE), 6)
                   AS waste_fraction
        FROM d CROSS JOIN sizes
        GROUP BY ctx
    """,
    tags=("packing", "context_size", "efficiency"),
)
def pack_efficiency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTEXT-SIZE trade study: padding waste when each document chunks
    into fixed windows of 64/128/256 tokens — the utilization curve that
    picks the training sequence length (small contexts waste little
    padding but fragment documents; large ones pad heavily on short
    docs; sequence PACKING — pack_sequences_by_budget — recovers most
    of the waste, and this table is its do-nothing baseline).

    Scale: pure map-side ceiling arithmetic over doc lengths with a
    3-row size grid fan-out; one grouped sum per size."""
    d = load(spark, sf_dir, "documents").select(
        F.size(F.split("text", " ")).alias("n_tok")
    )
    sizes = load(spark, sf_dir, "documents").sparkSession.createDataFrame(
        [(64,), (128,), (256,)], "ctx int"
    )
    x = d.crossJoin(F.broadcast(sizes))
    chunks = F.ceil(F.col("n_tok") / F.col("ctx"))
    return x.groupBy(F.col("ctx").cast("bigint").alias("context_size")).agg(
        F.sum(chunks).cast("bigint").alias("n_chunks"),
        F.sum("n_tok").cast("bigint").alias("used_tokens"),
        F.sum(chunks * F.col("ctx") - F.col("n_tok"))
        .cast("bigint")
        .alias("padding_tokens"),
        F.round(
            F.sum(chunks * F.col("ctx") - F.col("n_tok"))
            / F.sum(chunks * F.col("ctx")).cast("double"),
            6,
        ).alias("waste_fraction"),
    )


@register(
    "lm_domain_surprisal_ratio",
    oracle="""
        WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w
                   FROM documents),
        inst AS (
            SELECT doc_id, source, w[i] AS w1, w[i] || ' ' || w[i + 1] AS bigram
            FROM w, unnest(range(1, len(w))) AS t(i)
            WHERE len(w) >= 2
        ),
        v AS (
            SELECT COUNT(DISTINCT tok) AS v
            FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        ),
        bg AS (SELECT w1, bigram, COUNT(*) AS c2 FROM inst GROUP BY w1, bigram),
        cx AS (SELECT w1, SUM(c2) AS c1 FROM bg GROUP BY w1),
        bgs AS (SELECT source, w1, bigram, COUNT(*) AS c2s
                FROM inst GROUP BY source, w1, bigram),
        cxs AS (SELECT source, w1, SUM(c2s) AS c1s FROM bgs GROUP BY source, w1),
        lm AS (
            SELECT bg.bigram,
                   round(-ln((bg.c2 + 1) / CAST(cx.c1 + v.v AS DOUBLE)), 6) AS sg
            FROM bg JOIN cx USING (w1) CROSS JOIN v
        ),
        lms AS (
            SELECT bgs.source, bgs.bigram,
                   round(-ln((bgs.c2s + 1) / CAST(cxs.c1s + v.v AS DOUBLE)), 6)
                       AS ss
            FROM bgs JOIN cxs ON cxs.source = bgs.source AND cxs.w1 = bgs.w1
            CROSS JOIN v
        ),
        per AS (
            SELECT doc_id, source, bigram, COUNT(*) AS k
            FROM inst GROUP BY doc_id, source, bigram
        )
        SELECT doc_id, n_bigrams, domain_ratio FROM (
            SELECT per.doc_id,
                   CAST(SUM(k) AS BIGINT) AS n_bigrams,
                   round((CAST(SUM(CAST(round(k * lms.ss, 6) AS DECIMAL(28,6)))
                               AS DOUBLE)
                          - CAST(SUM(CAST(round(k * lm.sg, 6) AS DECIMAL(28,6)))
                                 AS DOUBLE)) / SUM(k), 6) AS domain_ratio
            FROM per
            JOIN lm ON lm.bigram = per.bigram
            JOIN lms ON lms.source = per.source AND lms.bigram = per.bigram
            GROUP BY per.doc_id
        )
        ORDER BY domain_ratio DESC, doc_id
        LIMIT 20
    """,
    tags=("text", "lm", "domain_filter", "surprisal"),
)
def lm_domain_surprisal_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-LM DOMAIN FILTER (the CCNet ratio): each document's mean
    surprisal under ITS OWN SOURCE's bigram LM minus under the GLOBAL
    LM — positive means the doc reads more unusual to its own domain
    than to the corpus at large, i.e. it's mis-sourced, spam inside a
    good domain, or genuinely off-topic (the top-20 here).  One LM
    (lm_bigram_surprisal) scores absolute quality; the RATIO scores
    domain FIT — the two filters catch different garbage.  Both LMs
    share the global-vocabulary add-one smoothing so the ratio isn't
    driven by smoothing-mass differences.

    Scale: the per-source LM tables add one (source, bigram) aggregation
    over the same instance pass; scoring joins key on bigram and
    (source, bigram); all sums are rounded-DECIMAL."""
    docs = load(spark, sf_dir, "documents")
    inst = (
        docs.selectExpr("doc_id", "source", "split(text, ' ') AS w")
        .where(F.size("w") >= 2)
        .selectExpr(
            "doc_id",
            "source",
            "explode(transform(sequence(1, size(w) - 1),"
            " i -> struct(element_at(w, i) AS w1,"
            " concat(element_at(w, i), ' ', element_at(w, i + 1)) AS bigram))) AS s",
        )
        .select("doc_id", "source", "s.w1", "s.bigram")
    )
    v = docs.select(F.explode(F.split("text", " ")).alias("tok")).distinct().count()
    bg = inst.groupBy("w1", "bigram").agg(F.count(F.lit(1)).alias("c2"))
    cx = bg.groupBy("w1").agg(F.sum("c2").alias("c1"))
    lm = bg.join(cx, "w1").select(
        "bigram",
        F.round(
            -F.log((F.col("c2") + 1) / (F.col("c1") + F.lit(int(v))).cast("double")), 6
        ).alias("sg"),
    )
    bgs = inst.groupBy("source", "w1", "bigram").agg(F.count(F.lit(1)).alias("c2s"))
    cxs = bgs.groupBy("source", "w1").agg(F.sum("c2s").alias("c1s"))
    lms = bgs.join(cxs, ["source", "w1"]).select(
        "source",
        "bigram",
        F.round(
            -F.log((F.col("c2s") + 1) / (F.col("c1s") + F.lit(int(v))).cast("double")),
            6,
        ).alias("ss"),
    )
    per = inst.groupBy("doc_id", "source", "bigram").agg(
        F.count(F.lit(1)).alias("k")
    )
    joined = per.join(lm, "bigram").join(lms, ["source", "bigram"])
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("k").cast("bigint").alias("n_bigrams"),
            F.round(
                (
                    F.sum(F.round(F.col("k") * F.col("ss"), 6).cast("decimal(28,6)")).cast("double")
                    - F.sum(F.round(F.col("k") * F.col("sg"), 6).cast("decimal(28,6)")).cast("double")
                )
                / F.sum("k"),
                6,
            ).alias("domain_ratio"),
        )
        .orderBy(F.desc("domain_ratio"), F.asc("doc_id"))
        .limit(20)
    )


@register(
    "dedup_threshold_sweep",
    oracle=f"""
        WITH sh AS (
            SELECT doc_id, unnest({_SQL_TRIGRAMS}) AS sh FROM documents
        ),
        m AS (SELECT doc_id, COUNT(*) AS m FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        jp AS (
            SELECT CAST(n_common AS DOUBLE) / (ma.m + mb.m - n_common) AS j
            FROM inter
            JOIN m ma ON doc_a = ma.doc_id
            JOIN m mb ON doc_b = mb.doc_id
        ),
        marks AS (SELECT CAST(unnest([0.2, 0.3, 0.5, 0.7]) AS DOUBLE) AS thr)
        SELECT thr AS threshold,
               CAST(COUNT(CASE WHEN j >= thr THEN 1 END) AS BIGINT) AS n_pairs
        FROM marks CROSS JOIN jp
        GROUP BY thr
    """,
    tags=("dedup", "threshold", "tuning"),
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THRESHOLD SENSITIVITY sweep: near-dup pair counts at Jaccard cuts
    0.2/0.3/0.5/0.7 from ONE inverted-index pass — the tuning curve that
    picks the production threshold (a cliff between marks means the
    corpus separates cleanly; a smooth slope means every threshold is a
    judgment call and dedup_transitivity_audit should gate the choice).
    Computing each threshold separately would re-run the self-join four
    times; scoring once and bucketing is the whole trick.

    Scale: the pair scoring is the standard shingle posting-pair
    pipeline (r19 form — see _posting_pair_counts); the 4-mark fan-out
    multiplies only the tiny scored-pair set."""
    docs = _with_shingles(load(spark, sf_dir, "documents"), "doc_id")
    sh = docs.select("doc_id", F.explode("shingles").alias("sh"))
    # |shingle set| is the ARRAY SIZE — shingles is array_distinct'ed, so
    # size(shingles) equals the old explode+count per doc exactly (docs
    # with zero shingles gain an m row, but m is only ever inner-joined
    # to pair docs, which by construction have >= 1 shingle).  Removes a
    # full shingle re-explode + aggregation exchange per query (r18,
    # guide §2.4); the doc-sized m side broadcasts as before.
    m = docs.select("doc_id", F.size("shingles").cast("bigint").alias("m"))
    inter = _posting_pair_counts(sh)
    jp = (
        inter.join(m.select(F.col("doc_id").alias("doc_a"), F.col("m").alias("ma")), "doc_a")
        .join(m.select(F.col("doc_id").alias("doc_b"), F.col("m").alias("mb")), "doc_b")
        .select(
            (
                F.col("n_common").cast("double")
                / (F.col("ma") + F.col("mb") - F.col("n_common"))
            ).alias("j")
        )
    )
    marks = load(spark, sf_dir, "documents").sparkSession.createDataFrame(
        [(0.2,), (0.3,), (0.5,), (0.7,)], "thr double"
    )
    return (
        jp.crossJoin(F.broadcast(marks))
        .groupBy(F.col("thr").alias("threshold"))
        .agg(
            F.count(F.when(F.col("j") >= F.col("thr"), 1))
            .cast("bigint")
            .alias("n_pairs")
        )
    )


@register(
    "dedup_pair_evidence",
    oracle=f"""
        WITH px AS ({_NGRAM_ORACLE}),
        top5 AS (
            SELECT doc_a, doc_b, jaccard FROM px
            ORDER BY jaccard DESC, doc_a, doc_b LIMIT 5
        ),
        sha AS (
            SELECT t.doc_a, t.doc_b, t.jaccard, unnest({_SQL_TRIGRAMS}) AS sh
            FROM top5 t JOIN documents ON doc_id = t.doc_a
        ),
        shb AS (
            SELECT t.doc_a, t.doc_b, unnest({_SQL_TRIGRAMS}) AS sh
            FROM top5 t JOIN documents ON doc_id = t.doc_b
        ),
        shared AS (
            SELECT a.doc_a, a.doc_b, a.jaccard, a.sh
            FROM sha a JOIN shb b
              ON a.doc_a = b.doc_a AND a.doc_b = b.doc_b AND a.sh = b.sh
        )
        SELECT doc_a, doc_b, jaccard,
               CAST(COUNT(*) AS BIGINT) AS n_shared_shingles,
               array_to_string((list_sort(list(sh)))[1:3], ' | ')
                   AS sample_evidence
        FROM shared
        GROUP BY doc_a, doc_b, jaccard
    """,
    tags=("dedup", "explainability", "evidence"),
)
def dedup_pair_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP EVIDENCE: for the 5 highest-Jaccard pairs, the shared
    shingle count and the first three shared 3-grams verbatim — the
    explainability layer a deletion pipeline owes its appeals process
    (a similarity SCORE justifies nothing; the overlapping text does).
    Every dedup decision in this engine can be traced to this query's
    shape at pair granularity.

    Scale: evidence is computed only for the pairs under review (top-5
    here; the flagged set in production) — two doc-keyed joins to
    re-shingle just those docs, never the corpus."""
    px = dedup_ngram_jaccard(spark, sf_dir)
    top5 = px.orderBy(F.desc("jaccard"), F.asc("doc_a"), F.asc("doc_b")).limit(5)
    docs = _with_shingles(load(spark, sf_dir, "documents"), "doc_id")
    sha = (
        top5.join(docs, top5["doc_a"] == docs["doc_id"])
        .select("doc_a", "doc_b", "jaccard", F.explode("shingles").alias("sh"))
    )
    shb = (
        top5.join(docs, top5["doc_b"] == docs["doc_id"])
        .select(
            F.col("doc_a").alias("da"),
            F.col("doc_b").alias("db"),
            F.explode("shingles").alias("shb"),
        )
    )
    shared = sha.join(
        shb,
        (F.col("doc_a") == F.col("da"))
        & (F.col("doc_b") == F.col("db"))
        & (F.col("sh") == F.col("shb")),
    )
    return shared.groupBy("doc_a", "doc_b", "jaccard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared_shingles"),
        F.array_join(
            F.slice(F.array_sort(F.collect_list("sh")), 1, 3), " | "
        ).alias("sample_evidence"),
    )


@register(
    "chunking_content_defined",
    oracle="""
        WITH pos AS (
            SELECT doc_id, text, t.i AS i,
                   CASE WHEN ('0x' || substr(md5(substr(text, t.i, 8)), 1, 8))
                                 ::BIGINT % 64 = 0
                        THEN 1 ELSE 0 END AS is_cut
            FROM documents, unnest(range(1, len(text) - 6)) AS t(i)
        ),
        cuts AS (
            SELECT doc_id, text, i FROM pos WHERE is_cut = 1
            UNION ALL
            SELECT DISTINCT doc_id, text, 1 FROM pos
        ),
        bounds AS (
            SELECT doc_id, text, i AS cut_start,
                   LEAD(i) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
            FROM (SELECT DISTINCT doc_id, text, i FROM cuts)
        ),
        chunks AS (
            SELECT doc_id,
                   md5(substr(text, cut_start,
                              COALESCE(nxt, len(text) + 1) - cut_start))
                       AS chunk_hash,
                   COALESCE(nxt, len(text) + 1) - cut_start AS chunk_len
            FROM bounds
            WHERE COALESCE(nxt, len(text) + 1) - cut_start >= 16
        )
        SELECT chunk_hash,
               CAST(ANY_VALUE(chunk_len) AS BIGINT) AS chunk_len,
               COUNT(*) AS n_occurrences,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM chunks
        GROUP BY chunk_hash
        HAVING COUNT(DISTINCT doc_id) >= 2
        ORDER BY n_occurrences DESC, chunk_hash
        LIMIT 20
    """,
    tags=("chunking", "cdc", "dedup", "storage"),
)
def chunking_content_defined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED CHUNKING (the rsync/FastCDC idea): chunk
    boundaries fall where a rolling 8-char window's hash ≡ 0 (mod 64),
    so boundaries are SHIFT-INVARIANT — insert a word at the front and
    every downstream chunk still aligns, which is why storage dedup and
    incremental sync use content cuts instead of fixed offsets
    (text_chunk_sliding's fixed windows all shift and nothing matches).
    Emitted: cross-document duplicated chunks (≥ 16 chars, in ≥ 2
    docs), the storage-dedup view of the corpus next to
    dedup_substring_windows' fixed-width exact view.

    Scale: cut detection is the map-side window explode (~len rows per
    doc, the substring-window budget); chunk assembly is one
    doc-partitioned LEAD; chunk identity ships as md5, so the
    cross-corpus shuffle carries 32-byte keys, not text."""
    # Chunk assembly is ROW-LOCAL since r18 (guide §2.3/§2.4): the cut
    # list for a document is already computed inside one row, so the
    # next-cut lookup is an index into the same array — the old shape
    # exploded the cuts, unioned the i=1 row, and ran distinct + a
    # per-doc LEAD window, shuffling the FULL TEXT once per cut row
    # through both exchanges ("shuffle keys and metadata instead of
    # payloads").  The cut set is identical ({1} ∪ {content cuts > 1} —
    # the old distinct existed only to drop a computed i=1 colliding
    # with the union'd literal; filtering x > 1 at the source removes
    # the same row earlier), the next-cut/final-bound arithmetic is the
    # LEAD's coalesce verbatim, and the ≥16 filter and md5 are
    # untouched, so the emitted (chunk_hash, chunk_len) multiset is
    # unchanged.  Only 32-byte hashes + lengths reach the one remaining
    # exchange.  The cuts array is staged behind a projection so the
    # transform lambda doesn't recompute it per element (the _SHINGLES
    # rule).
    staged = load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "text",
        "concat(array(1), filter(transform(sequence(1, length(text) - 7), i -> "
        "IF(CAST(conv(substring(md5(substring(text, i, 8)), 1, 8), 16, 10)"
        " AS BIGINT) % 64 = 0, i, -1)), x -> x > 1)) AS cuts",
    )
    chunks = (
        staged.selectExpr(
            "doc_id",
            "text",
            "explode(filter(transform(cuts, (c, ix) -> struct(c AS i, "
            "coalesce(get(cuts, ix + 1), length(text) + 1) - c AS chunk_len)), "
            "s -> s.chunk_len >= 16)) AS s",
        )
        .selectExpr(
            "doc_id",
            "md5(substring(text, s.i, s.chunk_len)) AS chunk_hash",
            "s.chunk_len AS chunk_len",
        )
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.first("chunk_len").cast("bigint").alias("chunk_len"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_occurrences"), F.asc("chunk_hash"))
        .limit(20)
    )


@register(
    "similarity_int8_recall",
    oracle=f"""
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
                   list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                           x -> abs(x))) AS amax
            FROM embeddings
        ),
        q AS (
            SELECT vec_id, emb,
                   CASE WHEN amax = 0 THEN emb
                        ELSE list_transform(emb,
                             x -> CAST(floor(x / (amax / 127.0) + 0.5) AS DOUBLE)
                                  * (amax / 127.0))
                   END AS remb
            FROM base
        ),
        qq AS (SELECT vec_id AS q_vec_id, emb AS q_emb, remb AS q_remb
               FROM q WHERE vec_id < 20),
        exact AS (
            SELECT q_vec_id, vec_id FROM (
                SELECT qq.q_vec_id, v.vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY qq.q_vec_id
                           ORDER BY {_SQL_COS.format(a='qq.q_emb', b='v.emb')} DESC,
                                    v.vec_id) AS rank
                FROM qq JOIN q v ON v.vec_id <> qq.q_vec_id
            ) WHERE rank <= 3
        ),
        approx AS (
            SELECT q_vec_id, vec_id FROM (
                SELECT qq.q_vec_id, v.vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY qq.q_vec_id
                           ORDER BY {_SQL_COS.format(a='qq.q_remb', b='v.remb')} DESC,
                                    v.vec_id) AS rank
                FROM qq JOIN q v ON v.vec_id <> qq.q_vec_id
            ) WHERE rank <= 3
        )
        SELECT x.q_vec_id,
               COUNT(t.vec_id) AS n_hit,
               COUNT(*) AS k,
               round(COUNT(t.vec_id) / CAST(COUNT(*) AS DOUBLE), 6)
                   AS recall_at_k
        FROM exact x LEFT JOIN approx t
          ON x.q_vec_id = t.q_vec_id AND x.vec_id = t.vec_id
        GROUP BY x.q_vec_id
    """,
    tags=("similarity", "quantization", "recall", "eval"),
)
def similarity_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8-QUANTIZED search recall: top-3 neighbors computed on
    dequantized (int8-lattice) vectors vs full-precision exact — the
    third approximation axis measured by the recall harness (LSH
    approximates the SEARCH, Matryoshka the DIMENSIONS, int8 the
    PRECISION), using exactly embedding_quantize_int8's symmetric
    scale/round-half-up lattice so the eval certifies the shipped
    quantizer, not a lookalike.

    Scale: quantize-dequantize is map-side; both top-k passes are the
    broadcast-query scans of the recall family."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).withColumn(
        "amax", F.array_max(F.transform("emb", lambda x: F.abs(x)))
    )
    scale = F.col("amax") / 127.0
    q = e.withColumn(
        "remb",
        F.when(F.col("amax") == 0, F.col("emb")).otherwise(
            F.expr(
                "transform(emb, x -> CAST(floor(x / (amax / 127.0) + 0.5) AS DOUBLE)"
                " * (amax / 127.0))"
            )
        ),
    ).select("vec_id", "emb", "remb")
    qq = q.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_vec_id"),
        F.col("emb").alias("q_emb"),
        F.col("remb").alias("q_remb"),
    )
    def topk(qcol, vcol):
        cos = _cosine(F.col(qcol), F.col(vcol))
        w = Window.partitionBy("q_vec_id").orderBy(F.desc("c"), F.asc("vec_id"))
        return (
            q.join(F.broadcast(qq), F.col("vec_id") != F.col("q_vec_id"))
            .select("q_vec_id", "vec_id", cos.alias("c"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
            .select("q_vec_id", "vec_id")
        )
    exact = topk("q_emb", "emb")
    approx = topk("q_remb", "remb").withColumn("hit", F.lit(1))
    return (
        exact.join(approx, ["q_vec_id", "vec_id"], "left")
        .groupBy("q_vec_id")
        .agg(
            F.count("hit").alias("n_hit"),
            F.count(F.lit(1)).alias("k"),
            F.round(F.count("hit").cast("double") / F.count(F.lit(1)), 6).alias(
                "recall_at_k"
            ),
        )
    )


def _impact_by_source_oracle() -> str:
    from discogs_etl_spark.registry import _REGISTRY

    cc = _REGISTRY["dedup_connected_components"].oracle
    return f"""
        WITH cc AS ({cc}),
        sized AS (
            SELECT component_id, COUNT(*) AS csize FROM cc GROUP BY component_id
        ),
        docs AS (
            SELECT d.source,
                   len(string_split(d.text, ' ')) AS n_tok,
                   COALESCE(s.csize, 1) AS csize
            FROM documents d
            LEFT JOIN cc ON cc.doc_id = d.doc_id
            LEFT JOIN sized s ON s.component_id = cc.component_id
        )
        SELECT source,
               CAST(SUM(n_tok) AS BIGINT) AS raw_tokens,
               round(CAST(SUM(CAST(round(n_tok / CAST(csize AS DOUBLE), 6)
                                   AS DECIMAL(28,6))) AS DOUBLE), 2)
                   AS effective_tokens,
               round(1 - CAST(SUM(CAST(round(n_tok / CAST(csize AS DOUBLE), 6)
                                       AS DECIMAL(28,6))) AS DOUBLE)
                       / SUM(n_tok), 6) AS duplication_discount
        FROM docs GROUP BY source
        ORDER BY duplication_discount DESC, source
        LIMIT 20
    """


@register(
    "dedup_impact_by_source",
    oracle=_impact_by_source_oracle(),
    tags=("dedup", "impact", "source", "crawl_budget"),
)
def dedup_impact_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP IMPACT BY SOURCE: the duplication discount of
    corpus_effective_tokens decomposed per source, worst first — the
    ACTIONABLE version: a source whose tokens are heavily discounted is
    paying crawl, storage, and training cost for data the corpus
    already has (cut it or dedup it at ingest), which the corpus-level
    single number can't tell you.  Pairs with dedup_provenance_matrix:
    that names WHO duplicates WHOM, this prices WHAT IT COSTS.

    Scale: identical machinery to the corpus-level report plus a
    source key on the final rollup — source-cardinality output."""
    cc = dedup_connected_components(spark, sf_dir).localCheckpoint()
    sized = cc.groupBy("component_id").agg(F.count(F.lit(1)).alias("csize"))
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "source", F.size(F.split("text", " ")).alias("n_tok"))
        .join(cc, "doc_id", "left")
        .join(sized, "component_id", "left")
        .select("source", "n_tok", F.coalesce("csize", F.lit(1)).alias("csize"))
    )
    eff = F.sum(
        F.round(F.col("n_tok") / F.col("csize").cast("double"), 6).cast(
            "decimal(28,6)"
        )
    ).cast("double")
    return (
        docs.groupBy("source")
        .agg(
            F.sum("n_tok").cast("bigint").alias("raw_tokens"),
            F.round(eff, 2).alias("effective_tokens"),
            F.round(1 - eff / F.sum("n_tok"), 6).alias("duplication_discount"),
        )
        .orderBy(F.desc("duplication_discount"), F.asc("source"))
        .limit(20)
    )


@register(
    "text_search_query_likelihood",
    oracle="""
        WITH tok AS (
            SELECT doc_id, w, COUNT(*) AS tf FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
            ) WHERE len(w) > 3
            GROUP BY doc_id, w
        ),
        dl AS (SELECT doc_id, SUM(tf) AS dl FROM tok GROUP BY doc_id),
        cf AS (SELECT w, SUM(tf) AS cf FROM tok GROUP BY w),
        stats AS (SELECT SUM(dl) AS c_len FROM dl),
        q AS (SELECT doc_id AS q_id, w FROM tok WHERE doc_id % 100 = 0),
        scored AS (
            SELECT q.q_id, t.doc_id,
                   SUM(CAST(round(
                       ln((t.tf + 100.0 * f.cf / s.c_len)
                          / (d.dl + 100.0)), 6) AS DECIMAL(28,6))) AS sc
            FROM q
            JOIN tok t ON t.w = q.w
            JOIN cf f ON f.w = q.w
            JOIN dl d ON d.doc_id = t.doc_id
            CROSS JOIN stats s
            WHERE t.doc_id <> q.q_id
            GROUP BY q.q_id, t.doc_id
        )
        SELECT q_id, doc_id, CAST(sc AS DOUBLE) AS score FROM (
            SELECT q_id, doc_id, sc,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY sc DESC, doc_id) AS rn
            FROM scored
        ) WHERE rn <= 3
    """,
    tags=("search", "query_likelihood", "lm", "ranking"),
)
def text_search_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUERY-LIKELIHOOD retrieval with Dirichlet smoothing (μ = 100,
    Zhai-Lafferty): documents ranked by Σ ln((tf + μ·p(w|C))/(dl + μ))
    over MATCHED query terms — the language-modeling ranker completing
    the lexical triad (histogram intersection, BM25, QL; the three
    families every IR course contrasts).  Missing-term mass is omitted
    (the matched-terms form; the full QL adds a per-doc closed-form
    correction — rank order shifts only when dl varies wildly, and the
    same oracle discipline would cover it).  Same query protocol as
    BM25: every 100th doc's terms, top-3, self-match excluded.

    Scale: identical join graph to BM25 over the SAME session-cached
    postings (cf replaces df; the collection length is the 1-row
    broadcast) — a third ranker for one more aggregation, which is the
    economics persisted inverted indexes exist for."""
    tok = _postings(spark, sf_dir)
    dl = tok.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    cf = tok.groupBy("w").agg(F.sum("tf").alias("cf"))
    stats = dl.agg(F.sum("dl").alias("c_len"))
    q = tok.where(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("q_id"), "w"
    )
    joined = (
        q.join(tok.join(cf, "w").join(dl, "doc_id"), "w")
        .where(F.col("doc_id") != F.col("q_id"))
        .crossJoin(F.broadcast(stats))
    )
    # fixed-point accumulation (r18): the 6-dp contribution rides as
    # int64 micros so the grouped sum is a primitive long, not a
    # DECIMAL(28,6) buffer — the same rewrite (and the same A/B
    # bit-equality verification at all three sfs) as the BM25 family;
    # see text_search_bm25_topk's r18 note.  r19: the HALF_UP rounding
    # goes through _util.half_up_long (sign-aware — these log-prob
    # contributions are negative) instead of F.round's per-row
    # BigDecimal; equality proof and measurements in its docstring.
    from discogs_etl_spark.queries._util import half_up_long

    contrib = half_up_long(
        F.log(
            (F.col("tf") + 100.0 * F.col("cf") / F.col("c_len"))
            / (F.col("dl") + 100.0)
        )
        * 1_000_000
    )
    scored = (
        joined.select("q_id", "doc_id", contrib.alias("c"))
        .groupBy("q_id", "doc_id")
        .agg(F.sum("c").alias("sc"))
    )
    wtop = Window.partitionBy("q_id").orderBy(F.desc("sc"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(wtop))
        .where(F.col("rn") <= 3)
        .select("q_id", "doc_id", bm25_micros_to_score(F.col("sc")).alias("score"))
    )


def _rank_agreement_oracle() -> str:
    from discogs_etl_spark.registry import _REGISTRY

    inv = _REGISTRY["text_search_inverted_topk"].oracle
    bm = _REGISTRY["text_search_bm25_topk"].oracle
    ql = _REGISTRY["text_search_query_likelihood"].oracle
    # One GROUP-less aggregate per ranker pair, unioned — NOT a single
    # GROUP BY ranker_pair: the Spark side emits one row per pair even
    # over an empty corpus (label literal in a global agg), and a
    # grouped oracle would emit none, diverging on exactly the
    # empty-input class r11 closes.  COUNT(b.doc_id) = SUM(hit) on any
    # input (non-null iff the left join matched).
    def arm(label: str, left: str, right: str) -> str:
        return f"""
            SELECT '{label}' AS ranker_pair,
                   CAST(COUNT(*) AS BIGINT) AS n_result_slots,
                   CAST(COUNT(b.doc_id) AS BIGINT) AS n_agree,
                   round(COUNT(b.doc_id)
                         / CAST(NULLIF(COUNT(*), 0) AS DOUBLE), 6)
                       AS overlap_at_3
            FROM {left} a LEFT JOIN {right} b
              ON a.q_id = b.q_id AND a.doc_id = b.doc_id"""

    return f"""
        WITH r_inv AS ({inv}), r_bm AS ({bm}), r_ql AS ({ql})
        {arm('inverted_vs_bm25', 'r_inv', 'r_bm')}
        UNION ALL
        {arm('inverted_vs_ql', 'r_inv', 'r_ql')}
        UNION ALL
        {arm('bm25_vs_ql', 'r_bm', 'r_ql')}
    """


@register(
    "retrieval_rank_agreement",
    oracle=_rank_agreement_oracle(),
    tags=("search", "eval", "agreement"),
)
def retrieval_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANKER AGREEMENT: pairwise top-3 overlap between the three
    lexical rankers (histogram intersection, BM25, query likelihood) —
    high agreement means the cheap ranker suffices for first-stage
    retrieval; low agreement locates the queries where model choice
    actually changes what users see (THOSE are the ones worth an
    interleaving experiment).  The judge-panel pattern applied to
    retrieval models.

    Scale: three pair-set joins over top-3 result lists (queries × 3
    rows each); the rankers themselves share the cached postings.
    An empty corpus has zero result slots — overlap NULL via NULLIF,
    not an ANSI 0/0, and BOTH engines still emit one row per ranker
    pair (GROUP-less aggregates on each side), so parity holds on
    empty inputs too (r11)."""
    inv = text_search_inverted_topk(spark, sf_dir).select("q_id", "doc_id")
    bm = text_search_bm25_topk(spark, sf_dir).select("q_id", "doc_id")
    ql = text_search_query_likelihood(spark, sf_dir).select("q_id", "doc_id")
    def overlap(a, b, label):
        j = a.join(
            b.withColumn("__hit", F.lit(1)), ["q_id", "doc_id"], "left"
        )
        return j.agg(
            F.lit(label).alias("ranker_pair"),
            F.count(F.lit(1)).cast("bigint").alias("n_result_slots"),
            F.count("__hit").cast("bigint").alias("n_agree"),
            F.round(
                F.count("__hit")
                / F.nullif(F.count(F.lit(1)).cast("double"), F.lit(0.0)),
                6,
            ).alias("overlap_at_3"),
        )
    return (
        overlap(inv, bm, "inverted_vs_bm25")
        .unionAll(overlap(inv, ql, "inverted_vs_ql"))
        .unionAll(overlap(bm, ql, "bm25_vs_ql"))
    )


@register(
    "pack_shard_balance_eval",
    oracle="""
        WITH t AS (
            SELECT lang, source,
                   len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ),
        shard AS (
            SELECT lang, source,
                   CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
                   COUNT(*) AS n_docs
            FROM t GROUP BY lang, source
        ),
        g AS (
            SELECT COUNT(*) AS n_shards,
                   CAST(SUM(shard_tokens) AS DOUBLE) AS tot,
                   CAST(MAX(shard_tokens) AS DOUBLE) AS mx
            FROM shard
        )
        SELECT CAST(n_shards AS BIGINT) AS n_shards,
               CAST(tot AS BIGINT) AS total_tokens,
               CAST(mx AS BIGINT) AS max_shard_tokens,
               round(mx * n_shards / tot, 6) AS imbalance_factor,
               round(1 - tot / (mx * n_shards), 6) AS wasted_capacity
        FROM g
    """,
    tags=("packing", "shards", "balance", "eval"),
)
def pack_shard_balance_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHARD BALANCE eval for the per-(lang, source) packer: the
    imbalance factor max/mean across shards — data-parallel training
    runs at the pace of the FULLEST shard, so imbalance 2.0 means half
    the fleet idles (wasted_capacity is that idle share).  The eval
    that decides between pack_sequences_sharded's natural sharding and
    corpus_shuffle_shards' balanced assignment — measured, not argued.

    Scale: one (lang, source) rollup and a 1-row moment aggregate."""
    t = load(spark, sf_dir, "documents").select(
        "lang", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    shard = t.groupBy("lang", "source").agg(
        F.sum("n_tokens").cast("bigint").alias("shard_tokens")
    )
    g = shard.agg(
        F.count(F.lit(1)).alias("n_shards"),
        F.sum("shard_tokens").cast("double").alias("tot"),
        F.max("shard_tokens").cast("double").alias("mx"),
    )
    return g.select(
        F.col("n_shards").cast("bigint").alias("n_shards"),
        F.col("tot").cast("bigint").alias("total_tokens"),
        F.col("mx").cast("bigint").alias("max_shard_tokens"),
        F.round(F.col("mx") * F.col("n_shards") / F.col("tot"), 6).alias(
            "imbalance_factor"
        ),
        F.round(
            1 - F.col("tot") / (F.col("mx") * F.col("n_shards")), 6
        ).alias("wasted_capacity"),
    )


@register(
    "dedup_bag_of_words_exact",
    oracle="""
        WITH b AS (
            SELECT doc_id,
                   md5(array_to_string(list_sort(string_split(text, ' ')), ' '))
                       AS bag_hash,
                   md5(text) AS text_hash
            FROM documents
        ),
        g AS (
            SELECT bag_hash,
                   COUNT(*) AS n_docs,
                   COUNT(DISTINCT text_hash) AS n_texts
            FROM b GROUP BY bag_hash
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_bags,
               CAST(SUM(n_docs) AS BIGINT) AS n_docs,
               CAST(COUNT(CASE WHEN n_docs > 1 THEN 1 END) AS BIGINT)
                   AS n_dup_bags,
               CAST(COUNT(CASE WHEN n_docs > 1 AND n_texts > 1 THEN 1 END)
                    AS BIGINT) AS n_shuffled_dup_bags
        FROM g
    """,
    tags=("dedup", "bag_of_words", "spinner"),
)
def dedup_bag_of_words_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAG-OF-WORDS exact dedup: documents fingerprinted by their SORTED
    token multiset — word-order-invariant, so it catches article-spinner
    output (same words, reshuffled) that content-hash dedup misses
    entirely and shingle Jaccard scores LOW (shuffling destroys
    3-grams).  The n_shuffled_dup_bags column isolates exactly those:
    bag-equal groups containing distinct texts (zero on these fixtures —
    the honest no-spinners readout; the doc-level pair listing is the
    same plan grouped differently).

    Scale: the sort is row-local inside one expression; the fingerprint
    ships as md5 so the shuffle carries 32-byte keys; one grouped count
    plus a 1-row rollup."""
    b = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.split("text", " ")), " ")).alias(
            "bag_hash"
        ),
        F.md5("text").alias("text_hash"),
    )
    g = b.groupBy("bag_hash").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text_hash").alias("n_texts"),
    )
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bags"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.count(F.when(F.col("n_docs") > 1, 1)).cast("bigint").alias("n_dup_bags"),
        F.count(F.when((F.col("n_docs") > 1) & (F.col("n_texts") > 1), 1))
        .cast("bigint")
        .alias("n_shuffled_dup_bags"),
    )


@register(
    "dedup_granularity_compare",
    oracle="""
        WITH docs AS (
            SELECT 'document' AS level, COUNT(*) AS n_units,
                   COUNT(DISTINCT md5(text)) AS n_distinct
            FROM documents
        ),
        chunks AS (
            SELECT 'chunk_32tok' AS level, COUNT(*) AS n_units,
                   COUNT(DISTINCT md5(ch)) AS n_distinct
            FROM (
                SELECT array_to_string(w[(g.s * 32 + 1):(g.s * 32 + 32)], ' ')
                           AS ch
                FROM (SELECT string_split(text, ' ') AS w FROM documents),
                     unnest(range((len(w) + 31) // 32)) AS g(s)
            )
        ),
        winds AS (
            SELECT 'window_48ch' AS level, COUNT(*) AS n_units,
                   COUNT(DISTINCT md5(wd)) AS n_distinct
            FROM (
                SELECT substr(text, t.i, 48) AS wd
                FROM documents, unnest(range(1, len(text) - 46)) AS t(i)
                WHERE len(text) >= 48
            )
        )
        SELECT level, CAST(n_units AS BIGINT) AS n_units,
               CAST(n_distinct AS BIGINT) AS n_distinct,
               round(1 - n_distinct / CAST(NULLIF(n_units, 0) AS DOUBLE), 6)
                   AS dup_rate
        FROM (SELECT * FROM docs UNION ALL SELECT * FROM chunks
              UNION ALL SELECT * FROM winds)
    """,
    tags=("dedup", "granularity", "comparison"),
)
def dedup_granularity_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUPLICATION BY GRANULARITY: exact-duplicate rates measured at
    three scales — whole documents, 32-token chunks, 48-char sliding
    windows — in one table.  The profile SHAPE picks the dedup strategy:
    doc-rate ≈ window-rate means whole-document copying (cheap hash
    dedup suffices); window-rate ≫ chunk-rate ≫ doc-rate means
    duplication lives in passages (substring/winnowing methods earn
    their cost).  Sliding windows overcount by construction (49
    windows per shared 96-char run) — the column is a comparable
    signal, not a token share; corpus_effective_tokens prices that.

    Scale: three independent hash-distinct aggregations, each the
    already-shaped pipeline of its granularity; md5 keys keep the
    doc/chunk shuffles 32 bytes wide (the 48-char window branch counts
    raw keys since r19 — see the inline note).  A granularity with zero
    units (empty corpus, or no doc reaches 48 chars) reports a NULL
    rate via NULLIF (r11)."""
    docs = load(spark, sf_dir, "documents")
    d = docs.agg(
        F.lit("document").alias("level"),
        F.count(F.lit(1)).alias("n_units"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
    )
    ch = (
        docs.selectExpr("split(text, ' ') AS w")
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, (size(w) + 31) DIV 32 - 1),"
                    " s -> array_join(slice(w, s * 32 + 1, 32), ' '))"
                )
            ).alias("ch")
        )
        .agg(
            F.lit("chunk_32tok").alias("level"),
            F.count(F.lit(1)).alias("n_units"),
            F.countDistinct(F.md5("ch")).alias("n_distinct"),
        )
    )
    # r19: the 48-char branch counts distinct RAW windows — the md5
    # narrowing is a pessimization exactly here: the key is already 48
    # bytes (md5 hex is 32, saving 16 bytes/row of shuffle) while the
    # digest costs ~1.3M md5 evaluations, measured 4.5 -> 3.2 s for the
    # branch (guide §1.2 — the doc/chunk branches keep md5, where it
    # compresses ~190-300-char keys).  COUNT(DISTINCT wd) equals the
    # oracle's COUNT(DISTINCT md5(wd)) — md5 is collision-free across
    # the fixture windows (oracle-exact at all three sfs) and raw
    # distinct is the more conservative function at any scale.
    wd = (
        docs.where(F.length("text") >= 48)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(text) - 47),"
                    " i -> substring(text, i, 48))"
                )
            ).alias("wd")
        )
        .agg(
            F.lit("window_48ch").alias("level"),
            F.count(F.lit(1)).alias("n_units"),
            F.countDistinct("wd").alias("n_distinct"),
        )
    )
    return (
        d.unionAll(ch)
        .unionAll(wd)
        .select(
            "level",
            F.col("n_units").cast("bigint").alias("n_units"),
            F.col("n_distinct").cast("bigint").alias("n_distinct"),
            F.round(
                1
                - F.col("n_distinct")
                / F.nullif(F.col("n_units").cast("double"), F.lit(0.0)),
                6,
            ).alias("dup_rate"),
        )
    )


def _token_budget_oracle() -> str:
    from discogs_etl_spark.registry import _REGISTRY

    cc = _REGISTRY["dedup_connected_components"].oracle
    return f"""
        WITH cc AS ({cc}),
        sized AS (
            SELECT component_id, COUNT(*) AS csize FROM cc GROUP BY component_id
        ),
        d AS (
            SELECT doc.doc_id,
                   len(string_split(doc.text, ' ')) AS n_tok,
                   CASE WHEN len(string_split(doc.text, ' ')) BETWEEN 30 AND 2000
                        AND len(list_filter(string_split(doc.text, ' '),
                                x -> x IN ('the', 'a', 'data', 'value', 'key',
                                           'row')))
                            / CAST(len(string_split(doc.text, ' ')) AS DOUBLE)
                            <= 0.5
                        THEN 1 ELSE 0 END AS ok,
                   COALESCE(s.csize, 1) AS csize
            FROM documents doc
            LEFT JOIN cc ON cc.doc_id = doc.doc_id
            LEFT JOIN sized s ON s.component_id = cc.component_id
        )
        SELECT 'raw' AS scenario, CAST(SUM(n_tok) AS BIGINT) AS tokens FROM d
        UNION ALL
        SELECT 'quality_gated', CAST(SUM(CASE WHEN ok = 1 THEN n_tok END)
                                     AS BIGINT) FROM d
        UNION ALL
        SELECT 'dedup_discounted',
               CAST(round(CAST(SUM(CAST(round(n_tok / CAST(csize AS DOUBLE), 6)
                                        AS DECIMAL(28,6))) AS DOUBLE), 0)
                    AS BIGINT) FROM d
        UNION ALL
        SELECT 'gated_and_discounted',
               CAST(round(CAST(SUM(CASE WHEN ok = 1
                                  THEN CAST(round(n_tok / CAST(csize AS DOUBLE), 6)
                                            AS DECIMAL(28,6)) END) AS DOUBLE), 0)
                    AS BIGINT) FROM d
    """


@register(
    "corpus_token_budget_planner",
    oracle=_token_budget_oracle(),
    tags=("scaling", "planning", "budget"),
)
def corpus_token_budget_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN BUDGET planner: trainable tokens under four policies — raw,
    quality-gated (text_quality_score's gate), dedup-discounted
    (corpus_effective_tokens' cluster weights), and both — the one table
    a data-scaling plan opens with ("we have X raw but Y honest
    tokens"), composing the quality and dedup planes into scenario
    arithmetic.  The gap between raw and gated_and_discounted is the
    overclaim a naive data inventory makes.

    Scale: ONE pass over documents with the CC labels joined; all four
    scenarios are conditional sums inside a single Aggregate, then the
    1-row result is unpivoted to the 4-row scenario table (a unionAll of
    four ``d.agg(...)`` branches would re-execute the join pipeline per
    scenario)."""
    cc = dedup_connected_components(spark, sf_dir).localCheckpoint()
    sized = cc.groupBy("component_id").agg(F.count(F.lit(1)).alias("csize"))
    w = _words()
    n = F.size(w)
    n_stop = F.size(F.filter(w, lambda x: x.isin(*_STOPWORDS)))
    ok = (
        (n >= 30) & (n <= 2000) & ((n_stop.cast("double") / n) <= 0.5)
    ).cast("int")
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", n.alias("n_tok"), ok.alias("ok"))
        .join(cc, "doc_id", "left")
        .join(sized, "component_id", "left")
        .select("n_tok", "ok", F.coalesce("csize", F.lit(1)).alias("csize"))
    )
    disc = F.round(F.col("n_tok") / F.col("csize").cast("double"), 6).cast(
        "decimal(28,6)"
    )
    s = d.agg(
        F.sum("n_tok").cast("bigint").alias("raw"),
        F.sum(F.when(F.col("ok") == 1, F.col("n_tok")))
        .cast("bigint")
        .alias("quality_gated"),
        F.round(F.sum(disc).cast("double"), 0)
        .cast("bigint")
        .alias("dedup_discounted"),
        F.round(F.sum(F.when(F.col("ok") == 1, disc)).cast("double"), 0)
        .cast("bigint")
        .alias("gated_and_discounted"),
    )
    scenarios = ["raw", "quality_gated", "dedup_discounted", "gated_and_discounted"]
    return s.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("scenario"), F.col(k).alias("tokens")
                    )
                    for k in scenarios
                ]
            )
        ).alias("p")
    ).select("p.*")
