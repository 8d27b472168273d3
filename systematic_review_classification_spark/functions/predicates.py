"""Shared column predicates.

``finite(c)`` — TRUE iff the double column holds a finite value
(not NULL, not NaN, not ±Infinity). The NaN-world sweep
(``nan`` in tests/worlds.py) showed a single non-finite double aborts
ANSI casts (``CAST(NaN AS INT)`` overflows on BOTH engines), blows
DuckDB's stddev/var out of range, and silently corrupts quantile /
rank / bucket assignments. Statistics and cast-bearing operators
therefore filter to finite measures EXPLICITLY, mirrored in their
oracles with DuckDB's ``isfinite(x)``.

Spark has no isfinite built-in; ``NOT isnan(c) AND abs(c) <
'Infinity'`` compiles to plain codegen'd comparisons and keeps
pushdown-friendly conjuncts.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_INF = float("inf")


def finite(c: Column | str) -> Column:
    """TRUE iff c is a finite (non-NULL, non-NaN, non-inf) double."""
    col = F.col(c) if isinstance(c, str) else c
    return ~F.isnan(col) & (F.abs(col) < F.lit(_INF))


def finite_bounded(c: Column | str, bound: float = 9e15) -> Column:
    """TRUE iff c is finite AND |c| ≤ bound (default 9e15 ≈ 2^53).

    The overflow-world (r9) generalization of :func:`finite`: the NaN
    world established that ``CAST(NaN AS BIGINT)`` aborts both
    engines, but a FINITE 1e150 aborts every int-cast bucket/bin/grid
    expression the same way (Spark ANSI CAST_OVERFLOW; DuckDB
    Conversion Error) — and past 2^53 a double no longer represents
    integers exactly, so even a widened BIGINT bucket would be
    quantization noise. A finite-but-off-grid value is the same
    corrupt class as NaN: no bin on both engines. Oracle mirror:
    ``isfinite(x) AND abs(x) <= 9e15``."""
    col = F.col(c) if isinstance(c, str) else c
    return finite(col) & (F.abs(col) <= F.lit(bound))


def rnd(c: Column | str, scale: int = 6) -> Column:
    """Round to ``scale`` digits AND normalize IEEE −0.0 to +0.0.

    The −0.0 class keeps recurring key-by-key (Wilson interval r4,
    wl_change_attribution / wl_rate_volume_mix r6, wl_linear_forecast
    r7): a derived value that rounds to exact zero can carry sign
    −0.0 on one engine and +0.0 on the other (e.g. DuckDB's round
    keeps the sign of ``0/negative`` and of a negative product that
    rounds away; Spark's drops it), and the driver's ``repr(float)``
    canonicalizer distinguishes them. ``round(x) + 0.0`` is the IEEE
    identity that maps both zeros to +0.0 (round-to-nearest mode) and
    propagates NULL, so rounding through this helper closes the class
    structurally. Oracles mirror it as ``round(expr, n) + 0.0``."""
    col = F.col(c) if isinstance(c, str) else c
    return F.round(col, scale) + F.lit(0.0)


def money_round(c: Column | str, scale: int = 2) -> Column:
    """round() for money-like DOUBLE aggregates, via a decimal snap —
    closes the FP-SUMMATION-MIDPOINT class (duplicate-flood world,
    round 9).

    A sum/avg of 2-to-4-decimal-digit money values can land EXACTLY
    on a coarse-round midpoint in decimal (the flood world's
    13 × 95.475 = 1241.175), while the binary double each engine
    accumulates sits ±1 ulp around it depending on SUMMATION ORDER —
    so round(x, 2) resolves to .17 on one engine/run and .18 on
    another (DuckDB's morsel scheduling makes it nondeterministic
    even run-to-run). Snapping the aggregate to DECIMAL(28,6) first
    is order-robust (the ±1 ulp wobble is ~9 orders below the 1e-6
    snap grid) and engine-consistent: double→decimal rounds to the
    same 6-digit decimal on both engines (probe-verified), and
    round(DECIMAL, 2) is half-up on both, so the midpoint resolves
    identically. Non-finite values bypass the snap (CAST(NaN/inf AS
    DECIMAL) ABORTS on both engines — NaN-world policy) and propagate
    through the plain round; NULL propagates as NULL. Domain bound:
    |x| < 1e22 (DECIMAL(28,6) capacity) — money sums at any real
    scale; beyond it the ANSI cast aborts loudly rather than
    rounding silently. Oracle mirror:
    ``CASE WHEN isfinite(x) THEN CAST(round(CAST(x AS DECIMAL(28,6)),
    n) AS DOUBLE) ELSE round(x, n) END``."""
    col = F.col(c) if isinstance(c, str) else c
    return F.when(
        finite(col),
        F.round(col.cast("decimal(28,6)"), scale).cast("double"),
    ).otherwise(F.round(col, scale))


def finite_array(c: Column | str) -> Column:
    """TRUE iff c is a non-NULL, NON-EMPTY array whose every element
    is non-NULL and finite.

    The vector-hygiene twin of ``finite``: MLlib vector ops abort on
    non-finite components ('Vector values MUST NOT be NaN or
    Infinity') and NPE on NULL arrays, so every embedding-consuming
    operator filters rows through this before ``array_to_vector`` —
    a corrupt vector is corrupt input, never a job abort. All-lambda
    higher-order form: stays JVM-side codegen, no Python.

    Empty arrays are corrupt too (ragged-vector world, round 9): a
    zero-length embedding has no norm, no quantization scale, and no
    dot product, and DuckDB's ``list_reduce`` ERRORS on an empty list
    (Spark's ``F.aggregate`` quietly returns the init value — a
    cross-engine abort asymmetry, not just a wrong value). NULL
    *elements* inside an otherwise healthy array (a schema-drifted
    upstream) are the same class: ``forall`` requires each element
    non-NULL and finite. Mirror in oracle SQL with
    :func:`clean_vec_sql` on the same column."""
    col = F.col(c) if isinstance(c, str) else c
    return (
        col.isNotNull()
        & (F.size(col) > 0)
        & F.forall(col, lambda x: x.isNotNull() & finite(x.cast("double")))
    )


def clean_vec_sql(col: str = "embedding") -> str:
    """DuckDB WHERE fragment mirroring :func:`finite_array` exactly.

    Interpolated into every embedding-family oracle so both engines
    reject the same corrupt vectors (NULL array, empty array, NULL /
    NaN / inf element) BEFORE any ``list_reduce``/``list_transform``
    math — DuckDB's ``list_reduce`` errors on empty input and its
    ``CAST(nan AS BIGINT)`` aborts, so the guard cannot be applied
    after the arithmetic."""
    return (
        f"({col} IS NOT NULL AND len({col}) > 0 AND "
        f"len(list_filter({col}, x -> x IS NULL OR NOT isfinite(x::DOUBLE))) = 0)"
    )


def dominant_dim_only(df, col: str = "embedding"):
    """Filter ``df`` to rows whose ``col`` has the corpus's dominant
    (modal) dimension — ties broken to the SMALLEST dimension so the
    choice is total and engine-independent.

    Dimension-uniformity twin of :func:`finite_array` for operators
    whose math requires one global dim (MLlib fit/transform NPEs on
    mixed vector sizes; a numpy GEMM can't stack ragged rows). A
    ragged row is corrupt input from a schema-drifted producer —
    dropped, never a job abort. Scale shape: one map-side-combinable
    count over ``size(col)`` (bytes shuffled ∝ #distinct dims, not
    rows) and a broadcast single-row join — no driver collect of
    vectors, safe at any corpus size. Mirror in oracle SQL with
    :func:`modal_dim_sql`."""
    dim = (
        df.groupBy(F.size(col).alias("_dim"))
        .count()
        .orderBy(F.desc("count"), F.asc("_dim"))
        .limit(1)
        .select("_dim")
    )
    return df.join(F.broadcast(dim), F.size(col) == F.col("_dim")).drop("_dim")


def modal_dim_sql(col: str = "embedding", table: str = "embeddings") -> str:
    """DuckDB predicate fragment mirroring :func:`dominant_dim_only`:
    keeps rows whose ``len(col)`` equals the modal length over the
    CLEAN rows of ``table`` (same clean filter, same smallest-dim
    tie-break)."""
    clean = clean_vec_sql(col)
    return (
        f"len({col}) = (SELECT _d FROM (SELECT len({col}) AS _d, count(*) AS _c "
        f"FROM {table} WHERE {clean} GROUP BY 1 ORDER BY _c DESC, _d LIMIT 1))"
    )


def jaccard_ge(nc: Column, n_sum: Column, p: int, q: int) -> Column:
    """``nc/(n_sum - nc) >= p/q`` with the intersection size ``nc``
    referenced ONCE: cross-multiplied to ``nc*(p+q) >= p*n_sum``,
    guarded by ``n_sum > 0``.

    Why not the double-division form: Catalyst pushes a
    ``filter(nc/(n1+n2-nc) >= t)`` through projections into the JOIN
    residual, where (unlike in projections) there is NO subexpression
    elimination — an ``nc`` that is ``size(array_intersect(...))``
    referenced twice in the predicate evaluates the intersect TWICE
    per candidate pair (measured 14.5 s vs 8.6 s on the sf0.1 blocked
    pair stream, r11). Cross-multiplying references the expensive
    subexpression exactly once; the guard conjunct touches only the
    CHEAP ``n_sum`` (projected array sizes), never ``nc``.

    The guard (r11 advice): at ``n_sum = 0`` (both sets empty — union
    size 0) the division form yields NULL (row dropped by a filter)
    while the bare cross-multiplied form yields ``0 >= 0`` TRUE (row
    kept). Every r11 caller excluded that structurally (split() arrays
    are never empty, ngram paths filter size > 0); folding
    ``n_sum > 0`` into the helper makes the division semantics hold
    for ANY future caller. For ``nc ≥ 0`` (an intersection size),
    ``n_sum > 0`` ⟺ union > 0 exactly.

    Exactness vs ``double(nc)/double(union) >= double(p/q)``: both
    sides are exact integers here (bigint products of array sizes —
    no overflow below 2^31 elements × q ≤ 10^6). The double form
    could only disagree where the true rational lies within one
    rounding error (≤ 2⁻⁵³ relative) of double(p/q) while not being
    exactly p/q; the nearest such distinct rational with denominator d
    is ≥ 1/(q·d) away, so disagreement needs d ≳ 2⁵³/q — array sizes
    beyond any physical corpus. NULL inputs yield NULL on both forms
    (filter drops the row either way)."""
    return (n_sum.cast("bigint") > 0) & (
        nc.cast("bigint") * F.lit(p + q) >= F.lit(p) * n_sum.cast("bigint")
    )


def hashed_sets(df, col: str):
    """Rewrite an ``array<string>`` token-set column to
    ``array<bigint>`` hashed ids when ``xxhash64`` is injective on
    this relation's vocabulary — verified at runtime by one exact
    aggregate — else return ``df`` unchanged.

    Why: every blocked near-dup verify stage spends its time in
    ``size(array_intersect(a, b))`` per candidate pair, and
    array_intersect over STRING arrays takes the slow generic path
    (per-element UTF8String hashing/equality in an object hash set) —
    measured ~155 µs/pair on 23-element arrays at sf0.1, 11.5 s of a
    15 s query (r12). Over BIGINT arrays the same intersect takes the
    primitive fast path: 2.5× faster end to end. Hashing each token
    once per document (linear) buys back every per-pair comparison
    (quadratic in candidates).

    Exactness: all callers feed BOTH intersect sides from arrays of
    this one relation's ``col``, so every element drawn during any
    ``array_intersect``/``size`` lives in V = the distinct elements of
    ``col`` across ``df``. The guard groups V's tokens by
    ``xxhash64`` and keeps each group's ``min`` and ``max`` token and
    whether it holds a NULL; a group whose ``min`` differs from its
    ``max`` holds two distinct tokens with one hash, so no such group
    proves xxhash64 restricted to V is a bijection, under which
    ``|h(A) ∩ h(B)| = |A ∩ B|`` and ``|distinct(h(A))| =
    |distinct(A)|`` for all A, B ⊆ V — every downstream size,
    Jaccard, containment and threshold is value-identical. On a
    collision (birthday bound ~|V|²/2⁶⁵ — expected well under 1 for
    vocabularies to ~10⁸ distinct tokens) the helper returns the
    original string arrays: same results, pre-r12 speed. The guard is
    one linear token-stream aggregate with partial (map-side)
    min/max, a single shuffle, and an ``isEmpty`` probe that stops at
    the first offending group — no driver data transfer beyond one
    row at most.

    NULL elements: ``min``/``max`` skip NULL but ``xxhash64(NULL)`` is
    a real value (the seed), so a NULL element could share its hash
    with a real token unseen. Any group holding a NULL therefore also
    keeps the string arrays. Precondition (holds at every call site):
    both intersect operands derive from THIS df's ``col``. NULL arrays
    (NULL text) explode to no rows and propagate NULL through
    transform exactly as through the string path.

    Which helper: this one where most candidate pairs pass or every
    pair needs its exact value — the 0.62 token-set Jaccard of
    dedup_near_jaccard and dedup_components (54% of block pairs pass:
    3,228 of 6,000 at sf0.01, 333,774 of 622,500 at sf0.1), the
    minhash verifies, the threshold sweeps and s-curves. It pays one
    bigint intersect per pair but runs its probe as Spark jobs while
    the DataFrame is built, and the plan depends on the probe's answer.
    Where under 1% of pairs pass (the shingle keys), use
    :func:`overlap_pairs`: no probe, one bigint intersect per candidate
    and one string intersect per survivor."""
    clash = (
        df.select(F.explode(col).alias("_t"))
        .groupBy(F.xxhash64("_t"))
        .agg(
            F.min("_t").alias("lo"),
            F.max("_t").alias("hi"),
            F.max(F.isnull("_t")).alias("has_null"),
        )
        .filter((F.col("lo") != F.col("hi")) | F.col("has_null"))
    )
    if not clash.isEmpty():  # collision or NULL: keep strings
        return df
    return df.withColumn(
        col, F.transform(F.col(col), lambda x: F.xxhash64(x))
    )


def overlap_pairs(df, col: str, on: Column, keep, *cols: Column):
    """Self-join ``df`` (aliased ``a`` and ``b``) on ``on`` and return
    ``cols`` plus ``nc = |a.col ∩ b.col|``, ``n1 = size(a.col)`` and
    ``n2 = size(b.col)`` for the pairs where ``keep(nc, n1, n2)`` holds.
    ``keep`` must be non-decreasing in ``nc`` (a containment or Jaccard
    threshold) and reference ``nc`` once (see :func:`jaccard_ge`).

    Filter, then verify. Each row carries ``xxhash64`` ids of its set
    and ``inj = size(array_distinct(ids)) = size(col)``, TRUE iff the
    set has no duplicate and no two of its elements share a hash. The
    join residual keeps only ``keep(hi, n1, n2)`` with the bound
    ``hi = |ids_a ∩ ids_b|`` when ``a.inj OR b.inj``, else
    ``least(n1, n2)``. ``hi ≥ |A ∩ B|`` always: if h is injective on A
    (or on B) it is injective on ``A ∩ B``, and ``h(A ∩ B) ⊆ h(A) ∩
    h(B)``; with no injective side ``|A ∩ B| ≤ least(n1, n2)``. So no
    pair that passes ``keep`` on the exact count is lost, and the exact
    string intersect runs above the join, behind :func:`eval_once`,
    on the survivors only. The result is exact for any input (colliding
    hashes, NULL elements, NULL arrays), and the plan never depends on
    the data: no build-time Spark job.

    Without the barrier Catalyst pushes the exact ``keep`` into the join
    residual ahead of the bound, and the string intersect runs for every
    candidate pair again (txt_containment at sf0.01: 557 ms instead of
    453, medians of four rounds of 11 runs on 4 vCPUs).

    Which helper: this one when few candidate pairs pass — it pays one
    bigint intersect per candidate plus one string intersect per
    survivor. txt_containment keeps 33 of 12,000 ordered block pairs
    (sf0.01) and 3,874 of 1,245,000 (sf0.1), dedup_ngram_jaccard 44 of
    6,000 and 5,490 of 622,500: under 1%. Where most pairs pass (the
    0.62 token-set Jaccard of dedup_near_jaccard and dedup_components
    keeps 54%: 3,228 of 6,000 at sf0.01, 333,774 of 622,500 at sf0.1),
    or every pair needs its exact value (threshold sweeps, s-curves),
    the string verify would double the intersect work: use
    :func:`hashed_sets` there."""
    ids = F.transform(F.col(col), lambda x: F.xxhash64(x))
    h = df.withColumn("_ids", ids).withColumn(
        "_inj", F.size(F.array_distinct("_ids")) == F.size(col)
    )
    a, b = h.alias("a"), h.alias("b")
    n1, n2 = F.size(f"a.{col}"), F.size(f"b.{col}")
    hi = F.when(
        F.col("a._inj") | F.col("b._inj"),
        F.size(F.array_intersect("a._ids", "b._ids")),
    ).otherwise(F.least(n1, n2))
    nc = eval_once(F.size(F.array_intersect(f"a.{col}", f"b.{col}")))
    pairs = a.join(b, on & keep(hi, n1, n2)).select(
        *cols, nc.alias("nc"), n1.alias("n1"), n2.alias("n2")
    )
    return pairs.filter(keep(F.col("nc"), F.col("n1"), F.col("n2")))


def eval_once(c: Column, seed: int = 7) -> Column:
    """Pin an expensive expression to ONE evaluation site.

    Adds ``0 * rand(seed)`` cast to int — exactly zero, so the value
    is unchanged row-for-row (int stays int, double stays double,
    NULL stays NULL) — which marks the projection nondeterministic so
    Catalyst can neither push a threshold filter through it into the
    join residual (where the expression re-evaluates per candidate
    pair, sometimes ordered ahead of the cheaper conjuncts) nor
    substitute it into downstream projections. This is the
    optimization guide's fix for duplicated evaluation of expensive
    UDFs under pushed filters (mark nondeterministic), applied to
    built-in expressions: every use site carries its own before/after
    measurement (r11: dedup_biblio 27.2 → 12.2 s, dedup_ngram_jaccard
    18.8 → 9.1 s at sf0.1, identical outputs). The cost is blocking
    OTHER pushdowns through the same projection, so use it only on
    measured hot expressions, never blanket."""
    return c + (F.rand(seed) * 0).cast("int")
