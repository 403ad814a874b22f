"""Differential-privacy release mechanisms over aggregates.

The classic DP counting mechanism adds two-sided geometric noise
(Ghosh, Roughgarden & Sundararajan, "Universally utility-maximizing
privacy mechanisms", STOC 2009 — the discrete Laplace): for a count
query with sensitivity 1,

    P(noise = k)  =  (1-a)/(1+a) * a^|k|,   a = e^(-eps)

is eps-differentially private.  With a = 1/2 (eps = ln 2) every
probability is a dyadic rational — P(0) = 1/3, P(+-k) = (1/3)*2^-k —
so the ENTIRE inverse-CDF can be expressed with exact integer
thresholds over a denominator D = 3*2^T, and the draw becomes pure
integer comparisons (the poisson_bootstrap_mean rule: no engine RNG,
no float CDF, hash-gateable).

The noise draw here is keyed on a deterministic poly hash of the
group key so runs are REPRODUCIBLE, resumable and oracle-checkable —
the derandomized demo of the mechanism.  A production release swaps
the hash input for fresh entropy (one secret 64-bit seed mixed into
the hash preserves the whole plan); everything else — thresholds,
truncation, the one map-side-combinable count agg — is unchanged at
100 TB.

Truncation: the tail |k| > T carries total mass (2/3)*2^-T (< 2^-17
per draw at T = 16); its 2 leftover integer units of D are assigned
to noise 0, so the thresholds partition [0, D) exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from deepie_spark.functions.text import MOD as _PMOD

#: mixing constants (the poisson_bootstrap_mean family).
_MIX_A = 1_315_423_911
_MIX_B = 2_654_435_761


def geometric_thresholds(trunc: int = 16) -> tuple[int, list[int]]:
    """Cumulative integer thresholds of the two-sided geometric CDF
    with a = 1/2 over denominator D = 3*2^trunc, in outcome order
    0, +-1, +-2, ..., +-trunc.  Returns (D, [c_0, c_1, ..., c_trunc])
    where u < c_0 -> 0 and c_{k-1} <= u < c_k -> +-k (sign = parity of
    u - c_{k-1}); c_trunc == D by construction."""
    if trunc < 1:
        raise ValueError("trunc must be >= 1")
    d = 3 * (1 << trunc)
    cums = [(1 << trunc) + 2]  # mass(0) = 2^T plus the 2 leftover units
    for k in range(1, trunc + 1):
        cums.append(cums[-1] + (1 << (trunc - k + 1)))
    assert cums[-1] == d
    return d, cums


def geometric_noise(key_hash: Column, salt: int, trunc: int = 16) -> Column:
    """Two-sided geometric noise (a = 1/2, eps = ln 2) drawn from a
    deterministic integer hash: u = (h*A + salt*B) mod D, then the
    exact-integer inverse CDF.  Pure comparisons — JVM codegen."""
    d, cums = geometric_thresholds(trunc)
    u = (key_hash % _PMOD * _MIX_A + salt * _MIX_B) % d
    expr = F.when(u < cums[0], F.lit(0))
    for k in range(1, trunc + 1):
        sign = F.when((u - cums[k - 1]) % 2 == 0, k).otherwise(-k)
        expr = expr.when(u < cums[k], sign)
    return expr.otherwise(F.lit(0)).cast("long")


def geometric_noise_sql(u_expr: str, trunc: int = 16) -> str:
    """The IDENTICAL inverse CDF as a SQL CASE chain (for DuckDB
    twins): u_expr must already be the draw (h*A + salt*B) mod D."""
    d, cums = geometric_thresholds(trunc)
    branches = [f"WHEN {u_expr} < {cums[0]} THEN 0"]
    for k in range(1, trunc + 1):
        branches.append(
            f"WHEN {u_expr} < {cums[k]} THEN "
            f"CASE WHEN ({u_expr} - {cums[k - 1]}) % 2 = 0 "
            f"THEN {k} ELSE {-k} END"
        )
    return "CASE " + " ".join(branches) + " ELSE 0 END"


def dp_noisy_counts(
    df: DataFrame,
    key_col: str,
    salt: int = 7,
    trunc: int = 16,
) -> DataFrame:
    """eps = ln 2 differentially-private histogram release: exact
    group counts plus per-group two-sided geometric noise, clamped at
    0 (counts are non-negative by post-processing, which preserves
    DP).  The draw source is the portable poly hash of the group key
    string mixed with ``salt`` (swap in fresh entropy for a real
    release).  One count agg — map-side combinable, scale-free; the
    noise is a per-GROUP scalar expression, not per row.

    Output: (key, n_true, noise, n_noisy, epsilon)."""
    from deepie_spark.functions.text import char_poly_hash_str

    g = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )
    noise = geometric_noise(
        char_poly_hash_str(F.col("key")), salt=salt, trunc=trunc
    )
    return g.select(
        "key",
        "n_true",
        noise.alias("noise"),
        F.greatest(F.col("n_true") + noise, F.lit(0))
        .cast("long")
        .alias("n_noisy"),
        F.lit(0.693147).alias("epsilon"),  # ln 2, repr-shared constant
    )


def k_anonymity_audit(
    df: DataFrame, qi_cols: list[str], k: int = 5
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier column set: per QI
    combination its equivalence-class size and the k flag, plus the
    cross-joined global verdict (smallest class, rows in classes
    below k, violation share) — the release-readiness check beside
    dp_counts' noised alternative (Sweeney 2002).  Pure integer
    counts; the share is one IEEE divide rounded to 6.

    Plan: one hash agg over the QI key + a 1-row broadcast global —
    no window, no self-join."""
    g = df.groupBy(*[F.col(c) for c in qi_cols]).agg(
        F.count(F.lit(1)).cast("long").alias("group_n")
    )
    glob = g.agg(
        F.min("group_n").cast("long").alias("min_group"),
        F.sum("group_n").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("group_n") < k, F.col("group_n")).otherwise(0))
        .cast("long")
        .alias("n_below_k"),
    )
    return g.crossJoin(F.broadcast(glob)).select(
        *qi_cols,
        "group_n",
        (F.col("group_n") >= k).alias("is_k_anonymous"),
        "min_group",
        "n_rows",
        "n_below_k",
        F.round(F.col("n_below_k") / F.col("n_rows"), 6).alias(
            "violation_share"
        ),
    )


def randomized_response(
    df: DataFrame,
    id_col: str,
    flag_col: str,
    p_num: int = 3,
    p_den: int = 4,
    salt: int = 11,
) -> DataFrame:
    """Warner (1965) randomized response — the local-DP sibling of
    dp_noisy_counts: each respondent reports their true bit with
    probability p = p_num/p_den and the flipped bit otherwise, and
    the aggregator debiases

        π̂ = (p̂_reported − (1 − p)) / (2p − 1)
           = (p_den·r − (p_den − p_num)·n) / (n·(2·p_num − p_den))

    — with exact-long counts r (reported 1s) and n the ratio form
    keeps EVERYTHING integer until one final divide.  The flip draw
    is the deterministic poly-hash CDF (u = (h·A + salt·B) mod p_den,
    keep iff u < p_num), so the release is bit-reproducible and the
    DuckDB twin replays it.  Per-row work is a scalar expression; the
    aggregate is one map-side-combinable count pass.

    Output: one row (n, n_true, n_reported, pi_true, pi_hat,
    abs_err, epsilon) with ε = ln(p/(1−p)) on exact integer-ratio
    arguments (p_num and p_den − p_num are ints, so both engines
    round ln identically)."""
    if not (0 < p_num < p_den) or 2 * p_num == p_den:
        raise ValueError("need 0 < p_num/p_den < 1 and p != 1/2")
    from deepie_spark.functions.text import char_poly_hash

    b = F.col(flag_col).cast("long")
    u = (
        char_poly_hash(F.col(id_col).cast("string")) % _PMOD * _MIX_A
        + salt * _MIX_B
    ) % p_den
    keep = u < p_num
    reported = F.when(keep, b).otherwise(1 - b)
    g = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(b).cast("long").alias("n_true"),
        F.sum(reported).cast("long").alias("n_reported"),
    )
    n, r = F.col("n"), F.col("n_reported")
    num = F.lit(p_den) * r - F.lit(p_den - p_num) * n
    den = n * F.lit(2 * p_num - p_den)
    pi_hat = num.cast("double") / den.cast("double")
    pi_true = F.col("n_true").cast("double") / n.cast("double")
    return g.select(
        "n",
        "n_true",
        "n_reported",
        F.round(pi_true, 6).alias("pi_true"),
        F.round(pi_hat, 6).alias("pi_hat"),
        F.round(F.abs(pi_hat - pi_true), 6).alias("abs_err"),
        F.round(
            F.log(F.lit(float(p_num))) - F.log(F.lit(float(p_den - p_num))),
            6,
        ).alias("epsilon"),
    )
